package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine's one metrics collector: a `SparkListener` that a caller
  * attaches around one piece of work with [[Profile.during]]. It counts
  * jobs and the stages they declare (skipped ones included), times each
  * completed (stage, attempt), and counts and times jobs per label set by
  * [[Profile.labeled]]. Jobs without a label count under `unlabeled`, so
  * Spark's own job descriptions (a streaming batch id, a call site) never
  * become keys. */
final class Profile private () extends SparkListener {
  import Profile._

  private val jobCount = new AtomicLong()
  private val stageCount = new AtomicLong()
  private val jobLabel = new ConcurrentHashMap[Int, (Long, String)]()
  private val labelJobsMs = new ConcurrentHashMap[String, (Long, Long)]()
  private val taskMax = new ConcurrentHashMap[(Int, Int), Long]()
  private val taskSum = new ConcurrentHashMap[(Int, Int), Long]()
  private val done = new ConcurrentLinkedQueue[StageStat]()
  @volatile private var drainedFlag = false
  @volatile private var compileCount = 0L

  def jobs: Long = jobCount.get
  def stages: Long = stageCount.get

  /** Classes Spark's code generator compiled while attached: every
    * compile in the JVM, a generated-class cache hit compiles none. */
  def compiles: Long = compileCount

  /** True when every event posted before detach reached the collector. */
  def drained: Boolean = drainedFlag

  /** Completed stage attempts, in (stage, attempt) order. */
  def stageStats: Seq[StageStat] = done.asScala.toSeq.sortBy(s => (s.stageId, s.attempt))

  /** label -> (jobs started, summed wall seconds of the jobs that ended). */
  def byLabel: Map[String, (Long, Double)] =
    labelJobsMs.asScala.toMap.map { case (l, (n, ms)) => l -> (n, ms / 1000.0) }

  private def addToLabel(label: String, jobs: Long, ms: Long): Unit =
    labelJobsMs.merge(label, (jobs, ms), (a, b) => (a._1 + b._1, a._2 + b._2))

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    stageCount.addAndGet(ev.stageInfos.size.toLong)
    val label = Option(ev.properties).flatMap(p => Option(p.getProperty(LabelKey)))
      .getOrElse(Unlabeled)
    addToLabel(label, 1L, 0L)
    jobLabel.put(ev.jobId, (ev.time, label))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit =
    Option(jobLabel.remove(ev.jobId)).foreach { case (t0, label) =>
      addToLabel(label, 0L, ev.time - t0)
    }

  // keyed by (stage, attempt): a retried attempt must not merge into its
  // predecessor's sums
  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit =
    Option(ev.taskInfo).filter(_.finished).foreach { ti =>
      taskMax.merge((ev.stageId, ev.stageAttemptId), ti.duration, math.max(_, _))
      taskSum.merge((ev.stageId, ev.stageAttemptId), ti.duration, _ + _)
    }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val i = ev.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val wall = (for (s <- i.submissionTime; e <- i.completionTime) yield (e - s) / 1000.0)
      .getOrElse(-1.0)
    done.add(StageStat(i.stageId, i.attemptNumber(), wall, i.numTasks,
      taskMax.getOrDefault(key, 0L) / 1000.0, taskSum.getOrDefault(key, 0L) / 1000.0,
      i.name.linesIterator.nextOption().getOrElse("")))
  }
}

object Profile {

  /** Local property carrying a [[labeled]] job's label; the threads a
    * query forks for broadcasts and subqueries inherit it. */
  private val LabelKey = "graft.profile.label"
  val Unlabeled = "unlabeled"

  /** One completed stage attempt: wall from submission to completion, and
    * the max single-task and summed task times. A max task near the wall
    * is a straggler; a task sum near wall × cores is saturation. */
  final case class StageStat(stageId: Int, attempt: Int, wallSec: Double,
      tasks: Int, maxTaskSec: Double, sumTaskSec: Double, name: String)

  /** Runs `body` with a fresh [[Profile]] attached to `spark`'s context
    * and counts the classes compiled meanwhile. The listener bus is
    * asynchronous, so before detaching it is drained, at most 10 s;
    * `drained` says whether that finished. */
  def during[A](spark: SparkSession)(body: => A): (A, Profile) = {
    val p = new Profile()
    val sc = spark.sparkContext
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compiled0 = compiled.getCount
    sc.addSparkListener(p)
    try {
      val out = body
      p.compileCount = compiled.getCount - compiled0
      p.drainedFlag = org.apache.spark.GraftListenerBus.drain(sc, 10000L)
      if (!p.drainedFlag)
        System.err.println("[profile] listener bus not drained in 10 s; counts may be short")
      (out, p)
    } finally sc.removeSparkListener(p)
  }

  /** Runs `body` under the job label `what`: its jobs show it as their
    * description in the UI and count under it in a [[Profile]]. Labels are
    * thread-local and the enclosing label is restored after, so a nested
    * call hands the outer label back instead of clearing it. A label must
    * not embed a batch id or other unbounded value. */
  def labeled[A](s: SparkSession, what: String)(body: => A): A = {
    val sc = s.sparkContext
    val prev = (sc.getLocalProperty("spark.job.description"), sc.getLocalProperty(LabelKey))
    sc.setJobDescription(what)
    sc.setLocalProperty(LabelKey, what)
    try body finally {
      sc.setJobDescription(prev._1)
      sc.setLocalProperty(LabelKey, prev._2)
    }
  }
}
