package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it ("" for a root). Times are epoch nanoseconds. */
final case class Span(id: String, parent: String, layer: String,
    name: String, startNs: Long, endNs: Long)

/** Epoch-nanosecond clock shared by harness spans and Spark listener
  * times (which Spark reports in epoch milliseconds). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** The traced run's collector. Everything is kept in memory and written
  * out once, at the end of the run. Spans come from three places:
  *   - the harness, around each call into a layer (query, plan, execute,
  *     kernel);
  *   - a SparkListener (job, stage, and task metrics summed per owner);
  *   - a StreamingQueryListener (trigger and its phases).
  * Operator metrics are read from each finished execution's physical
  * plan through a QueryExecutionListener. Nothing is recorded before
  * `attach`, and nothing at all when `enabled` is false. */
final class Trace(val enabled: Boolean) {
  @volatile private var on = false
  /** True from `attach` on: the measured region and the probes. */
  def active: Boolean = on
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val nextId = new java.util.concurrent.atomic.AtomicLong()
  private val current = new ThreadLocal[String] { override def initialValue = "" }
  private var spark: SparkSession = _

  // job bookkeeping, all touched only on the listener-bus thread
  private val jobSpan = mutable.Map.empty[Int, (String, String, Long)]
  private val stageOwner = mutable.Map.empty[Int, (String, String)]

  val SpanKey = "perfbench.span"
  val OwnerKey = "perfbench.owner"

  def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def put(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = v
  }

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  def newId(layer: String): String = s"$layer-${nextId.incrementAndGet()}"

  /** Times `body` as a span of `layer`; Spark jobs started inside it carry
    * the span id (a local property) and become its children. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId(layer)
      val parent = current.get
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanKey)
      current.set(id)
      sc.setLocalProperty(SpanKey, id)
      val t0 = Clock.nowNs
      try body
      finally {
        record(Span(id, parent, layer, name, t0, Clock.nowNs))
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Which catalog module the jobs started from this thread belong to. */
  def owner(name: String): Unit =
    if (on) spark.sparkContext.setLocalProperty(OwnerKey, name)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a streaming trigger's jobs carry the query id and batch id; they
      // run in its addBatch phase
      val parent = prop(SpanKey).filter(_.nonEmpty).orElse(
        for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
          yield s"trigger-$q-$b-addBatch").getOrElse("")
      val owner = prop(OwnerKey).getOrElse("")
      val id = newId("job")
      jobSpan(e.jobId) = (id, parent, e.time)
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (id, owner)))
      add("engine.jobs", 1)
      add("engine.stages", e.stageIds.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
        record(Span(id, parent, "job", s"job ${e.jobId}", t0 * 1000000L,
          e.time * 1000000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime) {
        val parent = stageOwner.get(i.stageId).map(_._1).getOrElse("")
        record(Span(newId("stage"), parent, "stage", i.name,
          t0 * 1000000L, t1 * 1000000L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val runS = m.executorRunTime / 1e3
        add("engine.tasks", 1)
        add("engine.task_s", runS)
        add("engine.executor_cpu_s", m.executorCpuTime / 1e9)
        add("engine.gc_s", m.jvmGCTime / 1e3)
        add("operators.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("operators.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("operators.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("operators.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        val owner = stageOwner.get(e.stageId).map(_._2).getOrElse("")
        if (owner.nonEmpty) add(s"operators.$owner.task_s", runS)
      }
  }

  /** Sums the SQL metrics of one finished execution's physical plan,
    * descending into adaptive plans and query stages; a reused exchange
    * is skipped so its metrics are not counted twice. */
  private def planMetrics(plan: SparkPlan): Unit = {
    def secs(m: org.apache.spark.sql.execution.metric.SQLMetric): Double =
      m.metricType match {
        case "nsTiming" => m.value / 1e9
        case "timing" => m.value / 1e3
        case _ => m.value.toDouble
      }
    def walk(p: SparkPlan): Unit = {
      val cls = p.getClass.getSimpleName
      val ms = p.metrics
      if (cls.startsWith("FileSourceScan") || cls.startsWith("BatchScan")) {
        ms.get("numOutputRows").foreach(m => add("tables.scan_rows", m.value))
        ms.get("filesSize").foreach(m => add("tables.scan_bytes", m.value))
        ms.get("scanTime").foreach(m => add("tables.scan_s", secs(m)))
      }
      ms.get("buildTime").foreach(m => add("operators.join_build_s", secs(m)))
      ms.get("aggTime").foreach(m => add("operators.agg_s", secs(m)))
      ms.get("sortTime").foreach(m => add("operators.sort_s", secs(m)))
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(walk)
    }
    walk(plan)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      planMetrics(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val total = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val id = s"trigger-${p.id}-${p.batchId}"
      record(Span(id, "", "trigger", s"${p.name} batch ${p.batchId}", t0,
        t0 + total * 1000000L))
      // the phases run one after another inside the trigger, in this order
      var at = t0
      for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")) {
        val ms = Option(d.get(ph)).map(_.longValue).getOrElse(0L)
        if (ms > 0) {
          record(Span(s"$id-$ph", id, "phase", ph, at, at + ms * 1000000L))
          at += ms * 1000000L
        }
      }
    }
  }

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    on = true
  }

  /** Stops collecting once every event posted so far has been handled;
    * spans the harness records afterwards (the layer probes) still count. */
  def detach(): Unit = if (on) {
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def json: String = Json.obj(Seq(
    "counters" -> Json.obj(counters.synchronized(counters.toList)
      .map { case (k, v) => k -> Json.num(v) }),
    "spans" -> Json.arr(spans.synchronized(spans.toList).map(s =>
      Json.arr(Seq(Json.str(s.id), Json.str(s.parent), Json.str(s.layer),
        Json.str(s.name), s.startNs.toString, s.endNs.toString))))))
}
