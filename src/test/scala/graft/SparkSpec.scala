package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM-wide session — Spark startup
  * dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = Engine.session(
    master = "local[4]", shufflePartitions = 4, appName = "graft-test")

  // JVM-exit cleanup for test temp dirs: the suites create ~45 populated
  // fixture dirs per run (parquet corpora, bench records, checkpoints)
  // and used to leave every one behind — repeated runs on a long-lived
  // host accumulate until /tmp fills (r13 test sweep). Deletion runs at
  // shutdown, after Spark is done with any checkpoint dirs among them.
  private val trackedTmp =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tmpHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      trackedTmp.forEach(p => scala.util.Try(rm(p.toFile)): Unit)
    }))
    true
  }
  def tempDir(prefix: String): java.nio.file.Path = {
    require(tmpHookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    trackedTmp.add(p)
    p
  }
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  lazy val sf001 = "/root/testdata/sf0.001"
  lazy val sf01 = "/root/testdata/sf0.01"

  /** Tracked temp dir, recursively deleted at JVM exit. */
  def tempDir(prefix: String): java.nio.file.Path = SparkSpec.tempDir(prefix)

  /** Commands of the processes Hadoop's `Shell` forked while `body` ran,
    * from a JFR `jdk.ProcessStart` recording with stack traces. */
  def hadoopShellForks(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = tempDir("graft-lc-jfr").resolve("forks.jfr")
    rec.start()
    try body
    finally { rec.stop(); rec.dump(dump); rec.close() }
    jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName == "org.apache.hadoop.util.Shell")))
      .map(_.getString("command"))
  }

  /** Shared events-parquet fixture writer: the table layout (TS column
    * in epoch-NANOS — an easy multiply to get wrong) lives in ONE place
    * instead of a copy per test (r13 test sweep). */
  def writeEventsFixture(dir: String, evs: Seq[graft.streaming.Ev]): Unit = {
    val sp = spark
    import sp.implicits._
    evs.map(e => (e.event_id, e.ts_ms * 1000000L, e.user_id, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
