package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one benchmark run is asked to do (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String)

/** Everything a workload needs while it runs. `stateDir` is this set-up's
  * private engine-state directory: the versioned indexes, staging markers
  * and snapshot caches the engine keeps under `java.io.tmpdir` land in it,
  * so every set-up starts from the same (empty) warm state. */
final class Ctx(val args: Args, val spark: SparkSession, val stateDir: String,
    val trace: Trace) {
  val rng = new scala.util.Random(args.seed)
  /** Named raw results for `run.py`, written as one JSON object. */
  val out = mutable.LinkedHashMap.empty[String, String]
  def cpuNs: Long = Main.processCpuNs
  /** Host-speed kernel times (`Calib`), taken between measured stretches. */
  val calib = mutable.ArrayBuffer.empty[Double]
  def calibrate(): Unit = calib += Calib.time(spark.sparkContext.defaultParallelism)

  /** MB of heap still in use after a full collection: what the engine
    * keeps (caches, state stores, metadata) once the work is done. */
  def liveHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }
}

/** A workload: a set-up that stages its inputs and builds its indexes
  * (timed as `setup_s`), a warm-up, the measured region, and an output
  * check run after it. */
trait Workload {
  def setUp(c: Ctx): Unit
  def warmUp(c: Ctx): Unit
  /** The measured region; returns its raw record. */
  def measure(c: Ctx): Seq[(String, String)]
  def check(c: Ctx): Unit
  /** Work a traced run adds after the measured region (layer probes). */
  def probe(c: Ctx): Unit = ()
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"))
  }

  def workload(name: String): Workload = name match {
    case "catalog_sf01" => Batch.catalog
    case "vote_stream" => Streams.vote
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a.workload)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (k <- 0 until SetUps) {
      val t0 = System.nanoTime()
      if (ctx != null) ctx.spark.stop()
      val stateDir = s"${a.work}/state$k"
      new java.io.File(stateDir).mkdirs()
      System.setProperty("java.io.tmpdir", stateDir)
      graft.operators.RunCaches.clearAll()
      val spark = graft.Engine.session(appName = "graft-perfbench")
      spark.conf.set("spark.graft.minhash.indexBase", stateDir)
      val trace = new Trace(a.trace && k == SetUps - 1)
      ctx = new Ctx(a, spark, stateDir, trace)
      wl.setUp(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp(ctx)
    Calib.once(ctx.spark.sparkContext.defaultParallelism)  // JIT warm-up
    ctx.out("warmup_s") = Json.num((System.nanoTime() - w0) / 1e9)
    // a traced run measures the same region untraced first, for the
    // tracing overhead
    if (a.trace) ctx.out("untraced") = Json.obj(wl.measure(ctx))
    ctx.trace.attach(ctx.spark)
    ctx.out ++= wl.measure(ctx)
    ctx.trace.detach()
    if (a.trace) wl.probe(ctx)
    wl.check(ctx)
    val rec = Seq(
      "workload" -> Json.str(a.workload),
      "cpus" -> ctx.spark.sparkContext.defaultParallelism.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> Json.str(System.getProperty("java.vm.version")),
      "spark" -> Json.str(ctx.spark.version),
      "setup_s" -> Json.nums(setupS),
      "calib_s" -> Json.nums(ctx.calib)) ++ ctx.out.toSeq ++
      (if (a.trace) Seq("trace" -> ctx.trace.json) else Nil)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json.obj(rec))
    ctx.spark.stop()
  }
}
