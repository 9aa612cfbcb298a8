package graftbench

import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The open-loop stream workload. Set-up stages the input as numbered
  * parquet files; the measured region replays every file into a watched
  * directory on a seeded schedule at a fixed rate, while the engine's live
  * queries consume it. A file's latency runs from its due
  * time to the end of the trigger that consumed it, so a generator stall
  * or a backlog counts against the system. */
object Streams {
  /** Bound on waiting for the queries to drain after the last arrival. */
  val DrainTimeoutMs = 60000L

  /** Writes `df` as one parquet file per value of `chunk` (an int column),
    * rows sorted by `order`, named `chunk-NNNN.parquet` under `dir`. */
  def stageChunks(df: DataFrame, order: Seq[String], dir: String): Seq[java.io.File] = {
    val tmp = s"$dir.build"
    df.repartition(col("chunk")).sortWithinPartitions(order.map(col): _*)
      .write.partitionBy("chunk").mode("overwrite").parquet(tmp)
    new java.io.File(dir).mkdirs()
    val parts = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("chunk="))
    val files = parts.map { p =>
      val i = p.getName.stripPrefix("chunk=").toInt
      val src = p.listFiles().filter(_.getName.endsWith(".parquet"))
      require(src.length == 1, s"chunk $i staged as ${src.length} files")
      val dest = new java.io.File(dir, f"chunk-$i%04d.parquet")
      Files.move(src.head.toPath, dest.toPath)
      dest
    }.sortBy(_.getName).toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    files
  }

  private def nowMs: Double = Clock.nowNs / 1e6

  /** Moves each staged file into `inDir` at its due time: one every
    * `periodS` seconds, each delayed by a seeded jitter of under an eighth
    * of a period (so arrival order is kept). Returns (file, due, actual) in
    * epoch milliseconds. */
  def replay(files: Seq[java.io.File], inDir: String, periodS: Double,
      rng: scala.util.Random): Seq[(String, Double, Double)] = {
    val period = periodS * 1000.0
    val t0 = nowMs + 200.0
    files.zipWithIndex.map { case (f, i) =>
      val due = t0 + i * period + rng.nextDouble() * period / 8
      val wait = due - nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(f.toPath, Paths.get(inDir, f.getName), StandardCopyOption.ATOMIC_MOVE)
      (f.getName, due, nowMs)
    }
  }

  private def logLines(checkpoint: String, dir: String) =
    Option(new java.io.File(s"$checkpoint/$dir").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> Files.readAllLines(f.toPath).asScala.toSeq)

  /** The file source's log in a query's checkpoint (`sources/0`, compacted
    * logs included): each file under the source's own batch counter. */
  def sourceFiles(checkpoint: String): Map[String, Long] = {
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    logLines(checkpoint, "sources/0").flatMap(_._2)
      .collect { case Entry(path, k) => path.split('/').last -> k.toLong }.toMap
  }

  /** The query's offset log: the source counter each query batch read up
    * to (`offsets/<batch>`). */
  def batchOffsets(checkpoint: String): Map[Long, Long] = {
    val Offset = """\{"logOffset":(\d+)\}""".r
    logLines(checkpoint, "offsets").collect { case (b, ls) if b.forall(_.isDigit) =>
      ls.collectFirst { case Offset(k) => b.toLong -> k.toLong }
    }.flatten.toMap
  }

  /** Per-trigger record of a finished query: batch id, start and end in
    * epoch ms, input rows, the phase durations and the state size. */
  def triggers(q: StreamingQuery): Seq[String] = q.recentProgress.toSeq.map { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    Json.obj(Seq(
      "batch" -> p.batchId.toString,
      "start_ms" -> Json.num(start),
      "end_ms" -> Json.num(start + d.getOrElse("triggerExecution", 0L)),
      "rows" -> p.numInputRows.toString,
      "durations_ms" -> Json.obj(d.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toString,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum.toString))
  }

  /** Waits, bounded, until every query has consumed every file. */
  def drain(qs: Seq[(StreamingQuery, String)], n: Int): Boolean = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    // a file enters the source log when a batch takes it, so an idle query
    // with every file logged has consumed them all
    def done = qs.forall { case (q, ck) =>
      q.exception.isEmpty && sourceFiles(ck).size >= n &&
        !q.status.isTriggerActive && !q.status.isDataAvailable
    }
    var ok = done
    while (!ok && System.currentTimeMillis() < deadline &&
        qs.forall(_._1.exception.isEmpty)) { Thread.sleep(20); ok = done }
    ok
  }

  private def dirBytes(path: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(path))

  /** One open-loop replay: starts the queries (`start` gets the watched
    * directory and a checkpoint name), feeds copies of the first `warm`
    * files one trigger each, replays the rest open loop, drains, stops,
    * and returns the arrivals, triggers and checkpoint logs. `run` names
    * this replay's directories. */
  def openLoop(c: Ctx, files: Seq[java.io.File], warm: Int, periodS: Double, run: String,
      start: (String, String => String) => Seq[(String, StreamingQuery)]
      ): Seq[(String, String)] = {
    val inDir = s"${c.stateDir}/$run-in"
    val stage = new java.io.File(s"${c.stateDir}/$run-stage")
    Seq(new java.io.File(inDir), stage).foreach(_.mkdirs())
    val copies = files.map { f =>
      val d = new java.io.File(stage, f.getName)
      Files.copy(f.toPath, d.toPath); d
    }
    val cks = mutable.LinkedHashMap.empty[String, String]
    val qs = start(inDir, name => { val p = s"${c.stateDir}/$run-ck-$name"; cks(name) = p; p })
    // new queries' first batches plan, set up their state stores and JIT
    // much slower than later ones: keep them out of the measured replay
    for (f <- copies.take(warm)) {
      Files.move(f.toPath, Paths.get(inDir, f.getName))
      qs.foreach(_._2.processAllAvailable())
    }
    val cpu0 = c.cpuNs
    val arrivals = replay(copies.drop(warm), inDir, periodS, c.rng)
    val drained = drain(qs.map { case (n, q) => (q, cks(n)) }, files.size)
    val cpuS = (c.cpuNs - cpu0) / 1e9
    val liveMb = c.liveHeapMb  // the queries and their state are still up
    qs.foreach(_._2.stop())
    val errs = qs.flatMap { case (n, q) => q.exception.map(e => s"$n: ${e.getMessage}") }
    Seq("kind" -> Json.str("stream"), "period_s" -> Json.num(periodS),
      "live_heap_mb" -> Json.num(liveMb),
      "arrivals" -> Json.arr(arrivals.map { case (f, due, act) =>
        Json.arr(Seq(Json.str(f), Json.num(due), Json.num(act))) }),
      "queries" -> Json.obj(qs.map { case (n, q) => n -> Json.obj(Seq(
        "source_files" -> Json.obj(sourceFiles(cks(n)).toSeq.sorted
          .map { case (f, k) => f -> k.toString }),
        "batch_offsets" -> Json.obj(batchOffsets(cks(n)).toSeq.sorted
          .map { case (b, k) => b.toString -> k.toString }),
        "triggers" -> Json.arr(triggers(q)))) }),
      "drained" -> drained.toString,
      "stream_cpu_s" -> Json.num(cpuS),
      "stream_errors" -> Json.arr(errs.map(Json.str)))
  }

  // ------------------------------------------------------------------
  /** `vote_stream`: the sf0.01 `events` table (10,000 events) in
    * (ts, event_id) order, as 5 warm-up files plus one file per 1.75 s of
    * `--seconds`, consumed by the live deadline tally and rapid-reversal
    * queries; their final outputs must equal the batch twins. The warm-up
    * files go in one trigger at a time; the others arrive one every
    * 1.75 s, at least 1.53 s apart. A file costs the tally a data batch and
    * a watermark-only batch, 1.15-1.4 s on a 4-core host, so at this rate
    * a file's latency is one trigger, not a queue (perfbench/README.md has
    * the runs this was chosen from). */
  val vote: Workload = new Workload {
    val WarmFiles = 5
    val PeriodS = 1.75
    private var replays = 0
    private var staged: Seq[java.io.File] = Nil
    private val tally = mutable.LinkedHashMap.empty[Long, Row]
    private val reversals = mutable.ArrayBuffer.empty[Row]
    private lazy val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long").add("event_type", "string")
      .add("value", "double").add("ts_ms", "long")

    private def events(c: Ctx): DataFrame = graft.Tables(c.spark, c.args.data).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_ms"))

    def setUp(c: Ctx): Unit = {
      val nFiles = WarmFiles + math.round(c.args.seconds / PeriodS).toInt
      val ev = events(c)
      val n = ev.count()
      val ranked = ev.withColumn("chunk", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts_ms"), col("event_id"))) - 1) *
        lit(nFiles) / lit(n))
        .withColumn("chunk", col("chunk").cast("int"))
      staged = stageChunks(ranked, Seq("ts_ms", "event_id"), s"${c.stateDir}/vote-stage")
    }

    private def start(c: Ctx, inDir: String,
        ck: String => String): Seq[(String, StreamingQuery)] = {
      val s = c.spark
      import s.implicits._
      val src = s.readStream.schema(schema).parquet(inDir)
      val t = StreamOps.deadlineTally(src).writeStream.outputMode("update")
        .option("checkpointLocation", ck("tally"))
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.collect().foreach(r => tally(r.getAs[Long]("window_hour")) = r)
        }.start()
      val r = StreamOps.rapidReversal(src.as[Ev]).toDF().writeStream
        .outputMode("append").option("checkpointLocation", ck("reversal"))
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          reversals ++= b.collect()
          ()
        }.start()
      Seq("tally" -> t, "reversal" -> r)
    }

    /** Nothing: each replay warms its own queries on its first files. */
    def warmUp(c: Ctx): Unit = ()

    def measure(c: Ctx): Seq[(String, String)] = {
      tally.clear()
      reversals.clear()
      replays += 1
      c.calibrate()
      try openLoop(c, staged, WarmFiles, PeriodS, s"vote$replays", (in, ck) => start(c, in, ck))
      finally c.calibrate()
    }

    def check(c: Ctx): Unit = {
      val s = c.spark
      import s.implicits._
      val cols = Seq("window_hour", "votes_for", "votes_against", "total",
        "approval_pct", "passed")
      val want = graft.operators.StreamingTwins.st1DeadlineTally.run(s, c.args.data)
        .filter($"votes_for" + $"votes_against" > 0)
        .select(cols.map(col): _*).orderBy($"window_hour").collect().toSeq.map(_.toSeq)
      val got = tally.toSeq.sortBy(_._1).map { case (_, r) => cols.map(r.getAs[Any]) }
      val wantR = graft.operators.StreamingTwins.st12RapidReversal.run(s, c.args.data)
        .collect().toSeq.map(_.toSeq)
      val gotR = reversals.toSeq.map(_.toSeq)
        .sortBy(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val errs = Seq(
        (got != want) -> ("tally" ->
          s"stream tally (${got.size} windows) differs from st1_deadline_tally (${want.size})"),
        (gotR != wantR) -> ("reversal" ->
          s"stream reversals (${gotR.size} rows) differ from st12_rapid_reversal (${wantR.size})"))
        .collect { case (true, (k, m)) => k -> Json.str(m) }
      c.out ++= Seq("check_errors" -> Json.obj(errs))
    }

    override def probe(c: Ctx): Unit = {
      Probes.kernels(c)
      c.trace.put("streaming.write_bytes",
        Seq("tally", "reversal").map(n =>
          dirBytes(s"${c.stateDir}/vote$replays-ck-$n/state")).sum)
    }
  }
}
