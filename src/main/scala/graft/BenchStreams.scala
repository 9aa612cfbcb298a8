package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Measured throughput/state harness for the STREAMING tier — the
  * missing twin of [[Bench]]/[[TimeQueries]] for `streaming.StreamOps`.
  *
  * Every ST-series live operator is equivalence-spec'd against its
  * oracle-green batch twin and checkpoint-restart-proven, but until this
  * harness none had a RECORDED rate: the engine's streaming posture was
  * argued purely by spec while the reference's one hard published number
  * is a streaming one (sub-50 ms vote ingest, `README.md:7`; the 10k-vote
  * bounded state, `lib.rs:21-22`). This main states the engine's measured
  * equivalents: rows/s, per-batch wall, and peak state-store rows per
  * operator, as a committed JSON artifact.
  *
  * Protocol — replay, not synthesis: the sf tier's `events` table is
  * staged once into N time-sliced parquet chunk files with ASCENDING
  * mtimes (the file source admits files in mtime order, so micro-batches
  * arrive in coarse event-time order — the replay contract the
  * cross-batch-order operators document), then each operator runs as a
  * real `readStream` file source bounded by `maxFilesPerTrigger`, through
  * the operator under test, into the noop sink (execution cost without
  * write cost — the [[Bench.timeOnce]] discipline). Metrics come from the
  * engine's own `StreamingQueryProgress` (input rows, trigger wall,
  * state-operator row counts) and the run's [[Profile]] (Spark jobs and
  * stages, per batch and, for the admission stream, per job label), not
  * wall-clock guesswork around the whole run; every op runs through the
  * one [[runStream]] loop. The reported wall additionally includes stream
  * startup, so rows/s here is the conservative end-to-end number.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.BenchStreams /tmp/graft-sf1"        // all ops
  * sbt "runMain graft.BenchStreams chunks=24 files=2 ops=st1_deadline_tally /tmp/graft-sf1"
  * }}}
  * `SPARK_GRAFT_STREAM_OUT=<path>` writes the JSON artifact
  * (BENCH_STREAM_r{N}.json is the committed form). Like every timing
  * main: never run concurrently with other Spark work.
  */
object BenchStreams {

  /** One operator under measurement: name, output mode, and the
    * stream-plan constructor from the staged source. */
  private[graft] final case class StreamOp(
      name: String, mode: String, build: DataFrame => DataFrame) {
    /** Starts the operator over `src` into the noop sink. */
    def start(src: DataFrame, ckpt: String): StreamingQuery =
      build(src).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt).start()
  }

  private[graft] val ops: Seq[StreamOp] = Seq(
    // windowed agg state: one row per open 1 h window
    StreamOp("st1_deadline_tally", "update",
      src => graft.streaming.StreamOps.deadlineTally(src)),
    // per-key flatMapGroupsWithState: seven scalars per user
    StreamOp("st12_rapid_reversal", "append", src => {
      import src.sparkSession.implicits._
      graft.streaming.StreamOps.rapidReversal(
        src.select($"event_id", $"user_id", $"event_type", $"value",
          $"ts_ms").as[graft.streaming.Ev]).toDF()
    }),
    // stream-stream interval join: views retained for band + watermark
    StreamOp("st_range_attr", "append",
      src => graft.streaming.StreamOps.rangeAttr(src)),
    // watermarked exact dedup: one state row per live event_id
    StreamOp("st4_dedup", "append",
      src => graft.streaming.StreamOps.dedup(src)),
    // per-(user, day) windowed counters — the rolling-limit state shape
    StreamOp("st9_daily_limit", "update",
      src => graft.streaming.StreamOps.dailyLimit(src)),
    // NATIVE session windows: merge-on-arrival state, evict-on-watermark
    StreamOp("st11_gap_sessions", "append",
      src => graft.streaming.StreamOps.gapSessions(src)))

  /** Every name `ops=` accepts: the [[ops]] plus the three ops measured
    * by their own stagers. */
  private[graft] val opNames: Set[String] = ops.map(_.name).toSet ++
    Set("merkle_append", "pipe_ingest_admission", "pipe_ingest_admission_near")

  /** The chunk ladder every stager builds: `chunked` (must carry a
    * `chunk` column in [0, nChunks)) as one mtime-ascending parquet file
    * per chunk under the [[Staged]] directory for `tag`, rebuilt only
    * when `token` moved. Callers put every source-identity component in
    * the token. */
  private def stageChunks(tag: String, token: String, nChunks: Int,
      orderCol: String)(chunked: => org.apache.spark.sql.DataFrame): String = {
    val stage = Staged.dirFor("graft-stream-stage", tag)
    Staged.ensure(stage, token) {
      val tmp = s"$stage.build"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
      chunked
        // one file per chunk: the trigger cadence is files, so each chunk
        // must be exactly one admission unit
        .repartition(col("chunk"))
        .sortWithinPartitions(col(orderCol))
        .write.partitionBy("chunk").mode("overwrite").parquet(tmp)
      val out = new java.io.File(stage)
      out.mkdirs()
      val base = System.currentTimeMillis() - (nChunks + 1) * 60000L
      for (i <- 0 until nChunks) {
        val cdir = new java.io.File(s"$tmp/chunk=$i")
        val parts = Option(cdir.listFiles()).toSeq.flatten
          .filter(f => f.getName.endsWith(".parquet"))
        parts.zipWithIndex.foreach { case (f, j) =>
          val dest = new java.io.File(out, f"chunk-$i%04d-$j.parquet")
          java.nio.file.Files.move(f.toPath, dest.toPath)
          dest.setLastModified(base + i * 60000L)
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  /** Stages the tier's events as `nChunks` time-sliced parquet files with
    * ascending mtimes under one flat dir; returns (dir, totalRows). The
    * stage token `<rows>_<maxId>_<maxTs>_<minTs>_<chunks>` memoizes the
    * layout per (tier, chunk-count) so repeated harness runs re-stage
    * whenever it moved — count alone would replay stale chunks after a
    * same-cardinality regeneration (spec-pinned in StreamingSpec). */
  private[graft] def stageEvents(spark: SparkSession, sfDir: String,
      nChunks: Int): (String, Long) = {
    val ev = Tables(spark, sfDir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"))
    // freshness token = (count, max event_id, max ts_ms, min ts_ms) —
    // count alone would replay STALE chunks after a same-cardinality
    // regeneration (r17 review; the RestSource.snapshot token
    // discipline, for real). min(ts_ms) is in the TOKEN, not just the
    // slicing bounds (r17 advice): a regeneration that moves only the
    // lower ts bound changes the chunk slicing this token claims to
    // pin, and it is already computed in the same single-pass aggregate.
    val tk = ev.agg(count(lit(1)), max(col("event_id")),
      max(col("ts_ms")), min(col("ts_ms"))).head()
    val total = tk.getLong(0)
    // loud empty-tier diagnostic, not an NPE at getLong on a null max
    // (r17 review 2): nothing downstream can replay zero events anyway
    require(total > 0, s"BenchStreams: $sfDir/events is empty — nothing to replay")
    val (mn, mx) = (tk.getLong(3), tk.getLong(2))
    val span = math.max(1L, mx - mn + 1)
    val stage = stageChunks(s"$sfDir#$nChunks",
      s"${total}_${tk.get(1)}_${tk.get(2)}_${tk.get(3)}_$nChunks",
      nChunks, "ts_ms") {
      // chunk = uniform ts slice
      ev.withColumn("chunk",
        least(lit(nChunks - 1),
          ((col("ts_ms") - lit(mn)) * lit(nChunks.toLong) / lit(span))
            .cast("int")))
    }
    (stage, total)
  }

  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))

  /** One measured stream run: wall from start until every staged file was
    * processed (stream startup included, so rows/s is the conservative
    * end-to-end number), every progress entry, and the [[Profile]] of the
    * run's Spark jobs. */
  private[graft] final case class StreamRun(wall: Double,
      progress: Seq[StreamingQueryProgress], profile: Profile) {
    val batches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    val rows: Long = batches.map(_.numInputRows).sum
    val trigSec: Seq[Double] = batches.map(_.durationMs.asScala
      .getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).longValue() / 1e3)

    /** The fields of every op record; `perRow` names the µs-per-row key.
      * The job counts are the admission floor's evidence: a fixed count
      * of Spark jobs per micro-batch, which a floor optimization must
      * move. */
    def fields(perRow: String): String =
      s""""rows": $rows, "batches": ${batches.size}, """ +
        f""""wall_sec": $wall%.3f, """ +
        f""""rows_per_sec": ${if (wall > 0) rows / wall else 0.0}%.0f, """ +
        f""""trigger_sec_p50": ${pct(trigSec, 0.50)}%.3f, """ +
        f""""trigger_sec_p95": ${pct(trigSec, 0.95)}%.3f, """ +
        f""""$perRow": ${if (rows > 0) trigSec.sum * 1e6 / rows else 0.0}%.2f, """ +
        s""""jobs_total": ${profile.jobs}, "stages_total": ${profile.stages}, """ +
        f""""jobs_per_batch": ${
          if (batches.nonEmpty) profile.jobs.toDouble / batches.size else 0.0}%.1f"""
  }

  /** The one run loop of every op: `start` starts a stream from the
    * staged files (`filesPerTrigger` per trigger) and a fresh checkpoint
    * dir; its `query` runs under [[Profile.during]] until every file is
    * processed, then stops. The checkpoint delete is best effort: the
    * state-store maintenance thread can still be flushing after stop()
    * returns, and a leftover fresh temp dir never feeds a later run. */
  private[graft] def runStream[H](spark: SparkSession, stage: String,
      filesPerTrigger: Int, tag: String)(start: (DataFrame, String) => H)(
      query: H => StreamingQuery): (H, StreamRun) = {
    val src = spark.readStream.schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(stage)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-stream-ckpt-$tag").toString
    try {
      val ((h, wall, progress), prof) = Profile.during(spark) {
        val t0 = System.nanoTime()
        val h = start(src, ckpt)
        val q = query(h)
        try {
          q.processAllAvailable()
          // progress AFTER completion: every batch's metrics are final
          (h, (System.nanoTime() - t0) / 1e9, q.recentProgress.toSeq)
        } finally q.stop()
      }
      (h, StreamRun(wall, progress, prof))
    } finally scala.util.Try(
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt)))
  }

  /** Stages the tier's events as an ordered (leaf_index, leaf)
    * commitment stream for the [[graft.streaming.StreamOps.merkleAppend]]
    * measurement: leaf_index = the event's dense position in event_id
    * order (the same [[graft.operators.ScaleOps.strataPrefixSum]]
    * derivation crypto_merkle_root uses — the maintainer's contiguity
    * contract wants positions, not keys), leaf = md5(event_id) bytes.
    * Chunked by index range with ascending mtimes so appends replay in
    * order; staged through [[stageChunks]] like [[stageEvents]]. */
  private[graft] def stageMerkleLeaves(spark: SparkSession, sfDir: String,
      nChunks: Int): (String, Long) = {
    val ev = Tables(spark, sfDir).events.select(col("event_id"))
    // token pins the event_id MULTISET (the staged leaves are a pure
    // function of it): alongside (count, max, min, sum), a sum of
    // per-id xxhash64 values — order-independent, and a regeneration
    // that re-keys interior rows while preserving the four arithmetic
    // terms (second r18 review: (4,4)→(3,5) preserves count/extremes/
    // sum) cannot realistically also preserve a sum of 64-bit hashes.
    // All five terms ride in the same single-pass aggregate
    val tk = ev.agg(count(lit(1)), max(col("event_id")), min(col("event_id")),
      sum(col("event_id")),
      // DECIMAL(38,0), not LONG: full-range 64-bit hashes overflow a
      // LONG sum within rows under ANSI; 2^63 × 10^12 rows < 10^38
      sum(xxhash64(col("event_id")).cast("decimal(38,0)"))).head()
    val total = tk.getLong(0)
    require(total > 0, s"BenchStreams: $sfDir/events is empty — nothing to replay")
    val stage = stageChunks(s"$sfDir#mk$nChunks",
      s"${total}_${tk.get(1)}_${tk.get(2)}_${tk.get(3)}_${tk.get(4)}_$nChunks",
      nChunks, "leaf_index") {
      graft.operators.ScaleOps.strataPrefixSum(
          ev, Seq.empty, Seq("event_id"), lit(1L), "leaf_index")
        .select(col("leaf_index"),
          unhex(md5(col("event_id").cast("string"))).as("leaf"))
        .withColumn("chunk",
          least(lit(nChunks - 1),
            (col("leaf_index") * lit(nChunks.toLong) / lit(total)).cast("int")))
    }
    (stage, total)
  }

  /** Measures [[graft.streaming.StreamOps.merkleAppend]] — the engine's
    * one deliberately driver-serial streaming op (the O(depth)-state
    * registry maintainer) and, until r18, the only stateful stream with
    * no recorded rate. Two records: the throughput run over the whole
    * staged commitment stream at the reference's registry depth (20,
    * auto-widened only if the tier outgrows it), and a deliberate
    * CAP-TRIP run (maxBatchLeaves below the chunk size) pinning that an
    * unbounded-trigger ingest burst dies with the named diagnostic
    * before rows land on the driver. */
  private def measureMerkle(spark: SparkSession, sfDir: String,
      nChunks: Int, filesPerTrigger: Int): (Seq[String], Long) = {
    val (stage, total) = stageMerkleLeaves(spark, sfDir, nChunks)
    val depth = math.max(20,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, total - 1)))
    // the throughput run's cap is sized to the stage (2× the worst-case
    // trigger), not merkleAppend's 2^20 default, which a tier past ~12.6M
    // rows exceeds; the cap-trip run below exercises the guard
    val batchCap = math.min(Int.MaxValue.toLong,
      math.max(1L, 2L * filesPerTrigger * ((total + nChunks - 1) / nChunks))).toInt
    val (h, run) = runStream(spark, stage, filesPerTrigger, "merkle")((src, ckpt) =>
      graft.streaming.StreamOps.merkleAppend(src, depth,
        checkpoint = Some(ckpt), maxBatchLeaves = batchCap))(_.query)
    require(h.tree.count == total,
      s"merkle bench integrity: folded ${h.tree.count} of $total leaves")
    val rootHex = graft.functions.Poseidon.toBytes32(h.tree.root)
      .map("%02x".format(_)).mkString
    val rec =
      s"""{"op": "merkle_append", ${run.fields("us_per_append")}, """ +
        s""""depth": $depth, "tree_count": ${h.tree.count}, """ +
        s""""unchecked_replays": ${h.uncheckedReplays}, """ +
        s""""root_prefix": "${rootHex.take(16)}", "complete": ${run.rows == total}}"""
    System.err.println(s"[bench-stream] merkle_append: $rec")

    // cap-trip: a cap below the per-trigger row count must kill the
    // stream with the named guard, not collect rows to the driver
    val cap = math.max(1, (total / nChunks / 4).toInt)
    val trip = try {
      runStream(spark, stage, filesPerTrigger, "merkletrip")((src, ckpt) =>
        graft.streaming.StreamOps.merkleAppend(src, depth,
          checkpoint = Some(ckpt), maxBatchLeaves = cap))(_.query)
      "NO-TRIP"
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
        if (msg != null && msg.contains("exceeds maxBatchLeaves")) "named-error"
        else s"WRONG-ERROR: ${Option(msg).getOrElse("null").take(80)}"
    }
    val tripRec = s"""{"op": "merkle_append_cap_trip", "max_batch_leaves": $cap, """ +
      s""""outcome": ${Verify.jsonStr(trip)}}"""
    System.err.println(s"[bench-stream] merkle_append_cap_trip: $tripRec")
    (Seq(rec, tripRec), total)
  }

  /** QUANTILE chunk slicing, not value-range: boundaries stay monotone
    * in `idCol` (the ascending-ids replay contract the admission state
    * rests on) but chunk sizes follow the row DISTRIBUTION. The
    * replicated /tmp tiers cluster increment doc_ids into a few narrow
    * copy-offset bands (sf1: [8e10, 9e10+5e3]), so a value-RANGE slice
    * put every doc in chunks {0, 23} — two files, ONE trigger, and the
    * "live" measurement never exercised a cross-batch state probe
    * (first r19 BENCH_STREAM cut). approxQuantile is a bounded driver
    * read (≤ nChunks−1 doubles over one increment-sized scan); the
    * chunk column is a codegen'd fold over that literal array — no
    * join, no window. Returns the chunked frame and the distinct cut
    * count (part of the stage token, so a layout change
    * self-invalidates). */
  private[graft] def quantileChunks(df: org.apache.spark.sql.DataFrame,
      idCol: String, nChunks: Int):
      (org.apache.spark.sql.DataFrame, Int) = {
    // nChunks=1 needs no cuts — and approxQuantile NPEs on an empty
    // probabilities array (spec-locked), so the degenerate case the
    // old id-range slicing handled must skip the call entirely
    val cuts =
      if (nChunks <= 1) Array.empty[Long]
      else df.stat.approxQuantile(idCol,
          (1 until nChunks).map(_.toDouble / nChunks).toArray,
          1.0 / (64 * nChunks))
        .map(_.toLong).distinct.sorted
    (df.withColumn("chunk",
      aggregate(typedLit(cuts), lit(0),
        (acc, c) => acc + when(col(idCol) >= c, 1).otherwise(0))), cuts.length)
  }

  /** Deterministic synthetic near-dup corpus (VERDICT r19 #2): no
    * measured admission row had ever exercised the band/near-dup STATE
    * path — replica increments are all exact dups, and the natural
    * sf0.1 increment is mostly contaminated/gated. This corpus plants,
    * in the increment (the last 20% of the id range, matching the
    * index's split rule), per 10 docs: 3 near-dups of base docs
    * (index-band elections), 1 exact dup of a base doc, 1 near-dup of
    * an EARLIER increment fresh doc at a ~2-chunk id distance (an
    * election that can ONLY resolve through accumulated stream
    * band/tok state when chunk-staged), and 5 fresh admitted docs (the
    * band-state producers). Near-dup = token multiset preserved, order
    * perturbed: jaccard 1.0 under the minhash kernel, distinct md5 —
    * the planted-fixture trick at scale. Pure function of `total`, so
    * the [[Staged]] token is the generator version: re-runs adopt. */
  private def ensureNearDupCorpus(spark: SparkSession, total: Int): String = {
    val dir = Staged.dirFor("graft-neardup", total.toString)
    Staged.ensure(dir, "nd1") {
      val maxId = total - 1L
      val split = maxId - maxId / 5
      val stop = "the and of to a in is for the and of to"
      def fresh(id: Long): String =
        (0 until 12).map(j => s"w${id}x$j").mkString(" ") + " " + stop
      def perm(t: String): String = {
        val w = t.split(" "); val tmp = w(0); w(0) = w(1); w(1) = tmp
        w.mkString(" ")
      }
      val gap0 = math.max(50L, (total - split) / 20)
      val rows = (0L to maxId).map { id =>
        val text =
          if (id < split) fresh(id)
          else (id - split) % 10 match {
            case 0 | 1 | 2 => perm(fresh((id * 2654435761L) % split))
            case 3 => fresh((id * 40503L) % split)
            case 4 =>
              // nearest earlier FRESH-role increment doc ((k % 10) == 5)
              // at ~2-chunk distance; below the floor, fall back to fresh
              val t0 = id - gap0
              val t = t0 - (((t0 - split - 5) % 10 + 10) % 10)
              if (t >= split + 5) perm(fresh(t)) else fresh(id)
            case _ => fresh(id)
          }
        (id, text, "en", s"src${1 + (id % 3)}", text.length.toLong)
      }
      import spark.implicits._
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(8).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    }
  }

  /** Measures the LIVE composed-admission stream
    * ([[graft.streaming.StreamOps.ingestAdmission]], r19) — the
    * continuous form of `pipe_ingest_incr`: the tier's documents
    * INCREMENT (doc_id ≥ split) staged as id-ordered chunk files (the
    * replay contract: ids ascend across micro-batches), streamed through
    * the shared admission core against the persisted mhp1 index + the
    * stream's own accumulated delta state. Reported next to rows/s and
    * per-trigger wall: the one-time index-build seconds (adopt = ~0),
    * the final verdict distribution (read back from the batch outputs —
    * also the completeness check), and the accumulated STATE size in
    * rows (fps/bands/toks deltas summed) — the number that must scale
    * with the stream's survivors, never the corpus. The record adds
    * `jobs_by_label`: the run's jobs and their summed wall per
    * [[Profile.labeled]] label. */
  private def measureIngestAdmission(spark: SparkSession, sfDir: String,
      nChunks: Int, filesPerTrigger: Int,
      opName: String = "pipe_ingest_admission"): (Seq[String], Long) = {
    val tIdx0 = System.nanoTime()
    val (idx, split) = graft.operators.IngestIncr.ensurePipeIngestIndex(spark, sfDir)
    val idxSec = (System.nanoTime() - tIdx0) / 1e9
    val docs = Tables(spark, sfDir).documents
      .filter(col("doc_id") >= lit(split))
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    // token pins the CONTENT multiset alongside the id layout: a
    // same-seed-shape regeneration preserves count/extremes/split (the
    // generated ids are a deterministic layout), so layout terms alone
    // replayed STALE staged text against the freshly-rebuilt index
    // (review r19 — the same class stageMerkleLeaves closed in r18).
    // Sum of per-row xxhash64 over all four columns, DECIMAL(38,0) so
    // full-range 64-bit hashes cannot overflow; rides the same
    // single-pass aggregate as the layout terms
    val tk = docs.agg(count(lit(1)), max(col("doc_id")), min(col("doc_id")),
      sum(xxhash64(col("doc_id"), col("source"), col("lang"), col("text"))
        .cast("decimal(38,0)"))).head()
    val total = tk.getLong(0)
    require(total > 0, s"BenchStreams: $sfDir documents increment is empty")
    val (chunked, nCuts) = quantileChunks(docs, "doc_id", nChunks)
    val stage = stageChunks(s"$sfDir#ing$nChunks",
      s"Q${nCuts}_${total}_${tk.get(1)}_${tk.get(2)}_${tk.get(3)}_${split}_$nChunks",
      nChunks, "doc_id") { chunked }
    val Seq(stateRoot, outRoot) = Seq("state", "out").map(n =>
      java.nio.file.Files.createTempDirectory(s"graft-ingadm-bench-$n").toString)
    val (statePath, outPath) = (s"$stateRoot/state", s"$outRoot/out")
    val (_, run) = runStream(spark, stage, filesPerTrigger, "ingadm")((src, ckpt) =>
      graft.streaming.StreamOps.ingestAdmission(
        src, idx, split, statePath, outPath, checkpoint = Some(ckpt)))(identity)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // verdict surface read back from the batch outputs — the
    // completeness check (every staged doc verdicted exactly once)
    val verdicts = spark.read.parquet(outPath)
      .groupBy(col("verdict")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val verdictSum = verdicts.map(_._2).sum
    // accumulated state = the COMMITTED snapshot (compacted generation
    // + live delta tail, r20) in rows per part, plus the layout census
    // — the bounded-dir-count evidence the compaction exists to produce
    val (stSnap, stGen, stDeltaDirs) =
      graft.operators.IngestIncr.stateSnapshot(spark, statePath)
    val (stFps, stBands, stToks) =
      (stSnap.fps.count(), stSnap.bands.count(), stSnap.toks.count())
    Seq(stateRoot, outRoot).foreach(p => scala.util.Try(
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))))
    val rec =
      s"""{"op": ${Verify.jsonStr(opName)}, ${run.fields("us_per_doc")}, """ +
        // lifetime-flatness evidence (VERDICT r19 #1): mean trigger wall
        // over the first vs last 10 data batches — without compaction
        // the tail mean grows with the batch count, never the data
        f""""trigger_sec_mean_head10": ${mean(run.trigSec.take(10))}%.3f, """ +
        f""""trigger_sec_mean_tail10": ${mean(run.trigSec.takeRight(10))}%.3f, """ +
        f""""index_build_sec": $idxSec%.3f, """ +
        // per-label attribution of the jobs_total, over a bounded key set
        s""""jobs_by_label": {${run.profile.byLabel.toSeq.sortBy(_._1).map {
          case (k, (n, w)) => f"""${Verify.jsonStr(k)}: {"jobs": $n, "wall_sec": $w%.3f}"""
        }.mkString(", ")}}, """ +
        s""""state_rows_fps": $stFps, "state_rows_bands": $stBands, """ +
        s""""state_rows_toks": $stToks, """ +
        s""""state_gen_through": ${stGen.getOrElse(-1L)}, """ +
        s""""state_delta_dirs": $stDeltaDirs, """ +
        s""""verdicts": {${verdicts.map { case (k, v) =>
          s"${Verify.jsonStr(k)}: $v" }.mkString(", ")}}, """ +
        s""""complete": ${run.rows == total && verdictSum == total}}"""
    System.err.println(s"[bench-stream] $opName: $rec")
    (Seq(rec), total)
  }

  def main(args: Array[String]): Unit = {
    val a = Bench.mainArgs(args.toSeq, Set("chunks", "files", "near", "ops"),
      "usage: BenchStreams [chunks=N] [files=K] [near=DOCS] [ops=a,b,...] <sfDir>")
    val nChunks = a.int("chunks", 24)
    val filesPerTrigger = a.int("files", 2)
    val nearTotal = a.int("near", 0)
    val only = a.list("ops").map(_.toSet)
    // a misspelled name fails the run rather than silently dropping its op
    only.foreach(_.toSeq.sorted.find(n => !opNames.contains(n))
      .foreach(n => a.fail(s"ops= names no op: '$n'")))
    require(a.positional.length == 1, a.usage)
    val sfDir = a.positional.head
    val spark = Engine.session(appName = "graft-bench-streams")
    // recentProgress retains only the last N progress updates (default
    // 100) — a fine-cadence run (chunks/files > ~100 triggers) would
    // silently drop early batches from the rows/throughput sums while
    // wall_sec covered the whole run (r17 review). Size the buffer to
    // the run, and cross-check completeness per op below.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (nChunks + 64).toString)

    // merkle_append replays its OWN staged leaf stream into a foreachBatch
    // maintainer, so an ops=merkle_append run skips the events staging.
    // Included by default up to 20M rows; past that the serial fold
    // dominates the run, so it wants an explicit ops= opt-in — logged,
    // never silently dropped.
    val selected = ops.filter(o => only.forall(_.contains(o.name)))
    val merkleExplicit = only.exists(_.contains("merkle_append"))
    // the composed-admission stream stages the documents increment, not
    // events — default-on like the ST ops, explicit via
    // ops=pipe_ingest_admission
    val wantIngest =
      only.isEmpty || only.exists(_.contains("pipe_ingest_admission"))
    // the synthetic near-dup tier (VERDICT r19 #2) is OPT-IN by size:
    // near=DOCS stages the deterministic planted corpus and runs the
    // admission stream over its increment under the op name
    // pipe_ingest_admission_near
    val wantNear = nearTotal > 0 &&
      (only.isEmpty || only.exists(_.contains("pipe_ingest_admission_near")))
    require(selected.nonEmpty || merkleExplicit || wantIngest || wantNear,
      s"no ops matched; ${a.usage}")
    val staged =
      if (selected.nonEmpty) Some(stageEvents(spark, sfDir, nChunks)) else None
    staged.foreach { case (stage, n) =>
      System.err.println(s"[bench-stream] staged $n rows in $nChunks chunks at $stage") }
    // "by default" means NO ops= filter: an explicit list that leaves
    // merkle_append out must not have the ~minute-scale serial fold (and
    // its whole-tier leaf staging) bolted onto it anyway (r18 review)
    val wantMerkle = merkleExplicit ||
      (only.isEmpty && staged.exists(_._2 <= 20_000_000L))
    if (only.isEmpty && staged.exists(_._2 > 20_000_000L))
      System.err.println(s"[bench-stream] merkle_append SKIPPED at ${staged.get._2} rows " +
        "(serial fold; pass ops=merkle_append to force)")
    val evTotal = staged.map(_._2).getOrElse(0L)
    val records = selected.map { op =>
      val (_, run) = runStream(spark, staged.get._1, filesPerTrigger, op.name)(op.start)(identity)
      // completeness: a positive whole multiple of the input (the
      // interval join admits the one file source on both sides, counted
      // in ONE source entry); anything else means progress entries were
      // dropped from the bounded buffer and the rates are wrong
      val complete = run.rows > 0 && run.rows % evTotal == 0
      if (!complete)
        System.err.println(s"[bench-stream] WARNING ${op.name}: summed " +
          s"${run.rows} input rows, not a whole multiple of $evTotal — " +
          "progress buffer too small or rows dropped; rates UNRELIABLE")
      val stateMax = run.progress.flatMap(_.stateOperators.toSeq
        .map(_.numRowsTotal)).foldLeft(0L)(math.max)
      val rec =
        s"""{"op": ${Verify.jsonStr(op.name)}, ${run.fields("us_per_event")}, """ +
          s""""state_rows_max": $stateMax, """ +
          s""""admission_multiple": ${if (evTotal > 0) run.rows / evTotal else 0}, """ +
          s""""complete": $complete}"""
      System.err.println(s"[bench-stream] ${op.name}: $rec")
      rec
    }
    val (merkleRecs, merkleTotal) =
      if (wantMerkle) measureMerkle(spark, sfDir, nChunks, filesPerTrigger)
      else (Seq.empty[String], -1L)
    val (ingestRecs, ingestTotal) =
      if (wantIngest) measureIngestAdmission(spark, sfDir, nChunks, filesPerTrigger)
      else (Seq.empty[String], -1L)
    val (nearRecs, nearRows) =
      if (wantNear)
        measureIngestAdmission(spark, ensureNearDupCorpus(spark, nearTotal),
          nChunks, filesPerTrigger, opName = "pipe_ingest_admission_near")
      else (Seq.empty[String], -1L)
    // top-level total_rows: staged events if any op replayed them, else
    // the merkle leaf total, else the ingest doc total — an ops=
    // pipe_ingest_admission-only run must not record the -1 sentinel
    // for a run that processed `ingestTotal` docs (review r19)
    val totalRows = staged.map(_._2)
      .getOrElse(if (merkleTotal >= 0) merkleTotal
        else if (ingestTotal >= 0) ingestTotal else nearRows)
    val record = s"""{"probe": "bench-streams", "sf": ${Verify.jsonStr(sfDir)}, """ +
      s""""total_rows": $totalRows, "chunks": $nChunks, """ +
      s""""files_per_trigger": $filesPerTrigger, """ +
      s""""ops": [${(records ++ merkleRecs ++ ingestRecs ++ nearRecs).mkString(",\n  ")}]}"""
    // marker-line discipline (r17 verdict #4): the machine-readable
    // record on ONE stdout line behind a grep-able prefix, no sbt
    // framing dependency
    println(s"[bench-stream-json] $record")
    sys.env.get("SPARK_GRAFT_STREAM_OUT").foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), record + "\n")
    }
    spark.stop()
  }
}
