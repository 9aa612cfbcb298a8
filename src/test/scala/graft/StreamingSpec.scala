package graft

import graft.streaming.{Ev, StreamOps}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._

/** Streaming ⇔ batch-twin equivalence: replay the sf0.001 events through
  * MemoryStream in several micro-batches and assert the streaming result
  * converges to exactly what the batch twin computes over the same rows
  * (SURVEY §5.2 streaming tests). */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** sf0.001 events as typed rows, ordered by ts (arrival order). */
  private lazy val allEvents: Seq[Ev] = Tables(spark, sf001).events
    .select($"event_id", $"user_id", $"event_type", $"value", $"ts_ms")
    .orderBy($"ts_ms")
    .as[Ev].collect().toSeq

  private def runStream[T](
      name: String,
      batches: Seq[Seq[Ev]],
      build: org.apache.spark.sql.Dataset[Ev] => org.apache.spark.sql.DataFrame,
      mode: OutputMode): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = build(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  // (ts_ms, event_id) total order BEFORE batching: the stream operators
  // sort only WITHIN each micro-batch, so equal-ts events straddling a
  // batch boundary arrive in frame order — and orderBy(ts_ms) alone
  // leaves the tie order unspecified, a latent equivalence flake under
  // a different partitioning (the per-test re-sorts at st12/as-of
  // already carried the tiebreak; the shared batches now do too)
  private val batches =
    allEvents.sortBy(e => (e.ts_ms, e.event_id)).grouped(400).toSeq

  test("ST8 live fan-out: streaming partitioned append accumulates, prunes per key, resumes from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft-st8-live")
    val path = base.resolve("t").toString
    val ckpt = base.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.partitionedFanout(
      mem.toDF().toDF("event_id", "room"), path, "room", ckpt)
    try {
      mem.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
      mem.addData((3L, "alpha"), (4L, "gamma")); q.processAllAvailable()
    } finally q.stop()
    // append across micro-batches: both alpha events are present
    val one = spark.read.parquet(path).filter($"room" === "alpha")
    assert(one.select($"event_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // read-side partition pruning: the filter lands on the partition
    // column, the scan reads only alpha's directory
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [") &&
      !scan.contains("PartitionFilters: []"),
      s"per-room read is not partition-pruned: $scan")
    assert(spark.read.parquet(path).count() === 4)
    // checkpointed restart: the resumed query must NOT re-append the
    // already-committed history — only new data lands
    val q2 = StreamOps.partitionedFanout(
      mem.toDF().toDF("event_id", "room"), path, "room", ckpt)
    try {
      mem.addData((5L, "beta")); q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(path).count() === 5,
      "restart from checkpoint must resume, not replay history")
    // the live path stamps real batch ids: three processed micro-batches
    // → three distinct __batch subpartitions in the layout
    assert(spark.read.parquet(path).select($"__batch").distinct().count() === 3)
  }

  test("ST8 replayed micro-batch lands exactly once (crash between append and offset commit)") {
    // foreachBatch's at-least-once window: the sink write completes,
    // the crash lands before the offset commit, and on restart Spark
    // re-runs the SAME batch id with the same rows. The fan-out sink
    // must absorb that as a rewrite, not an append — drive the sink
    // body directly with a repeated batchId to simulate it.
    import graft.sources.Sinks
    val path = tempDir("graft-st8-replay").resolve("t").toString
    val b0 = Seq((1L, "alpha"), (2L, "beta")).toDF("event_id", "room")
    Sinks.idempotentFanoutBatch(b0, path, "room", batchId = 0L)
    Sinks.idempotentFanoutBatch(b0, path, "room", batchId = 0L) // the replay
    assert(spark.read.parquet(path).select($"event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L),
      "a replayed batch must rewrite its own partitions, not duplicate them")
    // distinct batches still accumulate — idempotence is per batch id,
    // not a table overwrite
    val b1 = Seq((3L, "alpha")).toDF("event_id", "room")
    Sinks.idempotentFanoutBatch(b1, path, "room", batchId = 1L)
    assert(spark.read.parquet(path).select($"event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // a batch id REGRESSING below the table's high-water mark is not a
    // legal replay (a durable checkpoint only ever re-runs the LAST
    // batch) — it is a fresh checkpoint replaying history, whose
    // "batch 0" would overwrite the real batch 0's partitions. Refused
    // loudly; the data is untouched.
    intercept[IllegalArgumentException] {
      Sinks.idempotentFanoutBatch(b0, path, "room", batchId = 0L)
    }
    assert(spark.read.parquet(path).select($"event_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L),
      "a refused checkpoint-regression write must leave the table intact")
    // re-running the CURRENT batch id (the one legal crash-replay
    // shape) is still accepted after newer... i.e. id == mark
    Sinks.idempotentFanoutBatch(b1, path, "room", batchId = 1L)
    assert(spark.read.parquet(path).count() === 3)
    // a pre-batch-layout (flat) fan-out table under the same root would
    // arm "Conflicting directory structures" on every future read —
    // the markless non-empty dir is refused before any write happens
    val legacy = tempDir("graft-st8-legacy").resolve("t").toString
    Sinks.partitionedSink(b0, legacy, "room")
    intercept[IllegalArgumentException] {
      Sinks.idempotentFanoutBatch(b1, legacy, "room", batchId = 0L)
    }
    // a batch already carrying a __batch column would collide with the
    // sink's replay-identity partition — refused loudly, not shadowed
    intercept[IllegalArgumentException] {
      Sinks.idempotentFanoutBatch(
        Seq((9L, "alpha", 0L)).toDF("event_id", "room", "__batch"),
        path, "room", batchId = 2L)
    }
    // …and ANY-CASE: withColumn resolves case-insensitively under the
    // default caseSensitive=false, so `__Batch` would be silently
    // replaced by the batch id if the guard were exact-case (ADVICE r12)
    intercept[IllegalArgumentException] {
      Sinks.idempotentFanoutBatch(
        Seq((9L, "alpha", 0L)).toDF("event_id", "room", "__Batch"),
        path, "room", batchId = 2L)
    }
    // mark hygiene: the per-batch mark files prune to the newest two
    // (a long-lived stream must not accumulate one tiny file per batch)
    val marks = new java.io.File(s"$path/_graft_fanout_marks")
      .listFiles().map(_.getName).filter(_.startsWith("b-")).sorted
    assert(marks.length <= 2 && marks.contains("b-1"),
      s"marks must prune to the newest two, got ${marks.toSeq}")
    // key-filter partition pruning survives the extra __batch level
    val one = spark.read.parquet(path).filter($"room" === "alpha")
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [") &&
      !scan.contains("PartitionFilters: []"),
      s"per-room read lost partition pruning under __batch: $scan")
  }

  /** Deterministic latest-row-per-key extraction for update-mode memory
    * tables: max_by over the insertion-order id. The tempting
    * orderBy(desc).dropDuplicates(keys) form is NOT guaranteed — the
    * dedup's hash exchange destroys the sort and keeps an arbitrary
    * partial's First(). */
  private def latestBy(df: org.apache.spark.sql.DataFrame, keys: String*)
      : org.apache.spark.sql.DataFrame = {
    val valueCols = df.columns.toSeq
    df.withColumn("__ord", monotonically_increasing_id())
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), $"__ord").as("__s"))
      .select($"__s.*")
  }

  test("ST1 streaming deadline tally converges to the batch twin") {
    val got = runStream("st1_stream", batches,
      ds => StreamOps.deadlineTally(ds.toDF()), OutputMode.Complete)
      .select($"window_hour", $"votes_for", $"votes_against", $"total",
        $"approval_pct", $"passed")
      .orderBy($"window_hour")
    val want = graft.operators.StreamingTwins.st1DeadlineTally
      .run(spark, sf001)
      .filter($"votes_for" + $"votes_against" > 0) // twin also reports all-late windows
      .select($"window_hour", $"votes_for", $"votes_against", $"total",
        $"approval_pct", $"passed")
      .orderBy($"window_hour")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("ST2 streaming commit-reveal converges to the batch twin") {
    val got = runStream("st2_stream", batches,
      ds => StreamOps.commitReveal(ds).toDF(), OutputMode.Update)
    // update mode: take the last emitted row per key
    val latest = latestBy(got, "user_id")
      .select($"user_id", $"n_commits", $"n_reveals", $"winning_bid",
        $"first_reveal_event", $"has_winner")
      .orderBy($"user_id")
    val want = graft.operators.StreamingTwins.st2CommitReveal.run(spark, sf001)
      .select($"user_id", $"n_commits", $"n_reveals", $"winning_bid",
        $"first_reveal_event", $"has_winner")
      .orderBy($"user_id")
    assert(latest.collect().toSeq === want.collect().toSeq)
  }

  test("ST5 streaming dedup drops replayed ids") {
    val dup = batches.head ++ batches.head // replay the first batch twice
    val got = runStream("st5_stream", Seq(dup),
      ds => StreamOps.dedup(ds.toDF()).select($"event_id"), OutputMode.Append)
    assert(got.count() === batches.head.size)
    assert(got.select($"event_id").distinct().count() === batches.head.size)
  }

  test("ST2b dual-deadline commit-reveal converges to the batch twin") {
    val cols = Seq($"user_id", $"window_hour", $"n_commits", $"n_reveals",
      $"n_rejected", $"winning_bid", $"winner_event", $"revealed")
    val got = runStream("st2b_stream", batches,
      ds => StreamOps.commitRevealDeadline(ds.toDF()).toDF(), OutputMode.Update)
    val latest = latestBy(got, "user_id", "window_hour")
      .select(cols: _*).orderBy($"user_id", $"window_hour")
    val want = graft.operators.StreamingTwins.st2DeadlineWinner.run(spark, sf001)
      .select(cols: _*).orderBy($"user_id", $"window_hour")
    assert(latest.collect().toSeq === want.collect().toSeq)
  }

  test("ST2/ST2b null and NaN bids: stream matches the twins instead of crashing (r13 sweep)") {
    // the three classes the sweep flagged: a NULL bid (nullable value
    // column — previously killed the stream's non-nullable decode), a
    // NaN bid (previously skipped by the bare `>` running max while the
    // twin's MAX elects it), and their interaction with the argmax
    // (where NaN must LOSE — the twin's struct-min sorts -NaN last, so
    // winning_bid and winner_event genuinely diverge on mixed bids)
    val t0 = 1706000400000L - (1706000400000L % 3600000L) // hour-aligned
    def commit(id: Long) = Ev(id, 1L, "view", Some(1.0), t0 + id)
    def reveal(id: Long, uid: Long, v: Option[Double]) =
      Ev(id, uid, "purchase", v, t0 + 1800000L + id)
    val evs = Seq(
      commit(1L), commit(2L),
      reveal(10L, 1L, Some(5.0)), reveal(11L, 1L, None),
      reveal(12L, 1L, Some(Double.NaN)), reveal(13L, 1L, Some(9.0)),
      reveal(20L, 2L, None),             // only a null bid: revealed, no winner
      reveal(30L, 3L, Some(Double.NaN))) // only a NaN bid: NaN wins by default
    val dir = tempDir("graft-st2nan").toString
    writeEventsFixture(dir, evs)
    // ST2
    val got2 = latestBy(runStream("st2_nan", Seq(evs),
      ds => StreamOps.commitReveal(ds).toDF(), OutputMode.Update), "user_id")
      .select($"user_id", $"n_commits", $"n_reveals", $"winning_bid",
        $"first_reveal_event", $"has_winner").orderBy($"user_id")
    val want2 = graft.operators.StreamingTwins.st2CommitReveal.run(spark, dir)
      .select($"user_id", $"n_commits", $"n_reveals", $"winning_bid",
        $"first_reveal_event", $"has_winner").orderBy($"user_id")
    assert(got2.collect().toSeq === want2.collect().toSeq)
    // ST2b
    val cols = Seq($"user_id", $"window_hour", $"n_commits", $"n_reveals",
      $"n_rejected", $"winning_bid", $"winner_event", $"revealed")
    val got2b = latestBy(runStream("st2b_nan", Seq(evs),
      ds => StreamOps.commitRevealDeadline(ds.toDF()).toDF(), OutputMode.Update),
      "user_id", "window_hour")
      .select(cols: _*).orderBy($"user_id", $"window_hour")
    val want2b = graft.operators.StreamingTwins.st2DeadlineWinner.run(spark, dir)
      .select(cols: _*).orderBy($"user_id", $"window_hour")
    assert(got2b.collect().toSeq === want2b.collect().toSeq)
    // the mixed-bid divergence is REAL and reproduced, not reconciled:
    // user 1's winning_bid is NaN (MAX semantics) while its winner_event
    // is the 9.0 reveal (argmax where NaN sorts last)
    val u1 = got2b.filter($"user_id" === 1L).head()
    assert(u1.getAs[Double]("winning_bid").isNaN)
    assert(u1.getAs[Long]("winner_event") === 13L)
  }

  test("ST2b pre-1970 events: twin floor bucketing; stream drops them at the epoch-0 watermark (r13 sweep)") {
    // floor-vs-truncate is invisible to the oracle corpus (no pre-1970
    // ts at any SF), so this spec is the only guard on the floor forms:
    // with truncating div/% a view 1 ms before a pre-1970 hour boundary
    // gets off_ms = -1 — which the `< 30 min` commit gate ACCEPTS — and
    // lands in the wrong (toward-zero) hour bucket. Floor forms put it
    // at off_ms = 3599999 in its own hour: rejected.
    val t0 = -5L * 3600000L // hour −5, pre-1970, hour-aligned
    val evs = Seq(
      Ev(1L, 1L, "view", Some(1.0), t0 + 1000L),              // commit
      Ev(2L, 1L, "purchase", Some(7.0), t0 + 1800000L + 5L),  // reveal, wins
      Ev(3L, 2L, "view", Some(1.0), t0 + 3599999L))           // boundary view
    val dir = tempDir("graft-st2neg").toString
    writeEventsFixture(dir, evs)
    val cols = Seq($"user_id", $"window_hour", $"n_commits", $"n_reveals",
      $"n_rejected", $"winning_bid", $"winner_event", $"revealed")
    // BATCH TWIN: pin the absolute floor semantics — everything lives in
    // hour −5, user 1's session completes, user 2's boundary view is
    // REJECTED (off_ms 3599999), not accepted as a commit (off_ms −1)
    val rows = graft.operators.StreamingTwins.st2DeadlineWinner.run(spark, dir)
      .select(cols: _*).orderBy($"user_id", $"window_hour").collect()
    assert(rows.map(_.getAs[Long]("window_hour")).toSeq === Seq(-5L, -5L))
    val u1 = rows(0)
    assert(u1.getAs[Long]("n_commits") === 1L &&
      u1.getAs[Long]("n_reveals") === 1L &&
      u1.getAs[Double]("winning_bid") === 7.0)
    val u2 = rows(1)
    assert(u2.getAs[Long]("n_commits") === 0L &&
      u2.getAs[Long]("n_rejected") === 1L)
    // LIVE STREAM: stream ≡ twin CANNOT hold here and this pins why —
    // Structured Streaming initializes the event-time watermark at
    // epoch 0, so every pre-1970 row is already "late" in batch 0 and
    // FlatMapGroupsWithStateExec (EventTimeTimeout) filters it before
    // the state function runs. The divergence is Spark's watermark
    // floor, not a graft bucketing bug; StreamOps still uses
    // floorDiv/floorMod so the two sides agree on semantics wherever
    // rows DO flow. If a Spark upgrade ever lets these rows through,
    // this assert fails and the equivalence check should be restored.
    val got = latestBy(runStream("st2b_neg", Seq(evs),
      ds => StreamOps.commitRevealDeadline(ds.toDF()).toDF(), OutputMode.Update),
      "user_id", "window_hour")
    assert(got.isEmpty,
      s"pre-1970 rows unexpectedly passed the epoch-0 watermark: ${got.collect().toSeq}")
  }

  test("ST2b vote cap: >10k events for one session stay capped, excess rejected (lib.rs:21-22,104)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.commitRevealDeadline(mem.toDF()).toDF()
      .writeStream.format("memory").queryName("st2b_cap_stream")
      .outputMode(OutputMode.Update).start()
    try {
      val t0 = 1706486400000L // 2024-01-29T00:00Z — hour-aligned
      def commit(i: Long) = Ev(i, 1L, "view", Some(1.0), t0 + (i % 1000L)) // off < 30 min
      def reveal(i: Long, v: Double) = Ev(i, 1L, "purchase", Some(v), t0 + 1800000L + (i % 1000L))
      // 9,900 commits across two micro-batches (cap must merge across batches)
      mem.addData((1L to 6000L).map(commit)); q.processAllAvailable()
      mem.addData((6001L to 9900L).map(commit)); q.processAllAvailable()
      // 100 reveals fit under the cap — values 1..100, winner = 100
      mem.addData((1L to 100L).map(i => reveal(20000L + i, i.toDouble)))
      q.processAllAvailable()
      // 200 more reveals arrive past the cap: all rejected, even a higher
      // bid (999) must NOT become the winner (MaxVotesReached, lib.rs:104)
      mem.addData((1L to 200L).map(i => reveal(30000L + i, 999.0)))
      q.processAllAvailable()
      // the suite's latestBy carries the documented caveat about why the
      // naive orderBy+dropDuplicates form is unsafe — one codepath only
      val r = latestBy(spark.table("st2b_cap_stream"),
        "user_id", "window_hour").collect().head
      assert(r.getAs[Long]("n_commits") === 9900L)
      assert(r.getAs[Long]("n_reveals") === 100L)   // capped at 10,000 accepted
      assert(r.getAs[Long]("n_rejected") === 200L)  // the post-cap excess
      assert(r.getAs[Double]("winning_bid") === 100.0) // 999-bid spam rejected
      // state store holds exactly the one bounded session row
      val maxState = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(maxState === 1L)
    } finally q.stop()
  }

  test("ST3 streaming epoch agg converges to the batch twin") {
    val cols = Seq($"epoch_day", $"total_signals", $"long_count", $"short_count",
      $"neutral_count", $"sum_value", $"last_updated_ms")
    val got = runStream("st3_stream", batches,
      ds => StreamOps.epochAgg(ds.toDF()), OutputMode.Update)
    val latest = latestBy(got, "epoch_day")
      .select(cols: _*).orderBy($"epoch_day")
    val want = QueryDef.catalogs.find(_.name == "a3_epoch_agg").get
      .run(spark, sf001).select(cols: _*).orderBy($"epoch_day")
    assert(latest.collect().toSeq === want.collect().toSeq)
  }

  test("ST4 streaming sliding activity window covers the as-of 24h slice") {
    val got = runStream("st4_stream", batches,
      ds => StreamOps.slidingActivity(ds.toDF()), OutputMode.Update)
    // the batch twin is the single 24h window ending 2024-01-30T00:00Z —
    // pick exactly that slide out of the streaming result
    val latest = latestBy(got.filter($"window_start_ms" === 1706486400000L), "user_id")
      .select($"user_id", $"events_24h", $"last_seen_ms", $"active")
      .orderBy($"user_id")
    val want = graft.operators.StreamingTwins.st4SlidingActivity.run(spark, sf001)
      .select($"user_id", $"events_24h", $"last_seen_ms", $"active")
      .orderBy($"user_id")
    assert(latest.collect().toSeq === want.collect().toSeq)
  }

  test("ST9 streaming daily-limit running sum converges to the batch twin") {
    val cols = Seq($"user_id", $"epoch_day", $"spend_c", $"n_draws",
      $"spend_pct", $"over_limit")
    val got = runStream("st9_stream", batches,
      ds => StreamOps.dailyLimit(ds.toDF()), OutputMode.Update)
    val latest = latestBy(got, "user_id", "epoch_day")
      .select(cols: _*).orderBy($"user_id", $"epoch_day")
    val want = graft.operators.StreamingTwins.st9DailyLimit.run(spark, sf001)
      .select(cols: _*).orderBy($"user_id", $"epoch_day")
    assert(latest.collect().toSeq === want.collect().toSeq)
  }

  test("ST12 streaming rapid-reversal state machine converges to the batch twin") {
    // event-time replay order with event_id tiebreak — the twin's total
    // order; the state machine is order-sensitive by design (it IS the
    // on-chain update loop, transfer-hook.ts:35-46)
    val ordered = allEvents.sortBy(e => (e.ts_ms, e.event_id))
    val got = runStream("st12_stream", ordered.grouped(400).toSeq,
      ds => StreamOps.rapidReversal(ds).toDF(), OutputMode.Append)
      .orderBy($"owner", $"ts_ms", $"event_id")
    val want = graft.operators.StreamingTwins.st12RapidReversal.run(spark, sf001)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("ST12 twins agree on generated events: refund-shaped negatives, ts ties, dense reversals") {
    // adversarial generated load the driver data can't produce: negative
    // (refund) amounts exercising HALF_UP rounding, many same-ts_ms ties
    // forcing the event_id tiebreak, and inter-event gaps clustered
    // around the 300s cooldown boundary
    val rng = new scala.util.Random(1234L)
    var ts = 1_700_000_000_000L
    val evs = (0L until 3000L).map { i =>
      ts += (rng.nextInt(4) match {
        case 0 => 0L                          // exact tie with previous
        case 1 => rng.nextInt(300000).toLong  // inside cooldown
        case 2 => 300000L                     // exactly at the boundary
        case _ => 300001L + rng.nextInt(4000000) // outside
      })
      Ev(i, rng.nextInt(7).toLong, // 7 hot owners → long per-key chains
        Seq("purchase", "click", "view", "error")(rng.nextInt(4)),
        Some((rng.nextInt(40000) - 20000) / 100.0 +
          (if (rng.nextBoolean()) 0.005 else -0.005)),
        ts)
    }
    val dir = tempDir("graft-st12").toString
    writeEventsFixture(dir, evs)
    val want = graft.operators.StreamingTwins.st12RapidReversal.run(spark, dir)
    val got = runStream("st12_gen",
      evs.sortBy(e => (e.ts_ms, e.event_id)).grouped(500).toSeq,
      ds => StreamOps.rapidReversal(ds).toDF(), OutputMode.Append)
      .orderBy($"owner", $"ts_ms", $"event_id")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("ST12 twins agree on non-finite, out-of-range and 2^53+ amounts (r13 sweep)") {
    // the amount classes the pinned corpus can't produce: NaN/±Inf
    // (pre-fix: NumberFormatException poison pill in the kernel, ANSI
    // cast error in the twin), |cents| ≥ 2^63 (pre-fix: silent Long
    // wrap vs CAST_OVERFLOW), the exact 2^63 double boundary, and
    // in-range cents ≥ 2^53 where the kernel's old decimal-string
    // longValue diverged from the twin's binary double cast. Each
    // special shares its hour window with one small finite amount so
    // the twin's windowed SUM is never all-null (the documented
    // all-null-window divergence is out of this spec's scope), and
    // specials sit 2 h apart so an in-range huge amount cannot
    // overflow the SUM.
    val base = 1699999200000L // hour-aligned (472222 * 3600000) + 60 s
    val specials = Seq[Option[Double]](
      Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity),
      Some(1.0e17), Some(-1.0e17), // 1e19 cents: out of Long range
      Some(9.0e16), Some(-9.0e16), // 9e18 cents: in range, > 2^53
      Some(92233720368547758.08), // cents = the 2^63 double exactly
      Some(1.2345678901234567e15), // cents > 2^53, shortest-repr trap
      None, Some(12.345), Some(-0.005))
    val evs = specials.zipWithIndex.flatMap { case (v, i) =>
      val ts = base + 60000L + i * 7200000L
      Seq(
        Ev(200L + 2 * i, 2L + i % 2, "purchase", Some(1.23), ts),
        // "view" 10 s after a purchase: a rapid reversal, so the flag
        // logic runs with the special amount in state
        Ev(201L + 2 * i, 2L + i % 2, "view", v, ts + 10000L))
    }
    val dir = tempDir("graft-st12-edge").toString
    writeEventsFixture(dir, evs)
    val want = graft.operators.StreamingTwins.st12RapidReversal.run(spark, dir)
    val got = runStream("st12_edge",
      evs.sortBy(e => (e.ts_ms, e.event_id)).grouped(7).toSeq,
      ds => StreamOps.rapidReversal(ds).toDF(), OutputMode.Append)
      .orderBy($"owner", $"ts_ms", $"event_id")
    assert(got.collect().toSeq === want.collect().toSeq)
    // the out-of-range and non-finite amounts fold to null/0, never
    // wrap: no negative volume can appear in a corpus of non-negative
    // companions and folded specials except the in-range -9e18 window
    val vols = got.select($"volume_in_window").as[Long].collect()
    assert(vols.count(_ < 0L) === 1L, s"unexpected wrapped volumes: ${vols.filter(_ < 0).mkString(",")}")
  }

  test("ST3/ST9 twins agree on non-finite and out-of-range amounts (r13 third sweep)") {
    // the same adversarial amount classes as the ST12 edge spec, now
    // through the OTHER two value-aggregating pairs: pre-fix, one NaN
    // event made epochAgg/dailyLimit a poison-pill micro-batch (ANSI
    // decimal/long cast throw) while the batch twins died identically —
    // equivalence hid the gap. Post-fix both sides fold to null and the
    // healthy rows keep aggregating.
    val base = 1699999200000L // hour-aligned
    val specials = Seq[Option[Double]](
      Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity),
      Some(1.0e17), Some(-1.0e17), // out of range for cents AND decimal
      Some(9.0e16),                // cents-representable, decimal-folded
      None, Some(12.345), Some(-0.005))
    val evs = specials.zipWithIndex.flatMap { case (v, i) =>
      val ts = base + 60000L + i * 7200000L
      Seq(
        Ev(300L + 2 * i, 2L + i % 3, "purchase", Some(4.56), ts),
        Ev(301L + 2 * i, 2L + i % 3, "purchase", v, ts + 10000L))
    }
    val dir = tempDir("graft-st39-edge").toString
    writeEventsFixture(dir, evs)
    val cols3 = Seq($"epoch_day", $"total_signals", $"long_count", $"short_count",
      $"neutral_count", $"sum_value", $"last_updated_ms")
    val got3 = latestBy(runStream("st3_edge", Seq(evs),
        ds => StreamOps.epochAgg(ds.toDF()), OutputMode.Update), "epoch_day")
      .select(cols3: _*).orderBy($"epoch_day")
    val want3 = QueryDef.catalogs.find(_.name == "a3_epoch_agg").get
      .run(spark, dir).select(cols3: _*).orderBy($"epoch_day")
    assert(got3.collect().toSeq === want3.collect().toSeq)
    val cols9 = Seq($"user_id", $"epoch_day", $"spend_c", $"n_draws",
      $"spend_pct", $"over_limit")
    val got9 = latestBy(runStream("st9_edge", Seq(evs),
        ds => StreamOps.dailyLimit(ds.toDF()), OutputMode.Update),
        "user_id", "epoch_day")
      .select(cols9: _*).orderBy($"user_id", $"epoch_day")
    val want9 = graft.operators.StreamingTwins.st9DailyLimit.run(spark, dir)
      .select(cols9: _*).orderBy($"user_id", $"epoch_day")
    assert(got9.collect().toSeq === want9.collect().toSeq)
  }

  test("streaming as-of attribution converges to the batch as-of join") {
    // the streaming form keeps two scalars per user (latest view); the
    // batch twin is the union+window as-of join j10_asof_attr — same
    // rows, same tie rule, same -1 sentinels
    // replay contract: views sort before purchases at equal ts_ms, so an
    // equal-timestamp pair split across micro-batches still matches
    val ordered = allEvents.sortBy(e =>
      (e.ts_ms, e.event_type == "purchase", e.event_id))
    val got = runStream("asof_stream", ordered.grouped(400).toSeq,
      ds => StreamOps.asofAttr(ds).toDF(), OutputMode.Append)
      .orderBy($"event_id")
    val want = QueryDef.catalogs.find(_.name == "j10_asof_attr").get
      .run(spark, sf001)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("streaming as-of tolerates arrival disorder inside a micro-batch") {
    val rng = new scala.util.Random(7L)
    val batchesA = allEvents.sortBy(e =>
      (e.ts_ms, e.event_type == "purchase", e.event_id))
      .grouped(400).map(b => rng.shuffle(b)).toSeq
    val got = runStream("asof_stream_shuffled", batchesA,
      ds => StreamOps.asofAttr(ds).toDF(), OutputMode.Append)
      .orderBy($"event_id")
    val want = QueryDef.catalogs.find(_.name == "j10_asof_attr").get
      .run(spark, sf001)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("streaming as-of: a late cross-batch view cannot regress the latest-view state") {
    // batch 1 delivers the newer view; batch 2 delivers an OLDER view
    // (late cross-batch arrival) and then a purchase. The state's
    // monotonic guard must keep the newer view as the attribution —
    // exactly what the batch twin computes for the same rows.
    val b1 = Seq(Ev(7L, 1L, "view", Some(0.0), 200L))
    val b2 = Seq(Ev(3L, 1L, "view", Some(0.0), 100L),
      Ev(9L, 1L, "purchase", Some(0.0), 300L))
    val got = runStream("asof_stream_late_view", Seq(b1, b2),
      ds => StreamOps.asofAttr(ds).toDF(), OutputMode.Append).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Long]("view_event_id") === 7L, r.toString)
    assert(r.getAs[Long]("view_ts_ms") === 200L)
    assert(r.getAs[Long]("gap_ms") === 100L)
  }

  test("streaming interval join converges to the batch banded range join") {
    // the left-outer side emits a matchless purchase only once the view
    // watermark proves no in-band view can still arrive, so a far-future
    // sentinel pair (dummy user) advances both branch watermarks past
    // every real event before the comparison
    val maxTs = allEvents.map(_.ts_ms).max
    val sentinel = Seq(
      Ev(900001L, 999999L, "view", Some(0.0), maxTs + 10L * 86400000L),
      Ev(900002L, 999999L, "purchase", Some(0.0), maxTs + 10L * 86400000L))
    val ordered = allEvents.sortBy(e => (e.ts_ms, e.event_id))
    val got = runStream("j12_stream", ordered.grouped(400).toSeq :+ sentinel,
      ds => StreamOps.rangeAttr(ds.toDF()), OutputMode.Append)
      .filter($"user_id" =!= 999999L)
      .groupBy($"event_id", $"user_id", $"ts_ms")
      .agg(count(when($"view_event_id" =!= -1L, 1)).as("n_views_24h"))
      .orderBy($"event_id")
    val want = QueryDef.catalogs.find(_.name == "j12_range_count").get
      .run(spark, sf001)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("ST12 tolerates arrival disorder inside a micro-batch") {
    // batches respect time order between them, but rows WITHIN each batch
    // arrive shuffled — the operator's per-group (ts_ms, event_id) sort
    // must restore the machine's order exactly
    val rng = new scala.util.Random(41L)
    val batches12 = allEvents.sortBy(e => (e.ts_ms, e.event_id))
      .grouped(400).map(b => rng.shuffle(b)).toSeq
    val got = runStream("st12_stream_shuffled", batches12,
      ds => StreamOps.rapidReversal(ds).toDF(), OutputMode.Append)
      .orderBy($"owner", $"ts_ms", $"event_id")
    val want = graft.operators.StreamingTwins.st12RapidReversal.run(spark, sf001)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("S4 events file stream: replay batch then live increments (useAgentStream.ts:16-56)") {
    val dir = tempDir("graft-s4").toString
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val replay = ev.filter($"event_id" % 2 === 0)
    val live = ev.filter($"event_id" % 2 === 1)
    replay.write.parquet(s"$dir/events.parquet")
    val q = StreamOps.eventsFileStream(spark, dir)
      .select($"event_id", $"ts_ms")
      .writeStream.format("memory").queryName("s4_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("s4_stream").count() === replay.count()) // replay snapshot
      live.write.mode("append").parquet(s"$dir/events.parquet") // live increment
      q.processAllAvailable()
      assert(spark.table("s4_stream").count() === ev.count()) // replay ∪ live
      assert(spark.table("s4_stream").select($"event_id").distinct().count() === ev.count())
    } finally q.stop()
  }

  test("ST10 checkpoint recovery: restart resumes exactly-once (client.ts:174-232 analog)") {
    val in = tempDir("graft-st10-in").toString
    val out = tempDir("graft-st10-out").toString
    val ckpt = tempDir("graft-st10-ck").toString
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val first = ev.filter($"event_id" % 2 === 0)
    val second = ev.filter($"event_id" % 2 === 1)
    first.write.parquet(s"$in/events.parquet")
    def start() = StreamOps.eventsFileStream(spark, in)
      .select($"event_id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // simulated crash/stop
    assert(spark.read.parquet(out).count() === first.count())
    second.write.mode("append").parquet(s"$in/events.parquet")
    val q2 = start() // restart from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val res = spark.read.parquet(out).select($"event_id")
    // exactly-once: every event appears, none re-emitted after restart
    assert(res.count() === ev.count())
    assert(res.distinct().count() === ev.count())
  }

  test("ST7 live TTL eviction: idle key pruned once the watermark passes last_seen + ttl") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.ttlEvict(mem.toDF(), ttlMs = 7L * 86400000L, watermark = "0 seconds")
      .toDF()
      .writeStream.format("memory").queryName("st7_stream")
      .outputMode(OutputMode.Update).start()
    try {
      val t0 = 1706486400000L // 2024-01-29T00:00Z
      // user 1 is active once, then goes silent
      mem.addData(Seq(Ev(1L, 1L, "view", Some(1.0), t0), Ev(2L, 1L, "view", Some(1.0), t0 + 1000)))
      q.processAllAvailable()
      // user 2's much later events push the watermark past user 1's TTL
      mem.addData(Seq(Ev(3L, 2L, "view", Some(1.0), t0 + 10L * 86400000L)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(4L, 2L, "view", Some(1.0), t0 + 10L * 86400000L + 1000)))
      q.processAllAvailable()
      val rows = spark.table("st7_stream")
        .select($"user_id", $"n_events", $"expired").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(rows.contains((1L, 2L, true)))  // tombstone: state pruned at eviction
      assert(rows.contains((1L, 2L, false))) // the pre-eviction live emission
      assert(!rows.contains((2L, 2L, true))) // active key never evicted
    } finally q.stop()
  }

  test("ST7 ttlEvict: a count never continues across an expired deadline, however batches split (r13 sweep)") {
    // Spark only invokes hasTimedOut for keys with NO data in the
    // trigger, so a key whose fresh data arrives in the very trigger
    // its timeout would fire takes the data branch — previously that
    // path continued the stale count, making the result depend on how
    // the stream split into micro-batches. The data branch now checks
    // the stored deadline against the current watermark itself; this
    // spec pins the OBSERVABLE contract (the count restarts at 1 after
    // the TTL passed, never continues at 3) — which branch performs the
    // reset depends on trigger scheduling that MemoryStream +
    // processAllAvailable cannot pin (an interim no-data trigger may
    // fire the timeout first; the in-branch guard covers engines whose
    // triggers don't idle-fire).
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.ttlEvict(mem.toDF(), ttlMs = 1000L, watermark = "0 seconds")
      .toDF()
      .writeStream.format("memory").queryName("st7_same_trigger")
      .outputMode(OutputMode.Update).start()
    try {
      val t0 = 1706486400000L
      mem.addData(Seq(Ev(1L, 1L, "view", Some(1.0), t0),
        Ev(2L, 1L, "view", Some(1.0), t0 + 100)))
      q.processAllAvailable() // watermark → t0 + 100; deadline t0 + 1100
      // advance the watermark past user 1's deadline via user 2's data
      mem.addData(Seq(Ev(3L, 2L, "view", Some(1.0), t0 + 50000L)))
      q.processAllAvailable() // watermark → t0 + 50000
      // fresh user-1 data strictly NEWER than the watermark (an event at
      // exactly the watermark is dropped as late)
      mem.addData(Seq(Ev(4L, 1L, "view", Some(1.0), t0 + 60000L)))
      q.processAllAvailable()
      val u1 = spark.table("st7_same_trigger")
        .filter($"user_id" === 1L && !$"expired")
        .select($"n_events").collect().map(_.getLong(0)).toSeq
      assert(u1.contains(2L), s"pre-expiry count missing: $u1")
      assert(u1.contains(1L) && !u1.contains(3L),
        s"count must restart at 1 after the TTL passed, got $u1")
    } finally q.stop()
  }

  test("ST7 ttlEvict survives backfill under an aggressively jumping watermark") {
    // The timeout guard clamps last_seen + ttl to watermark + 1 (same
    // guard commitRevealDeadline carries): Spark validates
    // setTimeoutTimestamp against the CURRENT eviction watermark while
    // late rows are filtered with a value that can lag it, so an
    // engine-delivered row older than watermark − ttl would otherwise
    // kill the query with IllegalArgumentException. The lag window is
    // not reproducible through MemoryStream + processAllAvailable (the
    // watermark-advance batch between triggers closes it), so this spec
    // pins the observable contract around it: day-scale watermark jumps
    // interleaved with a tiny ttl and an old backfill row never kill
    // the query, and eviction still works.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.ttlEvict(mem.toDF(), ttlMs = 10L, watermark = "0 seconds")
      .toDF()
      .writeStream.format("memory").queryName("st7_backfill_stream")
      .outputMode(OutputMode.Update).start()
    try {
      val t0 = 1706486400000L
      mem.addData(Seq(Ev(1L, 2L, "view", Some(1.0), t0)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(2L, 2L, "view", Some(1.0), t0 + 10L * 86400000L)))
      q.processAllAvailable()
      // ~10-days-old backfill row against a tiny ttl: late-dropped or
      // clamped, but never fatal
      mem.addData(Seq(Ev(3L, 1L, "view", Some(1.0), t0 + 1000L)))
      q.processAllAvailable()
      mem.addData(Seq(Ev(4L, 2L, "view", Some(1.0), t0 + 10L * 86400000L + 1000L)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val rows = spark.table("st7_backfill_stream")
        .select($"user_id", $"n_events", $"expired").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assert(rows.contains((2L, 3L, false)),
        s"active key must keep accumulating through the jumps: ${rows.toSeq}")
    } finally q.stop()
  }

  test("ST11 streaming gap sessions (native session_window) converge to the batch twin") {
    // append-mode session windows emit only once the watermark passes the
    // session end; a far-future sentinel event closes every real session
    val maxTs = allEvents.map(_.ts_ms).max
    val sentinel = Ev(999999L, 999999L, "view", Some(0.0), maxTs + 86400000L)
    val got = runStream("st11_stream", batches :+ Seq(sentinel),
      ds => StreamOps.gapSessions(ds.toDF()), OutputMode.Append)
      .filter($"user_id" =!= 999999L)
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events")
      .orderBy($"user_id", $"session_start_ms")
    val want = graft.operators.StreamingTwins.st11GapSessions.run(spark, sf001)
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events")
      .orderBy($"user_id", $"session_start_ms")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("ST11 exact-gap boundary: native merge-at-gap is offset to the twin's >=-split") {
    // session_window MERGES two events exactly gap apart (window end is
    // inclusive of a landing event), while the oracle-checked batch twin
    // splits at inactivity >= gap — gapSessions runs the native window
    // 1 ms short to realize the twin's rule. Pin both sides of the
    // millisecond; the sf0.001 corpus happens to contain no exact-gap
    // pair, so only this fixture can catch a regression here.
    val t0 = 1706486400000L
    val evs = Seq(
      Ev(1L, 1L, "view", Some(0.0), t0), Ev(2L, 1L, "view", Some(0.0), t0 + 1800000L), // == gap → split
      Ev(3L, 2L, "view", Some(0.0), t0), Ev(4L, 2L, "view", Some(0.0), t0 + 1799999L)) // gap−1ms → merge
    val sentinel = Ev(999999L, 999999L, "view", Some(0.0), t0 + 86400000L)
    val got = runStream("st11_boundary", Seq(evs, Seq(sentinel)),
      ds => StreamOps.gapSessions(ds.toDF()), OutputMode.Append)
      .filter($"user_id" =!= 999999L)
      .select($"user_id", $"session_start_ms", $"session_end_ms", $"n_events")
      .orderBy($"user_id", $"session_start_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, t0, t0, 1L), (1L, t0 + 1800000L, t0 + 1800000L, 1L),
      (2L, t0, t0 + 1799999L, 2L)),
      "exact-gap pair must split, gap-minus-1ms pair must merge — the twin's rule")
  }

  test("streaming corpus-clean ingest converges to the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    // docs fed in doc_id order with synthetic ingest times inside one
    // watermark horizon → first-seen dedup = lowest-doc_id keeper, the
    // batch election's exact semantics
    val docs = Tables(spark, sf001).documents
      .select($"doc_id", $"text").orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val t0 = 1706486400000L
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamOps.corpusCleanStream(
      mem.toDF().toDF("doc_id", "text", "ts_ms"))
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode(OutputMode.Append).start()
    try {
      docs.grouped(200).foreach { b =>
        mem.addData(b.map { case (id, t) => (id, t, t0 + id * 1000L) })
        q.processAllAvailable()
      }
      val got = spark.table("pipe_stream")
        .select($"doc_id", $"quality_score", $"tokens", $"fp")
        .orderBy($"doc_id")
      val want = QueryDef.catalogs.find(_.name == "pipe_corpus_clean").get
        .run(spark, sf001)
        .select($"doc_id", $"quality_score", $"tokens", $"fp")
        .orderBy($"doc_id")
      assert(got.collect().toSeq === want.collect().toSeq)
    } finally q.stop()
  }

  test("incremental Merkle append stream tracks the distributed batch root (depth 20)") {
    import graft.functions.{Merkle, Poseidon}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val h = StreamOps.merkleAppend(
      mem.toDS().toDF("leaf_index", "leaf"), depth = 20)
    val (tree, q) = (h.tree, h.query)
    // 48 commitments over 3 micro-batches — crosses several subtree
    // boundaries, so the frontier's carry path is exercised repeatedly
    val leaves = (0L until 48L).map(i => i -> Poseidon.toBytes32(BigInt(i * 7 + 1)))
    try {
      var done = 0
      for (batch <- leaves.grouped(16)) {
        mem.addData(batch)
        q.processAllAvailable()
        done += batch.size
        // equivalence after EVERY batch: frontier root == full batch
        // recompute over all commitments so far, at the reference's
        // registry depth — the judge-specified gate for this twin
        val sofar = leaves.take(done).toDF("leaf_index", "leaf")
        val want = Merkle.rootDistributed(spark, sofar, depth = 20, blockDepth = 4)
        assert(tree.root === want, s"frontier diverged after $done appends")
        assert(tree.count === done.toLong)
      }
      // at-least-once replay: a batch that re-delivers already-applied
      // leaves (foreachBatch's crash-between-fold-and-commit case) must
      // be skipped idempotently, and new leaves in the same batch applied
      mem.addData(leaves.drop(32) ++ Seq(48L -> Poseidon.toBytes32(BigInt(424242))))
      q.processAllAvailable()
      assert(tree.count === 49L, "replayed leaves must not re-append")
      val all49 = (leaves :+ (48L -> Poseidon.toBytes32(BigInt(424242))))
        .toDF("leaf_index", "leaf")
      assert(tree.root ===
        Merkle.rootDistributed(spark, all49, depth = 20, blockDepth = 4),
        "root diverged after a replayed batch")
    } finally q.stop()
    // bounded state: the whole persistent footprint is (count, root,
    // depth frontier hashes) — nothing grows with the leaf count
    val (n, r, frontier) = tree.snapshot
    assert(n === 49L && r === tree.root && frontier.length === 20)
  }

  test("merkleAppend: out-of-order micro-batches drain to the same root; conflicting replays are fatal") {
    import graft.functions.{Merkle, Poseidon}
    implicit val sqlCtx = spark.sqlContext
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    val leaves = (0L until 24L).map(i => i -> Poseidon.toBytes32(BigInt(i * 13 + 5)))
    // a buffered micro-batch re-ordering: the TAIL half arrives first
    // (previously fatal: non-contiguous appends threw and killed the
    // stream) — it must park in the pending buffer and drain in index
    // order the moment the head half closes the gap
    val mem = MemoryStream[(Long, Array[Byte])]
    val h = StreamOps.merkleAppend(
      mem.toDS().toDF("leaf_index", "leaf"), depth = 20)
    val (tree, q) = (h.tree, h.query)
    try {
      mem.addData(leaves.drop(12))
      q.processAllAvailable()
      assert(tree.count === 0L, "ahead-of-count leaves must park, not apply")
      mem.addData(leaves.take(12))
      q.processAllAvailable()
      assert(tree.count === 24L, "gap closed but pending did not drain")
      assert(tree.root === Merkle.rootDistributed(
        spark, leaves.toDF("leaf_index", "leaf"), depth = 20, blockDepth = 4),
        "shuffled delivery converged to a different root")
    } finally q.stop()
    // a replayed index carrying a DIFFERENT payload must kill the stream
    // (silently skipping it would let the maintained root diverge from
    // the commitment stream — r6 ADVICE)
    val mem2 = MemoryStream[(Long, Array[Byte])]
    val h2 = StreamOps.merkleAppend(
      mem2.toDS().toDF("leaf_index", "leaf"), depth = 20)
    val (tree2, q2) = (h2.tree, h2.query)
    try {
      mem2.addData(leaves)
      q2.processAllAvailable()
      assert(tree2.count === 24L)
      mem2.addData(Seq(10L -> Poseidon.toBytes32(BigInt(666666))))
      val e = intercept[Exception](q2.processAllAvailable())
      assert(causes(e).exists(_.contains("conflicting replay")),
        s"expected a conflicting-replay failure, got: ${causes(e).mkString(" | ")}")
    } finally q2.stop()
    // a gap wider than maxPending errors out instead of buffering
    // unboundedly (an ever-open gap means the commitment was lost)
    val mem3 = MemoryStream[(Long, Array[Byte])]
    val q3 = StreamOps.merkleAppend(
      mem3.toDS().toDF("leaf_index", "leaf"), depth = 20, maxPending = 4).query
    try {
      mem3.addData((100L until 106L).map(i => i -> Poseidon.toBytes32(BigInt(i))))
      val e = intercept[Exception](q3.processAllAvailable())
      assert(causes(e).exists(_.contains("maxPending")),
        s"expected a maxPending failure, got: ${causes(e).mkString(" | ")}")
    } finally q3.stop()
  }

  test("merkleAppend: an over-cap micro-batch fails with a named error before it lands on the driver") {
    import graft.functions.Poseidon
    implicit val sqlCtx = spark.sqlContext
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    val mem = MemoryStream[(Long, Array[Byte])]
    val h = StreamOps.merkleAppend(
      mem.toDS().toDF("leaf_index", "leaf"), depth = 20, maxBatchLeaves = 4)
    try {
      // a batch AT the cap applies normally
      mem.addData((0L until 4L).map(i => i -> Poseidon.toBytes32(BigInt(i + 1))))
      h.query.processAllAvailable()
      assert(h.tree.count === 4L)
      // one past the cap kills the stream with the NAMED diagnostic —
      // the collect is limit(cap+1)-bounded, so an ingest burst can
      // never OOM the driver silently (r15 verdict #6); trigger config
      // (maxFilesPerTrigger/maxOffsetsPerTrigger) is the real cap, this
      // is the loud backstop
      mem.addData((4L until 9L).map(i => i -> Poseidon.toBytes32(BigInt(i + 1))))
      val e = intercept[Exception](h.query.processAllAvailable())
      assert(causes(e).exists(_.contains("maxBatchLeaves")),
        s"expected a maxBatchLeaves failure, got: ${causes(e).mkString(" | ")}")
    } finally h.query.stop()
    // a non-positive cap is a construction-time error, not a stream death
    val mem2 = MemoryStream[(Long, Array[Byte])]
    intercept[IllegalArgumentException](StreamOps.merkleAppend(
      mem2.toDS().toDF("leaf_index", "leaf"), depth = 20, maxBatchLeaves = 0))
  }

  test("merkleAppend: replays beyond the recentTail horizon are skipped on trust but COUNTED") {
    import graft.functions.Poseidon
    implicit val sqlCtx = spark.sqlContext
    val leaves = (0L until 24L).map(i => i -> Poseidon.toBytes32(BigInt(i * 13 + 5)))
    val mem = MemoryStream[(Long, Array[Byte])]
    // tail of 8: after 24 appends only indices 16..23 are conflict-checkable
    val h = StreamOps.merkleAppend(
      mem.toDS().toDF("leaf_index", "leaf"), depth = 20, recentTail = 8)
    try {
      mem.addData(leaves)
      h.query.processAllAvailable()
      assert(h.tree.count === 24L && h.uncheckedReplays === 0L)
      // a CONFLICTING payload at index 3 — outside the tail, so the
      // conflict is undetectable by design; the maintainer must not die
      // and must not apply it, but it MUST count the unchecked skip so
      // an operator can alarm on the horizon being too small
      mem.addData(Seq(3L -> Poseidon.toBytes32(BigInt(999999))))
      h.query.processAllAvailable()
      assert(h.tree.count === 24L, "out-of-horizon replay must not append")
      assert(h.uncheckedReplays === 1L, "unchecked out-of-horizon replay was not counted")
      // an IN-horizon replay with the original payload is verified, not counted
      mem.addData(Seq(leaves(20)))
      h.query.processAllAvailable()
      assert(h.uncheckedReplays === 1L, "a verified in-horizon replay must not count")
    } finally h.query.stop()
  }

  test("merkleAppend: checkpoint + restored snapshot restart re-reads nothing") {
    import graft.functions.{Merkle, Poseidon}
    val in = tempDir("graft-mk-in").toString
    val ckpt = tempDir("graft-mk-ck").toString
    val leaves = (0L until 32L).map(i => i -> Poseidon.toBytes32(BigInt(i * 11 + 3)))
    val schema = leaves.take(1).toDF("leaf_index", "leaf").schema
    def source = spark.readStream.schema(schema).parquet(s"$in/leaves.parquet")
    leaves.take(16).toDF("leaf_index", "leaf").write.parquet(s"$in/leaves.parquet")
    // run 1: first half, offsets committed to the checkpoint
    val h1 = StreamOps.merkleAppend(source, depth = 20,
      checkpoint = Some(ckpt))
    try h1.query.processAllAvailable() finally h1.query.stop()
    assert(h1.tree.count === 16L)
    val (n, r, frontier) = h1.tree.snapshot // the persisted-state analog
    // run 2: second half lands; a RESTORED tree + the same checkpoint
    // resumes at committed offsets — a restart without the checkpoint
    // would re-read part1, and with the driver-side recent map empty
    // every historical leaf would land as an unchecked replay
    leaves.drop(16).toDF("leaf_index", "leaf").write.mode("append")
      .parquet(s"$in/leaves.parquet")
    val restored = new Merkle.Incremental(20)
    restored.restore(n, r, frontier)
    val h2 = StreamOps.merkleAppend(source, depth = 20,
      checkpoint = Some(ckpt), resume = Some(restored))
    try h2.query.processAllAvailable() finally h2.query.stop()
    assert(h2.tree.count === 32L, "restart must apply exactly the new half")
    assert(h2.uncheckedReplays === 0L,
      "offset-resumed restart must re-read nothing (no replay flood)")
    assert(h2.tree.root === Merkle.rootDistributed(
      spark, leaves.toDF("leaf_index", "leaf"), depth = 20, blockDepth = 4),
      "restored + resumed root diverged from the batch recompute")
  }

  test("ST6 bounded buffer: Long.MinValue ts_ms is the OLDEST event, not a negation-overflow pin (r13 sweep)") {
    // the pre-fix sort key negated ts_ms; -Long.MinValue == Long.MinValue,
    // so that event sorted as the NEWEST possible and squatted a buffer
    // slot forever. With Ordering.reverse it is evicted first.
    val evs = Seq(
      Ev(1L, 1L, "view", Some(1.0), Long.MinValue),
      Ev(2L, 1L, "view", Some(1.0), 100L),
      Ev(3L, 1L, "view", Some(1.0), 200L),
      Ev(4L, 1L, "view", Some(1.0), 300L))
    val got = latestBy(runStream("st6_minval", Seq(evs),
      ds => StreamOps.boundedBuffer(ds, cap = 3).toDF(), OutputMode.Update),
      "user_id").collect()
    assert(got.length === 1)
    assert(got(0).getAs[String]("buffer_ids") === "2,3,4",
      "Long.MinValue event must be evicted first, not retained as newest")
  }

  test("ST6 streaming bounded buffer matches the batch twin") {
    val got = runStream("st6_stream", batches,
      ds => StreamOps.boundedBuffer(ds, cap = 3).toDF(), OutputMode.Update)
    val latest = latestBy(got, "user_id")
      .select($"user_id", $"n_seen", $"n_kept", $"n_evicted", $"buffer_ids")
      .orderBy($"user_id")
    val want = graft.operators.StreamingTwins.st6BoundedBuffer.run(spark, sf001)
      .select($"user_id", $"n_seen", $"n_kept", $"n_evicted", $"buffer_ids")
      .orderBy($"user_id")
    assert(latest.collect().map(_.toSeq).toSeq === want.collect().map(_.toSeq).toSeq)
  }

  test("BenchStreams staging token restages on same-count regeneration (r17)") {
    // the staging memo must key on (count, max id, max ts), not count
    // alone: a regenerated events table with the SAME cardinality but
    // new content previously replayed the stale chunks (r17 review)
    val dir = tempDir("graft-stage-tok").toString
    val ev = spark.read.parquet(s"$sf001/events.parquet").limit(200).cache()
    ev.write.parquet(s"$dir/events.parquet")
    def markers(stage: String): Set[String] =
      scala.util.Try(java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, graft.Staged.Marker))).toOption.toSet
    val (stage1, n1) = graft.BenchStreams.stageEvents(spark, dir, 4)
    val m1 = markers(stage1)
    assert(n1 === 200 && m1.size === 1)
    // memo hit: same source, same marker, nothing restaged
    val (stage2, _) = graft.BenchStreams.stageEvents(spark, dir, 4)
    assert(stage2 === stage1 && markers(stage1) === m1)
    // same-count regeneration: shift every event_id — count unchanged,
    // max id moved → the ensure must mint a NEW token and restage
    ev.withColumn("event_id", $"event_id" + 1000000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (stage3, n3) = graft.BenchStreams.stageEvents(spark, dir, 4)
    assert(n3 === 200)
    val m3 = markers(stage3)
    assert(m3.size === 1 && m3 != m1,
      "same-cardinality regeneration must move the staging token")
    // and the restaged chunks carry the NEW ids, not the stale corpus
    val staged = spark.read.parquet(stage3)
    assert(staged.count() === 200)
    assert(staged.agg(org.apache.spark.sql.functions.min($"event_id"))
      .head().getLong(0) >= 1000000L,
      "restaged chunks still carry the pre-regeneration ids")
    // min-ts-only regeneration (r17 advice → r18): count, max id and max
    // ts all preserved, only the LOWER ts bound moves — the chunk
    // slicing changes, so the token must move too. Regenerated through
    // the Tables view (raw ts may be any of the three supported types;
    // ts_ms is the normalized form the token reads) and written back as
    // epoch-nanos BIGINT, one of the contract's accepted arrivals.
    import org.apache.spark.sql.functions.{greatest, lit, min => fmin, max => fmax}
    // materialized OFF the source path (localCheckpoint) so the
    // overwrite below never races its own input
    val cur = graft.Tables(spark, dir).events
      .select($"event_id", $"user_id", $"event_type", $"value", $"props", $"ts_ms")
      .localCheckpoint(true)
    val Array(lo, hi) = cur.agg(fmin($"ts_ms"), fmax($"ts_ms"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    assert(lo < hi, "fixture needs a non-degenerate ts span")
    cur.withColumn("ts",
        greatest($"ts_ms", lit(lo + (hi - lo) / 2)) * lit(1000000L))
      .drop("ts_ms")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    cur.unpersist()
    val (stage4, n4) = graft.BenchStreams.stageEvents(spark, dir, 4)
    assert(n4 === 200)
    val m4 = markers(stage4)
    assert(m4.size === 1 && m4 != m3,
      "a min-ts-only regeneration must move the staging token")
    ev.unpersist()
    // the stage dir is keyed on the md5 of THIS run's random temp source
    // dir — outside the tempDir tracker, so without explicit cleanup
    // every test run would leave a new staged copy under /tmp forever
    // (r17 review 3)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage1))
  }

  test("BenchStreams run loop: an ST op over staged chunks counts every row and its jobs") {
    val dir = tempDir("graft-stage-run").toString
    spark.read.parquet(s"$sf001/events.parquet").write.parquet(s"$dir/events.parquet")
    val (stage, n) = graft.BenchStreams.stageEvents(spark, dir, 4)
    try {
      val op = graft.BenchStreams.ops.find(_.name == "st1_deadline_tally").get
      val (_, run) = graft.BenchStreams.runStream(spark, stage, 1, op.name)(op.start)(identity)
      assert(run.rows === n, "every staged row admitted once")
      assert(run.profile.jobs > 0 && run.profile.drained)
      val rec = "{" + run.fields("us_per_event") + "}"
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rec)
      assert(node.get("rows").asLong() === n)
      assert(node.get("jobs_total").asLong() === run.profile.jobs)
      assert(node.get("jobs_per_batch").asDouble() > 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  test("BenchStreams quantile chunking: clustered ids still spread over chunks, boundaries monotone (r19)") {
    // the replica tiers cluster increment doc_ids into a few narrow
    // copy-offset bands; a value-RANGE slice collapsed 24 chunks into
    // {0, 23} — one trigger, no cross-batch probe measured (the first
    // r19 BENCH_STREAM cut). Reproduce that id shape and assert the
    // quantile slicing (a) yields enough distinct chunks to drive a
    // multi-trigger stream and (b) keeps chunk boundaries monotone in
    // doc_id — the ascending-ids replay contract.
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val ids = ((0 until 500).map(i => 80000000000L + i) ++
      (0 until 500).map(i => 90000000000L + i)).toDF("doc_id")
    val (chunked, nCuts) = graft.BenchStreams.quantileChunks(ids, "doc_id", 24)
    assert(nCuts >= 16, s"clustered ids produced only $nCuts cuts")
    val perChunk = chunked.groupBy($"chunk")
      .agg(fmin($"doc_id").as("lo"), fmax($"doc_id").as("hi"),
        org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .orderBy($"chunk").collect()
    assert(perChunk.length >= 16,
      s"value-range collapse regressed: only ${perChunk.length} chunks")
    assert(perChunk.map(_.getAs[Long]("n")).sum === 1000L)
    // monotone: chunk i's max id strictly below chunk i+1's min id
    perChunk.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"),
          s"chunk boundaries not monotone in doc_id: $a vs $b")
      case _ =>
    }
    // and no chunk hogs the stream: with 24 target chunks over 1000
    // uniform-rank rows, the biggest chunk stays a small multiple of
    // the ideal slice (approxQuantile tolerance), never half the input
    assert(perChunk.map(_.getAs[Long]("n")).max <= 250,
      "a single chunk holds >25% of the rows — slicing degenerated")
    // degenerate chunks=1: zero cuts, one chunk, nothing thrown (the
    // pre-quantile id-range form handled this; the quantile form must
    // keep it — empty probabilities array, empty literal fold)
    val (one, zeroCuts) = graft.BenchStreams.quantileChunks(ids, "doc_id", 1)
    assert(zeroCuts === 0)
    assert(one.select($"chunk").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
  }

  test("BenchStreams merkle staging token restages on a sum-preserving re-key (r18)") {
    // the merkle leaf stage is a pure function of the event_id MULTISET,
    // and (count, max, min, sum) does not pin it: re-keying ids
    // {10, 20} → {9, 21} preserves all four arithmetic terms (second
    // r18 review). The token's fifth term — sum of per-id xxhash64 —
    // must move, restaging leaves that reflect the NEW ids.
    val dir = tempDir("graft-mk-tok").toString
    // remap ids to a dense 0..199 so the interior re-key below is
    // guaranteed valid regardless of which 200 rows limit() picked
    val ev = spark.read.parquet(s"$sf001/events.parquet").limit(200)
      .withColumn("event_id",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"event_id"))
          .cast("long") - 1L)
      .localCheckpoint(true)
    ev.write.parquet(s"$dir/events.parquet")
    def markers(stage: String): Set[String] =
      scala.util.Try(java.nio.file.Files.readString(
        java.nio.file.Paths.get(stage, graft.Staged.Marker))).toOption.toSet
    val (stage1, n1) = graft.BenchStreams.stageMerkleLeaves(spark, dir, 4)
    assert(n1 === 200)
    val m1 = markers(stage1)
    assert(m1.size === 1)
    // re-key {10, 20} → {9, 21}: count, min (0), max (199) and sum all
    // preserved (9 and 21 become interior duplicates — multisets, not
    // sets, which is exactly what the arithmetic terms cannot see)
    ev.withColumn("event_id",
        org.apache.spark.sql.functions.when($"event_id" === 10L, 9L)
          .when($"event_id" === 20L, 21L)
          .otherwise($"event_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val (stage2, n2) = graft.BenchStreams.stageMerkleLeaves(spark, dir, 4)
    assert(n2 === 200)
    val m2 = markers(stage2)
    assert(m2.size === 1 && m2 != m1,
      "a sum-preserving re-key must move the merkle staging token")
    // and the restaged leaves are the NEW multiset's digests
    val leaves = spark.read.parquet(stage2)
      .select(org.apache.spark.sql.functions.hex($"leaf").as("h"))
      .collect().map(_.getString(0).toLowerCase).toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(!leaves.contains(md5hex("10")) && !leaves.contains(md5hex("20")),
      "restaged merkle leaves still carry the pre-re-key ids")
    assert(leaves.contains(md5hex("9")) && leaves.contains(md5hex("21")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage1))
  }

  // ---------- LIVE ingest admission (r19) ----------

  /** Drives [[StreamOps.ingestAdmission]] over `chunks` (one micro-batch
    * per chunk, doc_id-ascending across chunks — the replay contract)
    * against the `dir` corpus's persisted mhp1 index; returns the
    * verdict union read back from the batch output dirs. */
  private def runIngestAdmission(
      dir: String, idx: String, split: Long,
      chunks: Seq[Seq[(Long, String, String, String)]],
      statePath: String, outPath: String): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String)]
    val q = StreamOps.ingestAdmission(
      mem.toDF().toDF("doc_id", "source", "lang", "text"),
      idx, split, statePath, outPath)
    try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()
    spark.read.parquet(outPath)
      .select($"doc_id", $"source", $"lang", $"verdict")
      .orderBy($"doc_id").collect().toSeq
  }

  test("LIVE ingest admission: chunked stream verdicts == batch pipeline recompute (natural corpus)") {
    import graft.operators.IngestIncr
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text")
      .orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    assert(docs.size >= 9, s"increment too small to chunk: ${docs.size}")
    val chunks = docs.grouped(docs.size / 3 + 1).toSeq
    assert(chunks.size === 3)
    val statePath = tempDir("graft-ingadm-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-out").toString + "/out"
    val got = runIngestAdmission(sf001, idx, split, chunks, statePath, outPath)
    val want = IngestIncr.batchVerdictsFor(spark, sf001, split).collect().toSeq
    assert(got === want)
    // non-vacuity: the stream exercised the stateful probes, and the
    // state deltas actually accumulated on disk across batches
    val byVerdict = got.groupBy(_.getAs[String]("verdict")).view.mapValues(_.size).toMap
    assert(byVerdict.getOrElse("near_dup", 0) > 0, s"near-dup unexercised: $byVerdict")
    assert(byVerdict.getOrElse("admitted", 0) > 0, s"no admissions: $byVerdict")
    for (b <- 0 until 3)
      assert(new java.io.File(s"$statePath/b$b/_COMMIT").isFile,
        s"batch $b committed no state delta")
    // deltas are DISJOINT unions (pure append): no fp or bucket appears
    // in two batches' deltas
    val fpsAll = spark.read.parquet((0 until 3).map(i => s"$statePath/b$i/fps"): _*)
    assert(fpsAll.count() === fpsAll.select($"fp").distinct().count(),
      "a fingerprint landed in two batches' deltas — state is not append-only")
    val bandsAll = spark.read.parquet((0 until 3).map(i => s"$statePath/b$i/bands"): _*)
    assert(bandsAll.count() === bandsAll.select($"band", $"bucket").distinct().count(),
      "a bucket landed in two batches' deltas — state is not append-only")
    // the fused verdict assembly's contract on the STREAM path: replay
    // the last trigger against the state batches 0–1 committed (what it
    // ran against) — its exact_dup / contaminated / near_dup marks are
    // pairwise disjoint, one row per doc_id, and its verdicts are the
    // stream's own output for that batch
    def committed(part: String) =
      spark.read.parquet((0 until 2).map(i => s"$statePath/b$i/$part"): _*)
    try {
      val replay = IngestIncr.admitAgainst(spark, idx, split,
        chunks.last.toDF("doc_id", "source", "lang", "text"),
        name => s"spec_admit_replay:$name", 1L,
        Some(IngestIncr.IngestState(committed("fps"), committed("bands"),
          committed("toks"))), ordered = false)
      val marked = replay.marks.collect().map(_.getAs[Long]("doc_id")).toSeq
      assert(marked.nonEmpty, "vacuous: the last trigger marked no doc")
      assert(marked.distinct.size === marked.size,
        s"a doc_id carries two admission marks: ${marked.sorted}")
      val cols = Seq($"doc_id", $"source", $"lang", $"verdict")
      assert(replay.verdicts.select(cols: _*).orderBy($"doc_id").collect().toSeq ===
        spark.read.parquet(s"$outPath/batch=2").select(cols: _*)
          .orderBy($"doc_id").collect().toSeq)
    } finally graft.operators.RunCaches.clearAll()
  }

  /** The planted all-verdicts fixture (SemanticsSpec's) written as a
    * corpus under a fresh dir: returns (dir, increment rows in STREAM
    * column order (doc_id, source, lang, text), expected verdicts).
    * The intra-increment exact-dup (46 of 45) and near-dup (47 of 45)
    * pairs straddle batch boundaries when streamed one doc per
    * micro-batch, so they can ONLY be caught by accumulated state. */
  private def plantedAdmissionFixture(tag: String)
      : (String, Seq[(Long, String, String, String)], Seq[(Long, String)]) = {
    val tail = "the a of to in is and for"
    val tail2 = "a the of to in is and for"
    def doc(id: Long, src: String, words: String, t: String = tail) =
      (id, s"$words $t", "en", src)
    val uniq = (3 to 39).map(i => doc(i, s"src${1 + i % 3}",
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"))
    val base = Seq(
      (0L, "quixotic zephyr labyrinth obsidian paradox nebula", "en", "src0"),
      doc(1, "src1", "keystone granite monsoon typhoon caravan sextant quarry lagoon"),
      doc(2, "src2", "brooklyn cathedral dormitory elephant firmament glacier harmonica insulator")
    ) ++ uniq
    val incr = Seq(
      (40L, "meridian solstice equinox aurora zenith nadir", "en", "src0"), // held_out
      doc(41, "src1", "keystone granite monsoon typhoon caravan sextant quarry lagoon"), // exact_dup of 1 (fps)
      doc(42, "src2", "brooklyn cathedral dormitory elephant firmament glacier harmonica insulator", tail2), // near_dup of 2 (index)
      doc(43, "src1", "innocuous preamble quixotic zephyr labyrinth postscript trailing remainder"), // contaminated
      (44L, "zz", "en", "src2"), // gate
      doc(45, "src1", "juniper kumquat lavender marigold nasturtium oleander peony quince"), // admitted
      doc(46, "src1", "juniper kumquat lavender marigold nasturtium oleander peony quince"), // exact_dup of 45 — CROSS-BATCH via state.fps
      doc(47, "src2", "juniper kumquat lavender marigold nasturtium oleander peony quince", tail2), // near_dup of 45 — CROSS-BATCH via state.bands/toks
      doc(48, "src2", "rosemary saffron tamarind verbena wisteria yarrow zinnia basilisk"), // admitted
      doc(49, "src1", "asteroid binary comet dwarf exoplanet galaxy heliopause ionosphere")) // admitted
    val dir = tempDir(s"graft-ingadm-$tag").toString
    (base ++ incr).map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val want = Seq(40L -> "held_out", 41L -> "exact_dup", 42L -> "near_dup",
      43L -> "contaminated", 44L -> "gate", 45L -> "admitted",
      46L -> "exact_dup", 47L -> "near_dup", 48L -> "admitted",
      49L -> "admitted")
    // fixture tuples are (id, text, lang, source); the stream's
    // positional columns are (doc_id, source, lang, text)
    (dir, incr.map { case (id, text, lang, src) => (id, src, lang, text) },
      want)
  }

  test("LIVE ingest admission: one-doc micro-batches — every cross-batch election runs through state") {
    import graft.operators.IngestIncr
    // the planted all-verdicts fixture, streamed ONE DOC PER MICRO-BATCH
    val (dir, incr, want) = plantedAdmissionFixture("fix")
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, dir)
    assert(split === 40L, s"fixture split moved: $split")
    val statePath = tempDir("graft-ingadm-fix-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-fix-out").toString + "/out"
    val got = runIngestAdmission(dir, idx, split, incr.map(Seq(_)),
      statePath, outPath)
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
    assert(got === want)
    // and the stream's union equals the batch recompute bit for bit
    val batch = IngestIncr.batchVerdictsFor(spark, dir, split).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toSeq
    assert(batch === want)
  }

  test("LIVE ingest admission: state compaction — verdicts bit-equal and re-delivery idempotent across the boundary; dir count bounded (r20)") {
    import graft.operators.IngestIncr
    // compactEvery=2 over the one-doc-per-batch planted fixture: the
    // stream compacts repeatedly MID-RUN, so the cross-batch elections
    // (46/47 against 45's state) read folded generation state — the
    // strongest form of the boundary, and the verdicts must still equal
    // the batch recompute bit for bit.
    spark.conf.set("spark.graft.admissionCompactEvery", "2")
    try {
      val (dir, incr, want) = plantedAdmissionFixture("cmp")
      val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, dir)
      val statePath = tempDir("graft-ingadm-cmp-st").toString + "/state"
      val outPath = tempDir("graft-ingadm-cmp-out").toString + "/out"
      val got = runIngestAdmission(dir, idx, split, incr.map(Seq(_)),
        statePath, outPath)
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      assert(got === want)
      // dir census: exactly ONE committed generation survives (superseded
      // generations reclaimed) and the delta tail is bounded by the
      // cadence — 10 one-doc batches must NOT leave 10 delta dirs
      def names() = Option(new java.io.File(statePath).listFiles())
        .toSeq.flatten.map(_.getName)
      val gens = names().filter(_.matches("gen\\d+"))
      assert(gens.size === 1, s"generation census wrong: ${names()}")
      assert(new java.io.File(s"$statePath/${gens.head}/_COMMIT").isFile,
        "generation missing its commit marker")
      assert(names().count(_.matches("b\\d+")) <= 2,
        s"delta tail unbounded after compaction: ${names()}")
      // re-delivery of the LAST batch id ACROSS the boundary (state =
      // generation + tail): byte-idempotent, no state-layout change
      val lastBatch = names().filter(_.matches("b\\d+"))
        .map(_.drop(1).toLong).max
      val (lid, lsrc, llang, ltext) = incr.last
      IngestIncr.admitMicroBatch(spark,
        Seq((lid, lsrc, llang, ltext)).toDF("doc_id", "source", "lang", "text"),
        lastBatch, idx, split, statePath, outPath)
      val after = spark.read.parquet(outPath)
        .select($"doc_id", $"verdict").orderBy($"doc_id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(after === want,
        "a re-delivered batch changed the verdict surface across a compaction")
      // the ascending-ids bound survives folding: the next batch triggers
      // a fold that deletes the delta markers, and the guard must then
      // fire from the GENERATION's carried running-max marker
      val e = intercept[IllegalArgumentException] {
        IngestIncr.admitMicroBatch(spark,
          Seq((incr.head._1, "src1", "en", "low-id replay violation"))
            .toDF("doc_id", "source", "lang", "text"),
          lastBatch + 1, idx, split, statePath, outPath)
      }
      assert(e.getMessage.contains("ascending-ids replay contract"))
      assert(names().count(_.matches("b\\d+")) === 0 &&
        names().filter(_.matches("gen\\d+")) ===
          Seq(s"gen$lastBatch"),
        s"the pre-refusal fold should leave only gen$lastBatch: ${names()}")
    } finally spark.conf.unset("spark.graft.admissionCompactEvery")
  }

  test("LIVE ingest admission: a re-delivered batch reuses no live memo from its first delivery (r20)") {
    import graft.operators.{IngestIncr, RunCaches}
    // VERDICT r19 #3: the memo stamp is keyed to (statePath, batchId)
    // with a per-delivery attempt — attributable (ver >>> 20 = batchId)
    // and strictly larger on re-delivery, so cachedFeature supersedes
    // (recomputes) rather than serving the first delivery's frames.
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    val statePath = tempDir("graft-ingadm-memo-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-memo-out").toString + "/out"
    val df = docs.take(2).toDF("doc_id", "source", "lang", "text")
    IngestIncr.admitMicroBatch(spark, df, 0L, idx, split, statePath, outPath)
    val key = s"pipe_ingest_stream:$statePath:gate"
    val v1 = RunCaches.versionOf(spark, key)
    assert(v1.nonEmpty, "gate memo not live after first delivery")
    assert((v1.get >>> 20) === 0L,
      s"stamp ${v1.get} does not attribute to batch 0")
    IngestIncr.admitMicroBatch(spark, df, 0L, idx, split, statePath, outPath)
    val v2 = RunCaches.versionOf(spark, key)
    assert(v2.nonEmpty && v2.get > v1.get,
      s"re-delivery must mint a strictly larger stamp (got $v1 then $v2) " +
        "— a reused live memo would mask state drift between deliveries")
  }

  test("admission writes: all settle before a failure is rethrown; a stuck write fails by name") {
    import graft.operators.IngestIncr
    import scala.concurrent.{ExecutionContext, Future, Promise}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    @volatile var slowDone = false
    def slow = Future { Thread.sleep(300L); slowDone = true }
    // a failed write is rethrown only once the slower sibling settled
    val boom = intercept[IllegalStateException] {
      IngestIncr.settleAll(Seq(
        "failing" -> Future.failed(new IllegalStateException("boom")),
        "slow" -> slow), 1.minute)
    }
    assert(boom.getMessage === "boom")
    assert(slowDone, "the failure was rethrown before the other write settled")
    // a write that never completes fails the trigger at the bound,
    // naming the write, after the others settled
    slowDone = false
    val stuck = intercept[java.util.concurrent.TimeoutException] {
      IngestIncr.settleAll(Seq("ok" -> Future.unit, "slow" -> slow,
        "stuck-write" -> Promise[Unit]().future), 1.second)
    }
    assert(stuck.getMessage.contains("stuck-write"), stuck.getMessage)
    assert(slowDone)
  }

  test("labeledJob restores the enclosing job description, nested or not") {
    // the admission path nests labels (its stages reach the probe's
    // labeled jobs): an inner call must hand the outer label back, and
    // the outermost call the caller's own description
    val sc = spark.sparkContext
    def desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("prior")
    try {
      Profile.labeled(spark, "outer") {
        assert(desc === "outer")
        Profile.labeled(spark, "inner")(assert(desc === "inner"))
        assert(desc === "outer", "the inner call did not restore the outer label")
      }
      assert(desc === "prior", "the outer call did not restore the prior label")
      sc.setJobDescription(null)
      Profile.labeled(spark, "only")(())
      assert(desc === null)
    } finally sc.setJobDescription(null)
  }

  test("LIVE ingest admission: out-of-order batch ids are refused loudly (r19 review)") {
    import graft.operators.IngestIncr
    // every stateful election rests on batch ids arriving in doc_id
    // order; a source violating that (two producers, colliding staged
    // mtimes) used to diverge from the batch pipeline SILENTLY. The
    // _COMMIT markers now carry the running max doc_id and a batch
    // below it is refused by name, before any state or output lands.
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    val statePath = tempDir("graft-ingadm-ooo-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-ooo-out").toString + "/out"
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    val (lo, hi) = (docs.take(2), docs.takeRight(2))
    IngestIncr.admitMicroBatch(spark, df(hi), 0L, idx, split, statePath, outPath)
    val e = intercept[IllegalArgumentException] {
      IngestIncr.admitMicroBatch(spark, df(lo), 1L, idx, split, statePath, outPath)
    }
    assert(e.getMessage.contains("ascending-ids replay contract"))
    // the refused batch left no husk: no b1 dir, no batch=1 output
    assert(!new java.io.File(s"$statePath/b1").exists(),
      "a refused batch must not write state deltas")
    assert(!new java.io.File(s"$outPath/batch=1").exists(),
      "a refused batch must not write verdicts")
    // and a RE-DELIVERY of batch 0 (same id, same rows) is still
    // accepted — its own committed marker is strictly-below-excluded
    IngestIncr.admitMicroBatch(spark, df(hi), 0L, idx, split, statePath, outPath)
  }

  test("LIVE ingest admission: a torn commit marker is refused, never parsed as a lower bound (r20)") {
    import graft.operators.IngestIncr
    // ADVICE r19: the old read trusted marker content after an existence
    // check, so a torn write whose truncated body still parsed ('12' of
    // '1234') yielded a falsely LOW running max — silently weakening the
    // ascending-ids guard. Markers are now ';'-terminated; a marker
    // missing its terminator must refuse the next batch by name.
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    val statePath = tempDir("graft-ingadm-torn-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-torn-out").toString + "/out"
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    IngestIncr.admitMicroBatch(spark, df(docs.take(2)), 0L, idx, split,
      statePath, outPath)
    val m = java.nio.file.Paths.get(s"$statePath/b0/_COMMIT")
    val raw = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
    assert(raw.endsWith(";"), s"marker must be terminator-written, got '$raw'")
    // tear it: drop the terminator AND the last digit — the truncated
    // body still parses as a (wrong, lower) number, the exact hazard.
    // The local-FS checksum sidecar is removed too: rewriting the file
    // out-of-band would otherwise fail the NEXT read on the stale .crc
    // (a LocalFileSystem artifact; a torn write on a real store leaves
    // no such tripwire — the validation below is what must catch it)
    java.nio.file.Files.write(m, raw.dropRight(2).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      m.getParent.resolve("." + m.getFileName.toString + ".crc"))
    val e = intercept[IllegalArgumentException] {
      IngestIncr.admitMicroBatch(spark, df(docs.takeRight(2)), 1L, idx, split,
        statePath, outPath)
    }
    assert(e.getMessage.contains("failed validation"))
  }

  /** sf0.001's pipe-ingest index, its increment documents in id order,
    * and a frame builder for admission batches over them. */
  private def admissionInputs() = {
    val (idx, split) = graft.operators.IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    (idx, split, docs)
  }

  private def admissionDf(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "source", "lang", "text")

  /** A `_COMMIT` body rewritten out of band, with the local checksum
    * sidecar removed so the next read does not trip on it. */
  private def plantCommit(dir: String, body: String): Unit = {
    val m = java.nio.file.Paths.get(dir, "_COMMIT")
    java.nio.file.Files.createDirectories(m.getParent)
    java.nio.file.Files.write(m, body.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(m.getParent.resolve("._COMMIT.crc")): Unit
  }

  test("LIVE ingest admission: a re-delivered batch uncommits before it rewrites") {
    import graft.operators.IngestIncr
    // a re-delivery overwrites b<id>'s parts: while it writes, the first
    // delivery's marker must not vouch for them, or a failed rewrite
    // leaves a committed dir over partly rewritten data
    val (idx, split, docs) = admissionInputs()
    val statePath = tempDir("graft-ingadm-uncommit-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-uncommit-out").toString + "/out"
    val marker = java.nio.file.Paths.get(s"$statePath/b0/_COMMIT")
    def verdicts() = spark.read.parquet(s"$outPath/batch=0")
      .select($"doc_id", $"verdict").orderBy($"doc_id").collect().toSeq
    IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split,
      statePath, outPath)
    val first = verdicts()
    val firstMarker = java.nio.file.Files.readString(marker)
    assert(firstMarker === s"${docs(1)._1};")
    // the verdict write of the re-delivery must fail: its output path
    // is a regular file
    val blocked = tempDir("graft-ingadm-uncommit-bad").resolve("out")
    java.nio.file.Files.createFile(blocked)
    intercept[Exception] {
      IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split,
        statePath, blocked.toString)
    }
    assert(new java.io.File(s"$statePath/b0").isDirectory)
    assert(!java.nio.file.Files.exists(marker),
      "a failed re-delivery left b0 committed over its rewritten parts")
    IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split,
      statePath, outPath)
    assert(java.nio.file.Files.readString(marker) === firstMarker)
    assert(verdicts() === first)
  }

  test("LIVE ingest admission: state names and a marker body past Long range are refused by name or ignored") {
    import graft.operators.IngestIncr
    val (idx, split, docs) = admissionInputs()
    val huge = "99999999999999999999" // 20 digits, past Long range
    def paths(tag: String) = (tempDir(s"graft-ingadm-range-$tag-st").toString + "/state",
      tempDir(s"graft-ingadm-range-$tag-out").toString + "/out")
    // uncommitted past-range dirs are husks like any other: ignored
    val (st1, out1) = paths("husk")
    new java.io.File(s"$st1/gen$huge").mkdirs()
    new java.io.File(s"$st1/b$huge").mkdirs()
    IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split, st1, out1)
    assert(new java.io.File(s"$st1/b0/_COMMIT").isFile)
    assert(IngestIncr.stateSnapshot(spark, st1)._2 === None)
    // a committed past-range generation is foreign: the named refusal
    val (st2, out2) = paths("gen")
    plantCommit(s"$st2/gen$huge", "5;")
    val e = intercept[IllegalArgumentException] {
      IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split, st2, out2)
    }
    assert(e.getMessage.contains(s"compacted generation gen$huge") &&
      e.getMessage.contains("foreign writer"), e.getMessage)
    assert(!new java.io.File(s"$st2/b0").exists(), "a refused batch must write nothing")
    // a marker body past Long range fails the marker's validation
    val (st3, out3) = paths("body")
    IngestIncr.admitMicroBatch(spark, admissionDf(docs.take(2)), 0L, idx, split, st3, out3)
    plantCommit(s"$st3/b0", s"$huge;")
    val e2 = intercept[IllegalArgumentException] {
      IngestIncr.admitMicroBatch(spark, admissionDf(docs.slice(2, 4)), 1L, idx, split, st3, out3)
    }
    assert(e2.getMessage.contains("failed validation"), e2.getMessage)
  }

  test("LIVE ingest admission: checkpointed restart resumes without recount; re-delivery is idempotent") {
    import graft.operators.IngestIncr
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text")
      .orderBy($"doc_id")
    val n = docs.count()
    val mid = docs.select($"doc_id").orderBy($"doc_id")
      .collect()(n.toInt / 2).getLong(0)
    // file-source staging: two chunk files with ascending mtimes — the
    // replay contract, and real durable offsets for the restart
    val in = tempDir("graft-ingadm-ck-in").toString
    val statePath = tempDir("graft-ingadm-ck-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-ck-out").toString + "/out"
    val ckpt = tempDir("graft-ingadm-ck").toString + "/ck"
    docs.filter($"doc_id" < mid).coalesce(1)
      .write.parquet(s"$in/c0.parquet")
    def start() = StreamOps.ingestAdmission(
      spark.readStream
        .schema(spark.read.parquet(s"$in/c0.parquet").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*.parquet"),
      idx, split, statePath, outPath, checkpoint = Some(ckpt))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // simulated crash/stop
    val firstCount = spark.read.parquet(outPath).count()
    assert(firstCount > 0)
    docs.filter($"doc_id" >= mid).coalesce(1)
      .write.parquet(s"$in/c1.parquet")
    val q2 = start() // restart from the same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outPath)
      .select($"doc_id", $"source", $"lang", $"verdict")
      .orderBy($"doc_id").collect().toSeq
    // exactly-once results: every doc verdicted once, equal to batch
    assert(got.map(_.getLong(0)).distinct.size === got.size,
      "restart re-emitted verdicts for already-processed docs")
    val want = IngestIncr.batchVerdictsFor(spark, sf001, split).collect().toSeq
    assert(got === want)
    // at-least-once RE-DELIVERY: re-run the LAST batch id against the
    // same state/out dirs — the strictly-below state rule must make it
    // byte-idempotent (same verdicts, same deltas), not double-count
    val lastBatch = new java.io.File(statePath).listFiles()
      .map(_.getName).filter(_.matches("b\\d+")).map(_.drop(1).toLong).max
    val redelivered = spark.read.parquet(s"$in/c1.parquet")
    IngestIncr.admitMicroBatch(spark, redelivered, lastBatch, idx, split,
      statePath, outPath)
    val after = spark.read.parquet(outPath)
      .select($"doc_id", $"source", $"lang", $"verdict")
      .orderBy($"doc_id").collect().toSeq
    assert(after === got, "a re-delivered micro-batch changed the verdict surface")
  }

  // ---- local commits (LocalCommit.scala) ----------------------------

  /** Writes `evs` as one parquet file per chunk into a staging dir and
    * returns the chunk dirs; moving one into a watched dir is atomic. */
  private def stageEventChunks(evs: Seq[Ev], chunks: Int): Seq[java.nio.file.Path] = {
    val stage = tempDir("graft-lc-stage")
    evs.grouped((evs.size + chunks - 1) / chunks).toSeq.zipWithIndex.map { case (c, i) =>
      val d = stage.resolve(f"c$i%02d.parquet")
      c.toDS().coalesce(1).write.parquet(d.toString)
      d
    }
  }

  /** Output rows of a foreachBatch query, by batch id. */
  private type Batches = collection.concurrent.TrieMap[Long, Seq[org.apache.spark.sql.Row]]

  /** The live vote queries over a file source watching `in` (one file per
    * trigger), checkpointed under `ck`; each batch's rows are kept by
    * batch id, so a re-run batch replaces its own rows. */
  private def startVoteQueries(in: String, ck: String, tally: Batches,
      reversals: Batches): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val src = spark.readStream.schema(Seq.empty[Ev].toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*.parquet")
    def sink(df: org.apache.spark.sql.DataFrame, mode: String, name: String, out: Batches) =
      df.writeStream.outputMode(mode).option("checkpointLocation", s"$ck/$name")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          out(id) = b.collect().toSeq; () }
        .start()
    Seq(sink(StreamOps.deadlineTally(src), "update", "tally", tally),
      sink(StreamOps.rapidReversal(src.as[Ev]).toDF(), "append", "reversal", reversals))
  }

  private def feed(chunks: Seq[java.nio.file.Path], in: String,
      qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
    chunks.foreach { c =>
      java.nio.file.Files.move(c, java.nio.file.Paths.get(in, c.getFileName.toString))
      qs.foreach(_.processAllAvailable())
    }

  test("a checkpointed stateful trigger forks no process") {
    // Engine.session set fs.file.impl on the context's conf before any
    // `file:` filesystem existed; Hadoop's FileSystem cache is keyed
    // without the conf, so the first instance of the JVM is the one
    // every caller gets — it must be the engine's class
    val fs = new org.apache.hadoop.fs.Path("file:/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalCommitFileSystem])
    val chunks = stageEventChunks(allEvents.sortBy(e => (e.ts_ms, e.event_id)).take(600), 3)
    val in = tempDir("graft-lc-fork-in").toString
    val ck = tempDir("graft-lc-fork-ck").toString
    val (tally, reversals) = (new Batches, new Batches)
    var qs = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
    val shellForks = hadoopShellForks {
      qs = startVoteQueries(in, ck, tally, reversals)
      try feed(chunks, in, qs) finally qs.foreach(_.stop())
    }
    assert(qs.forall(_.exception.isEmpty) && tally.nonEmpty && reversals.nonEmpty)
    // the stream really committed through the checkpoints: a commit-log
    // entry (after offsets and state-store deltas) per data batch
    for (q <- Seq("tally", "reversal"))
      assert(new java.io.File(s"$ck/$q/commits").list().count(_.forall(_.isDigit)) >= 3, q)
    assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
  }

  test("a fresh pipe-ingest index build forks no process") {
    // the build writes four partitioned parts and checks each for data
    // files; a listing that reads permissions forks `ls -ld` per file
    // on a local filesystem without native libhadoop
    val base = tempDir("graft-lc-fork-idx").toString
    spark.conf.set("spark.graft.minhash.indexBase", base)
    var idx = ""
    val shellForks =
      try hadoopShellForks {
        idx = graft.operators.IngestIncr.ensurePipeIngestIndex(spark, sf001)._1
      } finally spark.conf.unset("spark.graft.minhash.indexBase")
    assert(idx.startsWith(base), s"built under the fresh base, got $idx")
    assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
  }

  test("an index ensure that reaps a stale sibling and reclaims a quiet husk forks no process") {
    import graft.operators.VersionedIndex
    // the reap path: the recursive age rule over a past-grace sibling,
    // and the publish loop reclaiming a quiet marker-less version
    val base = tempDir("graft-lc-fork-reap").toString
    def ensure() = VersionedIndex.ensureVersioned(spark, sf001, "nofork-reap", Seq("part")) {
      (staging, _, _) => spark.range(3).write.parquet(s"$staging/part")
    }._1
    val old = System.currentTimeMillis() - 3600L * 1000
    def age(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(age)
      f.setLastModified(old): Unit
    }
    spark.conf.set("spark.graft.minhash.indexBase", base)
    spark.conf.set("spark.graft.minhash.reapGraceMs", "60000")
    try {
      val ver = new java.io.File(ensure())
      assert(new java.io.File(ver, "_PUBLISHED").delete())
      val stale = new java.io.File(ver.getParentFile, "v1-1-s4")
      new java.io.File(stale, "part").mkdirs()
      new java.io.File(stale, "part/part-00000.parquet").createNewFile()
      age(ver); age(stale)
      var again = ""
      val shellForks = hadoopShellForks { again = ensure() }
      assert(again === ver.toString)
      assert(new java.io.File(ver, "_PUBLISHED").isFile, "the quiet husk was not republished")
      assert(!stale.exists(), "the past-grace stale sibling was not reaped")
      assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
    } finally {
      spark.conf.unset("spark.graft.minhash.indexBase")
      spark.conf.unset("spark.graft.minhash.reapGraceMs")
    }
  }

  test("a checkpointed admission stream that folds its state forks no process") {
    import graft.operators.IngestIncr
    // the admission path's own commits: per-trigger delta writes and
    // `_COMMIT` markers, a state fold at compactEvery=2, and the file
    // source's offset and commit logs
    val (dir, incr, want) = plantedAdmissionFixture("fork")
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, dir)
    val stage = tempDir("graft-ingadm-fork-stage")
    val chunks = incr.grouped(2).toSeq.zipWithIndex.map { case (c, i) =>
      val d = stage.resolve(f"c$i%02d.parquet")
      c.toDF("doc_id", "source", "lang", "text").coalesce(1).write.parquet(d.toString)
      d
    }
    assert(chunks.size >= 4, "too few triggers to fold the state")
    val in = tempDir("graft-ingadm-fork-in").toString
    val ck = tempDir("graft-ingadm-fork-ck").toString
    val statePath = tempDir("graft-ingadm-fork-st").toString + "/state"
    val outPath = tempDir("graft-ingadm-fork-out").toString + "/out"
    spark.conf.set("spark.graft.admissionCompactEvery", "2")
    val shellForks =
      try hadoopShellForks {
        val src = spark.readStream
          .schema("doc_id BIGINT, source STRING, lang STRING, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$in/*.parquet")
        val q = StreamOps.ingestAdmission(src, idx, split, statePath, outPath,
          checkpoint = Some(ck))
        try feed(chunks, in, Seq(q)) finally q.stop()
        assert(q.exception.isEmpty, q.exception)
      } finally spark.conf.unset("spark.graft.admissionCompactEvery")
    assert(new java.io.File(statePath).list().exists(_.matches("gen\\d+")),
      "the stream never folded its state")
    val got = spark.read.parquet(outPath).select($"doc_id", $"verdict")
      .orderBy($"doc_id").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got === want)
    assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
  }

  test("stateful restart from a file-source checkpoint resumes tally and reversals exactly") {
    // ST1 runs on a MemoryStream without a checkpoint and ST10's restart
    // is stateless: this one crosses the offset-log, commit-log and
    // state-delta renames of both state-store operators on a restart
    val ordered = allEvents.sortBy(e => (e.ts_ms, e.event_id))
    val chunks = stageEventChunks(ordered, 6)
    val in = tempDir("graft-lc-restart-in").toString
    val ck = tempDir("graft-lc-restart-ck").toString
    val (tally, reversals) = (new Batches, new Batches)
    val first = startVoteQueries(in, ck, tally, reversals)
    try feed(chunks.take(3), in, first) finally first.foreach(_.stop())
    assert(first.forall(_.exception.isEmpty))
    val batchesBefore = tally.keySet.max
    val second = startVoteQueries(in, ck, tally, reversals) // same checkpoints
    try feed(chunks.drop(3), in, second) finally second.foreach(_.stop())
    assert(second.forall(_.exception.isEmpty))
    assert(tally.keySet.min === 0L && tally.keySet.max > batchesBefore,
      "the restarted tally did not continue the batch ids")
    val cols = Seq("window_hour", "votes_for", "votes_against", "total",
      "approval_pct", "passed")
    // the last update per window, in batch order
    val got = tally.toSeq.sortBy(_._1).flatMap(_._2)
      .map(r => r.getAs[Long]("window_hour") -> cols.map(r.getAs[Any])).toMap
      .toSeq.sortBy(_._1).map(_._2)
    val want = graft.operators.StreamingTwins.st1DeadlineTally.run(spark, sf001)
      .filter($"votes_for" + $"votes_against" > 0)
      .select(cols.map(col): _*).orderBy($"window_hour")
      .collect().toSeq.map(_.toSeq)
    assert(got === want)
    val gotR = reversals.values.flatten.toSeq.map(_.toSeq)
      .sortBy(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val wantR = graft.operators.StreamingTwins.st12RapidReversal.run(spark, sf001)
      .collect().toSeq.map(_.toSeq)
    assert(gotR === wantR)
  }

  test("in-JVM chmod matches Hadoop's for plain modes; special bits and non-file schemes keep the stock path") {
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val hconf = spark.sessionState.newHadoopConf()
    def raw(fs: RawLocalFileSystem) = { fs.initialize(java.net.URI.create("file:///"), hconf); fs }
    val stock = raw(new RawLocalFileSystem)
    val mine = raw(new LocalCommitFileSystem.Raw)
    val dir = tempDir("graft-lc-chmod")
    def mode(p: java.nio.file.Path) =
      java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    for (m <- Seq("600", "644", "700", "755", "777")) {
      val perm = new FsPermission(m)
      val (a, b) = (dir.resolve(s"stock-$m"), dir.resolve(s"mine-$m"))
      Seq(a, b).foreach(java.nio.file.Files.createFile(_))
      stock.setPermission(new Path(a.toUri), perm)
      mine.setPermission(new Path(b.toUri), perm)
      assert(java.nio.file.Files.getPosixFilePermissions(b) ===
        java.nio.file.Files.getPosixFilePermissions(a), s"mode $m")
      assert(mode(b) === Integer.parseInt(m, 8))
    }
    intercept[java.io.FileNotFoundException] {
      mine.setPermission(new Path(dir.resolve("absent").toUri), new FsPermission("644"))
    }
    // a sticky bit is out of NIO's reach: the stock path sets it
    assert(LocalCommitFileSystem.plainBits(Integer.parseInt("1755", 8)).isEmpty)
    assert(LocalCommitFileSystem.plainBits(Integer.parseInt("4755", 8)).isEmpty)
    assert(LocalCommitFileSystem.plainBits(Integer.parseInt("2755", 8)).isEmpty)
    val sticky = java.nio.file.Files.createDirectory(dir.resolve("sticky"))
    mine.setPermission(new Path(sticky.toUri), new FsPermission("1755"))
    assert(mode(sticky) === Integer.parseInt("1755", 8))

    // routing: the session's conf names the router, a `file:` location
    // (qualified or not) goes to the FileSystem-based manager …
    val ckDir = tempDir("graft-lc-route").toString
    assert(CheckpointFileManager.create(new Path(ckDir), hconf)
      .isInstanceOf[LocalCommitFileManager])
    for (p <- Seq(s"file:$ckDir", ckDir))
      assert(new LocalCommitFileManager(new Path(p), hconf).underlying
        .isInstanceOf[FileSystemBasedCheckpointFileManager], p)
    // … and any other scheme gets what Spark picks without the setting:
    // FileContext where the scheme has one (viewfs over a local link),
    // the FileSystem fallback where it has none
    val other = new org.apache.hadoop.conf.Configuration(hconf)
    other.set("fs.viewfs.mounttable.graft.link./ck", s"file://$ckDir")
    other.set("fs.graftfs.impl", classOf[RawLocalFileSystem].getName)
    other.setBoolean("fs.graftfs.impl.disable.cache", true)
    val without = new org.apache.hadoop.conf.Configuration(other)
    without.unset("spark.sql.streaming.checkpointFileManagerClass")
    for ((p, want) <- Seq(
        "viewfs://graft/ck" -> classOf[FileContextBasedCheckpointFileManager],
        "graftfs:/tmp/ck" -> classOf[FileSystemBasedCheckpointFileManager])) {
      val path = new Path(p)
      assert(CheckpointFileManager.create(path, without).getClass === want, p)
      assert(new LocalCommitFileManager(path, other).underlying.getClass === want, p)
    }
  }
}
