package graft

import graft.operators.VersionedIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Operator semantics pinned on tiny hand-computed frames — the unit-level
  * mirror of the reference's per-instruction tests (SURVEY §5.1): exact
  * integer division, quorum gates, tier cascades, keeper election. */
class SemanticsSpec extends SparkSpec {

  import spark.implicits._

  // delegate to commons-io (already on the test classpath and used by
  // SinksSpec) instead of a third hand-rolled tree walk; tolerant of a
  // missing path and of plain-file arguments, which the library call is not
  private def deleteAll(f: java.io.File): Unit =
    if (f.exists()) {
      if (f.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(f)
      else { f.delete(): Unit }
    }

  test("A2 quorum+threshold uses truncating integer division (lib.rs:145-149)") {
    // 2 for / 3 total = 66.67% → int div = 66, fails a 67 threshold
    val df = Seq(
      ("a1", true), ("a1", true), ("a1", false), // 66%
      ("a2", true), ("a2", true),                // 100%
      ("a3", true))                              // quorum not met
      .toDF("action", "vote")
      .groupBy($"action")
      .agg(count_if($"vote").as("votes_for"), count(lit(1)).as("total"))
      .withColumn("approval_pct", expr("(votes_for * 100) div total"))
      .withColumn("passed", $"total" >= 2 && $"approval_pct" >= 67)
    val m = df.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("approval_pct"), r.getAs[Boolean]("passed"))).toMap
    assert(m("a1") === (66L, false)) // NOT 67: truncation, not rounding
    assert(m("a2") === (100L, true))
    assert(m("a3") === (100L, false)) // quorum gate
  }

  test("Tables.events ns→ms conversion FLOORS sub-ms pre-1970 instants and survives Long.MinValue (r13 sweep)") {
    // the only pre-1970 spec before this one (ST2b) wrote whole-ms nanos,
    // where floor == truncate — so a revert of the ts_ms derivation to
    // truncating `div` passed every gate. This pins the sub-ms layer:
    //   -1 ns  is a 1969 instant → ms floor −1 (truncate says 0 = 1970)
    //   Long.MinValue must not underflow the floor-div rewrite
    val dir = tempDir("graft-negms").toString
    Seq(
      (1L, -1L, 7L, "view", Some(1.0)),
      (2L, 999999L, 7L, "view", Some(1.0)),           // 1970 sub-ms → ms 0
      (3L, Long.MinValue, 7L, "view", Some(1.0)),
      (4L, -1000001L, 7L, "view", Some(1.0)))          // just past −1 ms
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables(spark, dir).events
      .select($"event_id", $"ts_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === -1L, "floor, not truncate: -1 ns is in ms -1")
    assert(got(2L) === 0L)
    assert(got(3L) === Math.floorDiv(Long.MinValue, 1000000L),
      "floor-div must not underflow at Long.MinValue")
    assert(got(4L) === -2L)
    deleteAll(new java.io.File(dir))
  }

  test("W6 stake-duration multiplier cascade (stake/page.tsx:143-149)") {
    val df = Seq(0L, 29L, 30L, 89L, 90L, 179L, 180L, 400L).toDF("days")
      .withColumn("bps",
        when($"days" >= 180L, 20000L)
          .when($"days" >= 90L, 15000L)
          .when($"days" >= 30L, 12000L)
          .otherwise(10000L))
    val got = df.orderBy($"days").collect().map(_.getLong(1)).toSeq
    assert(got === Seq(10000L, 10000L, 12000L, 12000L, 15000L, 15000L, 20000L, 20000L))
  }

  test("A9 bps burn math is integer-exact (burn.ts:65-72)") {
    val df = Seq(10001L, 3L, 0L).toDF("fee_c")
      .withColumn("burn_c", expr("(fee_c * 5000) div 10000"))
      .withColumn("treasury_c", $"fee_c" - $"burn_c")
    val rows = df.orderBy($"fee_c".desc).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((10001L, 5000L, 5001L), (3L, 1L, 2L), (0L, 0L, 0L)))
  }

  test("A11 success-rate zero-guard and clamp (keiro-client.ts:192-196)") {
    val df = Seq((0L, 0L), (10L, 0L), (10L, 10L), (10L, 3L)).toDF("tasks", "disputes")
      .withColumn("pct",
        when($"tasks" === 0L, 100L)
          .otherwise(least(lit(100L), greatest(lit(0L),
            round((lit(1.0) - $"disputes".cast("double") / $"tasks".cast("double")) * 100, 0)
              .cast("long")))))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((0L, 0L)) === 100L)   // no tasks → perfect score
    assert(got((10L, 0L)) === 100L)
    assert(got((10L, 10L)) === 0L)
    assert(got((10L, 3L)) === 70L)
  }

  test("minhash keeper election: identical docs share a keeper, distinct docs don't") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"), // exact dup of 1
      (3L, "alpha bravo charlie delta echo foxtrot golf india"), // near dup of 1
      (4L, "zulu yankee xray whiskey victor uniform tango sierra")) // unrelated
      .toDF("doc_id", "text")
    val dir = tempDir("graft-mh").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Similarity.ddMinhash.run(spark, dir).collect()
    val keepers = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(keepers.get(2L) === Some(1L)) // exact dup → keeper is doc 1
    assert(keepers.get(3L) === Some(1L)) // near dup (7/9 jaccard = 77%)
    assert(!keepers.contains(4L))        // unrelated doc survives
    assert(!keepers.contains(1L))        // keeper itself is not emitted
  }

  test("minhash md5-window banding: fused kernel == declarative Spark-SQL twin") {
    // A THIRD independent derivation of the r15 portable hash family,
    // inside the suite: the fused JVM kernel (what the catalog runs) and
    // a declarative recomputation from Spark's own builtin md5/conv/
    // substr — structurally the DuckDB oracle transliterated to Spark
    // SQL. Pins the kernel's md5 hex encoding, the circular 15-hex
    // window parse, the i-order comma-joined band digest, and the
    // builtin-lower tokenization twin (unicode row included) against
    // refactor drift the property specs cannot see.
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (3L, "alpha bravo charlie delta echo foxtrot golf INDIA"),
      (4L, "Ünïcödé tökens LONGWORD another Überlang wording"),
      (5L, "a bb ccc"), // no >3-char tokens → no bands
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val kernel = graft.operators.Similarity.minhashFeatOf(docs)
      .select($"doc_id", $"bands").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val tok = docs.select($"doc_id",
        explode(array_distinct(filter(split(lower($"text"), " "),
          w => length(w) > lit(3)))).as("t"))
      .withColumn("h", md5($"t"))
    val mins = tok
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(31))).as("i"))
      .withColumn("hv",
        conv(expr("substr(concat(h, h), i + 1, 15)"), 16, 10).cast("long"))
      .groupBy($"doc_id", $"i").agg(min($"hv").as("m"))
    val twin = mins
      .groupBy($"doc_id", expr("i div 4").as("band"))
      .agg(sort_array(collect_list(struct($"i", $"m"))).as("sm"))
      .withColumn("bucket", conv(substring(
        md5(expr("concat_ws(',', transform(sm, x -> cast(x.m as string)))")),
        1, 15), 16, 10).cast("long"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"band", $"bucket"))).as("bb"))
      .withColumn("bands", expr("transform(bb, x -> x.bucket)"))
      .select($"doc_id", $"bands").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (id <- 1L to 6L)
      assert(kernel.getOrElse(id, Seq.empty[Long]) ===
        twin.getOrElse(id, Seq.empty[Long]), s"doc $id bands diverge")
    assert(kernel(1L).size === 8 && kernel(1L) === kernel(2L))
    assert(kernel.getOrElse(5L, Seq.empty[Long]).isEmpty)
  }

  test("simhash md5 fingerprint: fused kernel == declarative Spark-SQL twin") {
    // Same third-derivation discipline for the simhash family: the
    // 64-bit token hash re-derived from builtin md5 via two conv'd
    // 32-bit halves (shiftleft|or — no unsigned parse needed), the
    // per-bit majority vote re-aggregated with bit_or of shifted bits.
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf INDIA"),
      (3L, "Ünïcödé tökens LONGWORD another Überlang wording"),
      (4L, "a bb ccc"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val kernel = graft.operators.Similarity.simhashFeatOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twin = docs.select($"doc_id",
        explode(array_distinct(filter(split(lower($"text"), " "),
          w => length(w) > lit(3)))).as("t"))
      .withColumn("h64",
        expr("shiftleft(cast(conv(substr(md5(t), 1, 8), 16, 10) as long), 32)")
          .bitwiseOR(
            expr("cast(conv(substr(md5(t), 9, 8), 16, 10) as long)")))
      .select($"doc_id", $"h64", explode(sequence(lit(0), lit(63))).as("i"))
      .withColumn("v", when(
        expr("shiftrightunsigned(h64, i)").bitwiseAND(lit(1L)) === lit(1L),
        lit(1L)).otherwise(lit(-1L)))
      .groupBy($"doc_id", $"i").agg(sum($"v").as("c"))
      .groupBy($"doc_id")
      .agg(bit_or(when($"c" > 0, expr("shiftleft(1L, i)")).otherwise(lit(0L)))
        .as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twin.keySet === kernel.keySet) // 4 and 5 absent from both
    for ((id, s) <- kernel) assert(twin(id) === s, s"doc $id simhash diverges")
  }

  test("dd_minhash_incr: index probe ∪ stored corpus result == full dd_minhash recompute") {
    import graft.operators.Similarity
    // the incremental contract: dedup the NEW increment against a
    // persisted band index, and the union of (what ingest already
    // stored for the corpus) ∪ (the probe's rows) must equal one batch
    // dd_minhash over corpus ∪ increment — bit for bit, not just counts
    val full = Similarity.ddMinhash.run(spark, sf001).collect().toSeq
    val (_, split) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    val probe = Similarity.ddMinhashIncr.run(spark, sf001).collect().toSeq
    assert(probe === full.filter(_.getAs[Long]("doc_id") >= split))
    assert(probe.nonEmpty, "vacuous: the increment produced no dup rows")
    assert(probe.exists(_.getAs[Long]("keeper") < split),
      "vacuous: no increment doc elected a CORPUS keeper — the index join was never exercised")
    // corpus side: the batch dedup over the corpus slice alone (what an
    // ingest pipeline stored when it built the index) is the full
    // recompute's corpus rows — increment ids are all greater, so they
    // can never steal a corpus bucket minimum
    val corpus = VersionedIndex.dedup(Similarity.minhashIncr, Similarity.minhashFeatOf(
      Tables(spark, sf001).documents.filter(col("doc_id") < split))).collect().toSeq
    assert(corpus === full.filter(_.getAs[Long]("doc_id") < split))
  }

  test("j1 memo: offsetting mtime movements on the two sources still mint a fresh entry") {
    import graft.operators.RunCaches
    // the two-source memo's staleness contract (second r18 review): a
    // backup-restore of one source (mtime backward by X) next to a
    // regeneration of the other (forward by X) collides under any
    // arithmetic combination of the two mtimes — the per-pair KEY must
    // change so the stale pre-regeneration join can never be served
    val dir = java.nio.file.Files.createTempDirectory("graft-j1-token").toString
    def copyTbl(name: String): Unit =
      spark.read.parquet(s"$sf001/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def setTreeMtime(name: String, t: Long): Unit = {
      val root = new java.io.File(s"$dir/$name.parquet")
      (root +: Option(root.listFiles()).getOrElse(Array.empty).toSeq)
        .foreach(f => assert(f.setLastModified(t), s"cannot set mtime on $f"))
    }
    try {
      copyTbl("orders"); copyTbl("lineitem")
      val t0 = 1_700_000_000_000L
      setTreeMtime("orders", t0); setTreeMtime("lineitem", t0)
      val q = QueryDef.catalogs.find(_.name == "j1_fk_join").get
      val full = q.run(spark, dir).count()
      // "regenerate" lineitem to HALF its rows while restoring orders
      // from a backup: mtimes move in offsetting directions, so
      // max/sum/any-arithmetic token is unchanged
      val half = spark.read.parquet(s"$dir/lineitem.parquet")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .limit((full / 2).toInt).collect()
      val schema = spark.read.parquet(s"$dir/lineitem.parquet").schema
      spark.createDataFrame(java.util.Arrays.asList(half: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      setTreeMtime("orders", t0 - 5000); setTreeMtime("lineitem", t0 + 5000)
      val rerun = q.run(spark, dir).count()
      assert(rerun === full / 2,
        s"stale memoized join served after an offsetting mtime change: $rerun vs expected ${full / 2}")
    } finally {
      RunCaches.clearAll()
      deleteAll(new java.io.File(dir))
    }
  }

  test("j1 memo: a superseded-version frame from ANOTHER session is reclaimed (r18)") {
    import graft.operators.RunCaches
    // cycled sessions share one SparkContext, so the isStopped sweep
    // never fires for them — and with version-embedded keys the
    // same-key cross-session yield rule never matches either. The
    // prefix reclaim must therefore work across sessions, or every
    // regeneration strands the abandoned session's fact-sized join
    // frame in the cache manager forever (third r18 review).
    val dir = java.nio.file.Files.createTempDirectory("graft-j1-xsess").toString
    def copyTbl(name: String): Unit =
      spark.read.parquet(s"$sf001/$name.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def setTreeMtime(name: String, t: Long): Unit = {
      val root = new java.io.File(s"$dir/$name.parquet")
      (root +: Option(root.listFiles()).getOrElse(Array.empty).toSeq)
        .foreach(f => assert(f.setLastModified(t), s"cannot set mtime on $f"))
    }
    try {
      copyTbl("orders"); copyTbl("lineitem")
      val t0 = 1_700_000_000_000L
      setTreeMtime("orders", t0); setTreeMtime("lineitem", t0)
      val q = QueryDef.catalogs.find(_.name == "j1_fk_join").get
      RunCaches.clearAll()
      val other = spark.newSession()
      assert(q.run(other, dir).count() > 0)
      assert(RunCaches.memoSize === 1)
      // regenerate: both mtimes move forward → new per-pair key; the
      // abandoned session's old-key entry must be reclaimed, not pinned
      setTreeMtime("orders", t0 + 60000); setTreeMtime("lineitem", t0 + 60000)
      assert(q.run(spark, dir).count() > 0)
      assert(RunCaches.memoSize === 1,
        "the other session's superseded j1 frame was stranded in the cache")
    } finally {
      RunCaches.clearAll()
      deleteAll(new java.io.File(dir))
    }
  }

  test("pipe_ingest_incr: probe verdicts == batch pipeline recompute restricted to the increment") {
    import graft.operators.IngestIncr
    // the composed ingest contract: every stateful stage probes
    // PERSISTED state (fps / pinned benchmark shingles / minhash index),
    // and the verdict surface must equal one batch run of the pipeline
    // front half over corpus ∪ increment (benchmark pinned below the
    // split), restricted to the increment — bit for bit, through the
    // same shared kernels the batch flow runs
    val (_, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val probe = IngestIncr.pipeIngestIncr.run(spark, sf001).collect().toSeq
    val batch = IngestIncr.batchVerdictsFor(spark, sf001, split).collect().toSeq
    assert(probe === batch)
    // non-vacuity: the increment must actually exercise the stateful
    // probes — an all-'admitted' (or all-'gate') verdict column would
    // pass the equality while testing nothing. (exact_dup does not occur
    // in the natural corpus across this split — the planted-fixture test
    // below covers that path, plus intra-increment elections.)
    val byVerdict = probe.groupBy(_.getAs[String]("verdict")).view.mapValues(_.size).toMap
    assert(byVerdict.getOrElse("admitted", 0) > 0, s"no admissions: $byVerdict")
    assert(byVerdict.getOrElse("near_dup", 0) > 0, s"near-dup probe unexercised: $byVerdict")
    assert(byVerdict.getOrElse("contaminated", 0) > 0, s"decontam probe unexercised: $byVerdict")
    assert(byVerdict.getOrElse("gate", 0) > 0, s"gate unexercised: $byVerdict")
  }

  test("pipe_ingest_incr: planted fixture hits every verdict, hand-computed") {
    import graft.operators.IngestIncr
    // a corpus engineered so each admission rule fires deterministically,
    // including the paths the natural corpus never exercises (exact-dup
    // vs the persisted fps table; INTRA-increment exact/near elections).
    // Near-dup pairs are TOKEN-IDENTICAL (same >3-char words) but differ
    // in the ≤3-char filler arrangement: md5 differs (not exact dups)
    // while the minhash signature is bit-equal, so banding collides by
    // construction, not by hash luck, and the exact-Jaccard verify sees
    // 100%. Accidental band collisions between distinct docs are
    // harmless either way: the verify stage rejects disjoint token sets.
    val tail = "the a of to in is and for"  // gates: en_hits 8, stop_cnt 7
    val tail2 = "a the of to in is and for" // md5-different, token-identical
    def doc(id: Long, src: String, words: String, t: String = tail) =
      (id, s"$words $t", "en", src, 0L)
    val uniq = (3 to 39).map(i => doc(i, s"src${1 + i % 3}",
      s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"))
    val rows = Seq(
      // base (doc_id < split=40)
      (0L, "quixotic zephyr labyrinth obsidian paradox nebula", "en", "src0", 0L),
      doc(1, "src1", "keystone granite monsoon typhoon caravan sextant quarry lagoon"),
      doc(2, "src2", "brooklyn cathedral dormitory elephant firmament glacier harmonica insulator")
    ) ++ uniq ++ Seq(
      // increment (doc_id >= 40)
      (40L, "meridian solstice equinox aurora zenith nadir", "en", "src0", 0L), // held_out
      doc(41, "src1", "keystone granite monsoon typhoon caravan sextant quarry lagoon"), // exact_dup of 1 (fps)
      doc(42, "src2", "brooklyn cathedral dormitory elephant firmament glacier harmonica insulator", tail2), // near_dup of 2 (index)
      doc(43, "src1", "innocuous preamble quixotic zephyr labyrinth postscript trailing remainder"), // contaminated (bench shingle)
      (44L, "zz", "en", "src2", 0L), // gate (en_hits 0)
      doc(45, "src1", "juniper kumquat lavender marigold nasturtium oleander peony quince"), // admitted
      doc(46, "src1", "juniper kumquat lavender marigold nasturtium oleander peony quince"), // exact_dup of 45 (intra-increment)
      doc(47, "src2", "juniper kumquat lavender marigold nasturtium oleander peony quince", tail2), // near_dup of 45 (intra-increment)
      doc(48, "src2", "rosemary saffron tamarind verbena wisteria yarrow zinnia basilisk"), // admitted
      doc(49, "src1", "asteroid binary comet dwarf exoplanet galaxy heliopause ionosphere")) // admitted
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-fixture").toString
    try {
      rows.map { case (id, text, lang, src, _) =>
          (id, text, lang, src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, dir)
      assert(split === 40L, s"fixture split moved: $split")
      val got = IngestIncr.pipeIngestIncr.run(spark, dir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toSeq
      val want = Seq(40L -> "held_out", 41L -> "exact_dup", 42L -> "near_dup",
        43L -> "contaminated", 44L -> "gate", 45L -> "admitted",
        46L -> "exact_dup", 47L -> "near_dup", 48L -> "admitted",
        49L -> "admitted")
      assert(got === want)
      // the fused verdict assembly's contract: the exact_dup /
      // contaminated / near_dup marker sets are pairwise disjoint, one
      // row per doc_id — on a fixture where all three are populated
      val marks = IngestIncr.probePipeIngest(spark, dir, idx, split).marks
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("mk")).toSeq
      assert(marks.map(_._1).distinct.size === marks.size,
        s"a doc_id carries two admission marks: ${marks.sorted}")
      assert(marks.map(_._2).toSet === Set("exact_dup", "contaminated", "near_dup"),
        s"vacuous: a marker set is empty: ${marks.sorted}")
      // and the batch twin agrees on the same fixture (the equality
      // contract on a corpus where every rule is live)
      val batch = IngestIncr.batchVerdictsFor(spark, dir, split).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toSeq
      assert(batch === want)
    } finally deleteAll(new java.io.File(dir))
  }

  /** A corpus whose base-slice train docs ALL carry a benchmark shingle,
    * so its pipe-ingest index has an empty near-dup part; written under
    * a fresh dir, deleted after `body`. Verdicts for the increment
    * (split 16): admitted, near_dup (intra-increment), contaminated,
    * exact_dup of a base doc. */
  private def withAllContaminatedBase(body: String => Unit): Unit = {
    val tail = "the a of to in is and for"
    val tail2 = "a the of to in is and for"
    val bench = "quixotic zephyr labyrinth"
    val rows = Seq(
      (0L, s"$bench nebula", "en", "src0"),
      // base train docs ALL carry a benchmark shingle → all contaminated
    ) ++ (1 to 15).map(i =>
      (i.toLong, s"$bench alpha$i bravo$i charlie$i delta$i echo$i $tail", "en", s"src${1 + i % 3}")
    ) ++ Seq( // increment: split = 19 - 19/5 = 16
      (16L, s"juniper kumquat lavender marigold nasturtium oleander $tail", "en", "src1"), // admitted
      (17L, s"juniper kumquat lavender marigold nasturtium oleander $tail2", "en", "src2"), // near_dup (intra)
      (18L, s"innocuous preamble $bench postscript trailing $tail", "en", "src1"), // contaminated
      (19L, s"$bench alpha1 bravo1 charlie1 delta1 echo1 $tail", "en", "src2")) // exact_dup of 1
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-empty").toString
    try {
      rows.map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir)
    } finally deleteAll(new java.io.File(dir))
  }

  private val allContaminatedWant = Seq(16L -> "admitted", 17L -> "near_dup",
    18L -> "contaminated", 19L -> "exact_dup")

  private def verdictsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toSeq

  test("pipe_ingest_incr: an all-contaminated base slice (empty near-dup index) still admits") {
    import graft.operators.IngestIncr
    // at sf10 the any-hit decontam policy over a dense benchmark leaves
    // ZERO base-slice pipeline survivors — a legitimate corpus state
    // that must not crash the index build: the build writes an empty
    // bands part, which reads back empty through its declared schema,
    // and the probe's merged election is the intra-increment one
    withAllContaminatedBase { dir =>
      val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, dir)
      assert(split === 16L, s"fixture split moved: $split")
      assert(new java.io.File(s"$idx/bands").isDirectory, "no bands part")
      assert(VersionedIndex.readPart(spark, s"$idx/bands",
          graft.operators.Similarity.minhashIncr.bandsDdl).count() === 0L,
        "fixture did not produce an empty near-dup index — the fallback path is untested")
      assert(verdictsOf(IngestIncr.pipeIngestIncr.run(spark, dir)) === allContaminatedWant)
      assert(verdictsOf(IngestIncr.batchVerdictsFor(spark, dir, split)) === allContaminatedWant)
    }
  }

  test("pipe_ingest_incr: an empty part holding a _GRAFT_EMPTY marker probes to the same verdicts") {
    import graft.operators.{IngestIncr, RunCaches}
    // an index published before the marker protocol was dropped holds
    // its empty bands/toks parts as a directory with only a
    // `_GRAFT_EMPTY` file; the version name is unchanged, so such an
    // index is adopted and must probe exactly like a fresh one
    withAllContaminatedBase { dir =>
      val (idx, _) = IngestIncr.ensurePipeIngestIndex(spark, dir)
      for (part <- Seq("bands", "toks")) {
        val d = new java.io.File(s"$idx/$part")
        deleteAll(d)
        assert(d.mkdirs() && new java.io.File(d, "_GRAFT_EMPTY").createNewFile(), part)
      }
      RunCaches.clearAll()
      assert(IngestIncr.ensurePipeIngestIndex(spark, dir)._1 === idx,
        "the marked index was not adopted")
      assert(verdictsOf(IngestIncr.pipeIngestIncr.run(spark, dir)) === allContaminatedWant)
    }
  }

  test("dd_simhash_incr: index probe == full dd_simhash recompute restricted to the increment") {
    import graft.operators.Similarity
    // second instantiation of the incremental contract: the probe's
    // rows must equal one batch dd_simhash over corpus ∪ increment,
    // restricted to the increment — bit for bit (hamming + is_dup too)
    val full = Similarity.ddSimhash.run(spark, sf001).collect().toSeq
    val (_, split) = VersionedIndex.ensure(Similarity.simhashIncr, spark, sf001)
    val probe = Similarity.ddSimhashIncr.run(spark, sf001).collect().toSeq
    assert(probe === full.filter(_.getAs[Long]("doc_id") >= split))
    assert(probe.nonEmpty, "vacuous: the increment produced no candidate rows")
    assert(probe.exists(_.getAs[Long]("keeper") < split),
      "vacuous: no increment doc elected a CORPUS keeper — the index join was never exercised")
    // corpus side: the batch dedup over the corpus slice alone equals
    // the full recompute's corpus rows (append-only ids can never steal
    // a corpus bucket minimum)
    val corpus = VersionedIndex.dedup(Similarity.simhashIncr, Similarity.simhashFeatOf(
      Tables(spark, sf001).documents.filter(col("doc_id") < split))).collect().toSeq
    assert(corpus === full.filter(_.getAs[Long]("doc_id") < split))
  }

  test("mm_phash_incr: index probe == full mm_phash_dedup recompute restricted to the increment") {
    import graft.operators.Multimodal
    // third instantiation of the incremental contract, image modality;
    // this one is additionally oracle-checked (portable integer hash)
    val full = Multimodal.mmPhashDedup.run(spark, sf001).collect().toSeq
    val (_, split) = VersionedIndex.ensure(Multimodal.phashIncr, spark, sf001)
    val probe = Multimodal.mmPhashIncr.run(spark, sf001).collect().toSeq
    assert(probe === full.filter(_.getAs[Long]("media_id") >= split))
    assert(probe.nonEmpty, "vacuous: the increment produced no candidate rows")
    assert(probe.exists(_.getAs[Long]("keeper") < split),
      "vacuous: no increment image elected a CORPUS keeper — the index join was never exercised")
    // corpus side: the batch dedup over the corpus images alone equals
    // the full recompute's corpus rows (append-only ids can never steal
    // a corpus bucket minimum)
    val corpus = VersionedIndex.dedup(Multimodal.phashIncr,
      Multimodal.phashFeat(spark, sf001).filter(col("media_id") < split))
      .collect().toSeq
    assert(corpus === full.filter(_.getAs[Long]("media_id") < split))
  }

  test("dd_embedding_incr: index probe == full dd_embedding recompute restricted to the increment") {
    import graft.operators.Similarity
    // fourth instantiation, embeddings modality — the generic ensure's
    // first non-documents corpus (versioned by embeddings max id+mtime)
    val full = Similarity.ddEmbedding.run(spark, sf001).collect().toSeq
    val (_, split) = VersionedIndex.ensure(Similarity.embeddingIncr, spark, sf001)
    val probe = Similarity.ddEmbeddingIncr.run(spark, sf001).collect().toSeq
    assert(probe === full.filter(_.getAs[Long]("vec_id") >= split))
    assert(probe.nonEmpty, "vacuous: the increment produced no candidate rows")
    assert(probe.exists(_.getAs[Long]("keeper") < split),
      "vacuous: no increment vector elected a CORPUS keeper — the index join was never exercised")
    val corpus = VersionedIndex.dedup(Similarity.embeddingIncr, Similarity.embFeatOf(
      Tables(spark, sf001).embeddings.filter(col("vec_id") < split))).collect().toSeq
    assert(corpus === full.filter(_.getAs[Long]("vec_id") < split))
  }

  test("minhash index: versioned publish is idempotent, reaps only past-grace stale dirs") {
    import graft.operators.Similarity
    // same source, same split → the SAME published version directory,
    // untouched (ingest must not re-run on every probe)
    val (p1, split1) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    val ver = new java.io.File(p1)
    val m1 = ver.lastModified
    val (p2, split2) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    assert((p2, split2) === ((p1, split1)))
    assert(ver.lastModified === m1, "second ensure must reuse, not rebuild")
    // reaping is age-gated: a stale VERSION (older source tier) and a
    // crashed build's STAGING dir past the grace window must both be
    // reaped by the next build; young dirs (a concurrent JVM may still
    // scan/build them) must survive. Plant one of each, then drop the
    // live version to force a rebuild+reap pass.
    val base = ver.getParentFile
    val oldMs = System.currentTimeMillis() - 24L * 3600 * 1000
    val staleOld = new java.io.File(base, "v999-0")
    staleOld.mkdirs(); staleOld.setLastModified(oldMs)
    val stagingOld = new java.io.File(base, ".build-crashed-long-ago")
    stagingOld.mkdirs(); stagingOld.setLastModified(oldMs)
    val stagingYoung = new java.io.File(base, ".build-maybe-live-build")
    stagingYoung.mkdirs()
    // S3A pseudo-dirs report mtime 0: a dir whose OWN mtime is unknown
    // must be aged by its newest child (live build → survives), and an
    // empty mtime-0 dir has no known age at all → never reaped
    val mtime0Live = new java.io.File(base, ".build-mtime0-but-live")
    mtime0Live.mkdirs()
    new java.io.File(mtime0Live, "part-00000").createNewFile()
    assert(mtime0Live.setLastModified(0L))
    val mtime0Empty = new java.io.File(base, "v888-0")
    mtime0Empty.mkdirs()
    assert(mtime0Empty.setLastModified(0L))
    // a PUBLISHED sibling whose version-name mtime component exceeds
    // Long range: the tier-ordering parse must Try-guard it as
    // current-or-newer — never reaped, and never a
    // NumberFormatException aborting the build (ADVICE r14)
    val overlong = new java.io.File(base, "v1-99999999999999999999999-s4")
    overlong.mkdirs(); overlong.setLastModified(oldMs)
    new java.io.File(overlong, "_PUBLISHED").createNewFile()
    deleteAll(ver)
    // finally-guarded: these planted dirs live in the SHARED published-
    // index base that the later minhash tests (husk-reclaim, racer,
    // shard-count) list and reap — one assertion failure here must not
    // cascade into misleading failures downstream (r13 test sweep)
    try {
      val (p3, _) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      assert(p3 === p1, "same (split, mtime) must republish under the same version")
      assert(ver.isDirectory, "rebuild must publish the version directory")
      assert(new java.io.File(ver, "_PUBLISHED").isFile,
        "publish must land the completion marker (the S3-posture read gate)")
      assert(!staleOld.exists, "a build must reap past-grace stale versions")
      assert(!stagingOld.exists, "a build must reap past-grace crashed staging dirs")
      assert(stagingYoung.exists,
        "a build must NOT reap young staging dirs — a concurrent build may own them")
      assert(mtime0Live.exists,
        "an mtime-0 dir with a young child is a LIVE build on an object store — must survive")
      assert(mtime0Empty.exists,
        "an mtime-0 empty dir has unknown age — must never be reaped")
      assert(overlong.exists,
        "an unparseable (overlong) published version name reads as " +
          "current-or-newer — never reaped, never a parse throw")
    } finally {
      deleteAll(stagingYoung); deleteAll(mtime0Live); deleteAll(mtime0Empty)
      deleteAll(overlong)
    }
  }

  test("cachedFeature: a hit is served only for the exact requested fingerprint") {
    import graft.operators.RunCaches
    import spark.implicits._
    RunCaches.clearAll()
    try {
      val key = "spec:verpin"
      val v5 = RunCaches.cachedFeature(spark, key, 5L)(Seq(5).toDF("v"))
      assert(v5.collect().map(_.getInt(0)).toSeq === Seq(5))
      assert(RunCaches.cachedFeature(spark, key, 5L)(Seq(99).toDF("v")) eq v5,
        "same fingerprint must hit the memoized frame")
      // an OLDER fingerprint must NOT be served the newer cached frame
      // (version-torn read: newer candidates joined against older
      // uncached inputs) — it builds its own, un-memoized, and the
      // newer entry survives (ADVICE r14)
      val v3 = RunCaches.cachedFeature(spark, key, 3L)(Seq(3).toDF("v"))
      assert(v3.collect().map(_.getInt(0)).toSeq === Seq(3),
        "older-fingerprint caller was served the newer cached frame")
      assert(RunCaches.cachedFeature(spark, key, 5L)(Seq(99).toDF("v")) eq v5,
        "an older caller must not evict or replace the newer entry")
      // a strictly NEWER fingerprint supersedes the stored entry
      val v7 = RunCaches.cachedFeature(spark, key, 7L)(Seq(7).toDF("v"))
      assert(v7.collect().map(_.getInt(0)).toSeq === Seq(7))
      assert(RunCaches.cachedFeature(spark, key, 7L)(Seq(99).toDF("v")) eq v7)
    } finally RunCaches.clearAll()
  }

  test("minhash index: a marker-less husk is reclaimed, never marker-blessed with nested junk") {
    import graft.operators.Similarity
    // the S3 crash shape the _PUBLISHED marker exists for: a version dir
    // holding (possibly incomplete) data with no marker. Hadoop rename
    // into an existing dir NESTS the source (it does not fail), so an
    // unguarded publish would bless the husk with a stray .build-* inside
    val (p1, split1) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    val ver = new java.io.File(p1)
    assert(new java.io.File(ver, "_PUBLISHED").delete())
    deleteAll(new java.io.File(ver, "toks")) // structurally incomplete husk
    new java.io.File(ver, "half-copied.tmp").createNewFile()
    // the husk's files are FRESH, so husk-reclaim waits for the dir to go
    // quiet past the grace window (a live S3 copy must never be deleted
    // mid-flight) — shrink the window so the test pays ~2 s, not 15 min
    spark.conf.set("spark.graft.minhash.reapGraceMs", "1500")
    val (p2, split2) =
      try VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      finally spark.conf.unset("spark.graft.minhash.reapGraceMs")
    assert((p2, split2) === ((p1, split1)))
    assert(new java.io.File(ver, "_PUBLISHED").isFile)
    assert(new java.io.File(ver, "toks").isDirectory,
      "the husk must be rebuilt whole, not blessed as-is")
    assert(!new java.io.File(ver, "half-copied.tmp").exists,
      "husk remnants must not survive into the republished version")
    assert(!ver.listFiles.exists(_.getName.startsWith(".build-")),
      "no staging dir may end up nested under the published version")
    val probed = VersionedIndex.probe(Similarity.minhashIncr, spark, sf001, p2, split2)
    assert(probed.collect().nonEmpty, "republished index must serve the probe")
  }

  test("minhash index: a racing publisher's live marker-less version is adopted, never clobbered") {
    import graft.operators.Similarity
    // the S3 live-copy shape: a cross-JVM publisher's "rename" is a long
    // client-side copy, so ver exists marker-less with FRESH files. The
    // local publish must wait and adopt once the marker lands — deleting
    // the dir mid-copy would interleave two publishers' part-files
    val (p1, split1) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    val ver = new java.io.File(p1)
    assert(new java.io.File(ver, "_PUBLISHED").delete())
    val sentinel = new java.io.File(ver, "racer-part-file.parquet")
    sentinel.createNewFile() // fresh entry: the dir reads as a live copy
    val racer = new Thread(() => {
      Thread.sleep(1500L)
      new java.io.File(ver, "_PUBLISHED").createNewFile(): Unit
    })
    racer.start()
    try {
      val (p2, split2) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      assert((p2, split2) === ((p1, split1)))
      assert(sentinel.exists,
        "a live publisher's files must never be deleted mid-copy — adopt, don't reclaim")
      val staged = Option(ver.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".build-"))
      assert(staged.isEmpty, "the losing build must discard its staging")
    } finally {
      // cleanup INSIDE the finally: a failed assert must not leave the
      // planted part-file in the live published version that later
      // minhash tests read (the r13 test-sweep discipline)
      racer.join()
      sentinel.delete(): Unit
    }
  }

  test("minhash index: shard count is session conf AND version identity — probe output invariant") {
    import graft.operators.Similarity
    // sharding is layout, not semantics: a probe against an 8-shard
    // index must return exactly the rows of the default-shard probe.
    // The shard count is baked into the version NAME so a layout built
    // under one setting can never serve pruning under another.
    val defaultProbe = Similarity.ddMinhashIncr.run(spark, sf001)
      .collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    val (pDef, _) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    spark.conf.set("spark.graft.minhash.indexShards", "8")
    // grace 1 ms makes EVERYTHING reapable — proving the sibling
    // current-tier layout below survives by name, not by youth
    spark.conf.set("spark.graft.minhash.reapGraceMs", "1")
    // a marker-less current-tier sibling is a crashed sibling publish:
    // it must still age out, or every abandoned shard setting would pin
    // a corpus-scale index copy
    val huskSibling = new java.io.File(pDef.stripSuffix("s32") + "s4")
    huskSibling.mkdirs()
    new java.io.File(huskSibling, "leftover.parquet").createNewFile()
    // reaping runs only on a BUILD — drop any -s8 layout a previous run
    // of this suite published, so the ensure below actually rebuilds
    deleteAll(new java.io.File(pDef.stripSuffix("s32") + "s8"))
    try {
      val (p8, split8) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      assert(p8.endsWith("-s8"), s"shard count must version the index, got $p8")
      assert(new java.io.File(pDef).isDirectory,
        "a PUBLISHED sibling shard layout of the CURRENT tier may be live in another session — reap must spare it")
      assert(!huskSibling.exists,
        "a marker-less quiet sibling is a crashed publish — reap must reclaim it")
      // the probe reads the layout's shard count from the path's -sN
      // suffix, so it prunes with 8 here
      val probed = VersionedIndex.probe(Similarity.minhashIncr, spark, sf001, p8, split8)
        .collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
      assert(probed === defaultProbe,
        "an 8-shard index must yield the identical probe result")
    } finally {
      spark.conf.unset("spark.graft.minhash.indexShards")
      spark.conf.unset("spark.graft.minhash.reapGraceMs")
      // the planted husk normally ages out inside ensure; if an assert
      // failed before that, it must not survive into the shared index
      // base that later minhash tests list and reap
      deleteAll(huskSibling)
    }
  }

  test("minhash index: probing a path that is not a published version name fails loudly") {
    import graft.operators.Similarity
    // the probe reads its pruning modulus from the version name's -sN
    // field; a path without one carries no record of the modulus the
    // layout was written with, and a guessed one would silently miss
    // duplicates. A byte-identical copy of a published layout under a
    // plain name is refused, as is a path whose PARENT is version-named.
    val (p, split) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    val copy = tempDir("graft-mh-unversioned").resolve("index").toFile
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(p), copy)
    for (bad <- Seq(copy.toString, s"$p/bands")) {
      val e = intercept[IllegalArgumentException] {
        VersionedIndex.probe(Similarity.minhashIncr, spark, sf001, bad, split)
      }
      assert(e.getMessage.contains("not a published version name"), e.getMessage)
    }
  }

  test("minhash index: spark.graft.minhash.indexBase is per-session Spark conf") {
    import graft.operators.Similarity
    val s2 = spark.newSession()
    graft.GraftExtensions.ensureRegistered(s2)
    val base2 = tempDir("graft-mh-conf").toString
    s2.conf.set("spark.graft.minhash.indexBase", base2)
    val (p2, _) = VersionedIndex.ensure(Similarity.minhashIncr, s2, sf001)
    assert(p2.startsWith(base2),
      s"conf-set session must publish under its own base, got $p2")
    val (p1, _) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    assert(!p1.startsWith(base2),
      "a session without the conf must keep the JVM default base")
  }

  test("minhash index: build+probe work through a file:-scheme Hadoop FileSystem") {
    import graft.operators.Similarity
    // the publish path must run entirely on the Hadoop FileSystem API —
    // pin that by pointing the base at a scheme-qualified URI (file:),
    // where any java.io.File touch would see a nonexistent path and
    // either crash or silently rebuild per call
    val localProbe = Similarity.ddMinhashIncr.run(spark, sf001).collect().toSeq
    // per-session conf: concurrent ensure callers in other sessions
    // stay unaffected
    spark.conf.set("spark.graft.minhash.indexBase",
      "file:" + tempDir("graft-mh-fs").toString)
    try {
      val (p1, split1) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      assert(p1.startsWith("file:"), s"index must publish under the file: base, got $p1")
      val (p2, split2) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
      assert((p2, split2) === ((p1, split1)), "scheme-qualified publish must be idempotent")
      val probed = VersionedIndex.probe(Similarity.minhashIncr, spark, sf001, p1, split1).collect().toSeq
      assert(probed === localProbe,
        "probe against the file:-scheme index must equal the local-base probe")
    } finally spark.conf.unset("spark.graft.minhash.indexBase")
  }

  test("minhash index: empty corpus fails with an explicit message, not an NPE") {
    import graft.operators.Similarity
    val dir = tempDir("graft-mh-empty").toString
    Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      VersionedIndex.ensure(Similarity.minhashIncr, spark, dir)
    }
    assert(e.getMessage.contains("empty"), s"message must name the cause: ${e.getMessage}")
  }

  test("simhash index: husk reclaim works through the generic machinery with the family's own parts") {
    import graft.operators.Similarity
    // the husk/racer discipline is shared code, but the parts gate
    // ("bands","sims" here) is per-family surface — regress it and only
    // a simhash-side spec catches it
    val (p1, split1) = VersionedIndex.ensure(Similarity.simhashIncr, spark, sf001)
    val ver = new java.io.File(p1)
    assert(new java.io.File(ver, "_PUBLISHED").delete())
    deleteAll(new java.io.File(ver, "sims")) // structurally incomplete husk
    // the one grace setting governs every family
    spark.conf.set("spark.graft.minhash.reapGraceMs", "1500")
    val (p2, split2) =
      try VersionedIndex.ensure(Similarity.simhashIncr, spark, sf001)
      finally spark.conf.unset("spark.graft.minhash.reapGraceMs")
    assert((p2, split2) === ((p1, split1)))
    assert(new java.io.File(ver, "_PUBLISHED").isFile)
    assert(new java.io.File(ver, "sims").isDirectory,
      "the husk must be rebuilt whole — the parts gate must check the FAMILY's subdirs")
    val probed = VersionedIndex.probe(Similarity.simhashIncr, spark, sf001, p2, split2)
    assert(probed.collect().nonEmpty, "republished simhash index must serve the probe")
  }

  test("minhash index: a 1-doc corpus (empty sub-split slice) fails loudly, not with a schema error") {
    import graft.operators.Similarity
    // maxId=1 → split=1 → corpus slice doc_id<1 is EMPTY; a 0-row
    // partitioned write would leave an unreadable bands dir and the
    // probe would die later with an opaque schema-inference error
    val dir = tempDir("graft-mh-onedoc").toString
    Seq((1L, "only document here", "en", "t"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      VersionedIndex.ensure(Similarity.minhashIncr, spark, dir)
    }
    assert(e.getMessage.contains("corpus slice"), e.getMessage)
  }

  test("simhash keeper election: planted exact dup flagged, unrelated doc not a dup") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"), // exact dup
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india kilos"), // near dup
      (4L, "zulu yankee xray whiskey victor uniform tango sierra romeo quebec"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-sh").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Similarity.ddSimhash.run(spark, dir).collect()
    val rows = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("keeper"), r.getAs[Long]("hamming"), r.getAs[Boolean]("is_dup")))).toMap
    assert(rows(2L) === ((1L, 0L, true))) // identical text → identical simhash
    // the near dup shares 9/10 tokens; if any band collides its keeper is doc 1
    rows.get(3L).foreach { case (k, _, _) => assert(k === 1L) }
    // the unrelated doc may surface as a candidate but must not be a dup
    rows.get(4L).foreach { case (_, _, isDup) => assert(!isDup) }
    assert(!rows.contains(1L)) // keeper itself is not emitted
  }

  test("embedding near-dup: planted duplicate vector flagged via is_dup") {
    val dim = 64
    val rng = new scala.util.Random(7)
    val base = Array.fill(dim)(rng.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.fill(dim)(rng.nextGaussian().toFloat)
    val df = Seq(
      (0L, base.toSeq), (1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "embedding")
    val dir = tempDir("graft-emb").toString
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.ddEmbedding.run(spark, dir).collect()
    val rows = out.map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Long]("keeper"), r.getAs[Long]("cos_q6"), r.getAs[Boolean]("is_dup")))).toMap
    // exact copy of vec 0: all band buckets collide, cosine 1.0
    assert(rows(1L)._1 === 0L)
    assert(rows(1L)._2 === 1000000L)
    assert(rows(1L)._3)
    // tiny perturbation: still a near-dup of vec 0 when any bucket collides
    rows.get(2L).foreach { case (k, cosQ6, isDup) =>
      assert(k === 0L); assert(cosQ6 > 999000L); assert(isDup)
    }
    assert(!rows.contains(0L)) // keeper itself is not emitted
  }

  test("zero-norm and null vectors pass through the IVF family without an ANSI crash") {
    // a zero vector gets the EMPTY cell array from the assignment kernel;
    // under default ANSI mode element_at(.., 1) on it would throw
    // INVALID_ARRAY_INDEX — the get(.., 0) sites must null it out instead,
    // dropping the row from the index while the rest proceeds
    val dim = 16
    val rng = new scala.util.Random(11)
    val rows: Seq[(Long, Seq[Float])] = (0L until 20L).map { i =>
      if (i == 7L) (i, Seq.fill(dim)(0.0f))       // zero-norm
      else if (i == 9L) (i, null: Seq[Float])      // null vector
      else (i, Seq.fill(dim)(rng.nextGaussian().toFloat))
    }
    val dir = tempDir("graft-zvec").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Similarity.simIvfTopk.run(spark, dir).collect()
    assert(out.nonEmpty)
    val ids = out.map(r => r.getAs[Long]("nid")).toSet
    assert(!ids.contains(7L) && !ids.contains(9L)) // neither ever a neighbor
    // the persisted index takes the same kernel path
    val idxPath = tempDir("graft-zidx").toString
    val cents = graft.operators.Similarity.writeIvfIndex(spark, dir, idxPath, nCells = 4)
    assert(cents.nonEmpty)
  }

  test("NaN / infinite / null-element / out-of-envelope vectors pass every similarity query without an ANSI crash") {
    // the malformed-vector posture, pinned end-to-end (r13 third sweep):
    // quantized() folds any NaN / non-finite / |x|>1000 / null-element
    // vector to null instead of throwing on the ANSI long cast; the LSH
    // band kernel drops null-element vectors instead of NPE'ing the
    // deserializer; the IVF cell kernel treats a NaN/Inf norm as
    // degenerate instead of letting the Lloyd step's decimal cast throw.
    // Malformed rows drop out; every query still answers for the rest.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 64 // the LSH kernel's wired dim — other lengths are ragged
    val rng = new scala.util.Random(23)
    def vec(): Seq[java.lang.Float] =
      Seq.fill(dim)(java.lang.Float.valueOf(rng.nextGaussian().toFloat))
    def doctored(base: Seq[java.lang.Float], i: Int, v: java.lang.Float) =
      base.updated(i, v)
    val rows: Seq[Row] = (0L until 12L).map(i => Row(i, vec())) ++ Seq(
      Row(20L, doctored(vec(), 3, java.lang.Float.valueOf(Float.NaN))),
      Row(21L, doctored(vec(), 5, null)),
      Row(22L, doctored(vec(), 0, java.lang.Float.valueOf(Float.PositiveInfinity))),
      Row(23L, doctored(vec(), 7, java.lang.Float.valueOf(2.5e3f))))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val dir = tempDir("graft-badvec").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the quantized queries exclude all four (envelope |x| ≤ 1000); the
    // float-path queries exclude only the NaN/null-element pair — an
    // Inf norm is degenerate, but a big FINITE component (23) is a
    // legitimate float vector there
    for ((q, malformed) <- Seq(
        graft.operators.Similarity.simTopkDot -> Set(20L, 21L, 22L, 23L),
        graft.operators.Similarity.simTopkCosineQ -> Set(20L, 21L, 22L, 23L),
        graft.operators.Similarity.simLshTopk -> Set(20L, 21L, 22L),
        graft.operators.Similarity.simIvfTopk -> Set(20L, 21L, 22L))) {
      val out = q.run(spark, dir).collect() // must not throw
      assert(out.nonEmpty, s"${q.name} returned nothing for the healthy rows")
      val nids = out.map(_.getAs[Long]("nid")).toSet
      assert((nids intersect malformed).isEmpty,
        s"${q.name} ranked a malformed vector as a neighbor")
    }
    // the embedding dedup path (band kernel + cosine verify) too
    val dd = graft.operators.Similarity.ddEmbedding.run(spark, dir).collect()
    val ddIds = dd.flatMap(r =>
      Seq(r.getAs[Long]("vec_id"), r.getAs[Long]("keeper"))).toSet
    assert((ddIds intersect Set(20L, 21L)).isEmpty,
      "dd_embedding paired a NaN/null-element vector")
  }

  test("featureMemoLevel=NONE disables the corpus-frame memo; a bogus level fails loudly") {
    import graft.operators.{RunCaches, Similarity}
    // the 100 TB relief valve: with the memo off, dedup queries still
    // answer (build-per-call) and NOTHING lands in the cache manager —
    // a corpus-scale persist past the cluster's storage is the failure
    // the conf exists to avoid
    RunCaches.clearAll()
    spark.conf.set("spark.graft.featureMemoLevel", "NONE")
    try {
      val r = Similarity.ddMinhash.run(spark, sf001).collect()
      assert(r.nonEmpty)
      assert(RunCaches.memoSize === 0,
        "memo must stay empty under featureMemoLevel=NONE")
    } finally spark.conf.unset("spark.graft.featureMemoLevel")
    // an unknown level is a conf typo — loud, not a silent default
    spark.conf.set("spark.graft.featureMemoLevel", "BOGUS_LEVEL")
    try intercept[IllegalArgumentException] {
      Similarity.ddMinhash.run(spark, sf001).collect()
    } finally spark.conf.unset("spark.graft.featureMemoLevel")
    // default path restores memoization
    assert(Similarity.ddMinhash.run(spark, sf001).collect().nonEmpty)
    assert(RunCaches.memoSize >= 1)
  }

  test("JDBC timestamp-without-time-zone events arrive zone-free (preferTimestampNTZ)") {
    // a relational store's naive timestamp column must decode to the
    // SAME instants as the parquet nanos path regardless of the JVM
    // zone: the reader requests NTZ so tsAsNanos' zone-free branch
    // handles it (plain TIMESTAMP materializes through the JVM default
    // zone — the silent-shift hazard the NTZ branch documents)
    val db = tempDir("graft-derby-ts").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    try {
      val evs = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-15 10:30:00.123"), 7L, "view", 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-16 00:00:00.0"), 8L, "purchase", 2.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      evs.write.mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "events").save()
      val got = Tables(spark, url).events
        .select($"event_id", $"ts_ms").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the wall clocks above are UTC instants (session zone is UTC):
      // 2024-01-15T10:30:00.123Z and 2024-01-16T00:00:00Z
      assert(got(1L) === 1705314600123L)
      assert(got(2L) === 1705363200000L)
    } finally
      scala.util.Try(
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")): Unit
  }

  test("LSH and IVF top-k recall vs the exact cosine baseline at sf0.001") {
    def pairs(q: QueryDef): Set[(Long, Long)] =
      q.run(spark, sf001).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val exact = pairs(graft.operators.Similarity.simTopkCosine)
    assert(exact.size === 25) // 5 queries x top-5
    val lsh = pairs(graft.operators.Similarity.simLshTopk)
    val ivf = pairs(graft.operators.Similarity.simIvfTopk)
    val lshRecall = (exact intersect lsh).size.toDouble / exact.size
    val ivfRecall = (exact intersect ivf).size.toDouble / exact.size
    info(f"LSH recall: $lshRecall%.2f  IVF recall: $ivfRecall%.2f")
    assert(lshRecall >= 0.8, f"LSH recall $lshRecall%.2f below floor")
    assert(ivfRecall >= 0.8, f"IVF recall $ivfRecall%.2f below floor")
  }

  test("w6 tier cascade: the in-range as-of exercises all four multiplier tiers") {
    // the dead-branch class r12 found on a7: an as-of past the data's
    // date range leaves the low tiers of the cascade permanently
    // unexercised by the oracle gate — a swapped threshold would pass
    // forever. Pin that every tier actually occurs on the test corpus.
    val vals = QueryDef.catalogs.find(_.name == "w6_tier_multiplier").get
      .run(spark, sf001).select("multiplier_bps")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(vals === Set(10000L, 12000L, 15000L, 20000L),
      s"tiers exercised: $vals — the oracle gate is blind to the missing branches")
  }

  test("A14b HLL approx distinct stays within 5% of the exact count") {
    val exact = QueryDef.catalogs.find(_.name == "a14_distinct_count").get
      .run(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = QueryDef.catalogs.find(_.name == "a14_approx_distinct").get
      .run(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / math.max(1L, n) <= 0.05,
        s"$k: approx $a vs exact $n")
    }
  }

  test("quality-gate sketch tier tracks the exact per-language median gate") {
    // the pairing discipline of a15_percentile_disc/_approx applied to the
    // corpus gate: both tiers threshold the SAME scored frame, so the only
    // permitted divergence is the sketch's accuracy-bounded cutoff
    val exact = QueryDef.catalogs.find(_.name == "pipe_quality_gate").get
      .run(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val approx = QueryDef.catalogs.find(_.name == "pipe_quality_gate_approx").get
      .run(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val exactMed = exact.map(r => r._2 -> r._4).toMap
    val approxMed = approx.map(r => r._2 -> r._4).toMap
    assert(approxMed.keySet === exactMed.keySet)
    for ((lang, e) <- exactMed) {
      val a = approxMed(lang)
      assert(math.abs(a - e).toDouble <= math.max(1.0, 0.02 * e),
        s"$lang: sketch median $a vs exact $e")
    }
    // the gate itself is exact given its threshold: approx output ==
    // every scored doc at-or-above the sketch cutoff (brute-forced from
    // the documents table with the txt_quality formula)
    val stops = Set("the", "a", "and", "of", "to", "in", "is")
    val docs = Tables(spark, sf001).documents.select($"doc_id", $"lang", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = docs.flatMap { case (id, lang, text) =>
      val nWords = text.split(" ").count(_.nonEmpty).toLong
      val stopCnt = text.toLowerCase.split(" ").count(stops.contains).toLong
      if (nWords == 0L) None
      else {
        val score = math.min(100L, nWords * 2L) + math.min(50L, stopCnt * 5L)
        approxMed.get(lang).filter(score >= _).map(m => (id, lang, score, m))
      }
    }.sortBy(_._1).toSeq
    assert(approx.toSeq === want)
  }

  test("salted skew join equals the plain join on a hot-keyed input") {
    // one pathological key (90% of rows, including byte-identical rows —
    // the degenerate case a content-hash salt would NOT fan out) + a tail
    val hot = (1 to 3000).map(i => (7L, (i % 5).toLong)) // only 5 distinct payloads
    val tail = (1 to 300).map(i => ((i % 20).toLong + 100L, i.toLong))
    val facts = (hot ++ tail).toDF("k", "payload")
    val dims = ((7L, "hot") +: (100L to 119L).map(k => (k, s"d$k"))).toDF("k", "name")
    val plain = facts.join(dims, "k")
    val salted = graft.operators.SkewJoin.saltedJoin(facts, dims, "k", n = 8)
    assert(salted.count() === plain.count())
    val a = salted.orderBy($"k", $"payload").collect().map(_.toSeq).toSeq
    val b = plain.select(salted.columns.map(col).toIndexedSeq: _*)
      .orderBy($"k", $"payload").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("S2 fixed-offset decode round-trips through the binary record") {
    val out = graft.operators.BinaryOps.s2DecodeFixed.run(spark, sf001)
      .limit(5).collect()
    assert(out.nonEmpty)
    val src = spark.read.parquet(s"$sf001/orders.parquet")
      .orderBy($"o_orderkey").limit(5)
      .select($"o_orderkey", $"o_custkey").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      src.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("PPM codec: encode produces a parseable P6 file, decode rejects corrupt ones") {
    import graft.operators.Multimodal.{ppmEncode, ppmDecode}
    // hand-computed: payload [1,2,3,4] cycled over 2x1 px = bytes 1,2,3,4,1,2
    // → R: 1+4, G: 2+1, B: 3+2
    val file = ppmEncode(Array[Byte](1, 2, 3, 4), 2, 1)
    assert(new String(file.take(9), "US-ASCII") === "P6\n2 1\n25")
    val f = ppmDecode(file)
    assert(f === graft.operators.PpmFeatures(2, 1, 5L, 3L, 5L))
    // empty payload → gray 128s
    val gray = ppmDecode(ppmEncode(Array.empty[Byte], 3, 2))
    assert(gray === graft.operators.PpmFeatures(3, 2, 6 * 128L, 6 * 128L, 6 * 128L))
    // high bytes read unsigned: payload 0xFF over 1x1 → 255 per channel
    val hi = ppmDecode(ppmEncode(Array[Byte](0xff.toByte), 1, 1))
    assert(hi === graft.operators.PpmFeatures(1, 1, 255L, 255L, 255L))
    // corrupt inputs a codec must reject, not misparse
    assert(ppmDecode("P5\n2 1\n255\nxxxxxx".getBytes("US-ASCII")) === null) // wrong magic
    assert(ppmDecode(file.dropRight(1)) === null)                           // truncated pixels
    assert(ppmDecode("P6\n2 1\n254\n".getBytes("US-ASCII") ++
      Array.fill[Byte](6)(0)) === null)                                     // wrong maxval
    assert(ppmDecode(Array.empty[Byte]) === null)
    // LONG-level overflow in the truncation guard (r13 sweep): dims of
    // Int.MaxValue each make 3L*w*h wrap negative, which accepted this
    // 29-byte file and crashed the decoder with an array read instead
    // of returning null (the fuzzer's <=200 random bytes can't reach a
    // parseable header this shape)
    assert(ppmDecode("P6\n2147483647 2147483647\n255\n".getBytes("US-ASCII")) === null)
    assert(graft.operators.Multimodal.ppmAvgHash(
      "P6\n2147483647 2147483647\n255\n".getBytes("US-ASCII")) === null)
  }

  test("ppmAvgHash: planted near-dup images land under the hamming threshold, unrelated far over") {
    import graft.operators.Multimodal.{ppmEncode, ppmAvgHash}
    def hamming(a: Array[Int], b: Array[Int]): Int =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    // a 16×8 ramp image: gray varies smoothly, so the 8×8 grid has a
    // definite bright/dark structure for the mean threshold to bisect
    val ramp = Array.tabulate[Byte](384)(i => (i % 192).toByte)
    val base = ppmAvgHash(ppmEncode(ramp, 16, 8))
    assert(base != null && base.length === 8)
    assert(base.forall(b => b >= 0 && b <= 255), "bands must be 8-bit values")
    assert(base.exists(_ != 0) && base.exists(_ != 255),
      "degenerate all-0/all-1 hash cannot discriminate")
    // identical bytes → identical hash (the exact-dup anchor)
    assert(hamming(base, ppmAvgHash(ppmEncode(ramp, 16, 8))) === 0)
    // planted near-dup: one payload byte nudged by +1 moves one sampled
    // cell's gray by ≤ 1 — at most a cell sitting exactly on the mean
    // flips, so the pair must stay under the dd_simhash-style ≤ 6 gate
    val nearDup = ramp.clone(); nearDup(37) = (nearDup(37) + 1).toByte
    val hNear = hamming(base, ppmAvgHash(ppmEncode(nearDup, 16, 8)))
    assert(hNear <= 6, s"planted near-dup scored hamming $hNear > 6")
    // photometric inversion flips every gray comparison → far over the
    // gate (the unrelated-image anchor)
    val inverted = ramp.map(b => (255 - (b & 0xff)).toByte)
    val hInv = hamming(base, ppmAvgHash(ppmEncode(inverted, 16, 8)))
    assert(hInv > 6, s"inverted image scored hamming $hInv <= 6")
    // malformed files rejected exactly like ppmDecode (shared header parse)
    assert(ppmAvgHash("P5\n2 1\n255\nxxxxxx".getBytes("US-ASCII")) === null)
    assert(ppmAvgHash(ppmEncode(ramp, 16, 8).dropRight(1)) === null)
    // empty payload → uniform 128s → no cell exceeds the mean → all-zero
    // bands on BOTH engines (the len = 0 oracle branch)
    assert(ppmAvgHash(ppmEncode(Array.empty[Byte], 5, 4)).forall(_ === 0))
  }

  test("events NTZ tier: ts is timezone-free — a non-UTC driver session reads the same instants") {
    // naive parquet timestamp[us] (a pandas/pyarrow writer's emission) must
    // yield the same epoch-nanos under ANY session timezone: a bare
    // NTZ→TIMESTAMP cast would shift every instant by the zone offset in a
    // driver-owned non-UTC session — the silent-corruption class
    // Tables.tsAsNanos exists to block. The decomposition must also be
    // exact on fractional micros and pre-1970 wall-clocks.
    val dir = tempDir("graft-ntz").toString
    spark.sql(
      """SELECT * FROM VALUES
           (1L, TIMESTAMP_NTZ '2024-03-01 12:34:56.789012', 7L),
           (2L, TIMESTAMP_NTZ '1969-12-31 23:59:59.000001', 8L)
         AS t(event_id, ts, amount)""")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    import java.time.{LocalDateTime, ZoneOffset}
    def nanosUtc(s: String): Long = {
      val t = LocalDateTime.parse(s)
      t.toEpochSecond(ZoneOffset.UTC) * 1000000000L + t.getNano
    }
    val exp = Seq(nanosUtc("2024-03-01T12:34:56.789012"),
      nanosUtc("1969-12-31T23:59:59.000001"))
    def read(s: org.apache.spark.sql.SparkSession): Seq[Long] =
      Tables(s, dir).events.orderBy("event_id")
        .select("ts").collect().map(_.getLong(0)).toSeq
    assert(read(spark) === exp, "UTC session must read the stored micros")
    val foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert(read(foreign) === exp,
      "a non-UTC session must read IDENTICAL instants — zone must not participate")
    // r12: formatting must be zone-free too, not just the read —
    // f_datetime's day/hour/minute decomposition previously rendered
    // the instant in the session zone, shifting every row under a
    // non-UTC driver session while the oracle's naive strftime did not
    val utcRows = graft.operators.Relational.fDatetime.run(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val foreignRows = graft.operators.Relational.fDatetime.run(foreign, sf001)
      .collect().map(_.toSeq).toSeq
    assert(foreignRows === utcRows,
      "f_datetime must decompose identically in any session zone")
  }

  test("kernel lowercase matches the builtin lower() under a Turkish-locale JVM") {
    // the fused tokenizer kernels (minhash/simhash banding, shingles)
    // must tokenize byte-identically to Text.tokens' builtin `lower`,
    // or a doc can band without verifying (and vice versa). Spark's
    // lower() is ASCII-fast-path + DEFAULT-locale String.toLowerCase
    // for non-ASCII strings — so the old Locale.ROOT kernels diverged
    // exactly where this test sits: dotted-I under tr_TR. local[*]
    // executes in this JVM, so setDefault reaches the builtin's path.
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val s = "VIRTUAL INDEX ĞÜNEŞI" // non-ASCII → builtin takes the slow path
      val viaBuiltin = Seq(Tuple1(s)).toDF("text")
        .select(lower($"text")).head().getString(0)
      assert(graft.operators.Text.lowerLikeSpark(s) === viaBuiltin,
        "kernel lowercase must track the builtin in every locale")
      assert(s.toLowerCase(java.util.Locale.ROOT) !== viaBuiltin,
        "precondition: ROOT actually diverges here — else this test is vacuous")
      // pure-ASCII strings ride the fast path in both: identical too
      val a = "The QUICK Brown FOX"
      assert(graft.operators.Text.lowerLikeSpark(a) ===
        Seq(Tuple1(a)).toDF("text").select(lower($"text")).head().getString(0))
    } finally java.util.Locale.setDefault(prev)
  }

  test("JSON integer extraction folds overflow/non-integral tokens to null, not a crash (ADVICE r12)") {
    val rows = Seq(
      """{"k": 7}""",                    // in-range
      """{"k": 9223372036854775807}""",  // Long.Max — 19 digits, still valid
      """{"k": 99999999999999999999}""", // 20 digits — out of Long range
      """{"k": 1.9}""",                  // non-integral
      """{"k": "7"}""")                  // JSON string, not a number
      .toDF("props")
    // f_json_struct shape: permissive from_json NULLS the overflow row
    // (this is the exact behavior the oracle's TRY_CAST now mirrors —
    // a plain CAST there would error the whole oracle query instead)
    val structed = rows
      .withColumn("j", from_json($"props", lit("struct<k: bigint>")))
      .select(coalesce($"j.k", lit(-1L)).as("k_or_default"))
      .collect().map(_.getLong(0)).toSeq
    assert(structed === Seq(7L, Long.MaxValue, -1L, -1L, -1L))
    // f_json_extract / f_json_scan shape: the 18-digit-bounded shape
    // guard rejects the overflow token BEFORE the ANSI cast can throw;
    // the oracle carries the identical bound so both sides agree. The
    // JSON string "7" extracts as 7: get_json_object UNQUOTES string
    // values exactly as DuckDB's json_extract_string does — the typed
    // from_json path above rejects it, and both differences are
    // oracle-mirrored per query.
    val extracted = rows
      .withColumn("k_str", get_json_object($"props", "$.k"))
      .select(when($"k_str".rlike("^-?[0-9]{1,18}$"),
        $"k_str".cast("long")).as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(extracted === Seq(Some(7L), None, None, None, Some(7L)))
  }

  test("ST2b winner argmax must skip NULL bids: Spark's struct min sorts a null field FIRST") {
    val df = Seq((Option(5.0), 10L), (Option.empty[Double], 7L), (Option(9.0), 20L))
      .toDF("value", "event_id")
    // precondition: the UNguarded struct-min elects the null-bid row
    // (null nv sorts first in Spark; DuckDB sorts it last — the exact
    // cross-engine divergence the isNotNull guard closes, r13 sweep)
    val unguarded = df
      .agg(min(struct((-$"value").as("nv"), $"event_id".as("eid"))).as("ws"))
      .select($"ws.eid").head().getLong(0)
    assert(unguarded === 7L, "precondition gone: struct-min null ordering changed")
    // the shipped guarded form picks the real max bid, ties to low id
    val guarded = df
      .agg(min(when($"value".isNotNull,
        struct((-$"value").as("nv"), $"event_id".as("eid")))).as("ws"))
      .select($"ws.eid").head().getLong(0)
    assert(guarded === 20L)
  }

  test("IVF quantizer survives null-element and ragged seed vectors (r13 re-sweep)") {
    // embeddings fixture: 20 clean 4-dim vectors, one with a NULL
    // element inside the seed range (previously an NPE in centroid
    // collection), one ragged 2-dim vector (previously cell-assigned
    // from a partial dot; must be excluded as malformed instead)
    val dir = tempDir("graft-ivfnull").toString
    val rows = (0L until 20L).map { i =>
      (i, Seq[java.lang.Float](1f + i, 2f, 3f, 4f).map(Option(_)), 0)
    } :+ ((20L, Seq[Option[java.lang.Float]](Some(1f), None, Some(3f), Some(4f)), 0)) :+
      ((21L, Seq[java.lang.Float](9f, 9f).map(Option(_)), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idx = tempDir("graft-ivfnull-idx").toString
    val cents = graft.operators.Similarity.writeIvfIndex(spark, dir, idx, nCells = 4)
    assert(cents.nonEmpty, "training must survive the degenerate rows")
    // the stored index contains only well-formed full-dimension vectors
    val stored = spark.read.parquet(idx).select($"vec_id")
      .collect().map(_.getLong(0)).toSet
    // EXACT set, not subsetOf: the subset form permitted the
    // null-element vector (20) in the index — the regression this test
    // exists to pin — and also passed on an empty index (r13 test sweep)
    assert(stored === (0L until 20L).toSet,
      s"index must hold exactly the 20 well-formed vectors, got $stored")
  }

  test("pipe_e2e composition invariants hold stage by stage (r17)") {
    // the DuckDB oracle proves exact equality at gate time; these
    // invariants guard the COMPOSITION between gate runs — a refactor
    // that breaks a stage's contract fails here without an oracle.
    val out = operators.PipelineE2E.pipeE2e.run(spark, sf001).collect()
    assert(out.nonEmpty, "sf0.001 fixture must keep at least one survivor")
    val clean = operators.Text.pipeCorpusClean.run(spark, sf001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = graft.Tables(spark, sf001).documents
      .select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    val byLang = out.groupBy(_.getString(2))
    for (r <- out) {
      val (id, src, lang) = (r.getLong(0), r.getString(1), r.getString(2))
      // stage 1: every survivor passed cleaning (subset of the standalone twin)
      assert(clean.contains(id), s"doc $id skipped the cleaning gate")
      // stage 2: the held-out stratum never reaches the training flow
      assert(src != "src0", s"held-out doc $id leaked through decontamination")
      assert(docs(id)._1 == src && docs(id)._2 == lang,
        s"doc $id carries columns that disagree with the corpus")
      // stage 4: score >= its own row's stated per-language median
      assert(r.getLong(3) >= r.getLong(4),
        s"doc $id scored ${r.getLong(3)} below its lang_median ${r.getLong(4)}")
      // stage 5: the deterministic sample rule is a pure row predicate
      val key4 = org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(4)
      val even = scala.util.Try(src.drop(3).toInt % 2 == 0).getOrElse(false)
      assert(key4 < (if (even) "4000" else "8000"),
        s"doc $id violates the stratified keep rule")
      // stage 6: position = rank x stride for the row's source parity
      val stride = if (even) 3L else 1L
      assert(r.getLong(6) == r.getLong(5) * stride,
        s"doc $id position != rn x stride")
      // stage 7: tokens and bin assignment restate the packing rule
      assert(r.getLong(7) == docs(id)._3 / 4, s"doc $id tokens != n_chars div 4")
      assert(r.getLong(9) == r.getLong(8) / 2048L, s"doc $id bin != start_off div 2048")
    }
    for ((lang, rows) <- byLang) {
      // stage 4 medians are one value per surviving language stratum
      assert(rows.map(_.getLong(4)).distinct.length == 1,
        s"stratum $lang carries multiple medians")
      // stage 7: within a language, start offsets are the exclusive
      // prefix sum of tokens in doc_id order
      val sorted = rows.sortBy(_.getLong(0))
      var acc = 0L
      for (r <- sorted) {
        assert(r.getLong(8) == acc,
          s"doc ${r.getLong(0)} start_off ${r.getLong(8)} != running sum $acc")
        acc += r.getLong(7)
      }
    }
    // stage 6: per-source ranks are dense 1..n (the mix contract that
    // makes every prefix composition-exact)
    for ((_, rows) <- out.groupBy(_.getString(1)))
      assert(rows.map(_.getLong(5)).sorted.toSeq == (1L to rows.length).toSeq,
        "per-source ranks are not dense 1..n")
  }

  test("kernel fingerprint: deterministic, knob-sensitive, embedded in every family prefix") {
    import graft.operators.{IngestIncr, Similarity}
    // pure fp properties: stable across calls, 16-hex (64-bit — ADVICE
    // r19: 32 bits left a ~2^-32 silent stale-index collision), one
    // knob moves it
    val a = Similarity.kernelFp("bands" -> 8, "hashes" -> 32)
    assert(a === Similarity.kernelFp("bands" -> 8, "hashes" -> 32))
    assert(a.matches("[0-9a-f]{16}"), s"fp shape: $a")
    assert(a !== Similarity.kernelFp("bands" -> 16, "hashes" -> 32))
    assert(a !== Similarity.kernelFp("bands" -> 8, "hashes" -> 64))
    // the published index paths embed the CURRENT kernel fp — the
    // mechanism that retires the mh2/sh2 hand-bump discipline (r19):
    // editing a banding/gate/threshold constant changes the fp, which
    // moves the whole index base, so a stale-kernel index can never
    // version-match a post-change probe
    val (pm, _) = VersionedIndex.ensure(Similarity.minhashIncr, spark, sf001)
    assert(pm.contains(s"mh2-${Similarity.minhashKernelFp}"),
      s"minhash index path $pm must carry the kernel fp")
    val (pp, _) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    assert(pp.contains(s"mhp1-${IngestIncr.pipeIngestKernelFp}"),
      s"pipe-ingest index path $pp must carry the composed kernel fp")
    // the composed fp transitively covers the gate and minhash kernels:
    // its id embeds their fps, so a change there moves this family too
    val ids = IngestIncr.pipeIngestKernelId.toMap
    assert(ids("gates") === Similarity.kernelFp(graft.operators.Text.gatesKernelId: _*))
    assert(ids("mh") === Similarity.minhashKernelFp)
  }

  test("kernel fingerprint: a knob change rebuilds exactly once; the stale index is never served") {
    import graft.operators.Similarity
    // isolated base so the planted families can't interact with the
    // shared published-index tests
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.minhash.indexBase",
      tempDir("graft-kfp-itest").toString)
    var builds = 0
    def ensure(fp: String): (String, Long) =
      VersionedIndex.ensureVersioned(s2, sf001, s"kfp-$fp", Seq("part")) {
        (staging, _, _) =>
          builds += 1
          s2.range(1).toDF("x").write.parquet(s"$staging/part")
      }
    val fpA = Similarity.kernelFp("knob" -> 1)
    val fpB = Similarity.kernelFp("knob" -> 2)
    val (pa1, _) = ensure(fpA)
    val (pa2, _) = ensure(fpA)
    assert(pa1 === pa2, "same kernel must adopt the published index")
    assert(builds === 1, "same kernel must not rebuild")
    // ONE knob changes → ONE rebuild under a NEW base; further probes
    // adopt it (invalidated exactly once, the r18 verdict's bar)
    val (pb1, _) = ensure(fpB)
    assert(builds === 2, "a kernel change must force a rebuild")
    assert(pb1 !== pa1, "the new kernel's index must live under a new base")
    val (pb2, _) = ensure(fpB)
    assert(pb1 === pb2)
    assert(builds === 2, "the post-change index must be adopted, not rebuilt again")
    // the stale index still exists (a dead tree that ages out) but its
    // base name can never match the new kernel's probe
    assert(new java.io.File(pa1, "_PUBLISHED").isFile,
      "the stale-kernel index survives as an orphaned tree (never served)")
  }
}
