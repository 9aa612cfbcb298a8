package graft

/** Physical-plan regression locks: the scale properties the engine is
  * designed around, asserted on executed plans so a refactor that silently
  * loses pushdown / broadcast / partial aggregation fails CI instead of
  * surfacing as a 100× slowdown at cluster scale. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    QueryDef.catalogs.find(_.name == name).get.run(spark, sf001)
      .queryExecution.executedPlan.toString

  test("q1_agg: shipdate predicate reaches the parquet scan and aggregation is partial") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("partial_sum"))
  }

  test("j2_broadcast_lookup: dim side is broadcast, not shuffled") {
    val p = plan("j2_broadcast_lookup")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastExchange"))
  }

  test("j1_fk_join: fact-fact join is a sort-merge join, never a broadcast") {
    val p = plan("j1_fk_join")
    // both sides grow with the data: a BuildLeft broadcast of orders (the
    // sf1 estimate-boundary flip) is the plan that falls over at 100×
    assert(p.contains("SortMergeJoin"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("BroadcastHashJoin"))
    // the joined frame is memoized below the mandated global sort (r17):
    // without it the range sampler executes the fact-fact join twice
    assert(p.contains("InMemoryRelation"), "j1 join memo lost")
  }

  test("crypto_nullifier_dedup: hash runs once per DISTINCT pair, agg memoized below the sort") {
    // cold memo: a prior suite's warm frame would make the plan print
    // the cached relation's stored (possibly truncated/adaptive) tree
    // instead of the build shape this test audits
    operators.RunCaches.clearAll()
    val p = plan("crypto_nullifier_dedup")
    // distinct-first (r18): the Poseidon kernel must sit ABOVE a
    // (user_id, epoch_day) pre-aggregation — losing this re-hashes every
    // EVENT (2.5× the field-arithmetic at sf10, the catalog's most
    // expensive kernel) instead of every live pair
    assert(p.contains("hashpartitioning(user_id"),
      "no (user_id, epoch_day) pre-aggregation below the hash:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // and the aggregated frame is memoized below the mandated global
    // sort (the j1 rule): the range sampler must hit the cache, not
    // re-run the kernel+agg subtree
    assert(p.contains("InMemoryRelation"), "nullifier agg memo lost")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events"))
    val cached = p.linesIterator.count(_.contains("InMemoryRelation"))
    assert(scans <= cached,
      s"$scans events FileScans vs $cached cached-plan prints — a consumer bypasses the memo")
  }

  test("st12_rapid_reversal: one owner shuffle feeds every window (lag, running, per-window counters)") {
    val p = plan("st12_rapid_reversal")
    // the lag detector, the running reversal count and the per-(owner,
    // window) counters must all reuse the single hash exchange on owner
    // (partition-local re-sorts only) — a second hash exchange means a
    // window spec stopped aligning with the owner partitioning
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1, s"expected 1 owner exchange, got $hashExchanges:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window"), "lag/running windows missing")
  }

  test("j12_range_count: event-type filters reach both parquet scans") {
    val p = plan("j12_range_count")
    // each side of the banded self-join must scan only its event class —
    // losing this pushdown doubles both scan volumes at 100 TB
    assert(p.contains("EqualTo(event_type,purchase)"), "purchase filter not pushed")
    assert(p.contains("EqualTo(event_type,view)"), "view filter not pushed")
  }

  test("txt_vocab_topk: df counting partially aggregates and prunes the scan") {
    val p = plan("txt_vocab_topk")
    assert(p.contains("partial_count"), "map-side combine missing on (lang, token)")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // nonEmpty first: an absent/renamed ReadSchema marker must fail loudly,
    // not make the negative checks below vacuously true
    assert(readSchema.nonEmpty, "no ReadSchema line in the executed plan")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source") &&
      !readSchema.contains("doc_id"),
      s"scan reads more than (text, lang): $readSchema")
  }

  test("p1_projection: scan is pruned to the projected columns") {
    val p = plan("p1_projection")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // narrow read — the full orders schema would include o_orderdate
    assert(readSchema.nonEmpty && !readSchema.contains("o_orderdate"), readSchema)
  }

  test("dd_minhash: keeper election partially aggregates before its exchange") {
    val p = plan("dd_minhash")
    assert(p.contains("partial_min"))
  }

  test("similarity ranking is a partial top-k aggregation, never a per-query window") {
    for (n <- Seq("sim_topk_dot", "sim_topk_cosine", "sim_topk_cosine_q",
        "sim_lsh_topk", "sim_ivf_topk")) {
      val p = plan(n)
      // map-side bounded heap before the exchange: the shuffle carries k
      // rows per (partition, qid) instead of the whole candidate set
      assert(p.contains("partial_topkaggregator"), s"$n: no partial top-k agg")
      // the old shape: Window.partitionBy(qid) = full-corpus sort in
      // (number of queries) single tasks
      assert(!p.contains("Window"), s"$n: window ranking crept back")
    }
  }

  test("w3_recent_topk: bounded heap partially aggregates, no ranking window") {
    val p = plan("w3_recent_topk")
    // the windowed twin sorts every user's full event slice; the heap form
    // must ship at most 3 rows per (partition, user) through the exchange
    assert(p.contains("partial_topkaggregator"), "no partial top-k agg")
    assert(!p.contains("Window"), "window ranking crept back")
  }

  test("sim_ivf_topk: cell assignment is a per-row kernel, not a shuffle on vec_id") {
    val p = plan("sim_ivf_topk")
    // the join-explode form shuffled corpus×nCells full-width rows to pick
    // each vector's argmax cell via a per-vec_id window
    assert(!p.contains("hashpartitioning(vec_id"), "vec_id exchange crept back")
  }

  test("dedup family: every corpus scan reads the cached feature frame") {
    // every InMemoryTableScan consumer re-prints the cached plan (whose one
    // FileScan runs only on first materialization), so a bypassing consumer
    // shows up as MORE corpus FileScan lines than InMemoryRelation lines
    for ((n, table) <- Seq("dd_minhash" -> "documents.parquet",
        "dd_simhash" -> "documents.parquet", "dd_embedding" -> "embeddings.parquet",
        // r8: the image-dedup hash frame joined the same registry — its
        // three consumers (banding + two hash join-backs) must all read
        // the cached frame, not re-run the PPM encode + hash kernel
        "mm_phash_dedup" -> "documents.parquet",
        // r8: the incremental probe's increment-slice frame is cached too
        "dd_minhash_incr" -> "documents.parquet",
        "dd_simhash_incr" -> "documents.parquet",
        "pipe_ingest_incr" -> "documents.parquet",
        "mm_phash_incr" -> "documents.parquet",
        "dd_embedding_incr" -> "embeddings.parquet")) {
      val p = plan(n)
      val scans = p.linesIterator.count(l =>
        l.contains("FileScan parquet") && l.contains(table))
      val cached = p.linesIterator.count(_.contains("InMemoryRelation"))
      assert(cached >= 1, s"$n: feature frame no longer cached")
      assert(scans <= cached,
        s"$n: $scans $table FileScans vs $cached cached-plan prints — a consumer bypasses the cache")
    }
  }

  test("dd_minhash_incr: index read is partition-pruned, increment scan pushes doc_id") {
    val p = plan("dd_minhash_incr")
    // the probe may read ONLY the (band, bshard) index partitions the
    // increment's own banding touches — that pruning is the entire
    // incremental-ingest win, so it is locked at the plan level
    // match on the layout's partition column (bshard), not the "/bands"
    // path suffix: explain() truncates long Location paths, and the index
    // path grew a collision-proof hash component in r9
    val bandsScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("bshard"))
      .getOrElse("")
    assert(bandsScan.nonEmpty, "no band-index scan in the plan:\n" +
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    assert(bandsScan.contains("PartitionFilters: [") &&
      !bandsScan.contains("PartitionFilters: []"),
      s"band-index read is not partition-pruned: $bandsScan")
    // the keeper-tokens side table holds ~every corpus doc's token set
    // (most docs are the min of their own singleton buckets), so its
    // read must be tshard-pruned too or the verify join is corpus-scale
    // I/O and the "incremental" contract is fiction
    val toksScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("tshard"))
      .getOrElse("")
    assert(toksScan.nonEmpty, "no keeper-toks scan in the plan:\n" +
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    assert(toksScan.contains("PartitionFilters: [") &&
      !toksScan.contains("PartitionFilters: []"),
      s"keeper-toks read is not partition-pruned: $toksScan")
    // and the increment's documents read must push its id filter into
    // the parquet scan — probe time never reads the corpus proper
    assert(p.contains("GreaterThanOrEqual(doc_id"),
      "increment doc_id filter not pushed to the documents scan")
  }

  test("dd_simhash_incr: index read is partition-pruned, increment scan pushes doc_id") {
    assertIncrProbePlan(plan("dd_simhash_incr"), "sshard")
  }

  test("pipe_ingest_incr: every index read is pruned, increment scan pushes doc_id") {
    val p = plan("pipe_ingest_incr")
    // the minhash-family halves carry the family contract…
    assertIncrProbePlan(p, "tshard")
    // …and the composed probe's OWN state read — the exact-dup
    // fingerprint table — must be fshard-pruned too, or every ingest
    // pays a full fps scan and the probe is index-scale only by luck
    val fpsScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("fshard"))
      .getOrElse("")
    assert(fpsScan.nonEmpty, "no fps scan in the plan:\n" +
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    assert(fpsScan.contains("PartitionFilters: [") &&
      !fpsScan.contains("PartitionFilters: []"),
      s"fps read is not partition-pruned: $fpsScan")
  }

  test("mm_phash_incr: index read is partition-pruned, increment scan pushes doc_id") {
    assertIncrProbePlan(plan("mm_phash_incr"), "pshard")
  }

  test("dd_embedding_incr: index read is partition-pruned, increment scan pushes vec_id") {
    assertIncrProbePlan(plan("dd_embedding_incr"), "vshard", idCol = "vec_id")
  }

  /** The incremental-probe plan contract every VersionedIndex family
    * must carry: pruned bands read, pruned
    * keeper-feature read, pushed increment id filter. */
  private def assertIncrProbePlan(p: String, featShard: String,
      idCol: String = "doc_id"): Unit = {
    val bandsScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("bshard"))
      .getOrElse("")
    assert(bandsScan.nonEmpty, "no band-index scan in the plan:\n" +
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    assert(bandsScan.contains("PartitionFilters: [") &&
      !bandsScan.contains("PartitionFilters: []"),
      s"band-index read is not partition-pruned: $bandsScan")
    val featScan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains(featShard))
      .getOrElse("")
    assert(featScan.nonEmpty, "no keeper-feature scan in the plan:\n" +
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    assert(featScan.contains("PartitionFilters: [") &&
      !featScan.contains("PartitionFilters: []"),
      s"keeper-feature read is not partition-pruned: $featScan")
    assert(p.contains(s"GreaterThanOrEqual($idCol"),
      s"increment $idCol filter not pushed to the corpus scan")
  }

  test("a5_cube_matrix: cube expands then aggregates partially (map-side combine)") {
    val p = plan("a5_cube_matrix")
    assert(p.contains("Expand"))
    assert(p.contains("partial_sum"))
  }

  test("scale tier: percentile and packing windows share one key exchange; sampler shuffles nothing") {
    // a15_percentile_disc (r14 histogram form): ONE partial-aggregating
    // (flag, price) histogram exchange, then ONE flag exchange whose
    // running-sum window walks only the DISTINCT prices — exactly two
    // hash exchanges. The pre-r14 single-exchange form was the trap this
    // count now guards against in the other direction: it ran
    // row_number over ALL rows, putting each flag's entire row set in
    // one WindowExec task (116 s at sf10). A third exchange means the
    // window specs stopped aligning; partial_count is the histogram's
    // map-side combine.
    val pPct = plan("a15_percentile_disc")
    assert(pPct.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2)
    assert(pPct.contains("partial_count"), "histogram lost map-side combine")
    assert(pPct.contains("partial_max"), "percentile extraction lost map-side combine")
    // pipe_pack_tokens: the prefix sum runs on the distributed
    // strataPrefixSum kernel — the final plan must carry NO window and NO
    // hash exchange (the kernel's one range shuffle happens inside the
    // eagerly-built ExistingRDD; a WindowExec here would mean the
    // single-task-per-language realization crept back)
    val pPack = plan("pipe_pack_tokens")
    assert(!pPack.contains("Window"), "pack_tokens regressed to a window prefix sum")
    assert(!pPack.contains("Exchange hashpartitioning"))
    // smp_stratified: a pure row-function filter — no hash exchange at
    // all, and the md5 keep/drop predicate reaches the scan
    val pSmp = plan("smp_stratified")
    assert(!pSmp.contains("Exchange hashpartitioning"), "sampler grew a shuffle")
    assert(pSmp.linesIterator.exists(l => l.contains("FileScan") && l.contains("md5")),
      "sampler predicate no longer at the scan")
  }

  test("redaction stays a pure per-row projection: no hash exchange, patterns at the scan stage") {
    // txt_redact_nums' docstring claims real PII patterns drop in without
    // changing the plan shape — txt_redact_pii is that claim made good,
    // so BOTH must plan as scan → project (+ the presentation sort's
    // range exchange only); a hash exchange would mean the redaction
    // stage grew a shuffle and no longer composes with any partitioning
    for (q <- Seq("txt_redact_nums", "txt_redact_pii")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q grew a hash shuffle")
      assert(!p.contains("Window"), s"$q grew a window")
      assert(!p.contains("Join"), s"$q grew a join")
    }
  }

  test("pipe_decontam: benchmark shingle set is broadcast and hits count partially") {
    val p = plan("pipe_decontam")
    // the small held-out side must broadcast (at 100 TB: a Bloom filter
    // plus this join as the exact pass); the per-doc hit count must
    // combine map-side before the doc_id exchange
    assert(p.contains("BroadcastHashJoin"), "benchmark side no longer broadcast")
    assert(p.contains("partial_count"), "hit count lost map-side combine")
  }

  test("pipe_e2e: one corpus scan feeds every stage through the memo chain") {
    // the composed pipeline's whole point (r17 verdict #3): clean →
    // decontam → near-dup → gate → sample → mix → pack must run off ONE
    // parquet read of documents, with each expensive stage a cached
    // frame. Same audit arithmetic as the dedup family: every
    // InMemoryTableScan re-prints its cached plan (whose FileScan runs
    // only at first materialization), so a stage bypassing the memo
    // chain shows up as more documents FileScan prints than cached-plan
    // prints; and the five stage memos must actually be present.
    // the mix/pack tails run on the eager strata kernels (ExistingRDD in
    // the catalog query's final plan — the documented plan-sweep caveat),
    // so the audit reads the PRE-KERNEL sampled frame: stages 1–5 and the
    // whole memo chain are visible there
    val p = operators.PipelineE2E.sampled(spark, sf001)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    val cached = p.linesIterator.count(_.contains("InMemoryRelation"))
    assert(cached >= 4,
      s"pipe_e2e: expected the stage memos (base/gated/surv1/mhfeat) " +
        s"under the sampled frame, saw $cached InMemoryRelation prints")
    assert(scans <= cached,
      s"pipe_e2e: $scans documents FileScans vs $cached cached-plan prints " +
        "— a stage bypasses the memo chain")
    // no OTHER source table sneaks in: documents is the flow's only input
    assert(!p.contains("orders.parquet") && !p.contains("lineitem.parquet"),
      "pipe_e2e must read only the documents corpus")
  }

  test("catalog sweep: no CartesianProduct; BNLJ only in the bounded-side whitelist") {
    // one pass: each catalog query is planned ONCE and both join-shape
    // checks read the same plan string (planning ~130 queries is the
    // dominant cost of this suite).
    //
    // The whitelist: six queries reach a BroadcastNestedLoopJoin with a
    // side that is bounded BY CONSTRUCTION — a crossJoin(broadcast(...))
    // of a single-row aggregate (a13 envelope total, st7 cutoff, a2b
    // config), or the brute-force similarity baselines' NON-EQUI
    // join(broadcast(<fixed query-vector set>), qid =!= nid) (their scale
    // path is the LSH/IVF tier). A BNLJ anywhere else is an accident: the
    // nested-loop shape that dies at 100 TB when BOTH sides grow with the
    // data (the trap j10/j12 are specifically formulated to avoid).
    val bounded = Set("a13_page_envelope", "st7_ttl_retention",
      "a2b_approval_bps", "sim_topk_dot", "sim_topk_cosine", "sim_topk_cosine_q")
    // NonFatal only — an OOM/LinkageError mid-planning must abort the
    // sweep, not leave it running on a corrupted JVM; and the skipped
    // names are RECORDED so the -5 slack can never hide which queries
    // stopped planning (r13 test sweep)
    val skipped = scala.collection.mutable.ListBuffer.empty[String]
    val plans = QueryDef.catalogs.flatMap { q =>
      try Some(q.name ->
        q.run(spark, sf001).queryExecution.executedPlan.toString)
      catch { case scala.util.control.NonFatal(_) =>
        skipped += q.name; None } // execution errors are CatalogSpec's job
    }.toMap
    // anti-vacuity: a broken fixture/planner must fail HERE, not silently
    // skip every check (the catch above is for individual stragglers)
    assert(plans.size >= QueryDef.catalogs.size - 5,
      s"only ${plans.size}/${QueryDef.catalogs.size} queries planned; " +
        s"skipped: ${skipped.mkString(", ")}")
    val cartesian = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n }
    assert(cartesian.isEmpty, s"cartesian products in: $cartesian")
    val bnlj = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") => n }.toSet
    assert((bnlj -- bounded).isEmpty, s"unvetted nested-loop joins in: ${bnlj -- bounded}")
    // whitelist rot check: every vetted name still plans its bounded BNLJ
    assert((bounded -- bnlj).isEmpty,
      s"whitelisted queries no longer plan a BNLJ (remove them): ${bounded -- bnlj}")
  }

  test("kernelSorted pins an explicit-count range exchange AQE cannot coalesce (r19)") {
    // the crypto_commitment find generalized to the family: AQE
    // coalesces a bare orderBy's range exchange for the SORT's output
    // bytes, blind to the expensive kernel projection kernelSorted
    // deliberately places above it — at sf10 that ran the Poseidon
    // stage on 16 of 32 cores. kernelSorted therefore partitions by an
    // EXPLICIT count (AQE-coalesce-exempt by contract); on this tiny
    // tier a bare orderBy under AQE coalesces to ONE partition, so the
    // count below is a discriminating lock against a revert.
    val expected = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    for (q <- Seq(graft.operators.Text.txtTokens,
        graft.operators.Crypto.cryptoCommitment)) {
      val out = q.run(spark, sf001)
      assert(out.rdd.getNumPartitions === expected,
        s"${q.name}: kernel stage runs on ${out.rdd.getNumPartitions} " +
          s"tasks, not the explicit $expected — the range exchange was " +
          "coalesced (bare orderBy reverted?)")
      // and the explicit exchange preserves the bare-orderBy TOTAL order
      // (the oracle contract): partition-concatenated keys are sorted
      val keyCol = out.columns.head
      val keys = out.select(org.apache.spark.sql.functions.col(keyCol))
        .collect().map(_.getLong(0)).toSeq
      assert(keys === keys.sorted, s"${q.name}: global order broken")
    }
  }
}
