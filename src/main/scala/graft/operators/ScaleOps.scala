package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.FloorTime
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-pattern operators: the join/agg shapes that only matter once the
  * data outgrows one machine — an as-of join, a skew-salted join, exact and
  * sketch percentile tiers, deterministic hash sampling, and token-budget
  * sequence packing. Each is the distributed-first formulation (single
  * shuffle, no quadratic blow-up, no driver collect) with a DuckDB oracle
  * wherever the semantics are exactly SQL-expressible; see SURVEY §2.11.
  *
  * The sampling/packing entries extend the training-data-pipeline tier
  * (SURVEY §2.11 dedup/similarity/text rows): corpus construction at 100 TB
  * needs a sampler whose keep/drop decision is a pure function of the row
  * (re-runnable, engine-portable) and a packer whose bin assignment is a
  * prefix-sum, not a sequential first-fit loop.
  */
object ScaleOps {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)

  /** Generic left as-of join: every `left` row paired with the latest
    * `right` row of the same `key` whose `rightTime <= leftTime` —
    * `right`'s columns come back in a nullable `asof` struct (null when
    * no right row precedes). Same single-shuffle union+window shape as
    * [[j10AsofAttr]], generalized: both sides are tagged and unioned on
    * (key, time), one hash exchange on the key, and a running
    * `last(ignoreNulls)` carries the latest right row forward — never a
    * range-predicate join. Ties: right rows sort before left rows at
    * equal time (inclusive as-of), and among equal-time right rows the
    * struct-greatest wins (deterministic when right rows are distinct;
    * this tiebreak orders by the payload struct, so right's columns
    * must be orderable types — no maps). SQL join semantics on NULLs:
    * right rows with a null key or null `rightTime` can never satisfy
    * `key = key AND rightTime <= leftTime` and are dropped up front —
    * without that filter a null-time right row would sort FIRST in the
    * window (ASC puts nulls first) and be carried to left rows that no
    * real right row precedes, and null-key rows would "match" null-key
    * left rows through the window partitioning. A left row with a null
    * key or time gets a null `asof`.
    * Column names must not collide with the three internal `__asof_*`
    * tags; `left`/`right` may not share column names except via the
    * returned struct. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String): DataFrame = {
    // "asof" is reserved too: withColumn would silently REPLACE a
    // pre-existing left column of that name instead of erroring.
    // Compared case-INSENSITIVELY: withColumn resolves names under the
    // default spark.sql.caseSensitive=false, so a column named "Asof"
    // would sail past an exact-string check and still be overwritten —
    // the very silent replacement this guard exists to prevent
    val internal = Seq("__asof_t", "__asof_tag", "__asof_r", "asof")
    require(!(left.columns ++ right.columns)
        .exists(c => internal.contains(c.toLowerCase(java.util.Locale.ROOT))),
      s"asofJoin reserves ${internal.mkString(", ")} (any case); rename them on the input")
    val rStruct = struct(right.columns.map(col).toIndexedSeq: _*)
    val rType = org.apache.spark.sql.types.StructType(right.schema.fields)
    val l = left
      .withColumn("__asof_t", col(leftTime))
      .withColumn("__asof_tag", lit(1))
      .withColumn("__asof_r", lit(null).cast(rType))
    val r = right
      .filter(col(key).isNotNull && col(rightTime).isNotNull)
      .select(col(key), col(rightTime).as("__asof_t"), lit(0).as("__asof_tag"),
        rStruct.as("__asof_r"))
    // align schemas: right rows carry nulls for left's payload columns.
    // Presence is checked case-INSENSITIVELY like the reserved-name
    // guard above: withColumn resolves under the default
    // spark.sql.caseSensitive=false, so an exact-string check against a
    // case-variant key column (left "UserId", right "USERID") would
    // miss it and the withColumn would silently REPLACE the right
    // side's key with nulls — every right row then lands in the
    // null-key window partition and the join returns asof = null for
    // all rows (r13 third sweep)
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.exists(_.equalsIgnoreCase(c))) df
      else df.withColumn(c, lit(null).cast(l.schema(c).dataType))
    }.select(l.columns.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(key)
      .orderBy(col("__asof_t"), col("__asof_tag"), col("__asof_r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(rAligned)
      .withColumn("asof", last(col("__asof_r"), ignoreNulls = true).over(w))
      .filter(col("__asof_tag") === 1)
      .drop("__asof_t", "__asof_tag", "__asof_r")
  }

  /** True when the session sets `spark.graft.checkpointDir`, which then
    * becomes the context's checkpoint dir (first set wins per
    * SparkContext). A forked sbt run takes the conf as a
    * `-Dspark.graft.checkpointDir=<dir>` JVM option (build.sbt forwards
    * extra JVM options): Spark copies `-Dspark.*` system properties into
    * the session conf. */
  private def reliableCkpt(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.checkpointDir").exists { d =>
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(d)
      true
    }

  /** Eager checkpoint of a frame whose source is ALREADY cached by the
    * caller — skips [[iterCkpt]]'s internal persist (which would double-
    * cache) while keeping the reliable/local routing. */
  private def ckptCached(spark: SparkSession, df: DataFrame): DataFrame =
    if (reliableCkpt(spark)) df.checkpoint() else df.localCheckpoint()

  /** Per-iteration checkpoint for the [[connectedComponents]] fixpoint.
    * Reliable-checkpoint option: localCheckpoint blocks die with their
    * executor, which kills the whole fixpoint at cluster scale. When the
    * caller sets spark.graft.checkpointDir, iteration state goes through
    * the fault-tolerant checkpoint path instead (files under the dir;
    * first set wins per SparkContext). Locally the default stays
    * localCheckpoint — no filesystem churn in tests/bench. */
  private def iterCkpt(spark: SparkSession): DataFrame => DataFrame = {
    val reliable = reliableCkpt(spark)
    df =>
      if (reliable) {
        // persist before checkpointing: Dataset.checkpoint runs an eager
        // count AND a separate checkpoint-write job — without a cache the
        // whole join/agg pipeline executes twice per iteration (the
        // classic checkpoint-without-cache gotcha)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = df.checkpoint()
        df.unpersist(blocking = false)
        out
      } else df.localCheckpoint()
  }

  /** Distributed connected components over an undirected edge list:
    * returns (node, component) where `component` is the minimum node id
    * reachable from `node`. This is the clustering primitive transitive
    * dedup needs (A≈B and B≈C must collapse to ONE cluster even when A
    * and C never collide directly — see [[Similarity.ddMinhashCc]]).
    *
    * Shape: min-label propagation with pointer jumping. Each iteration
    * (1) lowers every node's label to the min over its neighbours'
    * labels (hash join edges⋈labels + partial-aggregating groupBy-min —
    * duplicate edges are harmless to a min, so the symmetrized edge
    * list is NOT deduplicated: `distinct` would add a full shuffle for
    * nothing), then (2) pointer-jumps `l(v) ← l(l(v))` (labels are
    * always node ids, so the label table joins to itself), which
    * short-circuits long chains: a path of diameter d converges in
    * O(log d) iterations, not O(d). Every iteration is a fixed set of
    * hash shuffles over (V+E) rows — no driver collect; the frame is
    * checkpointed per iteration to truncate lineage — bare (node, label)
    * pairs only, with the changed-count folded into the cache-filling
    * scan and the converged confirmation pass writing no snapshot at all
    * (round 17: the r16 sf100 probe adjudicated transient DISK as the
    * binding constraint, so each iteration now holds the minimum —
    * compressed 2-long snapshots, eagerly-freed predecessor state, and
    * in reliable mode an explicit GC nudge per iteration so dead shuffle
    * files are reclaimed promptly) — `localCheckpoint`
    * by default, or the fault-tolerant path when
    * `spark.graft.checkpointDir` is set (the cluster-scale config: local
    * checkpoint blocks die with their executor, and MEASURED at the
    * sf100 probe they also OOM a 64 GB single-box heap at ~150M edges —
    * past the second decade, set the conf; SURVEY §6.13 records the
    * adjudication, including the single-box transient-disk bound the
    * reliable path then hits at that scale). Convergence is
    * detected on the materialized frame (any label lowered?); the
    * driver-side loop is bounded by `maxIter`, the same bounded-action
    * posture as the IVF centroid build. Throws if `maxIter` is hit
    * before the fixpoint rather than returning a half-merged
    * clustering. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    val ckpt = iterCkpt(spark)
    val e = edges.select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // materialize the symmetrized edge list ONCE: it is re-read every
    // iteration, and without this the caller's entire upstream pipeline
    // (e.g. dd_minhash_cc's band-explode + verify joins) would re-execute
    // per iteration — the docstring's per-iteration cost claim holds only
    // because this is a checkpoint, not a lazy plan. `e` is persisted
    // across the union's TWO branches for the same reason in miniature:
    // unpersisted, the caller's edge plan executes twice inside the one
    // sym-checkpoint job (once per branch); freed as soon as the eager
    // checkpoint has materialized
    e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pre-partitioned on the join key: every iteration joins sym on `b`,
    // and a checkpoint PRESERVES its physical partitioning (LogicalRDD
    // carries it), so the E-row side shuffles ONCE here instead of once
    // per iteration — the labels side (V rows, typically << E) is the
    // only per-iteration shuffle into that join (r14 sf10 sweep: the CC
    // loop was the catalog's #2 absolute cost, shuffle-dominated)
    val sym = ckpt(e.union(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b")))
    e.unpersist(blocking = false)
    var labels = ckpt(sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")))
    var iter = 0
    var changed = 1L
    while (changed > 0L && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("b"), col("label").as("b_label")), Seq("b"))
        .groupBy(col("a").as("node")).agg(min(col("b_label")).as("nbr_label"))
      val stepped = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("l1"))
      // pointer jump: follow the new label to ITS new label
      val jump = stepped.select(col("node").as("l1"), col("l1").as("l2"))
      // the iteration pipeline lands in a TRANSIENT cache (columnar,
      // compressed), and the changed-count scan doubles as the job that
      // fills it — the r16 shape checkpointed the 3-column frame first
      // and then ran a separate scan for the count, so every iteration
      // wrote `old` (dead weight after the count) into its snapshot and
      // paid an extra read job over it (sf100 adjudication, SURVEY
      // §6.13: transient DISK was the binding constraint)
      val stepped3 = stepped.join(jump, Seq("l1"), "left")
        .select(col("node"), col("old"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("label"))
      stepped3.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = stepped3.filter(col("label") < col("old")).count()
      if (changed > 0L) {
        // only a CHANGED iteration earns a checkpoint, and it snapshots
        // the bare (node, label) pairs — 2/3 of the r16 row width; the
        // converged confirmation pass writes nothing (labels already IS
        // the fixpoint, materialized by the previous iteration)
        val next = ckptCached(spark, stepped3.select(col("node"), col("label")))
        stepped3.unpersist(blocking = false)
        // `next` is materialized (eager checkpoint), so the previous
        // iteration's blocks are dead — free them NOW instead of waiting
        // for driver GC to trigger ContextCleaner (on a big-heap driver
        // that may be never; same leak class the Bloom memo guards)
        unpersistCheckpoint(labels)
        labels = next
        // reliable mode = the disk-bound posture: nudge the driver GC so
        // ContextCleaner reclaims the superseded iteration's shuffle
        // files NOW — on a big heap the collector may otherwise not run
        // for many iterations while dead shuffles hold the scratch disk
        // (the sf100 failure's second ingredient next to uncompressed
        // checkpoints; §6.13)
        if (reliableCkpt(spark)) System.gc()
      } else {
        stepped3.unpersist(blocking = false)
      }
      iter += 1
    }
    unpersistCheckpoint(sym)
    if (changed > 0L) {
      // free the last iteration's checkpoint before throwing: the error
      // path must not pin O(V) blocks (and reliable-mode files) forever —
      // a retry loop would otherwise leak one orphaned snapshot per
      // attempt, the leak class the tracked release exists to prevent
      scala.util.Try(unpersistCheckpoint(labels))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations")
    }
    // the returned frame is itself a checkpoint and would otherwise stay
    // pinned until driver GC triggers ContextCleaner — track it so
    // harness resets (Bench / TimeQueries cold runs) free it
    // deterministically, the same contract as every memoized frame
    val out = labels
    RunCaches.track(spark, "cc-checkpoint")(() => unpersistCheckpoint(out))
    out
  }

  /** Frees the storage behind a checkpointed frame. A checkpointed
    * Dataset is not in the CacheManager (`df.unpersist()` is a no-op for
    * it); its persistence lives on the RDD wrapped by the `LogicalRDD`
    * leaf, so that is what must be unpersisted — and for RELIABLE
    * checkpoints the files are deleted too (Spark only auto-deletes them
    * under the non-default cleanCheckpoints conf, so without this every
    * iteration of every call would leave an O(V+E) snapshot under the
    * checkpoint dir forever). Only safe once every consumer has
    * materialized — callers here unpersist iteration N's labels strictly
    * after iteration N+1's eager checkpoint; the frame is NOT
    * recomputable afterwards. No-op for non-checkpointed frames. */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          scala.util.Try {
            val p = new org.apache.hadoop.fs.Path(f)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
        }
      case _ => ()
    }

  /** Distributed two-level prefix sum over strata — the scale-safe
    * replacement for a `Window.partitionBy(stratum)` running sum/rank.
    * Spark's WindowExec materializes and sorts each partition VALUE in one
    * task, so with a handful of languages/sources the whole stratum runs
    * on one core no matter how large the cluster — the classic 100×
    * scale-killer for per-language packing and per-source mixing.
    *
    * Shape: range-repartition on (strata ++ order) into `nChunks`
    * order-contiguous chunks — a large stratum spans MANY chunks, which is
    * exactly the parallelism the single-task window lacks — sort within
    * chunks, then (1) one bounded job collects per-(chunk, stratum) partial
    * sums (≤ nChunks × |strata| entries on the driver — 32×5 here, ~10k×
    * strata on a real cluster), (2) exclusive cumulative offsets per
    * stratum across chunk order are broadcast, and (3) a narrow
    * partition-local pass emits offset + running sum per row. The range
    * shuffle is written once and reused by both jobs (same RDD lineage →
    * stage skip), so the corpus is scanned and shuffled exactly once.
    *
    * `out` is the EXCLUSIVE prefix sum of `value` within the row's stratum
    * in `order` order (sum of strictly earlier rows), appended as a Long
    * column after the input columns. NULL values follow the window form's
    * semantics exactly (`sum(v).over(w) - v`): a NULL-valued row gets a
    * NULL prefix and contributes nothing to later rows — the spec-pinned
    * equivalence includes NULLs. `order` must totally order rows
    * within a stratum (include a unique id); chunk boundaries are wherever
    * the range sampler puts them and never affect the output values.
    *
    * Like [[connectedComponents]], construction runs a bounded eager job
    * (the partials collect), so catalog plan sweeps see the resulting
    * ExistingRDD rather than the kernel's internals; ScaleOpsSpec pins the
    * window-form equivalence, the within-stratum parallelism, and the
    * absence of WindowExec from the consuming queries' plans. */
  def strataPrefixSum(df: DataFrame, strata: Seq[String], order: Seq[String],
      value: Column, out: String, nChunks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (nChunks > 0) nChunks
      else spark.sessionState.conf.numShufflePartitions
    val v = "__sps_v"
    // case-insensitive like asofJoin's guard: withColumn/select resolve
    // under the default spark.sql.caseSensitive=false
    require(!df.columns.exists(c =>
        c.equalsIgnoreCase(v) || c.equalsIgnoreCase(out)),
      s"strataPrefixSum reserves $v and output column $out (any case)")
    // the partials bookkeeping compares strata values via JVM equality
    // while the range partition + sort compares via Spark's ordering —
    // types where the two diverge would silently reset every prefix to
    // 0 (and unbound the "≤ nChunks × |strata|" collect to O(rows)):
    // BinaryType strata box to arrays whose equals is reference
    // identity; Float/Double strata make -0.0 == 0.0 in the sort but
    // not in boxed equals; nested complex types inherit both hazards.
    // Refuse them loudly — strata are categorical by nature.
    strata.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = df.schema(c).dataType
      val ok = dt match {
        case StringType | BooleanType | ByteType | ShortType | IntegerType |
             LongType | DateType | TimestampType | TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
      require(ok, s"strataPrefixSum: stratum column $c is $dt — strata " +
        "must be string/integral/boolean/date/timestamp/decimal (JVM " +
        "equality must agree with the sort order for the partials merge)")
    }
    val keyCols = (strata ++ order).map(col)
    val prepared = df.withColumn(v, value.cast("long"))
      .repartitionByRange(n, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val schema = prepared.schema
    val sIdx = strata.map(schema.fieldIndex)
    val vIdx = schema.fieldIndex(v)
    val rdd = prepared.rdd // ONE shuffle, reused by both jobs below
    def valueAt(r: Row): Long = if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
    def keyOf(r: Row): List[Any] = sIdx.map(r.get).toList
    val partials = rdd.mapPartitionsWithIndex { (pid, it) =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[List[Any], Long]
      it.foreach { r => val k = keyOf(r); sums.update(k, sums.getOrElse(k, 0L) + valueAt(r)) }
      sums.iterator.map { case (k, s) => (pid, k, s) }
    }.collect() // bounded: ≤ nChunks × |strata| entries
    val offsets: Map[(Int, List[Any]), Long] =
      partials.groupBy(_._2).iterator.flatMap { case (k, arr) =>
        var acc = 0L
        arr.sortBy(_._1).map { case (pid, _, s) =>
          val entry = (pid, k) -> acc; acc += s; entry
        }
      }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    // tracked, not destroyed: the returned frame reads `bc` lazily at
    // every execution, so the broadcast lives until a harness reset
    // ([[RunCaches.clearAll]]) — the deterministic-cleanup posture
    // every other broadcast/checkpoint in the engine already follows
    RunCaches.track(spark, "kernel-broadcast")(() => bc.destroy())
    val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      var cur: List[Any] = null
      var acc = 0L
      it.map { r =>
        val k = keyOf(r)
        if (cur == null || k != cur) { cur = k; acc = bc.value.getOrElse((pid, k), 0L) }
        // NULL value → NULL prefix (matching sum(v).over(w) - v), and the
        // accumulator skips it (window sum ignores nulls)
        val prefix: Any = if (r.isNullAt(vIdx)) null else acc
        val row = Row.fromSeq(r.toSeq.updated(vIdx, prefix))
        acc += valueAt(r)
        row
      }
    }
    spark.createDataFrame(outRdd,
      StructType(schema.fields.updated(vIdx,
        StructField(out, LongType, nullable = true))))
  }

  /** Distributed per-stratum rank (1-based, dense over the total `order`)
    * — [[strataPrefixSum]] of 1 plus 1: the scale-safe twin of
    * `row_number().over(Window.partitionBy(strata).orderBy(order))`.
    * ScaleOpsSpec asserts exact agreement with the window form. */
  def strataRank(df: DataFrame, strata: Seq[String], order: Seq[String],
      out: String, nChunks: Int = 0): DataFrame =
    strataPrefixSum(df, strata, order, lit(1L), out, nChunks)
      .withColumn(out, col(out) + lit(1L))

  /** [[connectedComponents]] as an ORACLE-CHECKED catalog query: the edge
    * list chains each customer's orders consecutively (lag over
    * (custkey, orderkey)), so every customer with ≥ 2 orders forms one
    * path component whose minimum node is their lowest order id. The
    * oracle states that expected output SEMANTICALLY (min order per
    * customer, customers with ≥ 2 orders) — while the Spark side must
    * actually converge the iterative min-label/pointer-jump computation
    * over the path graph to reproduce it. Path graphs are the
    * slow-convergence worst case for plain propagation, so this doubles
    * as an at-scale convergence check of the pointer jumping on real
    * data (the 400-node chain spec covers it synthetically).
    *
    * Caveat (unique in the catalog): `run` EXECUTES the fixpoint loop
    * eagerly — the returned frame is an orderBy over the converged
    * checkpoint, so catalog-wide plan sweeps (PlanSpec's cartesian
    * lock) see only that tail, not the per-iteration join plans. Those
    * internals are equi-joins on explicit key lists (structurally
    * cartesian-free) and are covered by ScaleOpsSpec's union-find
    * property + chain-convergence specs instead. */
  val g1Components = QueryDef(
    "g1_components",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      val edges = T(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"))
        .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
        .filter(col("prev").isNotNull)
      connectedComponents(edges, "prev", "o_orderkey")
        .select(col("node"), col("label").as("component"))
        .orderBy(col("node"))
    },
    oracle = Some("""
      WITH c AS (SELECT o_custkey, count(*) AS n, min(o_orderkey) AS mn
                 FROM orders GROUP BY o_custkey)
      SELECT o_orderkey AS node, c.mn AS component
      FROM orders JOIN c USING (o_custkey)
      WHERE c.n >= 2 ORDER BY node"""))

  /** As-of join (point-in-time attribution): each `purchase` event joined
    * to the latest `view` event of the same user at-or-before it.
    *
    * The distributed shape: instead of the naive range join
    * (`v.ts <= p.ts` — quadratic in events-per-user and a
    * BroadcastNestedLoopJoin if written directly), both sides are tagged,
    * unioned, and scanned once under a per-user running window — ONE hash
    * shuffle on the join key, linear work, and the window's running
    * `last(ignoreNulls)` carries the as-of match forward. This is the
    * shape that survives 100 TB of events; ScaleOpsSpec asserts the plan
    * has no nested-loop/cartesian join. Ties: views sort before purchases at
    * equal timestamp (tag 0 < 1), so `ts_view == ts_purchase` matches,
    * and the highest view event_id wins among equal timestamps. Unmatched
    * purchases keep -1 sentinels (left-asof), so the oracle compare never
    * hashes engine-specific nulls. */
  val j10AsofAttr = QueryDef(
    "j10_asof_attr",
    (s, dir) => {
      val ev = T(s, dir).events
      val views = ev.filter(col("event_type") === "view")
        // SQL join semantics on NULLs — the same up-front guard
        // [[asofJoin]] documents and applies: a null-user or null-ts
        // view can never satisfy the oracle's
        // `v.user_id = p.user_id AND v.ts_ms <= p.ts_ms`. Unfiltered,
        // a null-ts view sorts FIRST in the window (ASC is nulls-first)
        // and its v_id is carried by last(ignoreNulls) to purchases no
        // real view precedes — while last_v_ts (built from a when() that
        // nulls it) skips it, emitting a mismatched (view_id, -1) pair
        // the oracle never produces; null-user views would likewise
        // "match" null-user purchases through the window partitioning.
        .filter(col("user_id").isNotNull && col("ts_ms").isNotNull)
        .select(col("user_id"), col("ts_ms"), lit(0).as("tag"),
          col("event_id").as("v_id"), lit(null).cast("long").as("p_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ms"), lit(1).as("tag"),
          lit(null).cast("long").as("v_id"), col("event_id").as("p_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ms"), col("tag"), col("v_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      views.unionByName(purchases)
        .withColumn("last_v_id", last(col("v_id"), ignoreNulls = true).over(w))
        .withColumn("last_v_ts",
          last(when(col("tag") === 0, col("ts_ms")), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(
          col("p_id").as("event_id"), col("user_id"), col("ts_ms"),
          coalesce(col("last_v_id"), lit(-1L)).as("view_event_id"),
          coalesce(col("last_v_ts"), lit(-1L)).as("view_ts_ms"),
          coalesce(col("ts_ms") - col("last_v_ts"), lit(-1L)).as("gap_ms"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
                 FROM events WHERE event_type = 'purchase'),
      v AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
            FROM events WHERE event_type = 'view'),
      j AS (
        SELECT p.event_id, p.user_id, p.ts_ms,
               v.event_id AS view_event_id, v.ts_ms AS view_ts_ms,
               row_number() OVER (PARTITION BY p.event_id
                 ORDER BY v.ts_ms DESC, v.event_id DESC) AS rn
        FROM p LEFT JOIN v
          ON v.user_id = p.user_id AND v.ts_ms <= p.ts_ms)
      SELECT event_id, user_id, ts_ms,
             COALESCE(view_event_id, -1) AS view_event_id,
             COALESCE(view_ts_ms, -1) AS view_ts_ms,
             COALESCE(ts_ms - view_ts_ms, -1) AS gap_ms
      FROM j WHERE rn = 1 ORDER BY event_id"""))

  /** The j12/ST13 attribution band (24 h in ms) — the ONE definition the
    * batch builder, its DuckDB oracle, the streaming twin's default
    * ([[graft.streaming.StreamOps.rangeAttr]]), and the spec's value pin
    * all read, so the twins cannot silently drift apart. */
  val rangeBandMs: Long = 86400000L

  /** Banded range join (interval attribution count): for each purchase,
    * how many views by the same user landed in the 24 h window ending at
    * it. The naive formulation is a range-predicate join
    * (`v.ts BETWEEN p.ts-band AND p.ts`) — a BroadcastNestedLoopJoin,
    * quadratic per user. The distributed shape buckets both sides into
    * band-width (24 h) buckets and explodes each purchase to its two
    * candidate buckets ⌊ts/band⌋−1 and ⌊ts/band⌋ (an inclusive band-wide
    * window spans exactly those two), turning the range join into an
    * EQUI-join on (user_id, bucket) + an exact residual filter — hash
    * partitioned, linear in matches, the form that survives 100 TB of
    * events. A view's bucket is single-valued, so no match is double
    * counted; `count(when(..))` over the left join keeps zero-view
    * purchases. ScaleOpsSpec asserts the plan stays nested-loop-free. */
  val j12RangeCount = QueryDef(
    "j12_range_count",
    (s, dir) => {
      val band = rangeBandMs
      val ev = T(s, dir).events
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), FloorTime.floorDiv("ts_ms", band).as("bucket"),
          col("ts_ms").as("v_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms"))
        .withColumn("bucket",
          explode(array(FloorTime.floorDiv("ts_ms", band) - lit(1L),
            FloorTime.floorDiv("ts_ms", band))))
      purchases.join(views, Seq("user_id", "bucket"), "left")
        .groupBy(col("event_id"), col("user_id"), col("ts_ms"))
        .agg(count(when(
          col("v_ts") >= col("ts_ms") - lit(band) &&
            col("v_ts") <= col("ts_ms"), lit(1))).as("n_views_24h"))
        .orderBy(col("event_id"))
    },
    oracle = Some(s"""
      WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
                 FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, epoch_ms(ts) AS ts_ms
            FROM events WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, p.ts_ms, COUNT(v.ts_ms) AS n_views_24h
      FROM p LEFT JOIN v ON v.user_id = p.user_id
        AND v.ts_ms BETWEEN p.ts_ms - $rangeBandMs AND p.ts_ms
      GROUP BY p.event_id, p.user_id, p.ts_ms
      ORDER BY p.event_id"""))

  /** Exact-k deterministic sample per stratum: the 50 documents with the
    * smallest md5(doc_id) in each source. Complements [[smpStratified]]
    * (fixed RATE, variable count) with fixed COUNT — the corpus-mixing
    * primitive when the recipe says "50k docs from each source", and
    * hash-ordering keeps it reproducible across runs, engines, and
    * partitionings (unlike `ORDER BY random() LIMIT k`). The rank runs
    * on [[strataRank]] (round 6 — previously a
    * `Window.partitionBy(source)` row_number, ONE task per source at any
    * scale), so the rank itself parallelizes within a stratum; the
    * bounded-heap `TopK` aggregator (`w3_recent_topk` form — partial
    * map-side heaps, no full-rank materialization at all) remains the
    * alternative once k ≪ stratum and even the ranked scan is unwanted. */
  val smpExactK = QueryDef(
    "smp_exact_k",
    (s, dir) => {
      val base = T(s, dir).documents
        .select(col("doc_id"), col("source"), col("lang"))
        .withColumn("samp_key", sampKey)
      strataRank(base, Seq("source"), Seq("samp_key", "doc_id"), "rk")
        .filter(col("rk") <= lit(50L))
        .orderBy(col("source"), col("rk"))
    },
    oracle = Some("""
      WITH r AS (
        SELECT doc_id, source, lang,
               md5(CAST(doc_id AS VARCHAR)) AS samp_key,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT doc_id, source, lang, samp_key, rk
      FROM r WHERE rk <= 50 ORDER BY source, rk"""))

  /** Skew-salted fact↔dim join through [[SkewJoin.saltedJoin]]: lineitem's
    * part key fanned across 8 salt buckets against an 8×-exploded part dim,
    * then brand totals. Semantically identical to the unsalted join (the
    * oracle is the plain SQL join; ScaleOpsSpec asserts frame equality,
    * SemanticsSpec covers the hot-key degenerate case) —
    * the salt exists so one hot key spreads over 8 tasks instead of one,
    * the manual fallback when AQE's skew split can't see the skew. */
  val j11SaltedSkew = QueryDef(
    "j11_salted_skew",
    (s, dir) => {
      val t = T(s, dir)
      val facts = t.lineitem.select(col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("qty"))
      val dims = t.part.select(col("p_partkey").as("pk"), col("p_brand"))
      SkewJoin.saltedJoin(facts, dims, "pk", n = 8)
        .groupBy(col("p_brand"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      SELECT p_brand,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        COUNT(*) AS n_items
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  /** Exact discrete percentiles (p50/p90/p99 of extended price per return
    * flag) by integer rank: the value at 1-indexed position ⌈q·n⌉ of the
    * per-group sort. All rank arithmetic is integer (`div`), and the
    * outputs are raw stored doubles — no interpolation — so the DuckDB twin
    * is hash-exact. This is the oracle anchor for the sketch tier
    * ([[a15PercentileApprox]]); at 100 TB the per-group global sort is the
    * cost you pay for exactness, and the sketch is the production path. */
  val a15PercentileDisc = QueryDef(
    "a15_percentile_disc",
    (s, dir) => {
      // Histogram form, NOT row_number over all rows: the all-rows
      // window puts each flag's ENTIRE row set in one WindowExec task
      // (116 s at sf10 — 3 single-threaded 20M-row sorts), while the
      // per-(flag, price) count is a partial-aggregating shuffle and
      // the running sum then walks only the DISTINCT prices per flag.
      // min(price WHERE cum ≥ k) is exactly the k-th order statistic
      // with duplicates — the same value the rn == k form picked, so
      // the oracle is unchanged (r14 sf10 sweep).
      val hist = T(s, dir).lineitem
        .select(col("l_returnflag"), col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("l_extendedprice"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      val wAll = Window.partitionBy("l_returnflag")
      hist
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("cum") >= expr("(5*n + 9) div 10"),
            col("l_extendedprice"))).as("p50"),
          min(when(col("cum") >= expr("(9*n + 9) div 10"),
            col("l_extendedprice"))).as("p90"),
          min(when(col("cum") >= expr("(99*n + 99) div 100"),
            col("l_extendedprice"))).as("p99"),
          max(col("n")).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },
    oracle = Some("""
      WITH r AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag,
             MAX(CASE WHEN rn = (5*n + 9) // 10 THEN l_extendedprice END) AS p50,
             MAX(CASE WHEN rn = (9*n + 9) // 10 THEN l_extendedprice END) AS p90,
             MAX(CASE WHEN rn = (99*n + 99) // 100 THEN l_extendedprice END) AS p99,
             CAST(MAX(n) AS BIGINT) AS n_rows
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Sketch-tier percentiles: `percentile_approx` (GK sketch, fixed-size
    * state, partial-aggregating — the same scale story as the HLL tier
    * `a14_approx_distinct`). Rows-only by design: the sketch's outputs are
    * accuracy-bounded, not bit-specified; ScaleOpsSpec asserts each
    * estimate lands within 2% (relative) of [[a15PercentileDisc]]. */
  val a15PercentileApprox = QueryDef(
    "a15_percentile_approx",
    (s, dir) => {
      T(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
        .select(col("l_returnflag"),
          col("ps").getItem(0).as("p50"),
          col("ps").getItem(1).as("p90"),
          col("ps").getItem(2).as("p99"))
        .orderBy(col("l_returnflag"))
    })

  /** The shared sampling-order kernel: `sampKey` is the engine-portable
    * hash every deterministic sampler/mixer keys on (md5 of the
    * stringified doc_id — exists bit-identically in DuckDB).
    * [[smpExactK]] and [[pipeMixInterleave]] both derive their
    * per-source rank from it through the SAME distributed [[strataRank]]
    * call (stratum `source`, order (`samp_key`, `doc_id`); agreement
    * with the window form is spec-pinned), which is what keeps their
    * documented composition (a stratum's mixture prefix IS the sampler's
    * subset) drift-proof on the Scala side; the SQL oracles necessarily
    * restate them. */
  private[operators] val sampKey = md5(col("doc_id").cast("string"))

  /** Even-parity source test shared by [[smpStratified]] (rate choice) and
    * [[pipeMixInterleave]] (stride choice). substr-to-end + TRY_CAST on
    * BOTH sides: a source whose suffix isn't a clean integer routes to the
    * odd branch in Spark (try_cast → null → otherwise) and does the same
    * in DuckDB (TRY_CAST → NULL → ELSE). A plain .cast would THROW under
    * the engine's default ANSI mode instead of yielding null. */
  private[operators] val evenSource = (expr("try_cast(substr(source, 4) as int)") % 2) === 0

  /** Deterministic stratified sampler for corpus mixing: keep a document
    * iff the first 4 hex chars of md5(doc_id) fall below the stratum's
    * threshold — even-numbered sources at 25% (0x4000/0x10000), odd at 50%.
    * The keep decision is a pure function of the row, so the sample is
    * reproducible across runs, engines (md5 + lexicographic hex compare
    * exist everywhere), and re-partitioning — unlike `TABLESAMPLE` /
    * `df.sample`, whose draw depends on partition layout. `rate_bp` (basis
    * points) rides along so downstream loss-weighting can undo the bias. */
  val smpStratified = QueryDef(
    "smp_stratified",
    (s, dir) => {
      val even = evenSource
      T(s, dir).documents.select(col("doc_id"), col("source"), col("lang"))
        .withColumn("samp_key", substring(sampKey, 1, 4))
        .withColumn("rate_bp", when(even, lit(2500)).otherwise(lit(5000)))
        .filter(col("samp_key") < when(even, lit("4000")).otherwise(lit("8000")))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id, source, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS samp_key,
             CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
                  THEN 2500 ELSE 5000 END AS rate_bp
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
            CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
                 THEN '4000' ELSE '8000' END
      ORDER BY doc_id"""))

  /** Token-budget sequence packing: concatenate each language's documents
    * in doc_id order and assign every document to the 2048-token bin its
    * START offset lands in (tokens ≈ n_chars/4, the BPE chars-per-token
    * rule of thumb). Contiguous-fill packing is a per-group prefix sum —
    * one shuffle, no sequential first-fit loop — which is what makes it
    * computable over a 100 TB corpus; a true first-fit packer is
    * inherently serial per stratum. The prefix sum runs on
    * [[strataPrefixSum]] (range chunks within language → broadcast
    * offsets → partition-local finish), so one giant language spreads
    * over every core instead of pinning to the single task a
    * `Window.partitionBy(lang)` realization gives it. Long documents may
    * straddle a bin boundary (they belong to the bin they start in);
    * ScaleOpsSpec pins the bin invariants and the window-free plan. */
  val pipePackTokens = QueryDef(
    "pipe_pack_tokens",
    (s, dir) => {
      val base = T(s, dir).documents
        .select(col("lang"), col("doc_id"), expr("n_chars div 4").as("tokens"))
      strataPrefixSum(base, Seq("lang"), Seq("doc_id"), col("tokens"), "start_off")
        .withColumn("bin_id", expr("start_off div 2048"))
        .orderBy(col("lang"), col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (SELECT lang, doc_id, n_chars // 4 AS tokens FROM documents),
      c AS (SELECT lang, doc_id, tokens,
            CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) - tokens AS start_off
            FROM t)
      SELECT lang, doc_id, tokens, start_off, start_off // 2048 AS bin_id
      FROM c ORDER BY lang, doc_id"""))

  /** Deterministic weighted interleave — the corpus-MIXING step between
    * sampling ([[smpStratified]]/[[smpExactK]]) and packing
    * ([[pipePackTokens]]): training runs consume sources at target
    * ratios, not concatenated. Weighted round-robin as pure arithmetic:
    * each document gets a per-source rank (hash order, so the prefix of
    * any stratum is [[smpExactK]]'s deterministic sample), and its
    * mixture position is `rank × stride` where stride ∝ 1/weight —
    * even-numbered sources stride 3, odd stride 1, so a reader consuming
    * in position order sees odd:even ≈ 3:1 at EVERY prefix, which is the
    * property that matters (ratio holds for any training horizon, not
    * just the full epoch). The per-source rank is the SAME
    * [[strataRank]] call [[smpExactK]] makes (spec-pinned equal to the
    * window-form row_number, so the documented
    * composition with the sampler still holds bit-for-bit) + a
    * presentation sort; no serial merge loop, no driver state, and no
    * single-task-per-source window — at 100 TB the position is a
    * write-time sort key (`repartitionByRange(position)`), and readers
    * stream partitions in order. All-integer, so the DuckDB twin is
    * hash-exact. */
  val pipeMixInterleave = QueryDef(
    "pipe_mix_interleave",
    (s, dir) => {
      val base = T(s, dir).documents.select(col("doc_id"), col("source"))
        .withColumn("samp_key", sampKey)
      strataRank(base, Seq("source"), Seq("samp_key", "doc_id"), "rn")
        .withColumn("stride", when(evenSource, lit(3L)).otherwise(lit(1L)))
        .withColumn("position", col("rn") * col("stride"))
        .select(col("doc_id"), col("source"), col("rn"), col("position"))
        .orderBy(col("position"), col("source"), col("doc_id"))
    },
    oracle = Some("""
      WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
                    THEN 3 ELSE 1 END AS stride
        FROM documents)
      SELECT doc_id, source, rn, CAST(rn * stride AS BIGINT) AS position
      FROM r ORDER BY position, source, doc_id"""))

  /** Benchmark decontamination: flag training documents sharing any
    * 3-token shingle with the held-out benchmark stratum (source `src0`),
    * with the shared-shingle count per flagged doc. The distributed shape
    * is shingle-explode + equi-join on the shingle — hash-partitioned,
    * linear in total shingles, never doc×doc — which is the exact form of
    * the Bloom-filter decontamination passes training pipelines run
    * (the benchmark side here is small, so Catalyst broadcasts it; at
    * 100 TB you'd broadcast a Bloom filter of the same set and keep this
    * join as the exact confirmation pass). Shingling matches
    * `dd_shingle_jaccard` (3-token windows over whitespace tokens). */
  val pipeDecontam = QueryDef(
    "pipe_decontam",
    (s, dir) => {
      // source filters FIRST, shingle projection (single-evaluation
      // shingles3Once) per branch (r20): the shared-frame form let
      // Catalyst push `sh IS NOT NULL` + the generator's size(sh) > 0
      // below the projection, duplicating the shingle kernel 2-3× per
      // row on both branches (sf10 stage dump); with the ND mark the
      // kernel runs once, and pre-filtering by source keeps each branch
      // shingling only its own rows — same rows, same join, ~⅓ the
      // kernel invocations.
      val docs = T(s, dir).documents
        .select(col("doc_id"), col("source"), col("text"))
      def shOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"), Text.shingles3Once(col("text")).as("sh"))
        .filter(col("sh").isNotNull)
      val bench = shOf(docs.filter(col("source") === "src0"))
        .select(explode(col("sh")).as("shingle")).distinct()
      val train = shOf(docs.filter(col("source") =!= "src0"))
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      train.join(bench, "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id, source,
          list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        FROM documents),
      s AS (
        SELECT doc_id, source,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM t WHERE len(toks) >= 3),
      b AS (SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE source = 'src0'),
      tr AS (SELECT doc_id, unnest(sh) AS shingle FROM s WHERE source <> 'src0')
      SELECT tr.doc_id, count(*) AS n_hits
      FROM tr JOIN b ON b.shingle = tr.shingle
      GROUP BY tr.doc_id ORDER BY tr.doc_id"""))

  /** [[pipeDecontam]] with the Bloom pre-filter in front — the actual
    * 100 TB decontamination shape. The benchmark shingle set is folded
    * into a fixed-size Bloom filter (`DataFrameStatFunctions.bloomFilter`,
    * a distributed treeAggregate; ~10 bits/key instead of the strings
    * themselves) and broadcast; the training side drops non-candidate
    * shingles BEFORE the exact join, so the expensive side of the join
    * sees only Bloom survivors. False positives are then removed by the
    * same exact equi-join as [[pipeDecontam]], which is why this variant
    * shares its oracle verbatim: the Bloom stage may only pass extra
    * candidates, never change the confirmed result. The filter build is
    * a bounded driver-side action over the (small) benchmark stratum —
    * same posture as the IVF centroid build. */
  val pipeDecontamBloom = QueryDef(
    "pipe_decontam_bloom",
    (s, dir) => {
      // same source-filter-first + single-evaluation shingling as
      // pipe_decontam (r20) — see the rationale there
      val docs = T(s, dir).documents
        .select(col("doc_id"), col("source"), col("text"))
      def shOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"), Text.shingles3Once(col("text")).as("sh"))
        .filter(col("sh").isNotNull)
      // a stale filter yields false NEGATIVES for new benchmark
      // shingles, and the exact-confirm join only removes false
      // positives — so the filter is keyed on the corpus fingerprint
      // (ADVICE r5)
      val fp = RunCaches.srcVersion(s, dir, "documents.parquet")
      // the distinct benchmark-shingle frame feeds THREE consumers on a
      // cold run — the capacity count, the bloomFilter treeAggregate
      // and the exact-confirm join below — and each would re-run the
      // documents scan + shingle UDF + explode + distinct shuffle; one
      // persisted copy through the shared feature memo (fingerprint-
      // keyed like every entry there) serves all three
      val bench = RunCaches.cachedFeature(s, s"decontam_bench:$dir", fp) {
        shOf(docs.filter(col("source") === "src0"))
          .select(explode(col("sh")).as("shingle")).distinct()
      }
      // capacity from the ACTUAL benchmark shingle count (a bounded
      // driver action on the small stratum, memoized with the filter):
      // a hardcoded capacity silently degrades the 1% fpp — and with it
      // the entire point of the pre-filter — once the stratum outgrows it
      val bc = RunCaches.cachedBroadcast(s, s"decontam:$dir", fp) {
        val n = math.max(1000L, bench.count())
        bench.stat.bloomFilter("shingle", n, 0.01)
      }
      val mightContain = udf((x: String) => x != null && bc.value.mightContain(x))
      val train = shOf(docs.filter(col("source") =!= "src0"))
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .filter(mightContain(col("shingle")))
      train.join(bench, "shingle")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    oracle = pipeDecontam.oracle)

  /** Payload scrubbing: mask every digit run in the raw event payload and
    * count the digits removed — the PII-redaction shape (emails, phone
    * numbers, ids) as a pure per-row projection, so it composes with any
    * scan and survives any partitioning. The character-class regex is the
    * portable core shared by Java regex and RE2, so the DuckDB twin is
    * exact; [[txtRedactPii]] proves the claim that real email/id
    * patterns drop in without changing the plan shape. */
  val txtRedactNums = QueryDef(
    "txt_redact_nums",
    (s, dir) => graft.QueryDef.kernelSorted(
      T(s, dir).events.select(col("event_id"), col("props")),
      col("event_id")) {
      _.select(
        col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"),
        (length(col("props")) -
          length(regexp_replace(col("props"), "[0-9]", "")))
          .cast("long").as("n_digits"))
    },
    oracle = Some("""
      SELECT event_id,
        regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted,
        CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
             AS BIGINT) AS n_digits
      FROM events ORDER BY event_id"""))

  /** Real-pattern PII redaction — [[txtRedactNums]]'s docstring claim
    * ("address/email patterns drop in without changing the plan shape")
    * made good: a three-stage mask (emails → `<EMAIL>`, then 6+-digit id
    * runs → `<ID>`, then residual digit runs → `#`) with per-row match
    * counts, still one pure per-row projection — no extra shuffle,
    * survives any partitioning (PlanSpec locks the shape). The
    * corpus carries no natural PII, so the redacted string is a
    * deterministic synthetic "support log" built from the row (props +
    * an email derived from user_id + a 9-digit zero-padded ref id) — the
    * same synthesize-from-documents trick the multimodal family uses —
    * which keeps every pattern branch exercised AND the oracle exact.
    * Stage order matters and is pinned by the oracle: emails first (an
    * email's local part may contain digit runs that must become part of
    * `<EMAIL>`, not `<ID>`), id runs second, residual digits last.
    *
    * The Spark side runs the fused two-pass kernel
    * ([[graft.functions.PiiRedact]], r18): the staged declarative form
    * walked the same string five times per row (9.7 s at sf10); the
    * kernel struct is projected ONCE and its fields extracted above it
    * — the struct's 3 references are non-cheap, so CollapseProject
    * keeps the boundary and the kernel evaluates once per row. The
    * oracle still states the staged form; the kernel's docstring
    * carries the structural-equivalence argument. */
  val txtRedactPii = QueryDef(
    "txt_redact_pii",
    (s, dir) => {
      val raw = concat(col("props"), lit(" contact user"),
        col("user_id").cast("string"), lit("@example.com ref "),
        lpad(col("event_id").cast("string"), 9, "0"))
      graft.QueryDef.kernelSorted(
        T(s, dir).events.select(col("event_id"), raw.as("raw")),
        col("event_id")) {
        _.select(col("event_id"),
            call_function("pii_redact", col("raw")).as("k"))
          .select(
            col("event_id"),
            col("k.redacted").as("redacted"),
            col("k.n_emails").as("n_emails"),
            col("k.n_ids").as("n_ids"))
      }
    },
    oracle = Some("""
      WITH r AS (
        SELECT event_id,
          props || ' contact user' || CAST(user_id AS VARCHAR) ||
            '@example.com ref ' || lpad(CAST(event_id AS VARCHAR), 9, '0') AS raw
        FROM events),
      s AS (
        SELECT event_id, raw,
          regexp_replace(raw,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '<EMAIL>', 'g') AS s1
        FROM r)
      SELECT event_id,
        regexp_replace(regexp_replace(s1, '[0-9]{6,}', '<ID>', 'g'),
          '[0-9]+', '#', 'g') AS redacted,
        CAST(len(regexp_extract_all(raw,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(s1, '[0-9]{6,}')) AS BIGINT) AS n_ids
      FROM s ORDER BY event_id"""))

  val defs: Seq[QueryDef] = Seq(
    g1Components, j10AsofAttr, j11SaltedSkew, j12RangeCount,
    a15PercentileDisc, a15PercentileApprox, smpStratified, smpExactK,
    pipeMixInterleave, pipePackTokens, pipeDecontam, pipeDecontamBloom,
    txtRedactNums, txtRedactPii)
}
