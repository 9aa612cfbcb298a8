package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.FloorTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch relational operators (SURVEY.md §2.2–§2.7).
  *
  * Conventions for oracle parity with DuckDB:
  *  - money/quantity aggregation goes through DECIMAL(18,2) (exact,
  *    order-independent) and is cast to DOUBLE only in the final output;
  *  - percentages use truncating integer division (`div` / DuckDB `//`),
  *    matching the reference's u64 semantics
  *    (kamiyo-fast-voting lib.rs:145-149);
  *  - every result has a total ORDER BY (unique tiebreaker) on both sides;
  *  - computed integers are cast to BIGINT on both sides (Spark `size`,
  *    `row_number`, `datediff`, `hour` return 32-bit, DuckDB returns
  *    64-bit).
  *
  * Scale posture: all plans are scan→filter→shuffle-agg/join→project with
  * pushdown-friendly leading filters; dimension joins are broadcast; no
  * collects, no driver-side loops.
  */
object Relational {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** `events.value` → DECIMAL(18,2) with non-finite and out-of-range
    * values folded to NULL on BOTH engines — the posture the
    * rapid-reversal queries set (r12): `value` is an external event
    * amount, so NaN/Inf is in-domain input, and ANSI's double→decimal
    * cast throws on it, turning one bad row into a dead query (and a
    * poison-pill micro-batch on the streaming side, which shares this
    * helper). abs(NaN) < bound is false on both engines, so the guard
    * needs no isnan special case; 1e16 is DECIMAL(18,2)'s integer
    * capacity. TPC-H-typed columns (l_quantity, o_totalprice…) keep the
    * bare [[dec]] — their domain is schema-clean by contract.
    * Oracle twin: CASE WHEN ABS(value) < 1e16
    *              THEN CAST(value AS DECIMAL(18,2)) END */
  private[graft] def decV(c: Column): Column =
    when(abs(c) < lit(1.0e16), c).cast("decimal(18,2)")

  /** `events.value` → integer cents with the same fold-to-null guard
    * (the form st12/rapidReversal introduced, factored so the remaining
    * cents sites cannot drift): round() passes NaN/Inf through and the
    * ANSI long cast throws; |cents| ≥ 2^63 overflows.
    * Oracle twin: CASE WHEN ABS(ROUND(value * 100)) < 9223372036854775808.0
    *              THEN CAST(ROUND(value * 100) AS BIGINT) END */
  private[graft] def centsV(c: Column): Column =
    when(abs(round(c * lit(100), 0)) < lit(9.223372036854776e18),
      round(c * lit(100), 0).cast("long"))

  // ---------------------------------------------------------------- A/W core

  /** TPC-H-Q1-shaped pricing summary (SURVEY A1/A5 family).
    * Ref semantics: incremental per-flag counters, kamiyo lib.rs:115-120. */
  val q1Agg = QueryDef(
    "q1_agg",
    (s, dir) => {
      val li = T(s, dir).lineitem
        .filter(col("l_shipdate") <= expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") /
            count(lit(1)).cast("double")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** W1 leaderboard: top-100 by aggregated measure (indexer.ts:167-183). */
  val w1Leaderboard = QueryDef(
    "w1_leaderboard",
    (s, dir) => {
      val t = T(s, dir)
      t.customer
        .join(t.orders, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(100)
    },
    oracle = Some("""
      SELECT c_custkey, c_name,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey LIMIT 100"""),
    headline = true)

  // ------------------------------------------------------- projections/filters

  /** P1 narrow projection (runs/route.ts:151-163). */
  val p1Projection = QueryDef(
    "p1_projection",
    (s, dir) => T(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders ORDER BY o_orderkey"""))

  /** P2 equality filter (runs/route.ts:147-149). */
  val p2FilterEq = QueryDef(
    "p2_filter_eq",
    (s, dir) => T(s, dir).events
      .filter(col("event_type") === lit("purchase"))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id, user_id, value FROM events
      WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** P3 conjunctive multi-predicate filter (keiro-client.ts:129-142). */
  val p3FilterConj = QueryDef(
    "p3_filter_conj",
    (s, dir) => T(s, dir).customer
      .filter(col("c_mktsegment") === lit("BUILDING") && col("c_acctbal") > lit(1000.0))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
      ORDER BY c_custkey"""))

  /** P4 range/threshold predicates (reputation-tiers.ts:8-16, lib.rs:103). */
  val p4RangePred = QueryDef(
    "p4_range_pred",
    (s, dir) => T(s, dir).lineitem
      .filter(
        col("l_quantity") >= lit(10.0) && col("l_quantity") <= lit(20.0) &&
          col("l_shipdate") >= expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("qty"))
      .orderBy(col("l_returnflag")),
    oracle = Some("""
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_quantity >= 10.0 AND l_quantity <= 20.0
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** P5 enum-membership predicate (governance.ts:201-203). */
  val p5EnumMembership = QueryDef(
    "p5_enum_membership",
    (s, dir) => T(s, dir).orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority")),
    oracle = Some("""
      SELECT o_orderpriority, COUNT(*) AS n FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** P6 CHECK-style validation split: valid rows vs rejects routed to a
    * class label (client.ts:90-133, runs/route.ts:71-96). */
  val p6Validation = QueryDef(
    "p6_validation",
    (s, dir) => T(s, dir).events
      .withColumn(
        "validity",
        when(col("user_id").isNull, lit("null_user"))
          .when(col("value") < lit(1.0), lit("below_min"))
          .when(!col("event_type").isin("click", "view", "purchase", "signup", "error"),
            lit("bad_type"))
          .otherwise(lit("valid")))
      .groupBy(col("validity"))
      .agg(count(lit(1)).as("n"),
        sum(decV(col("value"))).cast("double").as("total_value"))
      .orderBy(col("validity")),
    oracle = Some("""
      SELECT CASE
          WHEN user_id IS NULL THEN 'null_user'
          WHEN value < 1.0 THEN 'below_min'
          WHEN event_type NOT IN ('click','view','purchase','signup','error') THEN 'bad_type'
          ELSE 'valid' END AS validity,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS total_value
      FROM events GROUP BY 1 ORDER BY validity"""))

  /** P7 sanitization projection: trim/default/clamp untrusted rows
    * (runs/route.ts:39-61). */
  val p7Sanitize = QueryDef(
    "p7_sanitize",
    (s, dir) => T(s, dir).documents
      .select(
        col("doc_id"),
        lower(trim(coalesce(col("lang"), lit("unknown")))).as("lang_norm"),
        least(greatest(col("n_chars"), lit(0L)), lit(10000L)).as("n_chars_clamped"),
        (length(col("text")) >= lit(8)).as("long_enough"))
      .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
        lower(trim(COALESCE(lang, 'unknown'))) AS lang_norm,
        LEAST(GREATEST(n_chars, 0), 10000) AS n_chars_clamped,
        length(text) >= 8 AS long_enough
      FROM documents ORDER BY doc_id"""))

  /** P8 array-every predicate: docs where no token exceeds 6 chars
    * (discovery.ts:75-84 `requireAll`). */
  val p8ArrayForall = QueryDef(
    "p8_array_forall",
    (s, dir) => T(s, dir).documents
      .filter(forall(split(col("text"), " "), w => length(w) <= lit(6)))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id, source FROM documents
      WHERE length(list_filter(string_split(text, ' '), x -> length(x) > 6)) = 0
      ORDER BY doc_id"""))

  // ----------------------------------------------------------------- joins

  /** J1 FK join with ordered children (runs/[runId]/route.ts:23-26).
    *
    * The `merge` hint pins the fact-fact shape: BOTH sides grow with the
    * data, so this join must never broadcast — but orders pruned to two
    * columns sits near the 10 MB auto-broadcast estimate boundary, and at
    * the sf1 bench tier Catalyst flipped it to a 1.5M-row BuildLeft
    * broadcast (measured no faster than SMJ even there, and exactly the
    * plan that falls over at 100×). The hint encodes the intent the
    * estimate noise obscured; at real scale Catalyst would pick SMJ
    * anyway. The global orderBy is the dominant scale cost by design —
    * range-partitioning samples its child, so the join is evaluated
    * twice (measured at sf1: join+materialize ≈ 6 s, +global sort ≈
    * 30 s) — the price of an oracle-mandated total order on a
    * fact-sized output. */
  val j1FkJoin = QueryDef(
    "j1_fk_join",
    (s, dir) => {
      val t = T(s, dir)
      // the oracle mandates a GLOBAL order, and orderBy = range
      // repartition whose boundary sampler EXECUTES the child once
      // before the sort job executes it again — the fact-fact join ran
      // twice per query since r1 (adjudicated every round since r4).
      // Materializing the join ONCE through the session memo makes the
      // sampler job the cache fill and the sort job a cache read: the
      // join's cost is paid once, cold-run timing includes the fill,
      // and the memo registry reclaims the frame like every dd_*
      // feature (r17; measured at sf10 before adoption). The persist is
      // MEMORY_AND_DISK, so a join past executor memory spills.
      // versioned on BOTH sources (r17 review 3): the catalog's first
      // two-source memo — keyed on lineitem alone, an in-place
      // regeneration of orders.parquet would version-match and serve
      // the stale pre-regeneration join, the exact hazard srcVersion
      // exists to prevent. Both mtimes are embedded in the KEY, not
      // combined into the version Long: max-combining let a
      // lower-mtime regeneration version-match (r17 advice), the sum
      // replacement still collided on offsetting forward/backward
      // movements (second r18 review: backup-restore of one source
      // next to a regeneration of the other), and a HASH of the pair
      // would break cachedFeature's ORDERED latest-wins publish (the
      // r13 xor hazard). A per-pair key is fully injective; the
      // one-stranded-frame-per-regeneration leak that made r17 reject
      // key-embedding is closed the way incrcand closed it — evict
      // this query's sibling entries before building.
      val vOrders = RunCaches.srcVersion(s, dir, "orders.parquet")
      val vLineitem = RunCaches.srcVersion(s, dir, "lineitem.parquet")
      val j1Key = s"j1_joined:$dir:$vOrders:$vLineitem"
      RunCaches.evictPrefix(s"j1_joined:$dir:", spare = _ == j1Key)
      val joined = RunCaches.cachedFeature(s, j1Key) {
        t.orders.hint("merge")
          .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
          .select(
            col("o_orderkey"), col("o_orderstatus"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_quantity"))
      }
      joined.orderBy(col("o_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      SELECT o_orderkey, o_orderstatus,
        CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ORDER BY o_orderkey, l_linenumber"""),
    headline = true)

  /** J2 broadcast hash lookup join to a small dim (plan/route.ts:129-137). */
  val j2BroadcastLookup = QueryDef(
    "j2_broadcast_lookup",
    (s, dir) => {
      val t = T(s, dir)
      t.lineitem
        // no broadcast() HINT: part is a lookup side that SCALES with SF
        // (TPC-H part = 200k rows × SF), and a forced broadcast ignores
        // the size threshold at ANY scale — at the 100 TB posture it
        // hits Spark's hard 8 GB broadcast limit and fails outright.
        // Left to the optimizer, part broadcasts wherever it fits (the
        // plan PlanSpec asserts at test scale, and what AQE re-derives
        // per-run at any scale) and degrades to a shuffle join when it
        // cannot — the j1 docstring's rule, applied consistently.
        .join(t.part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    oracle = Some("""
      SELECT p_brand,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""),
    headline = true)

  /** J4 two-hop dim join: supplier → nation → region
    * (TrustGraphScene.tsx:126-140 edge→node double join). */
  val j4DoubleHop = QueryDef(
    "j4_double_hop",
    (s, dir) => {
      val t = T(s, dir)
      t.supplier
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(dec(col("s_acctbal"))).cast("double").as("total_bal"))
        .orderBy(col("r_name"))
    },
    oracle = Some("""
      SELECT r_name, COUNT(*) AS n_suppliers,
        CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** J6 semi-join / EXISTS membership (merkle.ts:171-195 membership). */
  val j6Semi = QueryDef(
    "j6_semi",
    (s, dir) => {
      val t = T(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** J7 anti-join / NOT EXISTS (index.ts:140-142 excludeAgents):
    * customers with no URGENT order — the exclusion set is a filtered
    * relation, as the reference's excludeAgents list is. */
  val j7Anti = QueryDef(
    "j7_anti",
    (s, dir) => {
      val t = T(s, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === lit("1-URGENT")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""))

  /** `customer LEFT JOIN (orders GROUP BY o_custkey agg …)` — the
    * per-customer order-enrichment shape four queries share (j9, a10,
    * a11, f_tier). ONE definition of the join keys and outer side, the
    * Tiers.scala rationale applied to the join shape: a null-handling
    * or key fix reaches all four instead of drifting across hand-kept
    * copies. Aggregate columns stay per-query; callers coalesce their
    * own nulls (each oracle mirrors its own COALESCE). */
  private def customerWithOrderAgg(t: Tables, aggs: Column*): DataFrame =
    t.customer.join(
      t.orders.groupBy(col("o_custkey")).agg(aggs.head, aggs.tail: _*),
      col("c_custkey") === col("o_custkey"), "left_outer")

  /** J9 left-outer enrichment + coalesce defaults (governance.ts:282-302). */
  val j9LeftOuter = QueryDef(
    "j9_left_outer",
    (s, dir) => {
      val t = T(s, dir)
      customerWithOrderAgg(t,
        count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("spent_dec"))
        .select(
          col("c_custkey"),
          coalesce(col("cnt"), lit(0L)).as("n_orders"),
          coalesce(col("spent_dec").cast("double"), lit(0.0)).as("spent"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey,
        COALESCE(cnt, 0) AS n_orders,
        COALESCE(CAST(spent_dec AS DOUBLE), 0.0) AS spent
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent_dec
        FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  // ------------------------------------------------------------ aggregations

  /** A1 conditional counts — the vote-tally shape (lib.rs:115-120). */
  val a1VoteTally = QueryDef(
    "a1_vote_tally",
    (s, dir) => T(s, dir).events
      .groupBy(col("user_id"))
      .agg(
        count_if(col("event_type") === lit("purchase")).as("votes_for"),
        count_if(col("event_type") === lit("error")).as("votes_against"),
        count(lit(1)).as("vote_count"))
      .orderBy(col("user_id").asc_nulls_last),
    oracle = Some("""
      SELECT user_id,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS votes_for,
        COUNT(*) FILTER (WHERE event_type = 'error') AS votes_against,
        COUNT(*) AS vote_count
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** A2 quorum + integer-percent threshold decision (lib.rs:131-156;
    * truncating division exactly as the reference's u64 math). */
  val a2ThresholdDecision = QueryDef(
    "a2_threshold_decision",
    (s, dir) => T(s, dir).events
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy(col("user_id"))
      .agg(
        count_if(col("event_type") === lit("purchase")).as("votes_for"),
        count(lit(1)).as("total"))
      .withColumn("approval_pct", expr("(votes_for * 100) div total"))
      .withColumn("passed", col("total") >= lit(2L) && col("approval_pct") >= lit(50L))
      .orderBy(col("user_id").asc_nulls_last),
    oracle = Some("""
      SELECT user_id,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS votes_for,
        COUNT(*) AS total,
        (COUNT(*) FILTER (WHERE event_type = 'purchase') * 100) // COUNT(*) AS approval_pct,
        COUNT(*) >= 2 AND (COUNT(*) FILTER (WHERE event_type = 'purchase') * 100) // COUNT(*) >= 50 AS passed
      FROM events WHERE event_type IN ('purchase','error')
      GROUP BY user_id ORDER BY user_id"""))

  /** A3 per-epoch (UTC-day) signal aggregator (swarm-types.ts:147-158;
    * epoch = floor(unix_ms / 86400000), reputation-prover-impl.ts:143). */
  val a3EpochAgg = QueryDef(
    "a3_epoch_agg",
    (s, dir) => T(s, dir).events
      // FLOOR bucketing (pmod), matching the reference's
      // floor(unix_ms/86400000) and the live epochAgg's window() starts
      // — bare div truncates toward zero on pre-1970 rows (r13 sweep)
      .withColumn("epoch_day",
        FloorTime.floorDiv("ts", 86400000000000L))
      .groupBy(col("epoch_day"))
      .agg(
        count(lit(1)).as("total_signals"),
        count_if(col("event_type") === lit("purchase")).as("long_count"),
        count_if(col("event_type") === lit("error")).as("short_count"),
        count_if(!col("event_type").isin("purchase", "error")).as("neutral_count"),
        sum(decV(col("value"))).cast("double").as("sum_value"),
        max(col("ts_ms")).as("last_updated_ms"))
      .orderBy(col("epoch_day").asc_nulls_last),
    oracle = Some("""
      SELECT (epoch_ms(ts) - ((epoch_ms(ts) % 86400000 + 86400000) % 86400000))
               // 86400000 AS epoch_day,
        COUNT(*) AS total_signals,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS long_count,
        COUNT(*) FILTER (WHERE event_type = 'error') AS short_count,
        COUNT(*) FILTER (WHERE event_type NOT IN ('purchase','error')) AS neutral_count,
        CAST(SUM(CASE WHEN ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_value,
        MAX(epoch_ms(ts)) AS last_updated_ms
      FROM events GROUP BY 1 ORDER BY epoch_day"""),
    headline = true)

  /** A5 time-bucketed earnings stats in one pass (hive-api.ts:327-334):
    * today/thisWeek/thisMonth sums + split by category, as-of 2024-01-31. */
  val a5TimeBuckets = QueryDef(
    "a5_time_buckets",
    (s, dir) => T(s, dir).events
      .agg(
        // bare when(): no-otherwise already yields NULL — the same
        // no-ELSE form the oracle's CASE expressions use
        sum(when(col("ts_ms") >= lit(1706572800000L), decV(col("value"))))
          .cast("double").as("today_sum"),
        sum(when(col("ts_ms") >= lit(1706054400000L), decV(col("value"))))
          .cast("double").as("week_sum"),
        sum(decV(col("value"))).cast("double").as("month_sum"),
        sum(when(col("event_type") === lit("purchase"), decV(col("value"))))
          .cast("double").as("released_sum"),
        sum(when(col("event_type") === lit("view"), decV(col("value"))))
          .cast("double").as("pending_sum"),
        count(lit(1)).as("transaction_count")),
    oracle = Some("""
      SELECT
        CAST(SUM(CASE WHEN epoch_ms(ts) >= 1706572800000 AND ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS today_sum,
        CAST(SUM(CASE WHEN epoch_ms(ts) >= 1706054400000 AND ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS week_sum,
        CAST(SUM(CASE WHEN ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS month_sum,
        CAST(SUM(CASE WHEN event_type = 'purchase' AND ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS released_sum,
        CAST(SUM(CASE WHEN event_type = 'view' AND ABS(value) < 1e16 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS pending_sum,
        COUNT(*) AS transaction_count
      FROM events"""))

  /** A6 running-max + argmax winner selection (swarm-types.ts:104-121),
    * deterministic tiebreak by lowest event_id. */
  val a6Argmax = QueryDef(
    "a6_argmax",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      T(s, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === lit(1))
        .select(col("event_type"), col("event_id").as("winner_event"),
          col("user_id").as("winner_user"), col("value").as("winning_value"))
        .orderBy(col("event_type").asc_nulls_last)
    },
    oracle = Some("""
      SELECT event_type, event_id AS winner_event, user_id AS winner_user,
        value AS winning_value
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id ASC) AS rn FROM events)
      WHERE rn = 1 ORDER BY event_type"""))

  /** A9 integer bps fee/burn accounting (burn.ts:65-72): all-long math on
    * cents, 5000 bps burn, treasury = fee - burn. */
  val a9FeeAccounting = QueryDef(
    "a9_fee_accounting",
    (s, dir) => T(s, dir).orders
      .withColumn("fee_c", round(col("o_totalprice") * lit(100), 0).cast("long"))
      .withColumn("burn_c", expr("(fee_c * 5000) div 10000"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(col("fee_c")).as("total_fee_c"),
        sum(col("burn_c")).as("total_burn_c"),
        sum(col("fee_c") - col("burn_c")).as("total_treasury_c"))
      .orderBy(col("o_orderpriority")),
    oracle = Some("""
      SELECT o_orderpriority,
        CAST(SUM(fee_c) AS BIGINT) AS total_fee_c,
        CAST(SUM(burn_c) AS BIGINT) AS total_burn_c,
        CAST(SUM(fee_c - burn_c) AS BIGINT) AS total_treasury_c
      FROM (SELECT o_orderpriority,
              CAST(ROUND(o_totalprice * 100) AS BIGINT) AS fee_c,
              (CAST(ROUND(o_totalprice * 100) AS BIGINT) * 5000) // 10000 AS burn_c
            FROM orders)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** A10 weighted composite discovery score (discovery.ts:122-139),
    * emitted as round(score*1000) to stay integer-exact. */
  val a10DiscoveryScore = QueryDef(
    "a10_discovery_score",
    (s, dir) => {
      val t = T(s, dir)
      customerWithOrderAgg(t, count(lit(1)).as("cnt"))
        .withColumn("n_orders", coalesce(col("cnt"), lit(0L)))
        .withColumn("score",
          lit(0.4) * greatest(lit(0.0), least(col("c_acctbal"), lit(5000.0)) / lit(5000.0)) +
            lit(0.3) * (least(col("n_orders").cast("double"), lit(20.0)) / lit(20.0)) +
            lit(0.2) * when(col("c_mktsegment") === lit("BUILDING"), lit(1.0)).otherwise(lit(0.0)) +
            lit(0.1) * when(col("c_acctbal") > lit(0.0), lit(1.0)).otherwise(lit(0.0)))
        .select(col("c_custkey"),
          round(col("score") * lit(1000), 0).cast("long").as("score_1000"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey,
        CAST(ROUND((
          0.4 * GREATEST(0.0, LEAST(c_acctbal, 5000.0) / 5000.0) +
          0.3 * (LEAST(CAST(COALESCE(cnt, 0) AS DOUBLE), 20.0) / 20.0) +
          0.2 * (CASE WHEN c_mktsegment = 'BUILDING' THEN 1.0 ELSE 0.0 END) +
          0.1 * (CASE WHEN c_acctbal > 0.0 THEN 1.0 ELSE 0.0 END)) * 1000) AS BIGINT) AS score_1000
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
        ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  /** A11 success-rate derivation with zero-guard + clamp
    * (keiro-client.ts:192-196). */
  val a11SuccessRate = QueryDef(
    "a11_success_rate",
    (s, dir) => {
      val t = T(s, dir)
      customerWithOrderAgg(t,
        count(lit(1)).as("tasks"),
        count_if(col("o_orderstatus") === lit("F")).as("disputes"))
        .withColumn("tasks", coalesce(col("tasks"), lit(0L)))
        .withColumn("disputes", coalesce(col("disputes"), lit(0L)))
        .withColumn("success_pct",
          when(col("tasks") === lit(0L), lit(100L))
            .otherwise(least(lit(100L), greatest(lit(0L),
              round((lit(1.0) - col("disputes").cast("double") / col("tasks").cast("double")) * lit(100), 0)
                .cast("long")))))
        .select(col("c_custkey"), col("tasks"), col("disputes"), col("success_pct"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey,
        COALESCE(tasks, 0) AS tasks,
        COALESCE(disputes, 0) AS disputes,
        CASE WHEN COALESCE(tasks, 0) = 0 THEN 100
             ELSE LEAST(100, GREATEST(0,
               CAST(ROUND((1.0 - CAST(disputes AS DOUBLE) / CAST(tasks AS DOUBLE)) * 100) AS BIGINT)))
        END AS success_pct
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS tasks,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS disputes
        FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  /** A14 exact distinct-entity count (governance.ts:49 voterCount). */
  val a14DistinctCount = QueryDef(
    "a14_distinct_count",
    (s, dir) => T(s, dir).events
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_last),
    oracle = Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** A14b approximate distinct tier: HyperLogLog++ at 2% target error —
    * the 100 TB form of A14 (exact COUNT DISTINCT shuffles every distinct
    * key; HLL ships fixed-size sketches and merges map-side). Approximate
    * by nature → rows-only check; SemanticsSpec pins the relative error
    * against the exact count. */
  val a14ApproxDistinct = QueryDef(
    "a14_approx_distinct",
    (s, dir) => T(s, dir).events
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc_nulls_last),
    oracle = None)

  // ------------------------------------------------------------ windows/sorts

  /** W2 sort + limit/offset pagination (indexer.ts:64-83). */
  val w2Pagination = QueryDef(
    "w2_pagination",
    (s, dir) => T(s, dir).orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(10)
      .limit(20),
    oracle = Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 10"""))

  /** W3 recent-N per key (ws-server.ts:149-150, last 50 per channel). */
  val w3RecentPerKey = QueryDef(
    "w3_recent_per_key",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      T(s, dir).events
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= lit(3L))
        .select(col("user_id"), col("rn"), col("event_id"), col("event_type"))
        .orderBy(col("user_id").asc_nulls_last, col("rn"))
    },
    oracle = Some("""
      SELECT user_id, rn, event_id, event_type
      FROM (SELECT user_id, event_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      WHERE rn <= 3 ORDER BY user_id, rn"""))

  /** W3 at scale: the recent-3-per-user result of [[w3RecentPerKey]]
    * computed with the bounded top-k aggregator
    * ([[graft.functions.TopKAggregator]]) instead of a ranking window,
    * hash-checked against its own DuckDB twin. One deliberate contract
    * difference from the window form: recency here is MILLISECOND
    * resolution + event_id tiebreak (the heap scores ts_ms — epoch
    * nanos exceed a double's exact range — and the reference's message
    * timestamps are JS epoch-millis anyway), so the oracle orders by
    * epoch_ms(ts) where the window form uses the raw nanos column; the
    * two differ only on same-millisecond events whose nano order
    * disagrees with id order.
    *
    * Why it exists: the window form shuffles EVERY event and sorts each
    * user's slice before discarding all but 3 rows. The aggregator holds
    * a 3-row heap per (task, key) in partial (map-side) aggregation, so
    * the exchange carries at most 3 rows per partition per key — on the
    * reference's actual W3 workload (a few hot channels, unbounded
    * messages: ws-server.ts:149-150, message-store.ts:30-45) that is the
    * difference between shipping the corpus and shipping k·channels
    * rows. The window's (ts desc, event_id desc) order is encoded into
    * the heap's (score desc, id asc) total order as (score = ts_ms,
    * id = −event_id); PlanSpec asserts no Window node and a partial
    * ObjectHashAggregate. */
  val w3RecentTopk = QueryDef(
    "w3_recent_topk",
    (s, dir) => {
      implicit val bufEnc = org.apache.spark.sql.Encoders
        .product[graft.functions.TopKBuf[String]]
      val top3 = udaf(new graft.functions.TopKAggregator[String](3),
        org.apache.spark.sql.Encoders.product[graft.functions.Scored[String]])
      T(s, dir).events
        // the typed aggregator's Scored.score/id are primitive fields —
        // TopK.scala's documented "null scores must be filtered by the
        // caller" contract; unfiltered, one null-ts row under a nullable
        // store tier kills the whole query in the input encoder, where
        // the window twin simply sorts it last (a null-ts event is never
        // among the 3 most recent here — the deliberate narrowing)
        .filter(col("ts_ms").isNotNull && col("event_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(top3(col("ts_ms").cast("double"), -col("event_id"),
          col("event_type")).as("top"))
        .select(col("user_id"), posexplode(col("top.items")))
        .select(col("user_id"), (col("pos") + lit(1)).cast("long").as("rn"),
          (-col("col.id")).as("event_id"), col("col.pay").as("event_type"))
        .orderBy(col("user_id").asc_nulls_last, col("rn"))
    },
    oracle = Some("""
      SELECT user_id, rn, event_id, event_type
      FROM (SELECT user_id, event_id, event_type,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
            -- mirrors the Spark side's null pre-filter (the typed
            -- aggregator cannot hold null scores/ids): without it a
            -- user with < 3 non-null-ts events would get a null-ts row
            -- at rn=3 here that the aggregator form never emits. This
            -- is the ONE deliberate divergence from w3_recent_per_key,
            -- whose window ranks null-ts rows last.
            FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
      WHERE rn <= 3 ORDER BY user_id, rn"""))

  /** W5 before-cursor pagination (message-store.ts:38-44): history strictly
    * before a cursor, newest `limit` rows per key. */
  val w5BeforeCursor = QueryDef(
    "w5_before_cursor",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      T(s, dir).events
        .filter(col("ts_ms") < lit(1705276800000L)) // cursor: 2024-01-15T00:00Z
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= lit(2L))
        .select(col("user_id"), col("rn"), col("event_id"))
        .orderBy(col("user_id").asc_nulls_last, col("rn"))
    },
    oracle = Some("""
      SELECT user_id, rn, event_id
      FROM (SELECT user_id, event_id,
              ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE epoch_ms(ts) < 1705276800000)
      WHERE rn <= 2 ORDER BY user_id, rn"""))

  /** W6 duration-tier multiplier cascade (stake/page.tsx:143-149):
    * ≥180d→20000, ≥90d→15000, ≥30d→12000, else 10000 bps. The as-of
    * sits INSIDE the data's order-date range (orders run to 2001-08-01)
    * so per-order ages span <30 through ≥180 and the gate exercises ALL
    * FOUR tiers — the old 2001-12-31 as-of made every age ≥ 152 days,
    * leaving the 12000/10000 branches permanently dead here (a7 got the
    * same fix in r12; this was the sibling site). f_vote_weight keeps
    * its later as-of deliberately: its duration is measured from each
    * customer's EARLIEST order, which the reference's `now − start`
    * requires to be non-negative, and a min-date input can't reach the
    * low tiers regardless. */
  val w6TierMultiplier = QueryDef(
    "w6_tier_multiplier",
    (s, dir) => T(s, dir).orders
      .withColumn("age_days",
        datediff(lit("2001-08-15").cast("date"), col("o_orderdate").cast("date")).cast("long"))
      .withColumn("multiplier_bps", Tiers.multiplierBps(col("age_days")))
      .select(col("o_orderkey"), col("age_days"), col("multiplier_bps"))
      .orderBy(col("o_orderkey")),
    oracle = Some("""
      SELECT o_orderkey,
        date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-15') AS age_days,
        CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-15') >= 180 THEN 20000
             WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-15') >= 90 THEN 15000
             WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '2001-08-15') >= 30 THEN 12000
             ELSE 10000 END AS multiplier_bps
      FROM orders ORDER BY o_orderkey"""))

  // -------------------------------------------------------------- set ops

  /** SO1 except / new-arrivals detection (useHiveVizState.ts:52-56). */
  val so1Except = QueryDef(
    "so1_except",
    (s, dir) => {
      val t = T(s, dir)
      val y95 = t.orders.filter(year(col("o_orderdate")) === lit(1995))
        .select(col("o_custkey"))
      val y96 = t.orders.filter(year(col("o_orderdate")) === lit(1996))
        .select(col("o_custkey"))
      y95.except(y96).orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1995
      EXCEPT
      SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1996
      ORDER BY o_custkey"""))

  /** SO2 keyed dedup, deterministic keeper = min id (client.ts:1753-1762
    * nullifier one-use). */
  val so2DedupKeyed = QueryDef(
    "so2_dedup_keyed",
    (s, dir) => T(s, dir).events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n"))
      .orderBy(col("user_id").asc_nulls_last, col("event_type").asc_nulls_last),
    oracle = Some("""
      SELECT user_id, event_type, MIN(event_id) AS first_event, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type"""))

  /** SO3 union of streams (useAgentStream.ts:42-48 replay ∪ live). */
  val so3Union = QueryDef(
    "so3_union",
    (s, dir) => {
      val t = T(s, dir)
      val a = t.events.filter(col("event_type") === lit("purchase")).select(col("user_id"))
      val b = t.events.filter(col("event_type") === lit("signup")).select(col("user_id"))
      a.union(b).distinct().orderBy(col("user_id").asc_nulls_last)
    },
    oracle = Some("""
      SELECT user_id FROM events WHERE event_type = 'purchase'
      UNION
      SELECT user_id FROM events WHERE event_type = 'signup'
      ORDER BY user_id"""))

  /** SO4 relational intersect (oracle.ts:154-158 set-intersection shape). */
  val so4Intersect = QueryDef(
    "so4_intersect",
    (s, dir) => {
      val t = T(s, dir)
      val y95 = t.orders.filter(year(col("o_orderdate")) === lit(1995))
        .select(col("o_custkey"))
      val y96 = t.orders.filter(year(col("o_orderdate")) === lit(1996))
        .select(col("o_custkey"))
      y95.intersect(y96).orderBy(col("o_custkey"))
    },
    oracle = Some("""
      SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE date_part('year', o_orderdate) = 1996
      ORDER BY o_custkey"""))

  // ------------------------------------------------------- scalar functions

  /** Slug normalization (keiro-client.ts:36-38): lower/trim +
    * regexp_replace(/[\s_]+/, "-"). DuckDB needs the 'g' flag to match
    * Spark's replace-all. */
  val fSlug = QueryDef(
    "f_slug",
    (s, dir) => T(s, dir).customer
      // the whitespace class is spelled out on BOTH sides (ddExactNorm's
      // rule): Java's \s includes vertical tab 0x0B where RE2's does
      // not, so the shorthand classes have different acceptance sets
      .select(col("c_custkey"),
        regexp_replace(trim(lower(col("c_name"))),
          "[ \\t\\n\\x0B\\f\\r_]+", "-").as("slug"))
      .orderBy(col("c_custkey")),
    oracle = Some("""
      SELECT c_custkey,
        regexp_replace(trim(lower(c_name)), '[ \t\n\x0B\f\r_]+', '-', 'g') AS slug
      FROM customer ORDER BY c_custkey"""))

  /** Payment-tier classification (reputation-tiers.ts:1-16): rep∧tx
    * thresholds over balance and order count. */
  val fTier = QueryDef(
    "f_tier",
    (s, dir) => {
      val t = T(s, dir)
      customerWithOrderAgg(t, count(lit(1)).as("cnt"))
        .withColumn("n_orders", coalesce(col("cnt"), lit(0L)))
        .withColumn("tier",
          when(col("c_acctbal") >= lit(8000.0) && col("n_orders") >= lit(3L), lit("elite"))
            .when(col("c_acctbal") >= lit(5000.0) && col("n_orders") >= lit(2L), lit("premium"))
            .when(col("c_acctbal") >= lit(1000.0), lit("basic"))
            .otherwise(lit("standard")))
        .select(col("c_custkey"), col("n_orders"), col("tier"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey, COALESCE(cnt, 0) AS n_orders,
        CASE WHEN c_acctbal >= 8000.0 AND COALESCE(cnt, 0) >= 3 THEN 'elite'
             WHEN c_acctbal >= 5000.0 AND COALESCE(cnt, 0) >= 2 THEN 'premium'
             WHEN c_acctbal >= 1000.0 THEN 'basic'
             ELSE 'standard' END AS tier
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
        ON c_custkey = o_custkey
      ORDER BY c_custkey"""))

  /** JSON field extraction with typed cast (swarm-llm.server.ts:17-37,
    * SwarmEvent.data Json). */
  val fJsonExtract = QueryDef(
    "f_json_extract",
    (s, dir) => graft.QueryDef.kernelSorted(
      T(s, dir).events.select(col("event_id"), col("props")),
      col("event_id")) {
      _.withColumn("k_str", get_json_object(col("props"), "$.k"))
      // STRICT integer-string parse, identical on both engines: DuckDB's
      // CAST('1.5' AS BIGINT) ROUNDS where Spark's string cast does not,
      // so a bare cast twins only because the pinned corpora always
      // carry integer $.k — under the jdbc: store tier props is
      // arbitrary and the sides would silently diverge. Integer-or-null
      // is exactly expressible in both. The digit count is bounded at 18
      // (every 18-digit integer fits a Long) because an out-of-range
      // token passing an unbounded regexp CRASHES both engines instead
      // of folding to null — Spark's ANSI cast throws overflow, DuckDB's
      // CAST errors the whole oracle query (ADVICE r12).
        .select(col("event_id"),
          when(col("k_str").rlike("^-?[0-9]{1,18}$"), col("k_str").cast("long")).as("k"))
    },
    oracle = Some("""
      SELECT event_id,
        -- json_valid gate first (nested CASE, not AND — SQL does not
        -- guarantee short-circuit): a malformed props row would error
        -- json_extract_string's implicit JSON cast and abort the WHOLE
        -- oracle query, while Spark's get_json_object nulls that row
        CASE WHEN json_valid(props) THEN
          CASE WHEN regexp_matches(json_extract_string(props, '$.k'), '^-?[0-9]{1,18}$')
               THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END
        END AS k
      FROM events ORDER BY event_id"""))

  /** Deterministic content hash (private-escrow.ts:100-105 commitments). */
  val fHash = QueryDef(
    "f_hash",
    (s, dir) => T(s, dir).documents
      .select(col("doc_id"), md5(col("text")).as("h_md5"),
        sha2(col("text"), 256).as("h_sha256"))
      .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
      FROM documents ORDER BY doc_id"""))

  /** Date/time decomposition (reputation-prover-impl.ts:143 epoch-day;
    * countdown d/h/m governance/[id]/page.tsx:18-25). */
  val fDatetime = QueryDef(
    "f_datetime",
    (s, dir) => T(s, dir).events
      .select(
        col("event_id"),
        // FLOOR bucketing and pmod offsets throughout (a3's rule): the
        // oracle's strftime/date_part are CALENDAR functions — floor
        // semantics — so a truncating div would shift every pre-1970
        // row's day/hour/minute against them (r13 sweep)
        FloorTime.floorDiv("ts", 86400000000000L)
          .as("epoch_day"),
        // ZONE-FREE decomposition: date_format/hour/minute on the
        // event_time INSTANT render in the session zone, and the
        // driver's session is not guaranteed UTC (Tables.tsAsNanos made
        // the READ zone-free; formatting must be too, or every row
        // shifts by the zone offset against the oracle's naive
        // strftime). Integer epoch math + DateType formatting (dates
        // are zoneless) is zone-independent by construction.
        date_format(
          date_add(lit("1970-01-01").cast("date"),
            expr(s"cast(${FloorTime.floorDivSql("ts_ms", 86400000L)} as int)")),
          "yyyy-MM-dd").as("day_str"),
        expr(s"pmod(${FloorTime.floorDivSql("ts_ms", 3600000L)}, 24)")
          .cast("long").as("hr"),
        expr(s"pmod(${FloorTime.floorDivSql("ts_ms", 60000L)}, 60)")
          .cast("long").as("mins"))
      .orderBy(col("event_id")),
    oracle = Some("""
      SELECT event_id,
        (epoch_ms(ts) - ((epoch_ms(ts) % 86400000 + 86400000) % 86400000))
          // 86400000 AS epoch_day,
        strftime(ts, '%Y-%m-%d') AS day_str,
        CAST(date_part('hour', ts) AS BIGINT) AS hr,
        CAST(date_part('minute', ts) AS BIGINT) AS mins
      FROM events ORDER BY event_id"""))

  val defs: Seq[QueryDef] = Seq(
    q1Agg, w1Leaderboard,
    p1Projection, p2FilterEq, p3FilterConj, p4RangePred, p5EnumMembership,
    p6Validation, p7Sanitize, p8ArrayForall,
    j1FkJoin, j2BroadcastLookup, j4DoubleHop, j6Semi, j7Anti, j9LeftOuter,
    a1VoteTally, a2ThresholdDecision, a3EpochAgg, a5TimeBuckets, a6Argmax,
    a9FeeAccounting, a10DiscoveryScore, a11SuccessRate, a14DistinctCount,
    a14ApproxDistinct,
    w2Pagination, w3RecentPerKey, w3RecentTopk, w5BeforeCursor, w6TierMultiplier,
    so1Except, so2DedupKeyed, so3Union, so4Intersect,
    fSlug, fTier, fJsonExtract, fHash, fDatetime)
}
