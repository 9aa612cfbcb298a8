package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{Scored, TopKAggregator}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import RunCaches.{cachedFeature, srcVersion}

/** Similarity search over the `embeddings` table (driver-requested
  * training-data-pipeline surface) plus MinHash/SimHash near-dup over
  * `documents`.
  *
  * Three tiers:
  *  - `sim_topk_dot`: exact top-k by integer-quantized inner product —
  *    float-free, so it is DuckDB-oracle-checkable bit-for-bit.
  *  - `sim_topk_cosine`: brute-force cosine top-k in double precision,
  *    the correctness baseline for ANN (rows-only check).
  *  - `sim_lsh_topk` / `dd_minhash` / `dd_simhash`: hash-bucketed scale
  *    paths — candidates come from bucket joins (shuffle on short hash
  *    keys), never from an unconstrained cross join, so they survive a
  *    100× scale-up; each candidate pair is then verified exactly.
  *
  * Ranking everywhere is the bounded top-k aggregator
  * ([[graft.functions.TopKAggregator]]) under `groupBy(qid)` — partial
  * aggregation holds a size-k buffer per (partition, query) and the
  * exchange carries only k rows per partition per query. The per-qid
  * window it replaced sorted the full candidate set in (number of
  * queries) single tasks — fine at sf0.1, a wall at 100×.
  *
  * Signature computation is deliberately a compact deterministic JVM
  * kernel (UDF), not a Catalyst expression tree: a 16-plane × 64-dim
  * hyperplane set as nested `lit()` arrays is ~1k expressions evaluated
  * per row (interpreted — higher-order lambdas break whole-stage
  * codegen), which benched ~20× slower than the closure. The kernels
  * are pure functions of the row (no state, no nondeterminism), so they
  * distribute like any codegen'd projection.
  *
  * Grounding: the reference's similarity primitive is the token-overlap
  * scorer (oracle.ts:146-175); the embedding ops generalize it to the
  * vector column per the driver brief.
  */
object Similarity {

  private def T(s: SparkSession, dir: String) = {
    // driver-owned sessions may lack spark.sql.extensions; idempotent
    graft.GraftExtensions.ensureRegistered(s)
    Tables(s, dir)
  }

  /** embedding: Array[Float] → integer grid (×1000, rounded). Exact both
    * engines; all downstream math is Long. A vector holding any
    * non-finite, null, or out-of-envelope (|x| > 1000) component folds
    * to null WHOLE — the engine's malformed-vector posture (DotLong
    * nulls ragged pairs, the LSH kernel drops null-element vectors) —
    * instead of throwing on the ANSI long cast: floats reach 3.4e38 and
    * cast(NaN as long) is a SparkArithmeticException, which would kill
    * the query for the whole corpus over one bad row. The 1000 envelope
    * is the documented exactness bound (|q| ≤ 10^6 keeps a 64-dim dot
    * near 2^46, exact under the heap's double compare); both oracles
    * carry the identical guard. */
  private def quantized(c: Column): Column =
    when(exists(c, x => x.isNull || isnan(x) || abs(x) > lit(1000.0f)),
      lit(null).cast("array<long>"))
      .otherwise(transform(c, x => round(x.cast("double") * lit(1000), 0).cast("long")))

  /** Inner products via the native Catalyst expressions
    * ([[graft.functions.DotLong]] / [[graft.functions.DotFloat]]): the
    * tight loop is code-GENERATED inside the surrounding
    * whole-stage-codegen span over Tungsten ArrayData — no UDF
    * serialization boundary, no Row→Seq conversion, no codegen fence —
    * the brief's preferred form for scalar kernels (Expression with
    * doGenCode > Scala UDF). Null input → null and accumulation is
    * strictly left-to-right, so results are bit-for-bit unchanged from
    * the UDF kernels they replace — including the double path (float
    * addition order preserved). One deliberate tightening: a ragged
    * (length-mismatched) pair is now null, where the UDFs computed a
    * silently partial dot over min(length) — a malformed embedding
    * surfaces as a null score instead of a wrong one (catalog vectors
    * are fixed-width, so no catalog result changes).
    *
    * Registered on the session by [[graft.GraftExtensions]]; the
    * ensureRegistered call covers driver-owned sessions that were not
    * built with `spark.sql.extensions=graft.GraftExtensions`. */
  private def dotLong(a: Column, b: Column): Column =
    call_function("dot_long", a, b)

  /** Both call sites feed `array<float>` embedding columns. */
  private def dotDouble(a: Column, b: Column): Column =
    call_function("dot_float", a, b)

  // --- bounded top-k ranking (the scale-safe window replacement) ---

  private lazy val topk5 = {
    implicit val bufEnc = Encoders.product[graft.functions.TopKBuf[Long]]
    udaf(new TopKAggregator[Long](5), Encoders.product[Scored[Long]])
  }

  /** Schema-true empty frame from a DDL string — the ONE definition of
    * the empty-part/empty-state substitution rule (probe-side empty
    * markers, zero-delta stream state, band-degenerate increments).
    * Review r19: three inline copies had grown across the probe and
    * ingest paths; a drift in one (nullability, metadata) would have
    * silently diverged the empty case from the populated one. */
  private[operators] def emptyFromDdl(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Ranks a scored candidate frame — columns (qid, score, id, pay) — to
    * the top 5 per qid via the partial-aggregating bounded heap. Output:
    * (qid, rank, id, score, pay) with rank 1..5 ordered score desc, id
    * asc — the identical total order the per-qid row_number window
    * produced, without ever sorting more than 5 rows per task per qid. */
  private def rankTop5(scored: DataFrame): DataFrame =
    scored
      // The old desc window ranked nulls last and NaN first; neither is a
      // meaningful neighbor score (null = malformed pair, NaN = zero-norm
      // cosine), and a NaN entering the bounded heap would break its sorted
      // invariant (NaN loses every `>` comparison, so it prepends into a
      // non-full buffer and, once last in a full one, blocks all inserts) —
      // both are excluded before aggregation.
      .filter(col("score").isNotNull && !isnan(col("score")))
      .groupBy(col("qid"))
      .agg(topk5(col("score"), col("id"), col("pay")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + lit(1)).cast("long").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"), col("col.pay").as("pay"))

  // --- deterministic JVM hash kernels (shared by the LSH family) ---

  /** Hyperplane-LSH band kernel: `nPlanes` Gaussian hyperplanes drawn
    * deterministically from `seed`, each vector's sign signature packed
    * into `nBands` band values (nPlanes/nBands bits each). Shared by the
    * LSH top-k probe (24 planes, seed 42) and the embedding near-dup
    * (16 planes, seed 1337) so the two copies cannot drift; null OR
    * ragged vector (length ≠ dim) → no bands, row drops out — a
    * truncated vector must surface as malformed at the signature
    * stage, not band plausibly from a partial dot product while its
    * verify dot nulls out (the same silent-truncation behavior the
    * DotLong/DotFloat rewrite deliberately tightened to null). */
  private def hyperplaneBandsUdf(dim: Int, nPlanes: Int, nBands: Int, seed: Long) = {
    val rng = new java.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
    // boxed element type: a vector holding a null ELEMENT is the same
    // malformed-input class as a ragged one and must drop out as
    // band-less, not NPE the deserializer — every other vector kernel
    // (DotLong/DotFloat null-fold, collectCentroids' element filter)
    // already treats it as representable input (r13 third sweep)
    udf((v: Seq[java.lang.Float]) => {
      if (v == null || v.length != dim || v.contains(null)) Array.empty[Long]
      else {
        val sig = new Array[Int](nPlanes)
        var p = 0
        while (p < nPlanes) {
          val pl = planes(p)
          var d = 0.0
          var i = 0
          val n = pl.length
          while (i < n) { d += pl(i) * v(i).floatValue; i += 1 }
          sig(p) = if (d >= 0.0) 1 else 0
          p += 1
        }
        Array.tabulate(nBands) { b =>
          var acc = 0L
          var j = 0
          val w = nPlanes / nBands
          while (j < w) { acc = acc * 2 + sig(b * w + j); j += 1 }
          acc
        }
      }
    })
  }

  /** Exact top-5 neighbors by quantized inner product for query vectors
    * vec_id < 5. Integer math end-to-end → DuckDB-checkable. (The heap
    * aggregator compares the dot as a double — exact below 2^53, and a
    * 64-dim grid of ±10^6 components tops out near 2^46 — while the
    * emitted dot rides through the Long payload untouched.) */
  val simTopkDot = QueryDef(
    "sim_topk_dot",
    (s, dir) => {
      val e = T(s, dir).embeddings.select(col("vec_id"), quantized(col("embedding")).as("q"))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("q").as("qv"))
      val cands = e.select(col("vec_id").as("nid"), col("q").as("nv"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("dot", dotLong(col("qv"), col("nv")))
        .select(col("qid"), col("dot").cast("double").as("score"),
          col("nid").as("id"), col("dot").as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"), col("pay").as("dot"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some("""
      WITH e AS (
        -- the malformed-vector guard mirrors quantized(): any null /
        -- NaN / out-of-envelope component nulls the whole vector
        SELECT vec_id,
          CASE WHEN len(list_filter(embedding,
                 x -> x IS NULL OR isnan(x) OR abs(x) > 1000)) > 0 THEN NULL
          ELSE list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS q
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
          (SELECT CAST(SUM(z.xa * z.xb) AS BIGINT)
           FROM (SELECT unnest(a.q) AS xa, unnest(b.q) AS xb) z) AS dot
        FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, nid, dot,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS rank
        FROM pairs WHERE dot IS NOT NULL)
      SELECT qid, rank, nid, dot FROM ranked WHERE rank <= 5
      ORDER BY qid, rank"""),
    headline = true)

  /** Brute-force cosine top-5 (double) — ANN correctness baseline.
    * Rows-only check: float accumulation order is engine-specific. */
  val simTopkCosine = QueryDef(
    "sim_topk_cosine",
    (s, dir) => {
      val e = T(s, dir).embeddings
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      val cands = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("cos", dotDouble(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = None)

  /** Quantized-cosine top-5 with an EXACT oracle: dots and squared norms
    * are integer (quantized grid), so no float accumulation order exists;
    * the only float steps are per-pair sqrt/divide/round — single IEEE
    * operations that both engines compute bit-identically. This makes the
    * ANN correctness baseline hash-checkable, not just rows-only. */
  val simTopkCosineQ = QueryDef(
    "sim_topk_cosine_q",
    (s, dir) => {
      val e = T(s, dir).embeddings.select(col("vec_id"), quantized(col("embedding")).as("q"))
        .withColumn("n2", dotLong(col("q"), col("q")))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("nid"), col("q").as("nv"), col("n2").as("nn2"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("dot", dotLong(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double"))))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some("""
      WITH e AS (
        -- the malformed-vector guard mirrors quantized(): any null /
        -- NaN / out-of-envelope component nulls the whole vector
        SELECT vec_id,
          CASE WHEN len(list_filter(embedding,
                 x -> x IS NULL OR isnan(x) OR abs(x) > 1000)) > 0 THEN NULL
          ELSE list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS q
        FROM embeddings),
      n AS (
        SELECT vec_id, q,
          (SELECT CAST(SUM(z.x * z.x) AS BIGINT) FROM (SELECT unnest(q) AS x) z) AS n2
        FROM e),
      pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
          (SELECT CAST(SUM(z.xa * z.xb) AS BIGINT)
           FROM (SELECT unnest(a.q) AS xa, unnest(b.q) AS xb) z) AS dot,
          a.n2 AS qn2, b.n2 AS nn2
        FROM n a JOIN n b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, nid,
          CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
            CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) DESC,
            nid ASC) AS rank
        -- qn2/nn2 > 0 mirrors rankTop5's NaN exclusion (a zero-norm side
        -- makes cos 0/0 = NaN, which Spark drops BEFORE the heap; DuckDB
        -- would rank NaN above every real score and then error on the
        -- ROUND cast); dot IS NOT NULL mirrors the null-score drop
        FROM pairs WHERE dot IS NOT NULL AND qn2 > 0 AND nn2 > 0)
      SELECT qid, rank, nid,
        CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_q6
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  /** LSH-bucketed cosine top-k: random-hyperplane signatures (seeded,
    * deterministic), candidates share a signature band, exact re-rank
    * inside buckets.
    *
    * Scale shape: signatures are computed ONCE over the corpus; candidate
    * generation is a broadcast probe of the k query signatures against the
    * banded corpus (no self-join, no shuffle of vectors); the distinct
    * runs on narrow (qid, nid) longs; only surviving candidates rejoin
    * their vectors for exact re-rank — which partially aggregates through
    * the bounded top-k heap. At 100 TB the corpus-side work is a single
    * scan + one narrow exchange. */
  val simLshTopk = QueryDef(
    "sim_lsh_topk",
    (s, dir) => {
      // 8 bands x 3 bits — measured 0.92+ top-5 recall on the
      // near-orthogonal synthetic corpus (4x4 gave 0.48; per-band collision
      // p ≈ 0.27 at cos 0.45, so P(≥1 of 8 bands) ≈ 0.92)
      val bandValsUdf = hyperplaneBandsUdf(dim = 64, nPlanes = 24, nBands = 8, seed = 42L)

      val e = T(s, dir).embeddings.select(col("vec_id"), col("embedding").as("v"))
      val banded = e
        .select(col("vec_id"), posexplode(bandValsUdf(col("v"))))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_val")
      val qBands = banded.filter(col("vec_id") < lit(5L))
        .select(col("band"), col("band_val"), col("vec_id").as("qid"))
      // candidate ids only — narrow shuffle-free broadcast probe
      val candIds = banded.join(broadcast(qBands), Seq("band", "band_val"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nid"))
        .distinct()
      val withNorm = e.withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
      val qVecs = withNorm.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      val scored = candIds
        .join(withNorm.select(col("vec_id").as("nid"), col("v").as("nv"),
          col("norm").as("nn")), Seq("nid"))
        .join(broadcast(qVecs), Seq("qid"))
        .withColumn("cos", dotDouble(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = None,
    headline = true)

  /** Shared MinHash feature frame for [[ddMinhash]] / [[ddMinhashCc]]:
    * one scan of `documents` → (doc_id, bands, toks), persisted.
    *
    * Bucket values per band come from one fused JVM pass over the raw
    * text: tokenize (lower, split on space, len>3 — same rule as the
    * builtin `tokens` used by the verify joins; duplicates don't move a
    * min, so no distinct needed), then a PORTABLE md5-derived minhash
    * family (r15, replacing the seeded fnv/fmix kernel): one md5 per
    * token, and permutation i (0..31) orders tokens by the 15-hex-char
    * window read circularly from offset i of the digest, parsed as a
    * 60-bit Long — the one-hash-many-orderings trick (cf. Li/Owen/Zhang
    * one-permutation hashing): for uniform hex digits the 32 window
    * orderings behave as near-independent permutations, and EVERY step
    * is SQL-expressible (`('0x' || substr(h || h, i+1, 15))::BIGINT` in
    * DuckDB), which is what buys the family its exact oracle. Band
    * bucket b = the same 60-bit window at offset 0 of md5 over the
    * band's 4 mins rendered in decimal, comma-joined — Long buckets, so
    * the incremental index's pmod sharding and parquet layout are
    * unchanged. Cost vs the fmix kernel: one MessageDigest MD5 per
    * token (~0.5 µs) — measured at sf1 within noise of the old kernel
    * (the exact-verify join dominates; SURVEY §6.12). Taking the string
    * instead of a token array keeps the interpreted higher-order
    * filter/transform lambdas out of the per-row hot path entirely.
    * Both dedup queries share the SAME cache key, so running one warms
    * the other — and neither ever re-scans the corpus for a second plan
    * branch. */
  private val mhHashes = 32
  private val mhBands = 8
  /** Minhash token gate: only tokens LONGER than this enter the
    * signature (the `t.length > mhTokMinLen` fast path below — shared
    * by the simhash kernel). Part of [[minhashKernelId]]. */
  private val mhTokMinLen = 3
  /** The exact-Jaccard verify bar (integer percent) — the default every
    * verify/oracle path shares, and a [[minhashKernelId]] component. */
  private[graft] val mhVerifyPct = 50L

  /** Deterministic 16-hex fingerprint of a kernel's defining constants —
    * the canonical `k=v;…` string under an MD5 prefix (stable across
    * JVMs and runs, unlike Any.hashCode on case classes with arrays).
    * Folded into every `_incr` family's famPrefix so a KERNEL change
    * moves the index base automatically (r19): the version identity
    * (split, src mtime, shards) pins the corpus, this pins the code —
    * previously a hand-bump discipline (mh→mh2, sh→sh2) that a
    * forgotten edit would silently violate, serving a stale index whose
    * bands the new kernel can never hit. 64 bits, not the original
    * 32-bit MurmurHash3 (ADVICE r19): at 32 bits a kernel-knob edit had
    * a ~2^-32 chance of colliding with the prior fingerprint and
    * silently adopting a stale index — the exact failure the mechanism
    * exists to eliminate, and undetectable when it hits. */
  private[graft] def kernelFp(parts: (String, Any)*): String = {
    val canon = parts.map { case (k, v) => s"$k=$v" }.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** The minhash family's kernel identity: every constant whose change
    * invalidates a persisted (bands, toks) index. The string-valued
    * entries label rule-shaped knobs (tokenizer, hash family) that have
    * no single numeric constant; a structural rewrite of one of those
    * must update its label — a far smaller discipline than remembering
    * a whole famPrefix bump, and the numeric knobs are now mechanical. */
  private[graft] def minhashKernelId: Seq[(String, Any)] = Seq(
    "tok" -> s"lower-space-len>$mhTokMinLen",
    "hashfam" -> "md5-window60-circular",
    "hashes" -> mhHashes,
    "bands" -> mhBands,
    "bucket" -> "md5-top60-of-joined-mins",
    "verify" -> s"jaccardPct>=$mhVerifyPct")
  private[graft] def minhashKernelFp: String = kernelFp(minhashKernelId: _*)

  /** SimHash family kernel identity — see [[minhashKernelId]]. */
  private[graft] def simhashKernelId: Seq[(String, Any)] = Seq(
    "tok" -> s"lower-space-len>$mhTokMinLen-distinct",
    "hashfam" -> "md5-hi64",
    "bits" -> 64,
    "bands" -> 8,
    "bandBits" -> 8,
    "verify" -> s"hamming<=$shHamMax")
  private[graft] def simhashKernelFp: String = kernelFp(simhashKernelId: _*)

  /** Embedding-LSH family kernel identity — see [[minhashKernelId]]. */
  private[graft] def embKernelId: Seq[(String, Any)] = Seq(
    "hashfam" -> "gaussian-hyperplane-sign",
    "dim" -> embDim,
    "planes" -> embPlanes,
    "bands" -> embBandsN,
    "seed" -> embSeed,
    "verify" -> s"cos>=$embCosMin")
  private[graft] def embKernelFp: String = kernelFp(embKernelId: _*)
  /** MessageDigest is stateful and not thread-safe; per-token
    * getInstance would dominate the kernel. One instance per executor
    * thread. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** MD5 digest bytes of the UTF-8 string — the value Spark's builtin
    * `md5()` and DuckDB's `md5()` hex-encode. The kernels below work on
    * the raw 128 bits directly; the hex form exists only on the SQL
    * side. */
  private def md5Bytes(s: String): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  /** 8 digest bytes at `off` as a big-endian Long — byte k of the
    * digest holds hex chars 2k, 2k+1, so this Long's bits ARE hex chars
    * 2·off .. 2·off+15 in display order. */
  private def longBE(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }
  /** The 60-bit window at hex offset `off` (0..31) of a 128-bit digest
    * given as two big-endian Longs — bit-identical to parsing 15 hex
    * chars read circularly from the digest's hex form (the SQL twin
    * `('0x' || substr(h || h, off + 1, 15))::BIGINT`): hex char j is
    * nibble j from the top, so the window is the rotated-left-by-4·off
    * value's top 60 bits. Six shift/or ops replace 15 table lookups —
    * measured 2.5× off the kernel's per-token cost (§6.12), same bits
    * (the SemanticsSpec declarative twin + the DuckDB oracle both pin
    * it). */
  private def window60(hi: Long, lo: Long, off: Int): Long = {
    val k = off << 2
    val nhi =
      if (k == 0) hi
      else if (k < 64) (hi << k) | (lo >>> (64 - k))
      else if (k == 64) lo
      else (lo << (k - 64)) | (hi >>> (128 - k))
    nhi >>> 4
  }
  private lazy val mhBandBuckets = udf((text: String) => {
    val rowsPerBand = mhHashes / mhBands
    if (text == null) Array.empty[Long]
    else {
      val mins = Array.fill(mhHashes)(Long.MaxValue)
      Text.lowerLikeSpark(text).split(" ").foreach { t =>
        if (t.length > mhTokMinLen) {
          val d = md5Bytes(t)
          val hi = longBE(d, 0)
          val lo = longBE(d, 8)
          var i = 0
          while (i < mhHashes) {
            val hv = window60(hi, lo, i)
            if (hv < mins(i)) mins(i) = hv
            i += 1
          }
        }
      }
      if (mins(0) == Long.MaxValue) Array.empty[Long] // no tokens → no bands
      else Array.tabulate(mhBands) { b =>
        val sb = new java.lang.StringBuilder(80)
        var j = 0
        while (j < rowsPerBand) {
          if (j > 0) sb.append(',')
          sb.append(mins(b * rowsPerBand + j))
          j += 1
        }
        // band bucket = the offset-0 window = the digest's top 60 bits
        longBE(md5Bytes(sb.toString), 0) >>> 4
      }
    }
  })

  /** (doc_id, bands, toks) over an arbitrary `(doc_id, text)` frame —
    * the one banding rule shared by the full-corpus cache, the index
    * build and the increment probe, so their bucket values can never
    * drift. Tokenizer shared from Text for the same reason. */
  private[graft] def minhashFeatOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), mhBandBuckets(col("text")).as("bands"),
      Text.tokens(col("text")).as("toks"))

  private def minhashFeat(s: SparkSession, dir: String): DataFrame =
    cachedFeature(s, s"dd_minhash:$dir", srcVersion(s, dir, "documents.parquet")) {
      minhashFeatOf(T(s, dir).documents)
    }

  /** The exact-Jaccard verify tail of the minhash family and the cc
    * query: join (doc_id, keeper) candidates to both token sides and keep
    * pairs at ≥ `minPct` Jaccard. ONE definition — the probe==batch
    * equality contract rests on the threshold and the integer-div
    * expression never diverging between the paths. */
  private def jaccardVerifyRaw(cand: DataFrame, d: DataFrame,
      keeperToks: DataFrame, minPct: Long = mhVerifyPct): DataFrame =
    cand
      .join(d, Seq("doc_id"))
      .join(keeperToks, Seq("keeper"))
      .withColumn("inter", size(array_intersect(col("toks"), col("k_toks"))).cast("long"))
      // |A∪B| = |A|+|B|−|A∩B| EXACTLY here: both sides are
      // array_distinct token sets (minhashFeatOf) and size>0-filtered,
      // so materializing array_union would only re-derive three known
      // sizes — it was ~half the verify stage's CPU, which is the
      // whole-query hot spot once LSH has cut candidates to O(docs)
      // (r14 sf10 profile). Spark and DuckDB agree on the identity for
      // duplicate-free arrays; the family's probe≡batch specs run both
      // paths through this one definition.
      //
      // `minPct` (r18): the verify bar, default the family's 50. The
      // composed pipeline's wide twin raises it (only heavy near-dups
      // leave the flow) — parameterized HERE, the one definition, so the
      // variants share every expression of the verify tail.
      .withColumn("uni",
        (size(col("toks")) + size(col("k_toks"))).cast("long") - col("inter"))
      .filter(col("uni") > lit(0L) && expr("(inter * 100) div uni") >= lit(minPct))
      .select(col("doc_id"), col("keeper"), expr("(inter * 100) div uni").as("jaccard_pct"))

  /** A minhash feature frame's verify side: (doc_id, toks), docs with
    * at least one token. */
  private def mhSide(feat: DataFrame): DataFrame =
    feat.select(col("doc_id"), col("toks")).filter(size(col("toks")) > lit(0))

  /** The minhash family's verify at the Jaccard bar `minPct`, in catalog
    * order: the family declares it at [[mhVerifyPct]], the composed
    * pipeline's wide policy passes a higher bar to
    * [[VersionedIndex.dedup]]. The cc query takes [[jaccardVerifyRaw]]
    * unsorted — its edges feed straight into connectedComponents' own
    * repartitioning, where a global range-sort exchange of the edge set
    * would be pure waste (r13 third sweep). */
  private[graft] def minhashVerify(minPct: Long): VersionedIndex.Verify =
    (cand, feat, kSide) =>
      jaccardVerifyRaw(cand, mhSide(feat), kSide, minPct).orderBy(col("doc_id"))

  /** Oracle-side exact-Jaccard verify tail — ONE definition for every
    * pair source, mirroring the Scala side's jaccardVerifyRaw
    * discipline: the bar (`minPct`, default the family's 50; the
    * composed pipeline's wide twin raises it) and the integer-division
    * expression must never fork between the keeper-election oracles
    * (`ve` over the per-doc min-keeper `cand`) and the cc oracle (`vec`
    * over the full star-edge set `cande`) — a threshold edited in one
    * CTE but not the other would silently diverge one family's oracle
    * (review r16).
    * Declared BEFORE [[mhOracleCtes]]: object vals initialize in order,
    * and a forward reference here would bake a null into the SQL. */
  private val mhJacPct = "(inter * 100) // (sz - inter)"
  private def mhVerifyCtes(pairCte: String, vrName: String, veName: String,
      withJaccardCol: Boolean, minPct: Long = mhVerifyPct): String = s"""
      $vrName AS (
        SELECT c.doc_id AS doc_id, c.keeper AS keeper,
          CAST(length(list_intersect(a.toks, k.toks)) AS BIGINT) AS inter,
          CAST(length(a.toks) AS BIGINT)
            + CAST(length(k.toks) AS BIGINT) AS sz
        FROM $pairCte c
        JOIN ts a ON a.doc_id = c.doc_id
        JOIN ts k ON k.doc_id = c.keeper),
      $veName AS (
        SELECT doc_id, keeper${if (withJaccardCol) s", $mhJacPct AS jaccard_pct" else ""}
        FROM $vrName
        WHERE sz - inter > 0 AND $mhJacPct >= $minPct)"""

  /** [[mhOracleCtes]] with the corpus source parameterized — the
    * composed-pipeline oracle (`pipe_e2e`) recomputes the SAME election
    * over its decontaminated survivor CTE instead of raw `documents`;
    * one generator, so the two can never drift on a kernel expression
    * (r17). `src` must expose (doc_id, text). */
  private[operators] def mhOracleCtesOver(src: String, minPct: Long = mhVerifyPct): String = s"""
      tok AS (
        SELECT doc_id,
          unnest(list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3))) AS t
        FROM $src),
      th AS (SELECT doc_id, md5(t) AS h FROM tok),
      mh AS (
        SELECT doc_id, i,
          MIN(('0x' || substr(h || h, CAST(i + 1 AS INT), 15))::BIGINT) AS m
        FROM th, range(32) r(i) GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id, i // 4 AS band,
          ('0x' || substr(md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)),
            1, 15))::BIGINT AS bucket
        FROM mh GROUP BY doc_id, i // 4),
      keep AS (
        SELECT band, bucket, MIN(doc_id) AS keeper
        FROM bands GROUP BY band, bucket),
      cand AS (
        SELECT b.doc_id, MIN(k.keeper) AS keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id GROUP BY b.doc_id),
      ts AS (
        SELECT doc_id,
          list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3)) AS toks
        FROM $src
        WHERE toks IS NOT NULL AND length(toks) > 0),
      """ + mhVerifyCtes("cand", "vr", "ve", withJaccardCol = true, minPct)

  /** DuckDB re-derivation of the ENTIRE minhash pipeline — tokenize,
    * per-token md5, 32 circular 15-hex windows, per-window mins, band
    * buckets, keeper election, candidate assignment, exact-Jaccard
    * verify — shared by the three family oracles. Every expression is
    * the SQL twin of the fused kernel above; the `ve` CTE is the
    * verified (doc_id, keeper, jaccard_pct) row set the batch query
    * returns, which the incr/cc variants filter or close over. */
  private[operators] val mhOracleCtes = mhOracleCtesOver("documents")

  /** MinHash+LSH near-dup over documents: word shingles → 32 minhashes
    * (one base hash per token + 32 keyed avalanche permutations) →
    * 8 bands of 4 → per-bucket keeper assignment → exact Jaccard
    * verify ≥ 50%.
    *
    * Scale design: the classic all-pairs-within-bucket join is quadratic
    * in duplicate-cluster size (a 10k-copy boilerplate cluster → 10^8
    * pairs). Instead each bucket elects a keeper (min doc_id) via a
    * partial-aggregating groupBy — LINEAR in bucket size — and every doc
    * is verified against only its best (lowest-id) candidate keeper: one
    * output row per duplicate document, which is also the semantics a
    * dedup pipeline actually wants (keep one, drop the rest).
    *
    * The per-doc feature frame (band buckets + token set) is computed in
    * ONE scan of `documents` and persisted; the banded branch and both
    * sides of the exact-verify join read the cache instead of re-scanning
    * and re-tokenizing (Spark shares no subplans across DataFrame
    * branches — at 100 TB this is the difference between one corpus read
    * and three). Deterministic; ORACLE-EXACT since the md5-window hash
    * family landed (r15): every hash in the pipeline is derivable by
    * DuckDB from the same text, so the whole election is recomputed by
    * an independent engine (the mm_phash_dedup treatment applied to the
    * text family). */
  val ddMinhash = QueryDef(
    "dd_minhash",
    // ONE pass over documents: band buckets + token set per doc, cached
    // for the three consumers inside (banding, verify doc side, verify
    // keeper side).
    (s, dir) => VersionedIndex.dedup(minhashIncr, minhashFeat(s, dir)),
    oracle = Some(s"""
      WITH $mhOracleCtes
      SELECT doc_id, keeper, jaccard_pct FROM ve ORDER BY doc_id"""),
    headline = true)

  /** Transitive MinHash dedup clustering: [[ddMinhash]]'s candidate
    * generation, but instead of electing one keeper per document, the
    * verified candidate pairs become edges of a duplicate GRAPH and
    * every connected component collapses to one cluster — the semantics
    * a corpus-level dedup actually needs (A≈B and B≈C put A, B, C in
    * ONE cluster keyed by min doc_id, even when A and C never share a
    * bucket and their direct Jaccard is below threshold). Per-bucket
    * keeper election cannot express this transitivity; large-scale
    * dedup pipelines run exactly this candidate→verify→components
    * sequence over web corpora.
    *
    * Scale shape, stage by stage: candidate edges are the per-bucket
    * STAR edges (doc → bucket-min) — linear in bucket size, never
    * all-pairs-within-bucket; a star reaches every co-bucketed doc, so
    * CANDIDATE-stage bucket connectivity is fully preserved. Post-verify
    * the guarantee is narrower (the standard LSH-star recall trade-off):
    * two true near-dups co-bucketed with a dissimilar bucket-min keep
    * their link only through edges that pass the bar, so a pair whose
    * star edges BOTH fail the 50% verify loses a link an
    * all-pairs-per-bucket candidate set would have kept — that residual
    * recall gap is the price of the linear edge count (the pair usually
    * still meets through another band whose bucket-min is similar to
    * both). Each distinct candidate
    * edge (≤ nBands per doc) is verified by exact Jaccard ≥ 50% before
    * it can merge clusters (LSH false positives die here, so components
    * only ever contain verified-duplicate links); components come from
    * [[ScaleOps.connectedComponents]] (min-label propagation + pointer
    * jumping, bounded iterations, no driver collect). Reads the same
    * persisted single-scan feature frame as `dd_minhash`. Output: one
    * row per clustered doc — (doc_id, cluster_id, cluster_size) with
    * cluster_id = the component's min doc_id (cluster members with
    * doc_id == cluster_id are the kept representatives; the rest are
    * the drop set). Deterministic; ORACLE-EXACT (r15): DuckDB closes
    * the verified edge set with a recursive CTE (node → reachable,
    * label = MIN reachable) — a transitive-closure statement of the
    * semantics that Spark must match with the actual iterative
    * min-label/pointer-jump computation, the g1_components discipline
    * applied to the dedup graph. Transitive-chain fixture in
    * SemanticsSpec. */
  val ddMinhashCc = QueryDef(
    "dd_minhash_cc",
    (s, dir) => {
      val feat = minhashFeat(s, dir)
      val d = mhSide(feat)
      val banded = VersionedIndex.bandedOf(minhashIncr, feat)
      // distinct star edges (a doc pairs with ≤ nBands bucket-mins)
      val candEdges = VersionedIndex.starEdges(banded,
          VersionedIndex.keepersOf(banded, "doc_id"), "doc_id")
        .select(col("doc_id"), col("keeper"))
        .distinct()
      // exact verify every edge through the ONE shared Jaccard tail
      // (threshold and integer-div expression live in jaccardVerifyRaw
      // alone — cc edges must merge under the same bar the keeper
      // dedup reports): only true near-dup links may merge
      val verified = jaccardVerifyRaw(candEdges, d, minhashIncr.kRename(d))
        .select(col("doc_id").as("a"), col("keeper").as("b"))
      val comp = ScaleOps.connectedComponents(verified, "a", "b")
      comp
        .join(comp.groupBy(col("label")).agg(count(lit(1)).as("cluster_size")),
          Seq("label"))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE $mhOracleCtes,
      cande AS (
        SELECT DISTINCT b.doc_id, k.keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id),
      ${mhVerifyCtes("cande", "vrc", "vec", withJaccardCol = false)},
      edges AS (
        SELECT doc_id AS a, keeper AS b FROM vec
        UNION
        SELECT keeper, doc_id FROM vec),
      reach(n, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT reach.n, e.b FROM reach JOIN edges e ON e.a = reach.r),
      lab AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
      siz AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
      SELECT l.doc_id, l.cluster_id, s.cluster_size
      FROM lab l JOIN siz s USING (cluster_id)
      ORDER BY doc_id"""))

  /** Fused JVM simhash kernel from raw text (tokenize + set-dedupe +
    * 64-bit majority vote) — simhash bit counts DO depend on
    * multiplicity, so unlike minhash the distinct step is kept (hash
    * set). Returns null for token-free docs, which the isNotNull filter
    * drops like minhash's size(toks)>0 guard. Token hash = the md5
    * digest's first 16 hex chars parsed unsigned (bit 0 = the LSB of
    * hex char 16, i.e. bit i lives at char 16 − i/4, nibble bit i%4) —
    * replacing the seeded fnv/fmix hash with the portable family that
    * buys the oracle (r15, same move as minhash's window hashes). */
  private val simhashUdf = udf((text: String) => {
    if (text == null) Option.empty[Long]
    else {
      val seen = new java.util.HashSet[String]()
      val counts = new Array[Int](64)
      var any = false
      Text.lowerLikeSpark(text).split(" ").foreach { t =>
        if (t.length > mhTokMinLen && seen.add(t)) {
          any = true
          // == parseUnsignedLong(first 16 hex chars): byte k holds hex
          // chars 2k..2k+1, so the first 8 bytes big-endian ARE them
          val h = longBE(md5Bytes(t), 0)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
            i += 1
          }
        }
      }
      if (!any) Option.empty[Long]
      else {
        var sim = 0L
        var i = 0
        while (i < 64) { if (counts(i) > 0) sim |= (1L << i); i += 1 }
        Some(sim)
      }
    }
  })

  /** [[simhashUdf]] marked non-deterministic — the pure function is
    * unchanged; the mark stops Catalyst duplicating the kernel when it
    * pushes `simhash IS NOT NULL` below the projection (guide §4.4; the
    * same r20 fix as Text.shingles3Once). Every caller pre-filters its
    * frame (doc_id splits are written upstream of the projection), so
    * nothing useful is blocked from pushing down. */
  private val simhashUdfOnce = simhashUdf.asNondeterministic()

  /** (doc_id, simhash) over an arbitrary `(doc_id, text)` frame — the
    * one simhash rule shared by the batch dedup, the index build and
    * the increment probe, so their fingerprints can never drift. */
  private[graft] def simhashFeatOf(docs: DataFrame): DataFrame =
    docs.withColumn("simhash", simhashUdfOnce(col("text")))
      .filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"))

  /** The simhash duplicate bar: hamming distance ≤ this many bits. Above
    * [[simhashIncr]], whose kernel fingerprint reads it (object vals
    * initialise in order). */
  private[graft] val shHamMax = 6L

  /** The hamming verify tail of the [[simhashIncr]] family — ONE
    * definition, so the probe==batch equality contract cannot drift on
    * the distance or threshold. */
  private def hammingVerify(cand: DataFrame, dSim: DataFrame,
      kSim: DataFrame): DataFrame =
    cand.join(dSim, Seq("doc_id")).join(kSim, Seq("keeper"))
      .withColumn("hamming", bit_count(col("d_sim").bitwiseXOR(col("k_sim"))).cast("long"))
      .withColumn("is_dup", col("hamming") <= lit(shHamMax))
      .select(col("doc_id"), col("keeper"), col("hamming"), col("is_dup"))
      .orderBy(col("doc_id"))

  /** DuckDB re-derivation of the ENTIRE simhash pipeline. Bit i of the
    * 64-bit token hash (first 16 hex chars of md5, unsigned) lives at
    * hex char 16 − i/4, nibble bit i%4 — extracted with
    * `instr('0123456789abcdef', c) − 1` then shift/mask, so no side
    * needs an unsigned-64 type: the majority vote, the 8×8-bit banding
    * (bucket = Σ bit·2^(i mod 8) per band, a 0..255 int), the keeper
    * election and the hamming count (Σ differing bits) are all small-
    * integer SQL. `sb` is the per-(doc, bit) majority verdict; docs
    * with no qualifying tokens never enter `tok` — the kernel's null
    * return. */
  private val shOracleCtes = """
      tok AS (
        SELECT doc_id,
          unnest(list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3))) AS t
        FROM documents),
      th AS (SELECT doc_id, md5(t) AS h FROM tok),
      bits AS (
        SELECT doc_id, i,
          CASE WHEN
            ((instr('0123456789abcdef',
                substr(h, CAST(16 - i // 4 AS INT), 1)) - 1) >> (i % 4)) & 1
            = 1 THEN 1 ELSE -1 END AS v
        FROM th, range(64) r(i)),
      sb AS (
        SELECT doc_id, i, CASE WHEN SUM(v) > 0 THEN 1 ELSE 0 END AS b
        FROM bits GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id, i // 8 AS band,
          CAST(SUM(b << CAST(i % 8 AS INT)) AS BIGINT) AS bucket
        FROM sb GROUP BY doc_id, i // 8),
      keep AS (
        SELECT band, bucket, MIN(doc_id) AS keeper
        FROM bands GROUP BY band, bucket),
      cand AS (
        SELECT b.doc_id, MIN(k.keeper) AS keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id GROUP BY b.doc_id),
      ve AS (
        SELECT c.doc_id, c.keeper,
          CAST(SUM(CASE WHEN d.b <> k.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM cand c
        JOIN sb d ON d.doc_id = c.doc_id
        JOIN sb k ON k.doc_id = c.keeper AND k.i = d.i
        GROUP BY c.doc_id, c.keeper)"""

  /** SimHash near-dup: 64-bit simhash from per-token avalanche hashes,
    * banded by 8×8 bits, hamming distance verified against a ≤ 6
    * duplicate threshold.
    *
    * Emits one row per document that has ANY keeper candidate — with its
    * hamming distance and the `is_dup` verdict — rather than only the
    * passing pairs: on a corpus with no near-dups a filtered result is
    * empty and proves nothing, while the candidate report stays
    * non-empty and checkable on any corpus (planted-dup fixture pins the
    * verdict semantics). Deterministic; ORACLE-EXACT since the md5
    * token hash landed (r15): the 64-bit per-token hash is the FIRST 16
    * hex chars of md5(token), so DuckDB re-derives every bit with
    * per-nibble arithmetic (`instr('0123456789abcdef', …) − 1` then
    * shift/mask — no unsigned-64 type needed on either side) and
    * recomputes the majority vote, the 8×8 banding, the election and
    * the hamming verify from the same text. */
  val ddSimhash = QueryDef(
    "dd_simhash",
    // ONE kernel pass over documents, persisted: the banded branch and
    // both sides of the hamming verify read the narrow (doc_id, simhash)
    // cache instead of re-running the kernel per plan branch
    (s, dir) => VersionedIndex.dedup(simhashIncr, cachedFeature(s, s"dd_simhash:$dir", srcVersion(s, dir, "documents.parquet")) {
      simhashFeatOf(T(s, dir).documents)
    }),
    oracle = Some(s"""
      WITH $shOracleCtes
      SELECT doc_id, keeper, hamming, hamming <= 6 AS is_dup FROM ve
      ORDER BY doc_id"""))

  private val embDim = 64
  private val embPlanes = 16
  private val embBandsN = 8
  private val embSeed = 1337L
  private val embCosMin = 0.40
  /** The one embedding-LSH banding rule (8 bands × 2 bits: high recall
    * at low-cosine pairs) shared by the batch dedup, the index build
    * and the increment probe. A stable val: the hyperplanes are drawn
    * once from the fixed seed, so every consumer bands identically. */
  private val embBandsUdf =
    hyperplaneBandsUdf(dim = embDim, nPlanes = embPlanes,
      nBands = embBandsN, seed = embSeed)

  /** (vec_id, v, bands, norm) over an arbitrary embeddings frame. */
  private[graft] def embFeatOf(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("bands", embBandsUdf(col("v")))
      .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))

  /** The exact-cosine verify tail of the [[embeddingIncr]] family — ONE
    * definition, so the probe==batch equality contract cannot drift on
    * the score or threshold.
    * Degenerate pairs are EXCLUDED like [[rankTop5]]'s guard, not
    * emitted: a zero-norm side would make cos 0/0 = NaN — which
    * `round(..).cast("long")` throws on under ANSI mode (this engine
    * never disables it) and which compares NaN-greatest without it,
    * marking garbage a duplicate — and a ragged/null-element side
    * nulls the dot, which would emit a three-valued (NULL, NULL)
    * verdict row no boolean consumer expects. The other two verify
    * tails already guard their analogs (`uni > 0`, simhash isNotNull). */
  private def cosineVerify(cand: DataFrame, dSide: DataFrame,
      kSide: DataFrame): DataFrame =
    cand
      .join(dSide, Seq("vec_id"))
      .join(kSide, Seq("keeper"))
      .withColumn("cos", when(col("norm") > lit(0.0) && col("kn") > lit(0.0),
        dotDouble(col("v"), col("kv")) / (col("norm") * col("kn"))))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .withColumn("is_dup", col("cos") >= lit(embCosMin))
      .select(col("vec_id"), col("keeper"),
        round(col("cos") * lit(1000000), 0).cast("long").as("cos_q6"),
        col("is_dup"))
      .orderBy(col("vec_id"))

  /** Embedding-cosine near-dup (the fifth dedup modality):
    * LSH band buckets propose candidate pairs, exact cosine scores each
    * doc against its best keeper candidate; `is_dup` marks cosine ≥ 0.40
    * (the synthetic embeddings are near-orthogonal — max pairwise cosine
    * ≈ 0.51 — so the production-style 0.95 threshold is tuned down; the
    * shape is threshold-independent). Like dd_simhash, the full candidate
    * report is emitted — a filtered-only result is vacuous on a corpus
    * without planted dups. Candidate generation is the linear keeper
    * shape: min vec_id per bucket, one verified candidate per vector —
    * no all-pairs join. */
  val ddEmbedding = QueryDef(
    "dd_embedding",
    // ONE pass over embeddings: LSH bands + norm per vector, persisted
    // for the banding branch and both exact-verify join sides
    (s, dir) => VersionedIndex.dedup(embeddingIncr, cachedFeature(s, s"dd_embedding:$dir", srcVersion(s, dir, "embeddings.parquet")) {
      embFeatOf(T(s, dir).embeddings)
    }),
    oracle = None)

  /** (cell, vector, norm) triples for the kernel closures. The collect
    * is the index-build step, bounded at nCells rows; norms are
    * recomputed driver-side with the same left-to-right accumulation
    * as dotDouble, so scores are bit-identical to the join form. */
  private def collectCentroids(df: DataFrame): Array[(Long, Array[Float], Double)] =
    // null vectors AND vectors holding a null ELEMENT are skipped,
    // zero-norm ones fall to the norm filter — a null/degenerate seed
    // row must not take down quantizer training (the element case NPE'd
    // on the unboxing toArray before the r13 re-sweep)
    df.collect()
      .filterNot(r => r.isNullAt(1) || r.getSeq[Any](1).contains(null))
      .map { r =>
        val cv = r.getSeq[Float](1).toArray
        var acc = 0.0
        var i = 0
        while (i < cv.length) { acc += cv(i).toDouble * cv(i).toDouble; i += 1 }
        (r.getLong(0), cv, math.sqrt(acc))
      }.filter(_._3 > 0.0).sortBy(_._1)

  /** Per-row argmax over the broadcast centroid array — no join-explode,
    * no Exchange: each row ranks all centroids locally and keeps the
    * `keep` best cells (ccos desc, cell asc). Zero-norm vectors yield the
    * EMPTY array: single-cell callers must read it with `get(.., 0)`
    * (null out of bounds) — `element_at(.., 1)` throws under ANSI mode,
    * which this engine never disables. */
  private def nearestCells(cents: Array[(Long, Array[Float], Double)], keep: Int) =
    udf((v: Seq[Float], norm: Double) =>
      // `!(norm > 0.0)` (not `norm <= 0.0`) so a NaN norm — one NaN
      // component poisons the dot — is degenerate too: NaN fails every
      // comparison, so the old form assigned the vector a cell and the
      // Lloyd step's ANSI decimal cast then threw on the NaN component.
      // The 1e18 ceiling keeps every |component| (≤ norm) inside
      // decimal(28,10)'s 18 integer digits for the same cast; +Inf norms
      // land here as well. Degenerate ⇒ empty array ⇒ row excluded,
      // the documented posture for zero-norm/ragged vectors.
      if (v == null || !(norm > 0.0) || norm >= 1e18) Array.empty[Long]
      else cents.flatMap { case (cell, cv, cn) =>
        // dimension mismatch = malformed, same contract as the LSH
        // banding kernel ("a truncated vector must surface as malformed
        // at the signature stage, not band plausibly from a partial dot
        // product"): a ragged vector matches NO cell (empty array ⇒ the
        // row is excluded as degenerate) instead of being indexed under
        // a shared-prefix score (r13 re-sweep)
        if (v.length != cv.length) None
        else {
          var acc = 0.0
          var i = 0
          while (i < v.length) { acc += v(i).toDouble * cv(i).toDouble; i += 1 }
          Some((acc / (norm * cn), cell))
        }
      }.sortBy { case (ccos, cell) => (-ccos, cell) }.take(keep).map(_._2))

  /** One-Lloyd-step coarse quantizer over a (vec_id, v, norm) frame:
    * seeds = first nCells vectors, one assign → decimal-mean refine. */
  private def trainCentroids(
      e: DataFrame, nCells: Int): Array[(Long, Array[Float], Double)] = {
    val seeds = collectCentroids(
      e.filter(col("vec_id") < lit(nCells.toLong)).select(col("vec_id"), col("v")))
    // Lloyd step: assign to seed cells (kernel, zero shuffle), recompute
    // element-wise means over narrow (cell, pos) rows.
    // explode, not get(..,0)+filter(isNotNull) (r20): the filter form
    // pushed `isnotnull(UDF(v,norm)[0])` below the projection, so the
    // O(nCells × dim) scoring kernel ran TWICE per row (guide §4.4
    // duplication, attributed in the r20 sf10 stage dump); a Generate
    // evaluates its generator exactly once, and explode drops the
    // empty-array degenerate rows the filter used to drop — identical
    // rows out, half the kernel cost.
    val assigned0 = e
      .select(explode(nearestCells(seeds, 1)(col("v"), col("norm"))).as("cell"),
        col("v"))
    collectCentroids(assigned0
      .select(col("cell"), posexplode(col("v")))
      // decimal-sum mean, not avg(double): decimal addition is exact and
      // associative, so the centroid is independent of partition merge
      // order — float partial-sum order could flip near-tie cell
      // assignments between runs
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("col").cast("decimal(28,10)")) /
        count(lit(1))).cast("double").as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("cv")))
  }

  /** (vec_id, v, norm) over the corpus — MEMOIZED (r17): the IVF tier
    * reads this frame four times per run (quantizer seeds, the Lloyd
    * assign, corpus cell assignment, query cell probes), and unmemoized
    * each read re-scanned the parquet and re-ran the O(dim) norm kernel
    * over every vector — the whole reason `sim_ivf_topk` sat at ~2-3×
    * its LSH sibling in the sf10 sweep (adjudicated via the stage dump:
    * two saturated full-width corpus passes, no skew, no window). Same
    * one-scan discipline as the dd_* feature frames. */
  private def embeddingFrame(s: SparkSession, dir: String): DataFrame =
    cachedFeature(s, s"emb_frame:$dir", srcVersion(s, dir, "embeddings.parquet")) {
      T(s, dir).embeddings.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
    }

  /** Exact re-rank of cell-joined (corpus ⨝ query) candidates through the
    * bounded heap — shared by the in-memory query and the persisted-index
    * probe, so both produce identical output. */
  private def ivfRerank(corpusCells: DataFrame, queryCells: DataFrame): DataFrame = {
    val scored = corpusCells
      .join(broadcast(queryCells), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotDouble(col("qv"), col("v")) / (col("qn") * col("norm")))
      .select(col("qid"), col("cos").as("score"),
        col("vec_id").as("id"), lit(0L).as("pay"))
    rankTop5(scored)
      .select(col("qid"), col("rank"), col("id").as("nid"),
        round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-style ANN top-k with a one-step Lloyd-refined coarse quantizer:
    * seed centroids = the first nCells corpus vectors (deterministic),
    * one assign → per-cell mean → re-assign refinement (the k-means
    * iteration a real IVF index build runs to convergence; one step is
    * the bench-scale stand-in with the identical dataflow). Queries probe
    * their nProbe nearest cells and re-rank exactly inside them.
    *
    * The 100 TB shape: cell assignment is a PER-ROW argmax kernel over
    * the centroid array (collected once — bounded at nCells rows — and
    * closed over like a broadcast variable), so the corpus is never
    * join-exploded or shuffled to pick its cell; centroid training
    * touches only narrow (cell, pos, component) rows with partial
    * aggregation; probes touch nProbe/nCells of the data and re-rank
    * through the bounded top-k heap. */
  val simIvfTopk = QueryDef(
    "sim_ivf_topk",
    (s, dir) => {
      val nCells = 16
      val nProbe = 4
      val e = embeddingFrame(s, dir)
      val centroids = trainCentroids(e, nCells)
      // corpus → nearest refined centroid; queries → nProbe nearest
      // cells. explode form for the same single-evaluation reason as
      // the Lloyd assign (the get+filter form ran the scoring kernel
      // twice per corpus row — r20 stage dump).
      val corpusCells = e
        .select(col("vec_id"), col("v"), col("norm"),
          explode(nearestCells(centroids, 1)(col("v"), col("norm"))).as("cell"))
      val queryCells = e.filter(col("vec_id") < lit(5L))
        .withColumn("cell",
          explode(nearestCells(centroids, nProbe)(col("v"), col("norm"))))
        .select(col("cell"), col("vec_id").as("qid"),
          col("v").as("qv"), col("norm").as("qn"))
      ivfRerank(corpusCells, queryCells)
    },
    oracle = None)

  /** Builds the PERSISTED form of the IVF index: trains the quantizer,
    * assigns every vector its cell via the kernel, and writes the corpus
    * parquet PARTITIONED BY cell — the stored layout where a probe's
    * nProbe cells are whole partitions and partition pruning skips the
    * rest of the corpus on disk. Returns the trained centroids (the
    * quantizer; in production stored alongside the index). */
  def writeIvfIndex(s: SparkSession, dir: String, indexPath: String,
      nCells: Int = 16): Array[(Long, Array[Float], Double)] = {
    val e = embeddingFrame(s, dir)
    val centroids = trainCentroids(e, nCells)
    // explode form — single kernel evaluation per row, same rows as the
    // old get+filter (see simIvfTopk)
    e.select(col("vec_id"), col("v"), col("norm"),
        explode(nearestCells(centroids, 1)(col("v"), col("norm"))).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    centroids
  }

  /** Probes a persisted IVF index: computes each query's nProbe cells
    * from the stored quantizer, reads ONLY those cell partitions (the
    * `cell IN (…)` filter prunes at the parquet partition level — at
    * 100 TB the probe touches nProbe/nCells of the stored bytes), and
    * exact-re-ranks through the bounded heap. Output is identical to
    * `sim_ivf_topk`'s in-memory path for the same corpus + quantizer. */
  def probeIvfIndex(s: SparkSession, dir: String, indexPath: String,
      centroids: Array[(Long, Array[Float], Double)],
      nProbe: Int = 4): DataFrame = {
    val queryCells = embeddingFrame(s, dir)
      .filter(col("vec_id") < lit(5L))
      .withColumn("cell",
        explode(nearestCells(centroids, nProbe)(col("v"), col("norm"))))
      .select(col("cell"), col("vec_id").as("qid"),
        col("v").as("qv"), col("norm").as("qn"))
    val probeCells = queryCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0)) // bounded: ≤ queries × nProbe values
    val corpusCells = s.read.parquet(indexPath)
      .filter(col("cell").isin(probeCells.map(x => x: Any): _*))
    ivfRerank(corpusCells, queryCells)
  }

  // --- dedup families (declarations; VersionedIndex runs batch, build and probe) ---

  /** MinHash family. The size(toks) > 0 guard lives in `sideOf`,
    * applied identically at build and probe, so probe ≡ batch equality
    * never depends on the Jaccard threshold happening to discard
    * empty-k_toks pairs. Prefix "mh2" + the KERNEL FINGERPRINT (r19):
    * the version identity (split, source token, shards) does NOT cover
    * the banding kernel — r15 replaced the seeded-fmix kernel with the
    * md5-window family, and a pre-switch index under the old base would
    * otherwise version-match a post-switch probe and serve bands the
    * probe's banding can never hit (silent empty dedup). That bump used
    * to be a hand discipline; [[minhashKernelFp]] now folds the defining
    * constants into the prefix, so a knob change moves the base
    * automatically and the old base simply ages out (tmpdir locally;
    * one dead tree on a shared store, reclaimed by pointing a cleanup
    * at the old prefix). */
  private[graft] val minhashIncr = VersionedIndex.IncrFamily(
    name = "minhash", query = "dd_minhash_incr",
    kernelPrefix = s"mh2-$minhashKernelFp",
    srcTable = "documents", srcIdCol = "doc_id",
    featOf = (s, dir, keep) => minhashFeatOf(T(s, dir).documents.filter(keep)),
    idCol = "doc_id", featSubdir = "toks", featShardCol = "tshard",
    sideDdl = "doc_id BIGINT, toks ARRAY<STRING>, tshard BIGINT",
    bands = col("bands"),
    sideOf = mhSide,
    kRename = d => d.select(col("doc_id").as("keeper"), col("toks").as("k_toks")),
    verify = minhashVerify(mhVerifyPct))

  /** dd_minhash_incr: INCREMENTAL near-dup dedup — the missing 100 TB
    * ingest pattern. Every other dedup query re-scans the whole corpus;
    * a production ingest pipeline dedups each new increment against a
    * PERSISTED index of what it already holds ([[VersionedIndex.write]] /
    * [[VersionedIndex.probe]]). Here the index covers doc_id < split
    * (built once, reused across runs) and the query dedups the remaining
    * ids against it; output = [[ddMinhash]] over the full corpus
    * restricted to the increment (exact equality, spec-asserted);
    * probe-time reads are the increment slice (doc_id filter pushed to
    * parquet) plus the pruned index partitions — never the corpus
    * proper. ORACLE-EXACT (r15, the mm_phash_incr treatment): the
    * md5-window banding is SQL-expressible and the split is
    * `max id − max id / 5`, so DuckDB recomputes the FULL election from
    * the same text and restricts it to the increment — the incremental
    * machinery is checked against an independent engine, on top of the
    * probe≡batch equality spec and the PartitionFilters plan lock. */
  val ddMinhashIncr = VersionedIndex.incrQuery(minhashIncr,
    oracle = Some(s"""
      WITH sp AS (
        SELECT MAX(doc_id) - MAX(doc_id) // 5 AS split FROM documents),
      $mhOracleCtes
      SELECT doc_id, keeper, jaccard_pct FROM ve
      WHERE doc_id >= (SELECT split FROM sp)
      ORDER BY doc_id"""))

  /** SimHash family: the corpus's (band, bucket, keeper) frame plus a
    * (doc_id, simhash) side table for exactly the bucket keepers (the
    * hamming verify needs no other corpus fingerprints), partitioned by
    * sshard. "sh2", not "sh": the r15 md5 token hash changed the
    * fingerprint kernel — the same prefix rule as [[minhashIncr]]'s
    * mh2, automated by the kernel fingerprint (r19). */
  private[graft] val simhashIncr = VersionedIndex.IncrFamily(
    name = "simhash", query = "dd_simhash_incr",
    kernelPrefix = s"sh2-$simhashKernelFp",
    srcTable = "documents", srcIdCol = "doc_id",
    featOf = (s, dir, keep) => simhashFeatOf(T(s, dir).documents.filter(keep)),
    idCol = "doc_id", featSubdir = "sims", featShardCol = "sshard",
    sideDdl = "doc_id BIGINT, simhash BIGINT, sshard BIGINT",
    // 8 bands of 8 bits
    bands = transform(sequence(lit(0), lit(7)), b =>
      call_function("shiftright", col("simhash"), b * lit(8)).bitwiseAND(lit(255L))),
    sideOf = identity,
    kRename = d => d.select(col("doc_id").as("keeper"),
      col("simhash").as("k_sim")),
    verify = (cand, feat, kSide) =>
      hammingVerify(cand,
        feat.select(col("doc_id"), col("simhash").as("d_sim")), kSide))

  /** dd_simhash_incr: incremental SimHash dedup — [[ddMinhashIncr]]'s
    * ingest pattern applied to the simhash family. Output = [[ddSimhash]]
    * over the full corpus restricted to the increment (exact equality,
    * spec-asserted). ORACLE-EXACT (r15): the md5 token hash made the
    * fingerprint SQL-derivable, so DuckDB recomputes the full election
    * restricted to the increment (`max id − max id // 5`), on top of
    * the probe≡batch equality spec + the PartitionFilters plan lock. */
  val ddSimhashIncr = VersionedIndex.incrQuery(simhashIncr,
    oracle = Some(s"""
      WITH sp AS (
        SELECT MAX(doc_id) - MAX(doc_id) // 5 AS split FROM documents),
      $shOracleCtes
      SELECT doc_id, keeper, hamming, hamming <= 6 AS is_dup FROM ve
      WHERE doc_id >= (SELECT split FROM sp)
      ORDER BY doc_id"""))

  /** Embedding family, over the EMBEDDINGS table (versioned by its max
    * vec_id and mtime): the corpus vectors' (band, bucket, keeper) frame
    * plus a (vec_id, v, norm) side table for exactly the bucket keepers
    * (the cosine verify needs no other corpus vectors), partitioned by
    * vshard. */
  private[graft] val embeddingIncr = VersionedIndex.IncrFamily(
    name = "embedding", query = "dd_embedding_incr",
    kernelPrefix = s"emb-$embKernelFp",
    srcTable = "embeddings", srcIdCol = "vec_id",
    featOf = (s, dir, keep) => embFeatOf(T(s, dir).embeddings.filter(keep)),
    idCol = "vec_id", featSubdir = "vecs", featShardCol = "vshard",
    sideDdl = "vec_id BIGINT, v ARRAY<FLOAT>, norm DOUBLE, vshard BIGINT",
    bands = col("bands"),
    sideOf = f => f.select(col("vec_id"), col("v"), col("norm")),
    kRename = d => d.select(col("vec_id").as("keeper"), col("v").as("kv"),
      col("norm").as("kn")),
    verify = (cand, feat, kSide) =>
      cosineVerify(cand,
        feat.select(col("vec_id"), col("v"), col("norm")), kSide))

  /** dd_embedding_incr: incremental embedding dedup — the fourth index
    * family, closing the last modality that still re-scanned its corpus
    * at ingest (text minhash/simhash and images already probe persisted
    * indexes). Rows-only check (float-dependent cosine); pinned by the
    * equality spec + the shared PartitionFilters plan lock. */
  val ddEmbeddingIncr = VersionedIndex.incrQuery(embeddingIncr, oracle = None)

  val defs: Seq[QueryDef] = Seq(simTopkDot, simTopkCosine, simTopkCosineQ,
    simLshTopk, simIvfTopk, ddMinhash, ddMinhashCc, ddMinhashIncr,
    ddSimhash, ddSimhashIncr, ddEmbedding, ddEmbeddingIncr)
}
