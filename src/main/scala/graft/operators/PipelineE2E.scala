package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-training-data pipeline composed END-TO-END as one catalog
  * query — clean → decontaminate → near-dup dedup → per-language quality
  * gate → stratified sample → weighted mix → token packing — over the
  * `documents` corpus (the reference ingests content through one
  * moderation/quality path before ranking, `oracle.ts:146-175`,
  * `page.tsx` discovery surfaces; this is that flow at corpus scale).
  *
  * Every stage is the EXACT kernel of its standalone catalog twin
  * (`pipe_corpus_clean`, `pipe_decontam`, `dd_minhash`,
  * `pipe_quality_gate`, `smp_stratified`, `pipe_mix_interleave`,
  * `pipe_pack_tokens`) — shared `Column`/kernel definitions, not copies —
  * so the composed result is DuckDB-recomputable end-to-end and the
  * oracle below states the whole flow as one CTE chain built from the
  * same fragments (the minhash election CTEs come from
  * [[Similarity.mhOracleCtesOver]] parameterized over the survivor set).
  *
  * TWO catalog entries share this flow (r18, r17 verdict #4):
  * `pipe_e2e` runs the reference policy (drop on ANY benchmark-shingle
  * hit, 50% near-dup bar, 25/50% sample), whose funnel at the oracle SF
  * collapses to 2 rows — real composition evidence but a thin
  * end-to-end certificate; `pipe_e2e_wide` runs the SAME kernels under
  * a wide policy ([[PipeCfg.wide]]: flag only at ≥8 shingle hits, 90%
  * near-dup bar, 75/100% sample) so the composed hash covers 160+ rows
  * at sf0.01. The policy knobs are the ones a real pipeline exposes
  * (decontamination strictness, near-dup threshold, sample rate), each
  * parameterized inside the ONE shared kernel definition on both the
  * Spark and oracle sides — the twins cannot drift on an expression.
  *
  * Scale/scan discipline (the point of composing): the corpus is read
  * from parquet EXACTLY ONCE — a memoized base frame feeds both the
  * cleaning gates and the benchmark (held-out `src0`) shingle set, and
  * each expensive derivation (gated corpus, decontaminated survivors,
  * banded minhash features, the sampled mixture) is itself memoized via
  * [[RunCaches.cachedFeature]], so no stage re-executes an upstream
  * stage's work — including across the strata kernels' internal bounded
  * offset jobs. The policy-independent frames (base, gated, cleaned)
  * share ONE memo entry across both variants; policy-dependent frames
  * carry the config's key suffix. PlanSpec asserts the executed plan
  * touches no file scan of `documents` outside the one cache fill.
  *
  * Stage semantics (each pinned by its standalone twin's oracle):
  *  1. clean: language/length/quality gates + exact-dup keeper election
  *     on md5(text) (pipe_corpus_clean's `corpusGates`).
  *  2. decontam: drop survivors whose 3-token-shingle hit count against
  *     the raw held-out `src0` stratum reaches `decontamMinHits` (the
  *     pipe_decontam join+count kernel; ≥1 ≡ the any-hit rule); `src0`
  *     docs leave the training flow (shingle equi-join — never doc×doc).
  *  3. near-dup: the md5-window MinHash banding + keeper election +
  *     exact-Jaccard verify over the survivors; docs with a keeper
  *     verified at ≥ `jaccardMinPct` are dropped (dd_minhash's election).
  *  4. quality gate: keep docs at/above their LANGUAGE's median score,
  *     medians computed over the surviving population — a composed
  *     pipeline thresholds what survived, not the raw corpus
  *     (pipe_quality_gate's integer-rank median, null-safe lang join).
  *  5. sample: deterministic md5 stratified keep (smp_stratified).
  *  6. mix: per-source hash rank × stride position (pipe_mix_interleave).
  *  7. pack: per-language token prefix sum → 2048-token bins
  *     (pipe_pack_tokens), via the window-free [[ScaleOps.strataRank]] /
  *     [[ScaleOps.strataPrefixSum]] kernels.
  */
object PipelineE2E {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)

  /** The composed flow's policy knobs — the parameters a production
    * pipeline exposes, threaded into the SAME shared kernels on both
    * engines. `suffix` disambiguates the policy-dependent memo keys. */
  final case class PipeCfg(
      suffix: String,
      decontamMinHits: Long,
      jaccardMinPct: Long,
      sampEven: String,
      sampOdd: String)

  object PipeCfg {
    /** The reference policy: any benchmark hit flags, family-default
      * 50% near-dup bar, the smp_stratified 25/50% keep. */
    val default: PipeCfg = PipeCfg("", 1L, 50L, "4000", "8000")
    /** The wide-funnel policy (oracle-evidence twin): only heavy
      * contamination (≥8 shared shingles) and heavy near-dups (≥90%)
      * leave the flow; 75/100% sample. */
    val wide: PipeCfg = PipeCfg(":w", 8L, 90L, "c000", "ffff")
  }

  /** Stages 1–5 (clean → decontam → near-dup → gate → sample) as the
    * memoized pre-kernel frame. Package-visible because this is where
    * the memo chain is PLAN-AUDITABLE: the mix/pack tails run on the
    * eager strata kernels, whose construction executes upstream and
    * leaves only an ExistingRDD in the final plan (the
    * g1_components/strataPrefixSum plan-sweep caveat) — so the
    * one-corpus-scan assertion must read this frame's plan, not the
    * catalog query's. */
  private[graft] def sampled(s: SparkSession, dir: String,
      cfg: PipeCfg = PipeCfg.default): DataFrame = {
    val ver = RunCaches.srcVersion(s, dir, "documents.parquet")
    val w = cfg.suffix
    // ONE parquet scan: every stage derives from this frame
    // (policy-independent — both variants share the entry)
    val base = RunCaches.cachedFeature(s, s"pipe_e2e_base:$dir", ver) {
      T(s, dir).documents
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("n_chars"))
    }
    // stage 1 — clean gates + fingerprint (the pipe_corpus_clean kernel)
    val gated = RunCaches.cachedFeature(s, s"pipe_e2e_gated:$dir", ver) {
      Text.corpusGates(base)
    }
    // memoized (r17 advice): cleaned appears in TWO branches of the
    // surv1 plan — the anti-join's left side (via train) and inside
    // flagged's shingle explode — and Spark shares no subplans across
    // DataFrame branches, so unmemoized the keeper-election groupBy+join
    // executed twice per cold run (no extra FileScan, so the scan-count
    // plan audit could not see it)
    val cleaned = RunCaches.cachedFeature(s, s"pipe_e2e_cleaned:$dir", ver) {
      Text.keeperDedup(gated)
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("n_chars"), col("quality_score"))
    }
    // stage 2 — decontamination against the RAW held-out stratum (the
    // benchmark set is not subject to cleaning; src0 leaves the flow):
    // the pipe_decontam join+count kernel, thresholded at the policy's
    // minimum hit count (≥1 ≡ the old DISTINCT any-hit form)
    val bench = Text.benchShinglesOf(base.filter(col("source") === "src0"))
    val train = cleaned.filter(col("source") =!= "src0")
    val flagged = Text.decontamFlagged(train, bench, cfg.decontamMinHits)
    val surv1 = RunCaches.cachedFeature(s, s"pipe_e2e_surv1:$dir$w", ver) {
      train.join(flagged, Seq("doc_id"), "left_anti")
    }
    // stage 3 — near-dup election over survivors (the dd_minhash kernel;
    // feature frame memoized like the standalone query's)
    val feat = RunCaches.cachedFeature(s, s"pipe_e2e_mhfeat:$dir$w", ver) {
      Similarity.minhashFeatOf(surv1.select(col("doc_id"), col("text")))
    }
    val nearDup = VersionedIndex.dedup(Similarity.minhashIncr, feat,
        verify = Some(Similarity.minhashVerify(cfg.jaccardMinPct)))
      .select(col("doc_id"))
    // memoized (r17 review): surv2 feeds TWO plan branches inside the
    // median gate (thresholds + join-back), and Spark shares no subplans
    // across DataFrame branches — unmemoized, the whole near-dup
    // election subplan executed twice per cold run
    val surv2 = RunCaches.cachedFeature(s, s"pipe_e2e_surv2:$dir$w", ver) {
      surv1.join(nearDup, Seq("doc_id"), "left_anti")
    }
    // stage 4 — per-language median gate over the SURVIVING population
    // (the pipe_quality_gate kernel, shared definition)
    val gatedQ = Text.medianGate(surv2, "lang", "quality_score", "doc_id")
    // stage 5 — deterministic stratified sample (the smp_stratified rule)
    RunCaches.cachedFeature(s, s"pipe_e2e_samp:$dir$w", ver) {
      gatedQ
        .withColumn("samp_key", ScaleOps.sampKey)
        .filter(substring(col("samp_key"), 1, 4) <
          when(ScaleOps.evenSource, lit(cfg.sampEven))
            .otherwise(lit(cfg.sampOdd)))
        .select(col("doc_id"), col("source"), col("lang"),
          col("quality_score"), col("lang_median"), col("n_chars"),
          col("samp_key"))
    }
  }

  /** The full composed flow: [[sampled]] plus the mix and pack kernel
    * tails. */
  private[operators] def stages(s: SparkSession, dir: String,
      cfg: PipeCfg = PipeCfg.default): DataFrame = {
    val samp = sampled(s, dir, cfg)
    // stage 6 — weighted interleave position (the pipe_mix_interleave rule)
    val mixed = ScaleOps.strataRank(samp, Seq("source"),
        Seq("samp_key", "doc_id"), "rn")
      .withColumn("stride", when(ScaleOps.evenSource, lit(3L)).otherwise(lit(1L)))
      .withColumn("position", col("rn") * col("stride"))
    // stage 7 — token packing (the pipe_pack_tokens rule)
    ScaleOps.strataPrefixSum(
        mixed.withColumn("tokens", expr("n_chars div 4")),
        Seq("lang"), Seq("doc_id"), col("tokens"), "start_off")
      .withColumn("bin_id", expr("start_off div 2048"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("quality_score"), col("lang_median"), col("rn"),
        col("position"), col("tokens"), col("start_off"), col("bin_id"))
  }

  /** The whole-flow oracle as ONE parameterized template — both catalog
    * entries interpolate their policy into the identical CTE chain. */
  private def oracleFor(cfg: PipeCfg): String = s"""
      WITH g AS (
        SELECT doc_id, source, lang, text, n_chars,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','and','of','to','a','in','is','for'))) AS BIGINT) AS en_hits,
          CAST(length(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_cnt
        FROM documents),
      q AS (
        SELECT doc_id, source, lang, text, n_chars, n_words, stop_cnt,
          LEAST(100, n_words * 2) + LEAST(50, stop_cnt * 5) AS quality_score
        FROM g WHERE en_hits >= 2 AND n_words > 0),
      dc AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM q WHERE quality_score >= 60),
      cleaned AS (
        SELECT doc_id, source, lang, text, n_chars, quality_score
        FROM dc WHERE doc_id = keeper),
      btoks AS (
        SELECT list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        FROM documents WHERE source = 'src0'),
      bsh AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM btoks WHERE len(toks) >= 3),
      ttoks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        FROM cleaned WHERE source <> 'src0'),
      tsh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM ttoks WHERE len(toks) >= 3),
      flagged AS (
        SELECT tsh.doc_id FROM tsh JOIN bsh USING (shingle)
        GROUP BY tsh.doc_id HAVING count(*) >= ${cfg.decontamMinHits}),
      surv1 AS (
        SELECT c.* FROM cleaned c
        WHERE c.source <> 'src0'
          AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = c.doc_id)),
      ${Similarity.mhOracleCtesOver("surv1", cfg.jaccardMinPct)},
      surv2 AS (
        SELECT s1.* FROM surv1 s1
        WHERE NOT EXISTS (SELECT 1 FROM ve v WHERE v.doc_id = s1.doc_id)),
      r2 AS (
        SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY quality_score, doc_id) AS rn0,
          count(*) OVER (PARTITION BY lang) AS n
        FROM surv2),
      thr AS (SELECT lang, quality_score AS lang_median FROM r2 WHERE rn0 = (n + 1) // 2),
      gated2 AS (
        SELECT s2.*, thr.lang_median FROM surv2 s2
        JOIN thr ON s2.lang IS NOT DISTINCT FROM thr.lang
        WHERE s2.quality_score >= thr.lang_median),
      samp AS (
        SELECT *, md5(CAST(doc_id AS VARCHAR)) AS samp_key FROM gated2
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
               THEN '${cfg.sampEven}' ELSE '${cfg.sampOdd}' END),
      mx AS (
        SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY samp_key, doc_id) AS rn,
          CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) % 2 = 0
               THEN 3 ELSE 1 END AS stride
        FROM samp),
      pk AS (
        SELECT *, CAST(rn * stride AS BIGINT) AS position,
          n_chars // 4 AS tokens
        FROM mx),
      pk2 AS (
        SELECT *, CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) - tokens AS start_off
        FROM pk)
      SELECT doc_id, source, lang, quality_score, lang_median, rn, position,
        tokens, start_off, start_off // 2048 AS bin_id
      FROM pk2 ORDER BY doc_id"""

  val pipeE2e = QueryDef(
    "pipe_e2e",
    (s, dir) => stages(s, dir).orderBy(col("doc_id")),
    oracle = Some(oracleFor(PipeCfg.default)))

  /** The wide-funnel twin: same kernels, wide policy — exists so the
    * END-TO-END oracle hash certifies 160+ survivors at the gate SF
    * instead of pipe_e2e's 2 (r17 verdict #4: a stage-ordering bug that
    * happened to preserve two rows would pass the narrow check). */
  val pipeE2eWide = QueryDef(
    "pipe_e2e_wide",
    (s, dir) => stages(s, dir, PipeCfg.wide).orderBy(col("doc_id")),
    oracle = Some(oracleFor(PipeCfg.wide)))
}
