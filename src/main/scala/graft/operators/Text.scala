package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over the `documents` table: dedup, similarity
  * scoring, language-ID, quality scoring, token counting, fingerprinting.
  *
  * Grounding: the reference's quality oracle is a token-overlap similarity
  * scorer (packages/hive-sdk/src/oracle.ts:146-175) — tokenize to lowercase
  * words >3 chars, distinct sets, overlap ratio vs the spec set, blended
  * with a length ratio. The rest is the large-scale training-data surface
  * the driver asks for, built from the same primitives.
  *
  * Scale posture: everything here is per-row projection or hash-keyed
  * aggregation (shuffle on md5/fingerprint keys, never on raw text);
  * pairwise ops join on a derived key (adjacent ids / hash buckets), never
  * via an unconstrained cross join.
  */
object Text {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)

  /** oracle.ts:151-152 tokenizer: lowercase words, length > 3, distinct.
    * Package-visible: dd_minhash's exact-verify join MUST tokenize with
    * the same rule its signature kernel fuses, so Similarity reuses this
    * definition instead of keeping a private copy that could drift. */
  private[operators] def tokens(c: Column): Column =
    array_distinct(filter(split(lower(c), " "), w => length(w) > lit(3)))

  /** Lowercase exactly as Spark's builtin `lower` does — the JVM-kernel
    * twin every fused tokenizer (minhash/simhash banding, shingles)
    * must use so kernel tokens and [[tokens]]' builtin-`lower` tokens
    * are byte-identical in EVERY environment. `UTF8String.toLowerCase`
    * is an ASCII fast path ('A'-'Z' only) when the whole string is
    * ASCII, else `String.toLowerCase()` under the JVM DEFAULT locale
    * (verified against the spark-unsafe 4.1.2 bytecode) — so a kernel
    * lowercasing with Locale.ROOT diverges from the builtin on, e.g.,
    * a Turkish-locale JVM ('I' → 'ı' in the builtin, 'i' in ROOT),
    * silently breaking the "no bands ⇔ no toks" invariants. Matching
    * the builtin is the contract; on the ASCII corpora all three
    * agree, which is why the tests cannot see the difference. */
  private[graft] def lowerLikeSpark(s: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) s.toLowerCase()
    else {
      val arr = s.toCharArray
      var j = 0
      while (j < arr.length) {
        val c = arr(j)
        if (c >= 'A' && c <= 'Z') arr(j) = (c + 32).toChar
        j += 1
      }
      new String(arr)
    }
  }

  /** Exact dedup by content hash (driver-requested; SO2 keyed-dedup shape).
    * Keeper = lowest doc_id per distinct text. */
  val ddExact = QueryDef(
    "dd_exact",
    (s, dir) => T(s, dir).documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_copies"))
      // nulls LAST, pinned: Spark defaults NULLS FIRST where DuckDB
      // defaults NULLS LAST — one NULL-text doc (md5 → NULL key) would
      // shift the whole in-order compare otherwise
      .orderBy(col("text_hash").asc_nulls_last),
    oracle = Some("""
      SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc,
        COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY text_hash"""),
    headline = true)

  /** Normalized exact dedup: canonicalize before hashing (lowercase,
    * collapse whitespace runs, trim) — catches the near-trivial dup class
    * (case/spacing variants) that raw-hash dedup misses; what a real
    * corpus pipeline keys on. */
  val ddExactNorm = QueryDef(
    "dd_exact_norm",
    (s, dir) => T(s, dir).documents
      .withColumn("norm_text",
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]+", " ")))
      .groupBy(md5(col("norm_text")).as("norm_hash"))
      .agg(min(col("doc_id")).as("keeper_doc"), count(lit(1)).as("n_copies"))
      .orderBy(col("norm_hash").asc_nulls_last), // nulls last, as dd_exact
    oracle = Some("""
      SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\r\f]+', ' ', 'g'))) AS norm_hash,
        MIN(doc_id) AS keeper_doc, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY norm_hash"""))

  /** A12 text-overlap similarity score (oracle.ts:146-175), evaluated over
    * adjacent doc pairs: overlap = |spec∩deliv| / |spec|;
    * score = round((0.6*overlap + 0.4*min(1, len_ratio)) * 100). */
  /** The ONE (doc_id, toks, len) frame a12 and dd_jaccard both read —
    * hoisted because the two copies shared a cache key, so whichever
    * query ran first published its builder's frame for BOTH: an edit to
    * one copy would have silently served the other query a different
    * frame depending on execution order (r13 sweep). The self-join's two
    * branches would otherwise each scan AND re-tokenize the whole corpus
    * (Spark shares no subplans across DataFrame branches) — the same
    * one-scan rationale as Similarity.minhashFeat, via the same
    * mtime-keyed memo. */
  private def tokPairsFrame(s: SparkSession, dir: String): DataFrame =
    RunCaches.cachedFeature(s, s"txt_pairs:$dir",
        RunCaches.srcVersion(s, dir, "documents.parquet")) {
      T(s, dir).documents.select(
        col("doc_id"), tokens(col("text")).as("toks"),
        length(col("text")).cast("long").as("len"))
    }

  val a12OverlapScore = QueryDef(
    "a12_overlap_score",
    (s, dir) => {
      val d = tokPairsFrame(s, dir)
      val spec = d.select(col("doc_id").as("spec_id"), col("toks").as("spec_toks"),
        col("len").as("spec_len"))
      val deliv = d.select(col("doc_id").as("deliv_id"), col("toks").as("deliv_toks"),
        col("len").as("deliv_len"))
      spec
        .join(deliv, col("deliv_id") === col("spec_id") + lit(1))
        .filter(size(col("spec_toks")) > lit(0) && col("spec_len") > lit(0L))
        // deliv-side null guard, mirrored in the oracle: without it a
        // NULL-text deliv row scores NULL here but 40 in DuckDB —
        // list_intersect(x, NULL) is [] (not NULL) and LEAST(1.0, NULL)
        // is 1.0, so the oracle would fabricate the length-ratio term
        // (r13 sweep, empirically confirmed; dd_jaccard's pair-drop rule)
        .filter(col("deliv_toks").isNotNull && col("deliv_len").isNotNull)
        .select(
          col("spec_id"), col("deliv_id"),
          round((lit(0.6) *
            (size(array_intersect(col("spec_toks"), col("deliv_toks"))).cast("double") /
              size(col("spec_toks")).cast("double")) +
            lit(0.4) * least(lit(1.0), col("deliv_len").cast("double") / col("spec_len").cast("double"))) * lit(100), 0)
            .cast("long").as("score"))
        .orderBy(col("spec_id"))
    },
    oracle = Some("""
      WITH tok AS (
        SELECT doc_id,
          list_distinct(list_filter(string_split(lower(text), ' '), x -> length(x) > 3)) AS toks,
          CAST(length(text) AS BIGINT) AS len
        FROM documents)
      SELECT a.doc_id AS spec_id, b.doc_id AS deliv_id,
        CAST(ROUND((0.6 * (CAST(length(list_intersect(a.toks, b.toks)) AS DOUBLE) / CAST(length(a.toks) AS DOUBLE))
          + 0.4 * LEAST(1.0, CAST(b.len AS DOUBLE) / CAST(a.len AS DOUBLE))) * 100) AS BIGINT) AS score
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
      WHERE length(a.toks) > 0 AND a.len > 0
        AND b.toks IS NOT NULL AND b.len IS NOT NULL
      ORDER BY spec_id"""))

  /** N-gram (word) Jaccard near-dup over adjacent pairs, integer pct via
    * truncating division so the check is float-free. */
  /** Adjacent-pair integer-pct Jaccard tail shared by dd_jaccard and
    * dd_shingle_jaccard (the copies had already drifted: the null-union
    * rationale existed in only one). A NULL array side nulls the union
    * and the `uni > 0` filter drops the pair; the oracles' explicit
    * IS NOT NULL guards match (DuckDB list_concat(NULL, l) returns l,
    * which would KEEP the pair). */
  private def adjacentJaccardPct(d: DataFrame, arr: String): DataFrame = {
    val a = d.select(col("doc_id").as("a_id"), col(arr).as("a_arr"))
    val b = d.select(col("doc_id").as("b_id"), col(arr).as("b_arr"))
    a.join(b, col("b_id") === col("a_id") + lit(1))
      .withColumn("inter", size(array_intersect(col("a_arr"), col("b_arr"))).cast("long"))
      .withColumn("uni", size(array_union(col("a_arr"), col("b_arr"))).cast("long"))
      .filter(col("uni") > lit(0L))
      .select(col("a_id"), col("b_id"),
        expr("(inter * 100) div uni").as("jaccard_pct"))
      .orderBy(col("a_id"))
  }

  val ddJaccard = QueryDef(
    "dd_jaccard",
    (s, dir) => adjacentJaccardPct(tokPairsFrame(s, dir), "toks"),
    oracle = Some("""
      WITH tok AS (
        SELECT doc_id,
          list_distinct(list_filter(string_split(lower(text), ' '), x -> length(x) > 3)) AS toks
        FROM documents)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        (CAST(length(list_intersect(a.toks, b.toks)) AS BIGINT) * 100)
          // CAST(length(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT) AS jaccard_pct
      FROM tok a JOIN tok b ON b.doc_id = a.doc_id + 1
      WHERE a.toks IS NOT NULL AND b.toks IS NOT NULL
        AND length(list_distinct(list_concat(a.toks, b.toks))) > 0
      ORDER BY a_id"""),
    headline = true)

  /** Distinct 3-token shingles of `text` in first-occurrence order, as a
    * Scala UDF kernel; null when the text has fewer than 3 tokens (the
    * `size(toks) >= 3` gate). Bit-identical to the declarative form
    * `array_distinct(transform(sequence(1, size-2), i => concat_ws(" ",
    * slice(toks, i, 3))))` — asserted on both scale tiers — but ~7×
    * faster measured: nested higher-order lambdas are interpreted
    * per-element, the same trade as the Similarity kernels (VERDICT r3
    * accepted the measured-win standard). Tokenization matches the HOF
    * twin: split on single spaces, drop empties, and lowercase via
    * [[lowerLikeSpark]] — the builtin-`lower` twin (ASCII fast path,
    * default-locale slow path), NOT Locale.ROOT, which diverges from
    * the builtin on a Turkish-locale JVM. */
  val shingles3 = udf((text: String) => {
    if (text == null) null
    else {
      val toks = lowerLikeSpark(text).split(" ").filter(_.nonEmpty)
      if (toks.length < 3) null
      else {
        val out = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i <= toks.length - 3) {
          out.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
          i += 1
        }
        out.toArray(new Array[String](0)).toSeq
      }
    }
  })

  /** [[shingles3]] marked non-deterministic — the guide-§4.4 single-
    * evaluation form for the hot projection sites (r20). The function is
    * pure (same mark-only trick as the guide's example: values are
    * unchanged); the mark forbids Catalyst from duplicating the kernel
    * when it pushes the `sh IS NOT NULL` / implicit generator
    * constraints below the projection — the r20 sf10 stage dump showed
    * `UDF(text)` evaluated 2-3× per row on BOTH decontam branches
    * (isnotnull(UDF), size(UDF) > 0, and the Project itself). Because
    * predicates no longer push past this projection, callers MUST apply
    * their cheap column filters (source = …) BEFORE projecting the
    * shingles — each site does, explicitly. */
  private[operators] val shingles3Once = shingles3.asNondeterministic()

  /** True n-gram (3-token shingle) Jaccard near-dup — the classic
    * shingling formulation (the basis dd_minhash approximates): contiguous
    * 3-token windows, distinct shingle sets, adjacent-pair integer-pct
    * Jaccard. Fully SQL-expressible, so unlike the hashed variants this
    * one gets an exact DuckDB oracle (the kernel is only an evaluation
    * strategy for the same expression). */
  val ddShingleJaccard = QueryDef(
    "dd_shingle_jaccard",
    (s, dir) => {
      // the shingles3 kernel is the expensive per-row step here — run
      // it once, not once per join branch (see a12's rationale)
      val d = RunCaches.cachedFeature(s, s"txt_shingles:$dir", RunCaches.srcVersion(s, dir, "documents.parquet")) {
        T(s, dir).documents
          .select(col("doc_id"), shingles3Once(col("text")).as("sh"))
          .filter(col("sh").isNotNull)
      }
      adjacentJaccardPct(d, "sh")
    },
    oracle = Some("""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
          list_distinct(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        (CAST(length(list_intersect(a.sh, b.sh)) AS BIGINT) * 100)
          // CAST(length(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS jaccard_pct
      FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
      WHERE length(list_distinct(list_concat(a.sh, b.sh))) > 0
      ORDER BY a_id"""))

  /** The two stopword lists and the word/stopword feature + integer
    * quality-score columns — ONE definition each, consumed by
    * txt_langid, txt_quality, [[corpusGates]] and the quality-gate
    * tiers' shared frame. Previously the formula existed verbatim in
    * three places and each list in two; an edit that missed one copy
    * silently de-synced txt_quality from pipe_corpus_clean with no
    * compile-time signal — the Tiers.scala rationale, applied here. */
  private[operators] val enStopwords = Seq("the", "and", "of", "to", "a", "in", "is", "for")
  private[operators] val qualityStopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  /** Corpus-gate thresholds — named so [[corpusGates]] and the
    * pipe-ingest kernel fingerprint ([[IngestIncr]]) read the SAME
    * value: a threshold edit must move the persisted-index family
    * prefix automatically, not by a remembered hand-bump (r19). */
  private[operators] val gateEnHitsMin = 2L
  private[operators] val gateQualityMin = 60L
  /** The gate kernel's identity components, for
    * [[Similarity.kernelFp]] — every constant whose change invalidates
    * an index built over the gate population. */
  private[graft] def gatesKernelId: Seq[(String, Any)] = Seq(
    "enStop" -> enStopwords.mkString(","),
    "qStop" -> qualityStopwords.mkString(","),
    "enHitsMin" -> gateEnHitsMin,
    "qualityMin" -> gateQualityMin,
    "score" -> "min(100,2w)+min(50,5s)",
    "fp" -> "md5(text)")
  private def nWordsCol =
    size(filter(split(col("text"), " "), w => length(w) > lit(0))).cast("long")
  private def stopCntCol = size(filter(split(lower(col("text")), " "),
    w => w.isin(qualityStopwords.map(x => x: Any): _*))).cast("long")
  private def enHitsCol = size(filter(split(lower(col("text")), " "),
    w => w.isin(enStopwords.map(x => x: Any): _*))).cast("long")
  private def qualityScoreCol(nWords: Column, stopCnt: Column): Column =
    least(lit(100L), nWords * lit(2L)) + least(lit(50L), stopCnt * lit(5L))

  /** Language-ID n-gram/stopword heuristic (driver-requested; deterministic). */
  val txtLangId = QueryDef(
    "txt_langid",
    (s, dir) => {
      val enHits = enHitsCol
      T(s, dir).documents
        .select(col("doc_id"), enHits.as("en_hits"),
          when(enHits >= lit(2L), lit("en")).otherwise(lit("unk")).as("guessed_lang"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
        CAST(length(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is','for'))) AS BIGINT) AS en_hits,
        CASE WHEN length(list_filter(string_split(lower(text), ' '),
          x -> x IN ('the','and','of','to','a','in','is','for'))) >= 2
          THEN 'en' ELSE 'unk' END AS guessed_lang
      FROM documents ORDER BY doc_id"""))

  /** Quality scoring: length / word-count / stopword-ratio features, integer
    * score (driver-requested; ratios as truncating int pct for exactness). */
  val txtQuality = QueryDef(
    "txt_quality",
    (s, dir) => {
      T(s, dir).documents
        .withColumn("n_words", nWordsCol)
        .withColumn("stop_cnt", stopCntCol)
        .filter(col("n_words") > lit(0L))
        .select(
          col("doc_id"), col("n_words"), col("stop_cnt"),
          expr("(stop_cnt * 100) div n_words").as("stop_pct"),
          expr("n_chars div n_words").as("avg_word_len_floor"),
          qualityScoreCol(col("n_words"), col("stop_cnt")).as("quality_score"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH f AS (
        SELECT doc_id, n_chars,
          CAST(length(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_cnt
        FROM documents)
      SELECT doc_id, n_words, stop_cnt,
        (stop_cnt * 100) // n_words AS stop_pct,
        n_chars // n_words AS avg_word_len_floor,
        LEAST(100, n_words * 2) + LEAST(50, stop_cnt * 5) AS quality_score
      FROM f WHERE n_words > 0 ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + BPE-ish regex token count
    * (driver-requested). */
  val txtTokens = QueryDef(
    "txt_tokens",
    (s, dir) => graft.QueryDef.kernelSorted(
      T(s, dir).documents.select(col("doc_id"), col("text")),
      col("doc_id")) {
      _.select(
        col("doc_id"),
        // the ONE shared word-count rule — an inline copy here is the
        // exact silent-de-sync hazard nWordsCol was consolidated for
        nWordsCol.as("tok_ws"),
        // explicit whitespace class, NOT \s: Java's \s includes
        // vertical tab where DuckDB's RE2 \s does not — the classes
        // must be spelled out to agree (ddExactNorm's rule)
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\f\\r]"))
          .cast("long").as("tok_re"))
    },
    oracle = Some("""
      SELECT doc_id,
        CAST(length(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS tok_ws,
        CAST(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\f\r]')) AS BIGINT) AS tok_re
      FROM documents ORDER BY doc_id"""))

  /** Document fingerprint: first-8-hex of md5 as a bucket key + per-bucket
    * counts (driver-requested fingerprinting; grouping tests the shuffle
    * key). The reference's 31-based rolling hash lives in
    * [[graft.functions.Udfs.specHashBase36]] (exact 32-bit wrap) and is
    * exercised by `txt_fingerprint_rolling` (which carries a full exact
    * DuckDB oracle — the wrap re-derived as a BIGINT fold). */
  val txtFingerprint = QueryDef(
    "txt_fingerprint",
    (s, dir) => T(s, dir).documents
      .select(col("doc_id"), substring(md5(col("text")), 1, 8).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("fp").asc_nulls_last), // nulls last, as dd_exact
    oracle = Some("""
      SELECT substring(md5(text), 1, 8) AS fp, COUNT(*) AS n,
        MIN(doc_id) AS first_doc
      FROM documents GROUP BY 1 ORDER BY fp"""))

  /** Reference rolling hash (escrow.ts:222-231): 31-based 32-bit-wrap hash
    * rendered base36. Exact-wrap semantics live in a UDF; the DuckDB twin
    * re-derives the wrap with a `list_reduce` fold in BIGINT — each step
    * re-centers into signed-32 range, `abs` in BIGINT reproduces the JS
    * `Math.abs(Int.MinValue)` = 2147483648 edge, `to_base(…, 36)` matches
    * JS `toString(36)` after lowering. Corpus is ASCII, so DuckDB code
    * points equal the UTF-16 units JS `charCodeAt` folds over. */
  val txtFingerprintRolling = QueryDef(
    "txt_fingerprint_rolling",
    (s, dir) => {
      val f = graft.functions.Udfs.specHashBase36
      T(s, dir).documents
        .select(col("doc_id"), f(col("text")).as("spec_hash"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL
             WHEN length(text) = 0 THEN '0'
             ELSE lower(to_base(abs(list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(string_split(text, ''), c -> unicode(c)::BIGINT)),
               (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296)
                           % 4294967296 - 2147483648)), 36))
        END AS spec_hash
      FROM documents ORDER BY doc_id"""))

  /** End-to-end corpus-cleaning pipeline — the composed 100 TB
    * training-data flow the individual ops feed: language gate (English
    * stopword hits ≥ 2) → quality gate (score ≥ 60) → exact dedup
    * (md5 keeper = lowest doc_id) → per-survivor token budget. One
    * declarative plan: the gates are pushed into the scan, the dedup is
    * one hash shuffle, and everything else is projection — exactly how
    * the pieces compose at scale. */
  /** The STATELESS stage of the corpus-clean pipeline — language gate,
    * quality gate, content fingerprint — shared verbatim by the batch
    * query below and the streaming ingest form
    * ([[graft.streaming.StreamOps.corpusCleanStream]]); only the dedup
    * step differs (keeper election in batch, within-watermark first-seen
    * in streaming). */
  def corpusGates(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df
      .withColumn("en_hits", enHitsCol)
      .withColumn("n_words", nWordsCol)
      .withColumn("stop_cnt", stopCntCol)
      .filter(col("en_hits") >= lit(gateEnHitsMin) && col("n_words") > lit(0L))
      .withColumn("quality_score",
        qualityScoreCol(col("n_words"), col("stop_cnt")))
      .filter(col("quality_score") >= lit(gateQualityMin))
      .withColumn("fp", md5(col("text")))

  /** Exact-dup keeper election on a fingerprint column: keep each fp's
    * min-doc_id row, via a partial-aggregating groupBy + join — the same
    * scale-safe shape as the LSH keeper election (no window over
    * potentially huge duplicate clusters). ONE definition shared by
    * `pipe_corpus_clean` and the composed `pipe_e2e` (r17 review: an
    * election fix landing in only one of the two would silently diverge
    * the composed flow from the twin its oracle pins). */
  private[operators] def keeperDedup(gated: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val keepers = gated.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    gated.join(keepers, Seq("fp", "doc_id"))
  }

  /** Distinct 3-token shingles of a `(…, text)` frame — the held-out
    * (benchmark) half of the decontamination kernel. ONE definition
    * shared by the composed pipeline ([[PipelineE2E]]) and the
    * incremental ingest probe ([[IngestIncr]] — which also PERSISTS
    * this frame as the index's pinned benchmark set): a shingle rule
    * edited in one caller but not the other would silently diverge the
    * ingest verdicts from the batch flow their oracle recomputes. */
  private[operators] def benchShinglesOf(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    // shingles3Once: callers pass an already-filtered frame, so the ND
    // mark costs nothing and saves the 2-3× kernel duplication (r20)
    df.select(shingles3Once(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
      .select(explode(col("sh")).as("shingle")).distinct()

  /** Decontamination flag set: `doc_id`s of `train` (`doc_id`, `text`)
    * whose 3-token-shingle hit count against `bench` (`shingle`) reaches
    * `minHits` (≥ 1 ≡ the any-hit rule). Shingle-explode + equi-join on
    * the shingle — hash-partitioned, linear in total shingles, never
    * doc×doc; the benchmark side is small so Catalyst broadcasts it (at
    * 100 TB: broadcast a Bloom of the same set, keep this join as the
    * exact confirmation pass — the pipe_decontam_bloom pattern). ONE
    * definition shared by [[PipelineE2E]] and [[IngestIncr]]. */
  private[operators] def decontamFlagged(train: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, minHits: Long):
      org.apache.spark.sql.DataFrame =
    train.select(col("doc_id"), shingles3Once(col("text")).as("sh"))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(bench, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= lit(minHits))
      .select(col("doc_id"))

  /** Per-stratum integer-rank MEDIAN gate: keep rows whose `score` is at
    * or above their `stratum`'s median, computed by the
    * `a15_percentile_disc` rank rule `(n+1) div 2` over (score, tiebreak)
    * and joined back NULL-SAFELY (`<=>`) — a plain equi-join would drop
    * the null stratum entirely (r13 sweep; oracle joins IS NOT DISTINCT
    * FROM to match). Adds `lang_median`. ONE definition shared by
    * `pipe_quality_gate` and the composed `pipe_e2e` (r17 review). */
  private[operators] def medianGate(df: org.apache.spark.sql.DataFrame,
      stratum: String, score: String, tiebreak: String,
      outName: String = "lang_median"): org.apache.spark.sql.DataFrame = {
    // the output name is a parameter (default keeps both callers'
    // catalog schema): a hardcoded name would mislabel a non-language
    // stratum and collide (ambiguous-reference AnalysisException) on a
    // frame that already carries it — e.g. composing two gates (r17
    // review 2)
    require(!df.columns.exists(_.equalsIgnoreCase(outName)),
      s"medianGate output column $outName already exists (any case) — pass outName")
    val wOrd = Window.partitionBy(stratum).orderBy(col(score), col(tiebreak))
    val wAll = Window.partitionBy(stratum)
    val thresholds = df
      .withColumn("__mg_rn", row_number().over(wOrd).cast("long"))
      .withColumn("__mg_n", count(lit(1)).over(wAll))
      .filter(col("__mg_rn") === expr("(__mg_n + 1) div 2"))
      .select(col(stratum).as("__mg_stratum"), col(score).as(outName))
    df.join(broadcast(thresholds), col(stratum) <=> col("__mg_stratum"))
      .filter(col(score) >= col(outName))
      .drop("__mg_stratum")
  }

  val pipeCorpusClean = QueryDef(
    "pipe_corpus_clean",
    (s, dir) => {
      // memoized: `gated` feeds the keeper aggregation AND the join-back
      // — unmemoized, both branches re-scanned the corpus and re-ran the
      // three split+filter gate columns (r13 sweep)
      val gated = RunCaches.cachedFeature(s, s"txt_corpus_gated:$dir",
          RunCaches.srcVersion(s, dir, "documents.parquet")) {
        corpusGates(T(s, dir).documents)
      }
      keeperDedup(gated)
        .select(col("doc_id"), col("quality_score"),
          col("n_words").as("tokens"), col("fp"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH g AS (
        SELECT doc_id, text,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','and','of','to','a','in','is','for'))) AS BIGINT) AS en_hits,
          CAST(length(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_cnt
        FROM documents),
      q AS (
        SELECT doc_id, text, n_words,
          LEAST(100, n_words * 2) + LEAST(50, stop_cnt * 5) AS quality_score
        FROM g WHERE en_hits >= 2 AND n_words > 0),
      d AS (
        SELECT *, md5(text) AS fp,
          MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM q WHERE quality_score >= 60)
      SELECT doc_id, quality_score, n_words AS tokens, fp
      FROM d WHERE doc_id = keeper ORDER BY doc_id"""))

  /** The scored frame BOTH quality-gate tiers read (txt_quality's integer
    * score per document + its language) — one definition, so the exact
    * and sketch gates can never drift on what they are thresholding.
    * Memoized: each gate query consumes it in TWO plan branches (the
    * thresholds aggregation and the join-back), and Spark shares no
    * subplans across DataFrame branches — unmemoized, every gate run
    * re-scanned the corpus and re-tokenized the scores once per branch
    * (r13 sweep; same rationale as the txt_pairs memo). */
  private def qualityScored(s: SparkSession, dir: String): DataFrame =
    RunCaches.cachedFeature(s, s"txt_quality_scored:$dir",
        RunCaches.srcVersion(s, dir, "documents.parquet")) {
      T(s, dir).documents
        .withColumn("n_words", nWordsCol)
        .withColumn("stop_cnt", stopCntCol)
        .filter(col("n_words") > lit(0L))
        .select(col("doc_id"), col("lang"),
          qualityScoreCol(col("n_words"), col("stop_cnt")).as("quality_score"))
    }

  /** Per-language quality-percentile corpus gate: keep each language's
    * documents scoring at or above that language's MEDIAN quality — the
    * relative-threshold filtering step every corpus-construction
    * pipeline runs (absolute thresholds misfire across languages whose
    * score distributions differ; the gate must be per-stratum).
    *
    * Composition, all exact-integer so the DuckDB twin is hash-exact:
    * the [[qualityScored]] frame → per-language median by integer
    * rank `(n+1) div 2` over (score, doc_id) (the `a15_percentile_disc`
    * method) → thresholds are one row per language, so the join-back is
    * an explicit broadcast and the corpus is filtered in place with no
    * second wide shuffle. At 100 TB the per-language sort behind the
    * exact median is the cost you pay for bit-reproducibility;
    * [[pipeQualityGateApprox]] is the sketch swap-in. */
  val pipeQualityGate = QueryDef(
    "pipe_quality_gate",
    (s, dir) => {
      val scored = qualityScored(s, dir)
      medianGate(scored, "lang", "quality_score", "doc_id")
        .select(col("doc_id"), col("lang"), col("quality_score"), col("lang_median"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH f AS (
        SELECT doc_id, lang,
          CAST(length(list_filter(string_split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_words,
          CAST(length(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_cnt
        FROM documents),
      sc AS (
        SELECT doc_id, lang,
          LEAST(100, n_words * 2) + LEAST(50, stop_cnt * 5) AS quality_score
        FROM f WHERE n_words > 0),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY quality_score, doc_id) AS rn,
          count(*) OVER (PARTITION BY lang) AS n
        FROM sc),
      t AS (SELECT lang, quality_score AS lang_median FROM r WHERE rn = (n + 1) // 2)
      SELECT sc.doc_id, sc.lang, sc.quality_score, t.lang_median
      FROM sc JOIN t ON sc.lang IS NOT DISTINCT FROM t.lang
      WHERE sc.quality_score >= t.lang_median
      ORDER BY sc.doc_id"""))

  /** The 100 TB tier of [[pipeQualityGate]]: identical gate, but the
    * per-language threshold comes from `percentile_approx` (GK sketch,
    * fixed-size partial-aggregating state) instead of the exact
    * integer-rank median's full per-language sort — the same
    * exact-anchor/sketch-tier pairing as `a15_percentile_disc` /
    * `a15_percentile_approx`. Both tiers read the ONE [[qualityScored]]
    * frame, so they threshold the same scores by construction.
    * Rows-only by design (the sketch's cutoff is accuracy-bounded, not
    * bit-specified); SemanticsSpec asserts each language's sketch median
    * lands within 2% of the exact tier's and that the gate is exactly
    * scored ≥ threshold. */
  val pipeQualityGateApprox = QueryDef(
    "pipe_quality_gate_approx",
    (s, dir) => {
      val scored = qualityScored(s, dir)
      val thresholds = scored.groupBy(col("lang"))
        .agg(percentile_approx(col("quality_score"), lit(0.5), lit(10000))
          .as("lang_median"))
        .withColumnRenamed("lang", "t_lang")
      // null-safe join, same rationale as the exact tier
      scored.join(broadcast(thresholds), col("lang") <=> col("t_lang"))
        .filter(col("quality_score") >= col("lang_median"))
        .select(col("doc_id"), col("lang"), col("quality_score"), col("lang_median"))
        .orderBy(col("doc_id"))
    })

  /** Corpus vocabulary profile: the 10 highest-document-frequency tokens
    * per language (ties broken lexicographically). The df counting is the
    * canonical two-level shape — explode distinct per-doc tokens, partial
    * map-side count on (lang, token), one hash shuffle — so the expensive
    * step scales with total token occurrences, never doc×vocab. The final
    * per-language rank runs over the aggregated VOCABULARY (tiny next to
    * the corpus); if even that skews at 100 TB — one language owning most
    * of the vocab — the bounded-heap `TopK` aggregator (`w3_recent_topk`
    * form) swaps in for the window without changing the result. This is
    * the stopword/vocab-audit step of corpus construction: the head of
    * this list is what a tokenizer build or a quality filter reads. */
  val txtVocabTopk = QueryDef(
    "txt_vocab_topk",
    (s, dir) => {
      val w = Window.partitionBy("lang").orderBy(col("df").desc, col("token"))
      T(s, dir).documents
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("df"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= lit(10L))
        .orderBy(col("lang").asc_nulls_last, col("rk")) // lang is nullable
    },
    oracle = Some("""
      WITH tok AS (
        SELECT lang, unnest(list_distinct(list_filter(
          string_split(lower(text), ' '), x -> length(x) > 3))) AS token
        FROM documents),
      c AS (SELECT lang, token, count(*) AS df FROM tok GROUP BY lang, token),
      r AS (SELECT lang, token, df,
              row_number() OVER (PARTITION BY lang
                ORDER BY df DESC, token) AS rk
            FROM c)
      SELECT lang, token, df, rk FROM r WHERE rk <= 10
      ORDER BY lang, rk"""))

  /** Per-language corpus profile — the data-QA audit every ingest runs
    * before training (doc counts, source spread, size envelope, and the
    * degenerate-document count that predicts tokenizer blowups). One
    * partial-aggregating pass, one hash shuffle on the (tiny) language
    * key, output one row per language — the profile of a 100 TB corpus
    * is a handful of rows, which is exactly why this belongs in-engine
    * rather than as a notebook scan. All-integer so the twin is
    * hash-exact; `n_sources` is an exact distinct (second shuffle keyed
    * (lang, source)) because source cardinality is small by construction
    * — the `approx_count_distinct` HLL tier (`a14_approx_distinct`) is
    * the documented swap-in when the profiled dimension is unbounded. */
  val pipeProfile = QueryDef(
    "pipe_profile",
    (s, dir) => {
      T(s, dir).documents
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(when(col("n_chars") < lit(100L), lit(1))).as("n_short"),
          count(when(col("text").isNull || length(col("text")) === lit(0),
            lit(1))).as("n_empty"))
        .orderBy(col("lang").asc_nulls_last) // lang is nullable
    },
    oracle = Some("""
      SELECT lang,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(n_chars) AS min_chars,
             MAX(n_chars) AS max_chars,
             CAST(COUNT(CASE WHEN n_chars < 100 THEN 1 END) AS BIGINT) AS n_short,
             CAST(COUNT(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END)
                  AS BIGINT) AS n_empty
      FROM documents GROUP BY lang ORDER BY lang"""))

  val defs: Seq[QueryDef] = Seq(
    ddExact, ddExactNorm, a12OverlapScore, ddJaccard, ddShingleJaccard,
    txtLangId, txtQuality, txtTokens, txtFingerprint, txtFingerprintRolling,
    pipeCorpusClean, pipeQualityGate, pipeQualityGateApprox, txtVocabTopk,
    pipeProfile)
}
