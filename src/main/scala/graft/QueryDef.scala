package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine operation (SURVEY.md §2 row).
  *
  * @param name    stable id, becomes the key in [[SparkEntry.queries]]
  * @param run     the Spark-first implementation over the sf dir's tables
  * @param oracle  equivalent ANSI SQL for DuckDB over the same parquet
  *                tables; None for ops whose semantics are not exactly
  *                SQL-expressible (approximate / hash-seeded ops) — the
  *                driver then records a weaker rows-only check.
  * @param headline included in the Bench timing suite when true.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    headline: Boolean = false)

object QueryDef {
  /** The kernel-once presentation sort (ONE definition of the
    * s2_decode_fast_action rule, r14/r17): a global `orderBy` is a range
    * exchange whose boundary sampler EXECUTES its child before the sort
    * job executes it again — so a query whose final sort sits above an
    * expensive per-row kernel (regex, JSON parse, hash, binary codec)
    * runs that kernel twice. This combinator sorts the RAW key columns
    * first and applies the kernel projection ABOVE the sort (a narrow
    * projection preserves the global order), so the sampler touches only
    * the cheap pre-projection frame and the kernel runs once,
    * post-exchange. Use whenever the sort key is (or is determined by) a
    * raw input column; when the sort key is itself kernel-derived, or
    * the child contains a join/agg, the fix is the j1_fk_join
    * memoization instead.
    *
    * The sort is an EXPLICIT `repartitionByRange` at the session's
    * parallelism + a within-partition sort — the same global order as
    * `orderBy` — NOT `orderBy` itself (r19, the crypto_commitment find
    * generalized to the family): AQE coalesces an orderBy's range
    * exchange for the SORT's output bytes, blind to the expensive
    * kernel projection this combinator deliberately places above it —
    * at sf10 that ran crypto_commitment's Poseidon stage on 16 of 32
    * cores. An explicit partition count is exempt from AQE coalescing
    * by contract; PlanSpec locks the resulting task count so a future
    * revert to bare orderBy fails loudly. max(defaultParallelism,
    * shuffle.partitions), not shuffle.partitions alone — the
    * crypto_commitment ADVICE-r18 rule: an AQE deployment tuning
    * initialPartitionNum would otherwise pin this below the box. */
  def kernelSorted(df: DataFrame, sortCols: org.apache.spark.sql.Column*)(
      project: DataFrame => DataFrame): DataFrame = {
    val s = df.sparkSession
    // the TYPED conf entry, not conf.get(...).toInt: the raw string can
    // be non-numeric on platforms that support "auto" (ADVICE r19).
    // Deliberately NOT sessionState.conf.numShufflePartitions (Merkle's
    // resolution): under AQE that returns initialPartitionNum — 8× the
    // core count in Engine.session — which would 8× this family's task
    // count; the contract here is the SESSION's shuffle.partitions
    // value, exactly what the old parse read (PlanSpec locks the count).
    val shufP = math.max(s.sparkContext.defaultParallelism,
      s.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.SHUFFLE_PARTITIONS))
    project(df.repartitionByRange(shufP, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
  }

  /** All operator catalogs, merged for SparkEntry / Bench / Verify. */
  def catalogs: Seq[QueryDef] =
    graft.operators.Relational.defs ++
      graft.operators.Relational2.defs ++
      graft.operators.Text.defs ++
      graft.operators.Similarity.defs ++
      graft.operators.BinaryOps.defs ++
      graft.operators.Governance.defs ++
      graft.operators.Multimodal.defs ++
      graft.operators.RestQueries.defs ++
      graft.operators.Crypto.defs ++
      graft.operators.StreamingTwins.defs ++
      graft.operators.ScaleOps.defs ++
      Seq(graft.operators.PipelineE2E.pipeE2e,
        graft.operators.PipelineE2E.pipeE2eWide,
        graft.operators.IngestIncr.pipeIngestIncr)

  /** The catalog queries a comma list names, in its order; `all` is the
    * whole catalog. An unknown name fails here, before any query runs:
    * the one name check of TimeQueries, Explain and Verify. */
  def resolve(arg: String): Seq[QueryDef] =
    if (arg.trim == "all") catalogs
    else arg.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { n =>
      catalogs.find(_.name == n).getOrElse(sys.error(s"unknown catalog query: $n"))
    }
}
