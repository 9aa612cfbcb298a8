package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * One place for every config that affects correctness or scale posture:
  *  - UTC session time zone (oracle parity with DuckDB).
  *  - `nanosAsLong`: the driver's `events.parquet` carries TIMESTAMP(NANOS)
  *    which Spark's vectorized reader rejects; we read it as a Long of
  *    epoch-nanos and derive micro-precision timestamps ourselves
  *    (see [[Tables.events]]).
  *  - AQE on: runtime coalescing + skew-join handling, the thing we rely on
  *    instead of hand-tuned partition counts at the 100 TB target.
  *  - shuffle partitions sized for the local test harness; on a real
  *    cluster this is overridden by AQE's coalescing anyway.
  */
object Engine {

  /** `raw`, the value of setting `key`, as a whole number in
    * [`min`, `max`]; anything else fails naming the key. */
  private[graft] def wholeSetting(key: String, raw: String, min: Long,
      max: Long = Int.MaxValue): Long =
    raw.trim.toLongOption.filter(v => v >= min && v <= max).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a whole number in [$min, $max], got '$raw'"))

  /** The core count a session runs with: `SPARK_GRAFT_CPUS` when set
    * (`env` is its value), else the host's. */
  private[graft] def cpus(env: Option[String]): Int =
    env.fold(Runtime.getRuntime.availableProcessors)(v =>
      wholeSetting("SPARK_GRAFT_CPUS", v, 1).toInt)

  private lazy val defaultCpus = cpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def session(
      master: String = s"local[$defaultCpus]",
      shufflePartitions: Int = defaultCpus,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // PINNED, not inherited: several loud-overflow guarantees (e.g.
      // Tables.tsAsNanos' TIMESTAMP→nanos multiply on post-2262
      // instants) document "keep ANSI on or this becomes silent
      // corruption". Spark 4's default is already true, but build.sbt
      // forwards arbitrary extra java opts and an image-level
      // spark-defaults.conf can flip defaults — the factory whose
      // charter is "one place for every config that affects
      // correctness" must not leave it to the environment.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalesces DOWN from the initial shuffle width but never
      // widens it: with the width pinned to the core count, a 100×
      // tier's shuffle partitions grow 100× and the wide aggregations
      // spill (the r14 sf10 probe measured dd_minhash at 17× per decade
      // — the ONLY super-linear plan — and this was the cause). An 8×
      // headroom initial width lets AQE pick per-stage: small shuffles
      // coalesce back to ~core-count partitions (sf0.1 plans and times
      // unchanged), big ones keep the width. On a real cluster this is
      // the same posture scaled up: initial width >> cores, AQE owns
      // the final number.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * 8).toString)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE's byte thresholds scaled to the LOCAL harness (single JVM,
      // tiers whose compressed shuffles are MBs, not the multi-GB
      // cluster shuffles the 64m/256m defaults are tuned for). This is
      // not cosmetic: the r14 sf10 probe measured dd_minhash at 17× per
      // decade because its verify join's hot keeper partition (~tens of
      // MB — the LSH election concentrates most candidates onto few
      // keepers) sat UNDER the 256m skew-split threshold, so one task
      // ran ~all the jaccard CPU while 31 cores idled; at these scaled
      // thresholds AQE splits it and the same query measures 3.6 s
      // (3.4×/decade, sub-linear). On a real cluster the same skew
      // exceeds the stock thresholds and splits with NO custom config —
      // the defaults are the cluster-scaled version of these numbers.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
      // reliable RDD checkpoints (the CC fixpoint's cluster posture via
      // spark.graft.checkpointDir) are written UNCOMPRESSED by default;
      // at the sf100 probe the per-iteration label snapshots plus the
      // 270M-edge sym checkpoint were a first-order part of the ~90 GB
      // transient-disk exhaustion (SURVEY §6.13). lz4-compressing them
      // is a pure win (core conf, must be set before the context —
      // runtime spark.conf.set cannot reach it), and it only affects
      // reliable checkpoints, which nothing else in the engine uses.
      .config("spark.checkpoint.compress", "true")
      // local commits stay in the JVM (LocalCommit.scala): without the
      // native libhadoop every checkpoint rename forked `readlink` and
      // every local file create forked `chmod` — over 5,600 processes
      // in one vote_stream benchmark run. Set on the context's own conf,
      // so the `file:` filesystem class wins before Hadoop's conf-blind
      // FileSystem cache holds a stock instance.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalCommitFileManager].getName)
      .config("spark.hadoop.fs.file.impl", classOf[LocalCommitFileSystem].getName)
      // Spark's generated-class cache is JVM-global, sized once by the
      // first session that generates code, and holds 100 classes by
      // default. The 13-query perfbench sample compiles ~150 classes on
      // an empty cache and one full sf0.01 catalog pass 1,260, so at 100
      // the cache evicted in a cycle: a second full pass recompiled ~1,700
      // classes (~14 ms each, 4-core host), against 22 with room for the
      // whole working set. 4096 covers it with headroom; an entry is one
      // loaded class, not data.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
