package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed access to the driver's test tables (TESTDATA.md).
  *
  * Every query function receives `(spark, sfDir)` and goes through here, so
  * schema quirks are handled exactly once:
  *
  *  - `events.ts` is parquet TIMESTAMP(NANOS); with
  *    `spark.sql.legacy.parquet.nanosAsLong=true` it surfaces as a Long of
  *    epoch-nanos. We derive `ts_ms` (epoch millis, what the reference's
  *    epoch-day math uses — floor(unix_ms/86400000), see SURVEY §2.8) and
  *    `event_time` (micro-precision timestamp) once here. DuckDB reads the
  *    same column natively as a ns timestamp, so oracle SQL uses
  *    `epoch_ms(ts)` / `CAST(ts AS DATE)` for the same values.
  *  - all other date columns arrive as `timestamp_ntz` and are used as-is.
  *
  * At 100 TB these reads are partitioned parquet scans; nothing here
  * collects, and every frame stays a lazy scan with pushdown intact. The
  * one thing kept across calls is each parquet table's schema
  * ([[Tables.readParquet]]), the way a metastore keeps a table's
  * definition: a query reads with the declared schema instead of running
  * a footer-reading inference job during planning. The memo holds no
  * file listing and no data, and `RunCaches.clearAll` leaves it alone: it
  * is catalog metadata, not a run result.
  */
final case class Tables(spark: SparkSession, dir: String) {

  /** Parquet by default; a `jdbc:` URL as the table-set locator flips the
    * whole catalog to a relational primary store — the reference's actual
    * layout (Postgres via prisma/schema.prisma:10-171) — with zero query
    * changes, since every operator reads through this facade. Predicate
    * and column pushdown reach the database (JDBC scan prints
    * PushedFilters like the parquet one) — for predicates over RAW
    * columns; filters over the DERIVED [[events]] columns (`ts_ms`,
    * `event_time` — expressions over `ts`) are not translatable and
    * evaluate Spark-side after the scan, so a time-bounded query
    * against a relational events store streams the full table unless
    * the store exposes an indexed raw column to filter on. A `jdbc:`
    * read is single-split: one connection per table. */
  private def load(name: String): DataFrame =
    if (dir.startsWith("jdbc:")) {
      spark.read.format("jdbc")
        .option("url", dir)
        .option("dbtable", name)
        // timestamp-WITHOUT-time-zone columns (the reference's prisma
        // DateTime maps to Postgres `timestamp(3)`) arrive as
        // TimestampNTZ instead of TimestampType: the plain TIMESTAMP
        // materialization goes through the JVM default zone
        // (rs.getTimestamp), so on any non-UTC driver every instant
        // would silently shift by the zone offset — while tsAsNanos'
        // NTZ branch decomposes the stored wall-clock zone-FREE, which
        // is exactly the semantics a naive store column needs
        // (r13 sweep; the same hazard the NTZ parquet branch documents)
        .option("preferTimestampNTZ", "true")
        .load()
    } else Tables.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame = load("region")
  def nation: DataFrame = load("nation")
  def customer: DataFrame = load("customer")
  def supplier: DataFrame = load("supplier")
  def part: DataFrame = load("part")
  def orders: DataFrame = load("orders")
  def lineitem: DataFrame = load("lineitem")
  def documents: DataFrame = load("documents")

  /** embeddings with `embedding` normalized to `array<float>`.
    *
    * The parquet tier stores `list<float>` natively. A relational store
    * (the `jdbc:` locator) has no stock type for it, so [[JdbcLoad]]
    * writes the fixed-width LE BLOB encoding
    * ([[graft.functions.FloatVecCodec]]) — a BinaryType arrival is
    * decoded here, once, so every vector operator (similarity tiers,
    * embedding dedup, incremental index) runs unchanged against either
    * store. Any other arrival type is an explicit error, same posture
    * as [[events]]' ts contract: silently serving a mis-typed vector
    * column would corrupt every downstream score. */
  def embeddings: DataFrame = {
    val raw = load("embeddings")
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) => raw
      case org.apache.spark.sql.types.BinaryType =>
        raw.withColumn("embedding",
          call_function("binary_to_float_vec", col("embedding")))
      case other => sys.error(
        s"embeddings.embedding must be array<float> or the codec's BINARY, " +
          s"got $other — re-export the store column through " +
          "float_vec_to_binary (JdbcLoad's loader does)")
    }
  }

  /** Generic by-name access with the same normalization routing as the
    * named accessors (`events` keeps its ts contract, `embeddings` its
    * vector decode) — the hook for machinery that is parameterized by a
    * source FILE name ([[graft.operators.Similarity]]'s versioned-index
    * families) and needs the corresponding table on any store tier. */
  private[graft] def byName(name: String): DataFrame = name match {
    case "events" => events
    case "embeddings" => embeddings
    case other =>
      require(Tables.catalogTables.contains(other),
        s"unknown catalog table $other (${Tables.catalogTables.mkString(", ")})")
      load(other)
  }

  /** events with `ts` normalized to epoch-nanos Long, plus derived columns.
    *
    * The parquet tier stores TIMESTAMP(NANOS) read as epoch-nanos Long
    * (`nanosAsLong`), and all downstream math is integer on that contract.
    * A relational store (the jdbc: locator) typically declares a real
    * TIMESTAMP column instead — that arrives as TimestampType and is
    * converted here (micros × 1000), so every events-based operator runs
    * unchanged against either store. Any other type is an explicit error:
    * silently treating an epoch-MILLIS bigint as nanos would corrupt every
    * windowed result by 10^6, which is worse than failing. */
  def events: DataFrame = {
    val raw = load("events")
    // integer floor-div ([[graft.functions.FloorTime]]), not `/` and not
    // bare `div`: epoch-nanos (~1.7e18) exceeds a double's 2^53
    // exact-integer range, so floating division would corrupt low bits,
    // and truncating `div` would round a pre-1970 sub-ms instant UP into
    // the next millisecond — feeding the downstream floor-bucketed
    // phase/window operators a 1970 instant for a 1969 event (the same
    // bug class st1/st2 fixed one layer up). Corpus-neutral (every
    // driver `ts` is post-2023), pinned by spec, not the oracle gate —
    // DuckDB's `epoch_ms()` truncates (see FloorTime's scaladoc).
    raw
      .withColumn("ts", Tables.tsAsNanos(raw.schema("ts").dataType))
      .withColumn("ts_ms", graft.functions.FloorTime.floorDiv("ts", 1000000L))
      .withColumn("event_time",
        expr(s"timestamp_micros(${graft.functions.FloorTime.floorDivSql("ts", 1000L)})"))
  }
}

object Tables {
  /** Every table the facade can load — the validation set for the
    * partitioned-JDBC env spec. */
  val catalogTables: Set[String] = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** The newest mtime of `path`: the max of its own mtime and its direct
    * children's, read through the Hadoop FileSystem of the path's scheme,
    * so a `file:`-qualified or remote path reads its real mtimes (a
    * `java.io.File` read of such a path sees mtime 0 forever). The source
    * identity every staged cache, index version and memo version compares.
    * A missing path throws `FileNotFoundException`. A `listStatus` walk:
    * `listFiles` reads each file's permission, which forks `ls -ld` per
    * file without native libhadoop. */
  def newestMtime(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) st.getModificationTime
    else fs.listStatus(p).foldLeft(st.getModificationTime)((m, c) =>
      math.max(m, c.getModificationTime))
  }

  /** session -> path -> (newest mtime, schema) of [[readParquet]]. The
    * session is held weakly, so a stopped session is not pinned. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, Map[String, (Long, StructType)]]()
  private val memoHits, memoMisses = new java.util.concurrent.atomic.AtomicLong()

  /** Schema-memo lookups that were served from / missed the memo. */
  def schemaMemoHits: Long = memoHits.get
  def schemaMemoMisses: Long = memoMisses.get

  /** The parquet file or directory `path`, read with the schema this
    * session inferred for it before. Keyed by session, because inference
    * follows the session's reader confs (`nanosAsLong`, NTZ inference),
    * and by path; an entry holds only the schema and is inferred again
    * once [[newestMtime]] of `path` moves. On a miss the inferring read's
    * own frame is returned, so a first read costs what an unmemoized one
    * does. `RunCaches.clearAll` leaves the memo alone: it is catalog
    * metadata, not a run result. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    // the mtime is read BEFORE the inferring read: a replacement racing
    // it is stored under the older mtime and inferred again next time
    val mtime = newestMtime(spark, path)
    val session = synchronized(Option(schemas.get(spark)).getOrElse(Map.empty))
    session.get(path).collect { case (m, st) if m == mtime => st } match {
      case Some(st) =>
        memoHits.incrementAndGet()
        spark.read.schema(st).parquet(path)
      case None =>
        memoMisses.incrementAndGet()
        val df = spark.read.parquet(path)
        synchronized {
          val now = Option(schemas.get(spark)).getOrElse(Map.empty)
          schemas.put(spark, now.updated(path, (mtime, df.schema)))
        }
        df
    }
  }

  /** `ts` → epoch-nanos Long, shared by the batch facade and the streaming
    * file source so both read every store tier the same way. Accepted
    * arrivals: epoch-nanos BIGINT (parquet TIMESTAMP(NANOS) under
    * `nanosAsLong`), TIMESTAMP (a relational store's column — micros ×
    * 1000), and TIMESTAMP_NTZ (naive parquet `timestamp[us]` without the
    * UTC flag, what a pandas/pyarrow writer emits, surfaced by Spark 4's
    * NTZ inference). For NTZ the stored wall-clock IS the instant — the
    * DuckDB oracle reads the same naive values directly — so the stored
    * micros must pass through UNCHANGED regardless of who owns the
    * session: a bare NTZ→TIMESTAMP cast would re-interpret the wall-clock
    * in the session timezone, and while Engine.session pins UTC, the
    * driver hands its OWN session into `SparkEntry.queries` with no such
    * guarantee — a non-UTC driver zone would silently shift every event
    * by the zone offset. The NTZ branch therefore decomposes the
    * wall-clock with timezone-FREE field extraction (NTZ→DATE truncation
    * and hour/minute/date_part read the stored value directly; no zone
    * participates), reproducing the UTC interpretation under any session
    * timezone. Any other type is an explicit error: silently treating an
    * epoch-MILLIS bigint as nanos would corrupt every windowed result by
    * 10^6, which is worse than failing. Nanos overflow (instants past
    * 2262-04-11, e.g. a 9999-12-31 sentinel) fails LOUDLY at read time:
    * the sessions run ANSI mode (Spark 4 default, never overridden
    * here), where the ×1000 long multiply throws ARITHMETIC_OVERFLOW
    * instead of wrapping — verified empirically; keep ANSI on or this
    * becomes silent corruption. */
  private[graft] def tsAsNanos(
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col("ts")) * lit(1000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        // epoch micros of the naive wall-clock, zone-free: days since
        // epoch × 86_400e6 + time-of-day fields. date_part('SECOND')
        // yields DECIMAL(8,6) seconds including the fraction, so × 1e6
        // recovers the stored micros exactly.
        (unix_date(col("ts").cast(org.apache.spark.sql.types.DateType)) *
          lit(86400000000L) +
          hour(col("ts")).cast("long") * lit(3600000000L) +
          minute(col("ts")).cast("long") * lit(60000000L) +
          (date_part(lit("SECOND"), col("ts")) * lit(1000000L)).cast("long")) *
          lit(1000L)
      case other => sys.error(
        s"events.ts must be epoch-nanos BIGINT, TIMESTAMP or TIMESTAMP_NTZ, " +
          s"got $other (an epoch-millis BIGINT would be silently mis-scaled — " +
          "convert it to a TIMESTAMP column in the store or to nanos upstream)")
    }
}
