package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import RunCaches.{cachedFeature, evictPrefix, srcVersion}

/** The ONE versioned-index machinery behind every dedup family: a
  * family is a declaration ([[IncrFamily]]), and this object owns
  * everything else — the one LSH election ([[bandedOf]], [[keepersOf]],
  * [[starEdges]], [[candidatesOf]]), the batch dedup ([[dedup]]), the
  * version-name codec ([[Version]]), the three index settings,
  * publish/adopt/reap/husk-reclaim ([[ensureVersioned]]), the one
  * index-part reader ([[readPart]]/[[prunedPart]]), and the
  * build/probe halves ([[writeIncrIndex]]/[[probeIncrIndex]]). Batch,
  * build and probe elect keepers through the same primitives, so the
  * probe ≡ batch equality each family's spec asserts cannot drift, and
  * a pruning, merge or publish fix can never land in one family alone.
  *
  * Settings (per-session Spark conf; they govern EVERY index family,
  * the composed ingest index included):
  *  - `spark.graft.minhash.indexBase` — root the versioned directories
  *    are published under (default: the JVM tmpdir);
  *  - `spark.graft.minhash.reapGraceMs` — grace age for reaping
  *    (default 15 min; floored at 5 min on non-`file:` stores);
  *  - `spark.graft.minhash.indexShards` — bucket shards per band
  *    (default [[defaultShards]]).
  * The `minhash` namespace is historical: the first family owned them. */
object VersionedIndex {

  // --- settings ---

  private def conf(s: SparkSession, key: String, dflt: String): String =
    s.conf.getOption(s"spark.graft.minhash.$key").getOrElse(dflt)

  /** Bucket shards per band in a persisted band index. The pruning axis
    * is the BUCKET, not the band (an increment bands into all 8 bands),
    * and raw 64-bit buckets are far too many partition directories — so
    * buckets shard by `pmod(bucket, 32)` and the index partitions by
    * (band, bshard): 256 directories total, each a prunable unit. A
    * probe touches at most min(increment banded rows, 8 × 32) of them —
    * real pruning for the steady-state ingest case (increment ≪ corpus);
    * a large increment degrades gracefully to reading the whole bands
    * index, which is still the narrow (band, bucket, keeper) triples,
    * never the corpus bytes. The same shard count partitions the
    * keeper side table by `pmod(id, 32)`, pruned at probe time by the
    * shards the elected corpus keepers actually occupy.
    *
    * DEFAULT shard count only: the session conf
    * `spark.graft.minhash.indexShards` wins when set — 32×8 = 256
    * prunable units fit the test tiers, while a 100 TB corpus wants
    * thousands (pruning granularity AND per-partition size both scale
    * with it). The shard count is baked into the published version
    * directory's NAME ([[Version]]), so an index built under one setting
    * can never be probed under another — a conf change simply versions a
    * new index and the old one ages out through the reap pass. */
  val defaultShards = 32

  /** Session shard count — the single reader of the shard setting, so
    * build, version name and any measurement harness can never disagree
    * within a session. */
  private[graft] def confShards(s: SparkSession): Int = {
    val n = conf(s, "indexShards", defaultShards.toString).toInt
    // upper bound = what Version.parse's 9-digit shard field can read
    // back: a 10-digit count would publish a version name the probe
    // CANNOT parse — refuse here, where the layout is named
    require(n > 0 && n <= 999999999,
      s"spark.graft.minhash.indexShards must be in [1, 999999999], got $n")
    n
  }

  // --- version-name codec ---

  /** One published index version: `v<split>-<srcToken>-s<shards>`. The
    * split is the source's increment boundary, the source token its
    * identity (max mtime, or the row count where the store has no mtime
    * surface), and the shard count the layout's pruning modulus — so a
    * regenerated corpus or a different shard setting always names a
    * different directory, and a probe reads the modulus it must prune
    * with from the name itself. */
  private[graft] final case class Version(split: Long, srcToken: Long, shards: Int) {
    /** The name's tier part, shared by every shard layout of one source
      * state — the reap pass spares published siblings under it. */
    def tierPrefix: String = s"v$split-$srcToken-"
    def name: String = tierPrefix + s"s$shards"
  }

  private[graft] object Version {
    /** The full version-name shape; groups: split, source token, shards. */
    private[operators] val Shape = "^v(\\d+)-(\\d+)-s(\\d{1,9})$".r

    def parse(name: String): Option[Version] = name match {
      case Shape(split, token, shards) =>
        // a component past Long range is not a name this codec wrote
        scala.util.Try(Version(split.toLong, token.toLong, shards.toInt)).toOption
      case _ => None
    }

    /** The version a path's LAST segment names (trailing slashes
      * ignored) — raw string handling, so a scheme-qualified locator
      * (`file:/…`) parses the same as a bare path. */
    def ofPath(path: String): Option[Version] = {
      val p = path.reverse.dropWhile(_ == '/').reverse
      parse(p.substring(p.lastIndexOf('/') + 1))
    }
  }

  /** The shard modulus a probe must prune with, read from the version
    * name: pruning with any other modulus than the layout was written
    * with silently misses duplicates, and the name is the layout's own
    * record (immune to a conf change between ensure and probe). A path
    * that is not a version name carries no such record and is refused. */
  private[operators] def shardsOf(indexPath: String, what: String): Int =
    Version.ofPath(indexPath).map(_.shards).getOrElse(
      throw new IllegalArgumentException(
        s"$what: index path $indexPath is not a published version name " +
          "(v<split>-<srcToken>-s<shards>) — the probe reads its pruning " +
          "modulus from that name and will not guess one"))

  // --- families ---

  /** (candidates, feature frame, keeper side) → a family's result. */
  private[graft] type Verify = (DataFrame, DataFrame, DataFrame) => DataFrame

  /** One dedup family, declared as data. Source side:
    * `srcTable`/`srcIdCol` — the table whose max id anchors the split
    * (`max id − max id / 5`, the same text the DuckDB oracles state) and
    * whose mtime/count versions the index; `featOf(s, dir, keep)` — the
    * family's feature frame over the rows `keep` selects (the id filter
    * is pushed to the scan), keyed by `idCol`. `kernelPrefix` names the
    * base directory (family tag + kernel fingerprint: a banding, gate or
    * threshold edit moves the base automatically); `query` is the catalog
    * query and the memo-key prefix.
    *
    * Column-level shape, shared by batch ([[dedup]]), build
    * ([[writeIncrIndex]]) and probe ([[probeIncrIndex]]): `idCol` — the
    * corpus id (ids are append-only, which is what makes least-merge the
    * true bucket minimum). `featSubdir`/`featShardCol` — the keeper side
    * table's layout. `bands` — the feature frame's band-bucket array
    * (element i = band i's bucket), exploded by [[bandedOf]]. `sideOf` —
    * feature frame → the keeper side projection (id + verify features),
    * applied identically in batch, build and probe so all three drop
    * degenerate rows at the SAME stage. `kRename` — a side frame →
    * keeper-join names (keeper, k_*). `verify` — (candidates, feature
    * frame, keeper side) → result.
    * `bandsDdl`/`sideDdl` — the schemas of the two persisted parts
    * (partition column included): every read of a part declares them
    * ([[readPart]]), so a part is typed by its family, never by
    * inference from its files. */
  private[graft] final case class IncrFamily(
      name: String,
      query: String,
      kernelPrefix: String,
      srcTable: String,
      srcIdCol: String,
      featOf: (SparkSession, String, Column) => DataFrame,
      idCol: String,
      featSubdir: String,
      featShardCol: String,
      bands: Column,
      sideOf: DataFrame => DataFrame,
      kRename: DataFrame => DataFrame,
      verify: Verify,
      // sideDdl has NO default: every side-table read declares it
      sideDdl: String,
      bandsDdl: String = "band INT, bucket BIGINT, keeper BIGINT, bshard BIGINT") {
    def srcFile: String = s"$srcTable.parquet"
    def parts: Seq[String] = Seq("bands", featSubdir)
  }

  /** Builds/adopts `fam`'s index for `dir`'s corpus slice and returns
    * (versionPath, split). */
  def ensure(fam: IncrFamily, s: SparkSession, dir: String): (String, Long) =
    ensureVersioned(s, dir, fam.kernelPrefix, fam.parts, fam.srcTable,
      fam.srcIdCol)((staging, split, shards) =>
      write(fam, s, dir, staging, split, shards))

  /** Ingest-time half over `dir`'s corpus slice (id < split): a direct
    * filtered scan (the id pushed to parquet), NOT the full-corpus cache
    * — ingest reads the corpus slice once, and the memo serves the
    * build's two write branches. */
  def write(fam: IncrFamily, s: SparkSession, dir: String,
      indexPath: String, split: Long, shards: Int): Unit = {
    val feat = cachedFeature(s, s"${fam.query}:$dir:corpus$split",
        srcVersion(s, dir, fam.srcFile)) {
      fam.featOf(s, dir, col(fam.idCol) < lit(split))
    }
    // a dedup family's corpus slice that bands to nothing means the
    // caller mis-split: name it here rather than publish an index that
    // dedups nothing. The guard tests the BANDED frame, not the feature
    // frame: a slice can hold rows yet band to nothing (minhash emits no
    // bands for a doc with no >3-char tokens). Cheap: limit-1.
    require(!bandedOf(fam, feat).isEmpty,
      s"${fam.name} index: corpus slice below the split produced no index " +
        "bands (the slice is empty, or every row in it is " +
        "band-degenerate) — an incremental index needs at least one " +
        "banded corpus row")
    writeIncrIndex(s, indexPath, shards, fam, feat)
  }

  /** Query-time half over `dir`'s increment (id >= split) against the
    * published version at `indexPath`: an increment-only scan (the id
    * filter pushed into the read), so at probe time the corpus proper is
    * never touched — only the increment rows and the index files. The
    * increment frame is memoized: it feeds banding, the verify side and
    * the candidate-shard collect. */
  def probe(fam: IncrFamily, s: SparkSession, dir: String,
      indexPath: String, split: Long): DataFrame = {
    val srcVer = srcVersion(s, dir, fam.srcFile)
    probeIncrIndex(s, indexPath, split, fam,
      cachedFeature(s, s"${fam.query}:$dir:incr$split", srcVer) {
        fam.featOf(s, dir, col(fam.idCol) >= lit(split))
      }, srcVer)
  }

  /** A family's `_incr` catalog query: ensure the index, then dedup the
    * increment against it. Output = the family's batch dedup over the
    * full corpus restricted to the increment (each family's equality
    * spec asserts it bit for bit); probe-time reads are the increment
    * slice plus pruned index partitions — never the corpus proper. */
  def incrQuery(fam: IncrFamily, oracle: Option[String]): QueryDef =
    QueryDef(fam.query, (s, dir) => {
      val (idx, split) = ensure(fam, s, dir)
      probe(fam, s, dir, idx, split)
    }, oracle = oracle)

  // --- the one LSH election ---

  /** (id, band, bucket): `feat`'s band array exploded, one row per band. */
  private[operators] def bandedOf(fam: IncrFamily, feat: DataFrame): DataFrame =
    feat.select(col(fam.idCol), posexplode(fam.bands))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** (band, bucket, `as`): each bucket's keeper, its min id. A
    * partial-aggregating groupBy (map-side combine + AQE skew splitting):
    * the window-min alternative shuffles every banded row and lands each
    * mega-bucket in a single task. */
  private[operators] def keepersOf(banded: DataFrame, idCol: String,
      as: String = "keeper"): DataFrame =
    banded.groupBy(col("band"), col("bucket")).agg(min(col(idCol)).as(as))

  /** Star edges: each banded row joined to its bucket's (band, bucket,
    * keeper) row, kept where the keeper is below the row's id — linear in
    * bucket size, never all pairs within a bucket. */
  private[operators] def starEdges(banded: DataFrame, keepers: DataFrame,
      idCol: String): DataFrame =
    banded.join(keepers, Seq("band", "bucket")).filter(col("keeper") < col(idCol))

  /** (id, keeper): each id's lowest keeper below it, one candidate per id. */
  private[operators] def candidatesOf(banded: DataFrame, keepers: DataFrame,
      idCol: String): DataFrame =
    starEdges(banded, keepers, idCol)
      .groupBy(col(idCol)).agg(min(col("keeper")).as("keeper"))

  /** A family's batch dedup over a whole feature frame: band, elect,
    * verify each id against its lowest keeper. A family's catalog dedup
    * query is this over the full corpus, and its `_incr` query equals it
    * restricted to the increment. `verify` replaces the family's verify
    * tail (the composed pipeline's wide policy raises the Jaccard bar). */
  private[graft] def dedup(fam: IncrFamily, feat: DataFrame,
      verify: Option[Verify] = None): DataFrame = {
    val banded = bandedOf(fam, feat)
    verify.getOrElse(fam.verify)(
      candidatesOf(banded, keepersOf(banded, fam.idCol), fam.idCol),
      feat, fam.kRename(fam.sideOf(feat)))
  }

  // --- the one index-part reader ---

  /** Schema-true empty frame from a DDL string: what a read that touches
    * no partition returns, and the empty stream state. */
  private[operators] def emptyFromDdl(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** A persisted index part read with its declared schema `ddl`
    * (partition column included), the way a table's definition types an
    * empty partition. A legitimately empty part — a 0-row partitioned
    * write leaves only `_SUCCESS`, from which Spark cannot infer a
    * schema — reads as an empty frame, and a populated part keeps its
    * partition pruning. Every index-part read goes through here. */
  private[graft] def readPart(s: SparkSession, path: String,
      ddl: String): DataFrame =
    s.read.schema(ddl).parquet(path)

  /** [[readPart]] pruned to the partitions `keys` touches. `keys` is a
    * one-column frame of long partition keys, collected distinct under
    * the Profile `label` (bounded by the part's partition count);
    * `partCol` is the same key over the part's partition columns, so the
    * filter is a PartitionFilter. No touched key reads nothing: an empty
    * `isin()` is no filter. */
  private[operators] def prunedPart(s: SparkSession, label: String,
      path: String, ddl: String, partCol: Column, keys: DataFrame): DataFrame = {
    val touched = graft.Profile.labeled(s, label)(keys.distinct().collect())
      .map(_.getLong(0))
    if (touched.isEmpty) emptyFromDdl(s, ddl)
    else readPart(s, path, ddl).filter(partCol.isin(touched.map(x => x: Any): _*))
  }

  // --- the build/probe halves ---

  /** Combined (band, bshard) partition key as one long — the single
    * expression both the probe's bounded collect and the index-read
    * filter use, so the pruning predicate can never drift from the
    * layout. Partition-column-only, hence pushed as a PartitionFilter. */
  private def partKey(band: Column, bshard: Column, shards: Int): Column =
    band.cast("long") * lit(shards.toLong) + bshard.cast("long")

  /** Ingest-time half shared by every family: persists the corpus's
    * (band, bucket, keeper) frame partitioned by (band, bshard), plus
    * the keeper side table (only bucket keepers can be elected by a
    * probe — verify needs no other corpus features). The corpus is
    * scanned ONCE here, at ingest; every later increment dedups against
    * these files without touching the corpus again — the append-only
    * ingest pattern of the reference's identity stream
    * (merkle.ts:116-125), applied to the dedup family the way
    * [[Similarity.writeIvfIndex]] applies it to ANN cells. `shards` is
    * explicit: the caller builds into a staging directory whose name
    * carries no version, and names the version it publishes. A slice
    * that bands to nothing writes two empty parts, which read back empty
    * through [[readPart]]. */
  private[operators] def writeIncrIndex(s: SparkSession, indexPath: String,
      shards: Int, fam: IncrFamily, feat: DataFrame): Unit = {
    keepersOf(bandedOf(fam, feat), fam.idCol)
      .withColumn("bshard", pmod(col("bucket"), lit(shards.toLong)))
      .write.mode("overwrite").partitionBy("band", "bshard")
      .parquet(s"$indexPath/bands")
    // keeper ids come from the JUST-WRITTEN bands files, not a second
    // evaluation of the keepers frame — the banding + election shuffle
    // (the dominant ingest cost) runs exactly once per index build
    val storedKeepers = readPart(s, s"$indexPath/bands", fam.bandsDdl)
      .select(col("keeper").as(fam.idCol)).distinct()
    fam.sideOf(feat)
      .join(storedKeepers, Seq(fam.idCol))
      .withColumn(fam.featShardCol, pmod(col(fam.idCol), lit(shards.toLong)))
      .write.mode("overwrite").partitionBy(fam.featShardCol)
      .parquet(s"$indexPath/${fam.featSubdir}")
  }

  /** Query-time half shared by every family: dedups the increment
    * (id >= split) against the persisted index WITHOUT re-scanning the
    * corpus. The bands read is pruned to the (band, bshard) partitions
    * the increment's own banding touches (bounded collect, ≤ nBands ×
    * shards values no matter the corpus size); per-bucket keepers merge
    * as `least(index keeper, increment min)` — with append-only ids
    * that IS the bucket minimum over corpus ∪ increment, so the output
    * equals the full batch recompute restricted to the increment, a
    * property each family's equality spec asserts literally. Verify
    * features come from the increment frame plus the index's keeper
    * side table, the latter pruned to the shards the elected CORPUS
    * keepers occupy (a second bounded collect — candidates are ≤ one
    * per increment row). Both prunings are real when the increment is
    * small next to the corpus — the steady-state ingest case — and
    * degrade to full index reads (never corpus reads) for bulk
    * increments like the test's 20% slice. The pruning modulus is read
    * from `indexPath`'s version name ([[shardsOf]]). */
  private[operators] def probeIncrIndex(s: SparkSession, indexPath: String,
      split: Long, fam: IncrFamily, feat: DataFrame,
      srcVer: Long = 0L,
      extra: Option[(DataFrame, DataFrame)] = None,
      memoSuffix: String = ""): DataFrame = {
    // `extra` — an OPTIONAL second election source next to the persisted
    // index: (bands frame (band, bucket, keeper), side feature frame in
    // this family's feature shape). The LIVE admission stream passes its
    // accumulated stream-state here, so the three-way election
    // least(corpus, stream state, this increment) runs through this ONE
    // shared body — the same no-drift rule as the batch/probe halves.
    // `memoSuffix` discriminates the candidate memo key for callers that
    // probe the same index repeatedly with DIFFERENT feature frames
    // (per-micro-batch probes): same suffix + newer srcVer supersedes,
    // so at most one candidate frame per caller stream stays live.
    val shards = shardsOf(indexPath, s"${fam.name} probe")
    val banded = bandedOf(fam, feat)
    val incrKeepers = keepersOf(banded, fam.idCol, as = "ikeeper")
    // bounded: ≤ nBands × shards keys. An increment that bands to
    // NOTHING (reachable per micro-batch on the streaming path) reads no
    // index; the index contributes nothing anyway
    val idx = prunedPart(s, s"${fam.name}: band prune", s"$indexPath/bands",
      fam.bandsDdl, partKey(col("band"), col("bshard"), shards),
      banded.select(partKey(col("band"),
        pmod(col("bucket"), lit(shards.toLong)), shards).as("pk")))
      .select(col("band").cast("int").as("band"), col("bucket"), col("keeper"))
    // least() skips nulls: unseen-by-corpus buckets fall to the
    // increment's own minimum, known buckets to the true merged min —
    // and with `extra` state, to the three-way minimum (stream ids sit
    // between corpus ids and this increment's, so least() IS the bucket
    // minimum over corpus ∪ state ∪ increment under append-only ids)
    val mergedBase = incrKeepers.join(idx, Seq("band", "bucket"), "left")
    val merged = extra match {
      case None =>
        mergedBase.select(col("band"), col("bucket"),
          least(col("keeper"), col("ikeeper")).as("keeper"))
      case Some((xBands, _)) =>
        mergedBase.join(
          xBands.select(col("band").cast("int").as("band"), col("bucket"),
            col("keeper").as("xkeeper")),
          Seq("band", "bucket"), "left")
          .select(col("band"), col("bucket"),
            least(col("keeper"), col("xkeeper"), col("ikeeper")).as("keeper"))
    }
    // registered in the shared feature memo: the candidate frame feeds
    // TWO consumers — the bounded candShards collect below and the
    // returned verify plan — and its lineage (banding, pruned index
    // read, two shuffles) is the probe's dominant cost; unpersisted,
    // the whole chain would run twice per probe. Version = the caller's
    // CORPUS fingerprint (srcVer — the increment feat frame's identity)
    // PLUS the index's bands mtime: the managed ensure path also bakes
    // identity into the indexPath name, but a version-named path can
    // still be rebuilt in place (a harness building into its own
    // directory, a mode("overwrite") rebuild) or sit over a regenerated
    // corpus, where this persisted frame would otherwise be served
    // stale. The sum, NOT an xor:
    // cachedFeature's eviction/publish contract is ORDERED (strictly
    // newer supersedes), and an xor of two timestamps is not monotone —
    // a rebuild's fresher mix could compare BELOW the stored one and
    // the stale frame would keep being served (r13 third sweep).
    // Saturating: a pathological nanoTime-fallback component must not
    // wrap the sum negative.
    val idxVer = srcVersion(s, indexPath, "bands")
    val mixedVer =
      try Math.addExact(srcVer, idxVer)
      catch { case _: ArithmeticException => Long.MaxValue }
    // a regeneration/tier change mints a NEW cache key (the versioned
    // path and split move), so the superseded entry under the OLD key
    // could never be matched again — evict this family's other probe
    // entries first or each regeneration strands one persisted frame
    // until a harness clear (one live candidate frame per family is
    // the steady state)
    val candKey = s"incrcand:${fam.name}:$indexPath:$split$memoSuffix"
    // the dead-key reclaim is scoped to SIBLINGS of this index location
    // (same parent dir = superseded versions under the managed base),
    // not the whole family: evicting family-wide unpersisted every
    // OTHER live index's candidate frame on each probe, so a session
    // legitimately probing two indexes of one family (multi-corpus or
    // multi-tier) recomputed the full candidate chain per call — thrash,
    // not incorrectness (ADVICE r13). An in-place rebuild of one path
    // is superseded via mixedVer's ordered publish instead.
    // The sibling prefix is derived from the RAW indexPath string, never
    // from hadoop Path(indexPath).getParent: Path NORMALIZES (scheme
    // 'file:///a/b' renders as 'file:/a/b', '//' collapses, trailing
    // slashes drop) while the cache keys embed the raw string — for any
    // non-normalized locator the normalized prefix matched no key and
    // the dead-sibling reclaim silently never fired (ADVICE r14).
    val idxTrim = indexPath.stripSuffix("/")
    val idxCut = idxTrim.lastIndexOf('/')
    evictPrefix(
      if (idxCut >= 0) s"incrcand:${fam.name}:${idxTrim.substring(0, idxCut + 1)}"
      else s"incrcand:${fam.name}:",
      spare = _ == candKey)
    val cand = cachedFeature(s, candKey, mixedVer) {
      candidatesOf(banded, merged, fam.idCol)
    }
    // prune the keeper side-table read to the shards the elected CORPUS
    // keepers live in (increment keepers' features come from `feat`,
    // not the index) — without this the verify join would re-read
    // features for ~every corpus row, and the probe would be
    // corpus-scale I/O after all
    val idxSide = prunedPart(s, s"${fam.name}: cand shard prune",
      s"$indexPath/${fam.featSubdir}", fam.sideDdl, col(fam.featShardCol),
      cand.filter(col("keeper") < lit(split)) // bounded: ≤ shards keys
        .select(pmod(col("keeper"), lit(shards.toLong)).as("cs")))
      .drop(fam.featShardCol)
    // stream-state keepers (split ≤ keeper < this increment) verify from
    // the extra side frame — state-sized, never pruned (it is the
    // stream's own accumulated survivors, already in memory)
    val kSide0 = fam.kRename(fam.sideOf(feat))
      .unionByName(fam.kRename(idxSide))
    val kSide = extra.fold(kSide0) { case (_, xSide) =>
      kSide0.unionByName(fam.kRename(fam.sideOf(xSide)))
    }
    fam.verify(cand, feat, kSide)
  }

  // --- publish / adopt / reap ---

  /** One lock PER INDEX BASE directory, not one global: the publish
    * loop deliberately polls (up to grace + 30 s) while holding its
    * lock, and a single shared lock would convoy every other family's
    * — and every other corpus's — ensure behind one slow cross-JVM
    * marker wait. Serializing builders per base is the whole invariant;
    * distinct bases cannot race each other's publishes. The map is
    * bounded by the number of distinct (family, corpus) bases a JVM
    * ever touches. */
  private val idxLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def idxLockFor(base: String): Object =
    idxLocks.computeIfAbsent(base, _ => new Object)

  /** The versioned-publish core every index runs through (the four
    * dedup families via [[ensure]], the composed ingest index directly):
    * builds `dir`'s corpus-slice index once and returns (versionPath,
    * split). Split = the last 20% of the `srcTable.srcIdCol` id range is
    * "the increment": ids above it play the newly-ingested rows,
    * everything below is the already-indexed corpus.
    *
    * The index lives in a VERSIONED directory named by [[Version]] —
    * (split, source token, shards) — so a driver-regenerated source tier
    * changes the name, invalidating stale indexes the way a changed token
    * invalidates a [[graft.Staged]] directory. `build(stagingPath, split,
    * shards)` stages into a fresh temp dir; publish is directory rename +
    * a `_PUBLISHED` marker: on rename-atomic filesystems (local, HDFS) a
    * reader can never see a half-written index, and the marker
    * additionally covers stores WITHOUT atomic rename — S3's "rename" is
    * a non-atomic copy+delete, so there a directory can exist mid-copy;
    * readers here require the marker, which is written strictly after
    * the data is fully in place, making the publish scale-safe on object
    * stores too. When two JVMs race (e.g. a Verify run next to a test
    * suite) the rename loser discards its staging and adopts the
    * winner's byte-equivalent index; a leftover marker-less version
    * directory (a publish crashed mid-copy) is reclaimed once quiet and
    * republished. The base directory name includes a hash of the RAW
    * corpus path next to the sanitized form, so two distinct corpora
    * whose sanitized names collide (`/a/b` vs `/a_b`) can never reap or
    * serve each other's indexes (ADVICE r8).
    *
    * `famPrefix` names the base directory (`graft-<famPrefix>-idx-…`);
    * `parts` are the layout subdirs that must exist before the marker
    * may bless a version.
    *
    * Every filesystem touch goes through the Hadoop
    * [[org.apache.hadoop.fs.FileSystem]] resolved from the base path's
    * scheme, never `java.io.File` (which on a remote scheme silently
    * reports nothing-exists and would rebuild + leak an index per query —
    * the bug class the round-6 Bloom-fingerprint fix caught). The base is
    * per-session conf (`indexBase`, see the object doc), so two sessions
    * in one JVM can point at different bases without racing on a global.
    *
    * Grace (`reapGraceMs`): version/staging directories younger than
    * this survive a reap pass, so a concurrent JVM that resolved an
    * older version moments ago — or is mid-build in a `.build-*` staging
    * dir — doesn't have files deleted out from under its scan (ADVICE
    * r8). Older-than-grace directories are either dead versions of a
    * regenerated source tier or staging leaked by a crashed build; both
    * are reclaimed. SAFE LOWER BOUND: at least the largest expected
    * single-object copy time on the index store — quiet-gating ages by
    * newest visible file, and a live copy stalled on one huge object must
    * never read as quiet. */
  private[graft] def ensureVersioned(
      s: SparkSession, dir: String, famPrefix: String, parts: Seq[String],
      srcTable: String = "documents", srcIdCol: String = "doc_id")(
      build: (String, Long, Int) => Unit): (String, Long) =
    {
      import org.apache.hadoop.fs.Path
      // corpus identity: a single-column bounded agg, not the feature
      // cache — warming the full-corpus frame here would undo the
      // probe's increment-only read
      val maxRow = Tables(s, dir).byName(srcTable).agg(max(col(srcIdCol))).head()
      require(!maxRow.isNullAt(0),
        s"index build: $srcTable corpus at $dir is empty — nothing to index")
      val maxId = maxRow.getLong(0)
      val split = maxId - maxId / 5
      // Source-version token, the second component of the version name
      // (the split — max id — is the first). Filesystem store: the
      // source's Tables.newestMtime, so a driver-regenerated tier changes
      // the name. A store with NO mtime surface (the `jdbc:` table-set
      // locator): an EXPLICIT token — the corpus row count, one pushed
      // count(*) per ensure. (split, count) together pin every identity
      // change an append-only ingest corpus makes: appends move both,
      // deletes move the count; a same-cardinality in-place mutation is
      // outside the contract, the same granularity limit a
      // timestamp-coalescing filesystem has. The staleness contract
      // either way: a token mismatch mints a DIFFERENT version
      // directory, so a stale index can never version-match a fresher
      // corpus' probe and silently serve bands the corpus no longer
      // implies — and the token is monotone under append-only growth,
      // which the reap pass's current-or-newer ordering relies on.
      val srcToken: Long =
        if (dir.startsWith("jdbc:"))
          Tables(s, dir).byName(srcTable).count()
        else Tables.newestMtime(s, s"$dir/$srcTable.parquet") // loud on a bad dir
      val dirHash = // collision-proof component alongside the sanitized name
        f"${scala.util.hashing.MurmurHash3.stringHash(dir) & 0xffffffffL}%08x"
      // "where do the 100 TB indexes live" is deployment config, and two
      // sessions in one JVM may legitimately differ
      val idxBase = conf(s, "indexBase", sys.props("java.io.tmpdir"))
      val confGraceMs = conf(s, "reapGraceMs", (15 * 60 * 1000L).toString).toLong
      val base = new Path(idxBase,
        s"graft-$famPrefix-idx-" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "-" + dirHash)
      val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
      // Quiet-gating judges liveness by newest-visible-file age, which on
      // an OBJECT STORE can under-read a live cross-JVM copy: one huge
      // object uploading for longer than the grace window leaves the dir
      // looking quiet, and reaping it then interleaves two publishers'
      // part-files — the corruption the gate exists to prevent. So on
      // non-rename-atomic-posture schemes (anything but file:) the
      // effective window is floored at 5 minutes regardless of how low a
      // deployment sets spark.graft.minhash.reapGraceMs; the conf's safe
      // lower bound is the largest expected single-object copy time.
      // Local runs (tests) keep the raw conf — rename there is atomic and
      // the husk/racer specs rely on sub-second windows.
      val graceMs =
        if (fs.getScheme == "file") confGraceMs
        else math.max(confGraceMs, 5 * 60 * 1000L)
      // shard count is part of the version identity: a layout built
      // under one shard setting must never serve a probe pruning under
      // another (the pmod assignments would disagree silently). The
      // version's tier prefix is shared with the reap pass's
      // sibling-spare check below so the two can never drift apart.
      val version = Version(split, srcToken, confShards(s))
      val ver = new Path(base, version.name)
      val marker = new Path(ver, "_PUBLISHED")
      // fast path outside the lock (published is the steady state);
      // re-checked under the base's lock before building
      if (!fs.exists(marker)) idxLockFor(base.toString).synchronized {
        if (!fs.exists(marker)) {
        fs.mkdirs(base)
        // var: the photo-finish unwind below may relocate the build to a
        // fresh staging name when the original cannot be renamed back
        var staging = new Path(base,
          ".build-" + java.util.UUID.randomUUID().toString)
        build(staging.toString, split, version.shards)
        def bless(): Unit = {
          // the marker is the read gate — never bless a layout the probe
          // cannot serve (belt over the nesting unwind in tryPublish)
          require(parts.forall(p => fs.exists(new Path(ver, p))),
            s"$famPrefix index publish incomplete at $ver: " +
              s"${parts.mkString("/")} missing")
          fs.create(marker, true).close()
        }
        // Hadoop rename is NOT rename-if-absent: given an EXISTING
        // destination directory, HDFS moves the source INTO it and
        // RawLocalFileSystem's copy fallback nests it the same way —
        // both report success. An unguarded rename against a ver created
        // by a racing publisher (or a crashed publish's marker-less
        // husk) would therefore "succeed" by leaking this build nested
        // at ver/.build-*, and a husk could then be marker-blessed with
        // incomplete top-level data. So: attempt the rename only when
        // ver is absent, and detect the photo-finish case (ver appeared
        // inside the check→rename window, nesting us) by looking for our
        // own staging name under ver — unwound LOSSLESSLY back to
        // staging, so a later reclaim can still publish this build.
        def tryPublish(): Boolean =
          !fs.exists(ver) && fs.rename(staging, ver) && {
            val nested = new Path(ver, staging.getName)
            !fs.exists(nested) || {
              // unwind LOSSLESSLY: `nested` IS this JVM's whole build. A
              // transiently failed unwind rename must not fall through to
              // delete (that destroys a corpus-scale build and leaves the
              // reclaim loop retrying against a staging dir that no longer
              // exists) — retry to a FRESH .build-* name, and if the build
              // is truly unrecoverable fail NOW with the race diagnosis.
              val unwound = fs.rename(nested, staging) || {
                val fresh = new Path(base,
                  ".build-" + java.util.UUID.randomUUID().toString)
                fs.rename(nested, fresh) && { staging = fresh; true }
              }
              require(unwound,
                s"$famPrefix index publish: build nested under $ver by a " +
                  "racing publisher and could not be unwound to staging — " +
                  "lost to a nesting race")
              false
            }
          }
        // Age of the newest FILE under p (recursively), or the dir's own
        // mtime if greater; -1 ⇒ p is gone, 0 ⇒ nothing datable. File
        // mtimes are the only reliable ager: object-store pseudo-dirs
        // report mtime 0, and a local/HDFS dir's mtime tracks only its
        // DIRECT children — a deep layout (bands/band=N/bshard=M/part-*)
        // keeps gaining young files levels below a stale top. Only rare
        // contended/reap paths pay the recursive listing. A listStatus
        // walk, not listFiles: listFiles reads every file's permission,
        // one `ls -ld` process per file without native libhadoop.
        def newestIn(p: Path): Long = {
          def newestFile(d: Path): Long = fs.listStatus(d).foldLeft(0L) { (m, st) =>
            math.max(m, if (st.isDirectory) newestFile(st.getPath) else st.getModificationTime)
          }
          try math.max(fs.getFileStatus(p).getModificationTime, newestFile(p))
          catch { case _: java.io.FileNotFoundException => -1L }
        }
        // Publish-or-adopt loop. Husk-vs-LIVE discrimination: on a
        // non-atomic store (S3) a racing publisher's "rename" is a long
        // client-side copy — ver can sit marker-less for MINUTES while
        // very much alive, and deleting it then would interleave two
        // publishers' distinct part-files in one directory, corrupt and
        // marker-blessed by whichever finishes last. A marker-less ver
        // is a reclaimable husk only once it has gone QUIET (newest file
        // older than the grace window; a file-less shell must stay empty
        // for 5 s). Until then we poll for the racer's marker, bounded
        // by grace + 30 s — a fresh husk ages into quiet before that
        // deadline, so the timeout only fires on clock skew (future
        // mtimes) or a pathologically slow live copy, and then we fail
        // LOUDLY rather than delete data we cannot prove dead. On
        // atomic-rename stores the racer's rename→marker window is
        // milliseconds, so the poll exits almost immediately.
        //
        // INVARIANT: this polls while holding this BASE's lock
        // ([[idxLockFor]]) — correct, not a hazard to "fix". The lock
        // is per-JVM, per-base, and serializes only this JVM's builders
        // of THIS index; the publisher being waited on is a DIFFERENT
        // JVM (a Verify run next to a test suite), which does not
        // contend on this lock, and other families/corpora hold other
        // locks. Releasing it here would let a second local builder
        // start a redundant full build behind the wait.
        val deadline = System.currentTimeMillis() + graceMs + 30000L
        var emptySince = 0L
        var reclaims = 0
        var done = false
        while (!done) {
          if (tryPublish()) { bless(); done = true }
          else if (fs.exists(marker)) { fs.delete(staging, true); done = true }
          else {
            val now = System.currentTimeMillis()
            val quiet = newestIn(ver) match {
              case -1L => emptySince = 0L; true // ver gone — retry publish
              case 0L =>
                if (emptySince == 0L) { emptySince = now; false }
                else now - emptySince > 5000L
              case m => emptySince = 0L; now - m > graceMs
            }
            if (quiet) {
              reclaims += 1
              require(reclaims <= 3,
                s"$famPrefix index publish failed after ${reclaims - 1} reclaim " +
                  s"attempts: rename into $ver keeps failing or the dir " +
                  "keeps reappearing marker-less (staging " +
                  s"${if (fs.exists(staging)) "intact" else "lost to a nesting race"})")
              fs.delete(ver, true) // quiet husk — reclaim, loop republishes
            } else
              require(now < deadline,
                s"$famPrefix index publish timed out after ${graceMs + 30000L} ms " +
                  s"waiting on marker-less $ver (a publisher may be live, or " +
                  "the store reports future mtimes) — retry, raise " +
                  "spark.graft.minhash.reapGraceMs, or remove the dir manually")
            Thread.sleep(500L) // a racer's marker, or a transient rename failure to clear
          }
        }
        // stale versions (older source tiers) and staging leaked by
        // crashed builds are dead — reap them so the base doesn't
        // accumulate one full index copy per regeneration/crash.
        // Age-gated on the same newest-file metric as the husk loop
        // (never on the dir's own depth-1 view alone): young content may
        // still be scanned (or written) by a concurrent JVM, and an age
        // of 0/unknown is never reaped.
        val now = System.currentTimeMillis()
        fs.listStatus(base)
          .filter { st =>
            val n = st.getPath.getName
            st.isDirectory && (n.startsWith("v") || n.startsWith(".build-"))
          }
          .filter { st =>
            // a PUBLISHED shard layout of the CURRENT tier — or of a
            // NEWER one — is potentially live and never reaped: another
            // session with a different indexShards conf probes its own
            // current-tier sibling, and a builder holding a STALE
            // source token whose corpus-scale build outlasted the grace
            // window would otherwise delete the newer tier's live index
            // out from under the sessions probing it (a published
            // version goes mtime-quiet the moment it lands — reads
            // never touch it, so age proves nothing for published
            // dirs). The tier ordering comes from the version name's
            // own token component. Marker-less siblings of ANY tier are
            // crashed publishes and age out like any husk (else each
            // abandoned shard setting would pin a corpus-scale copy).
            val publishedCurrentOrNewer = {
              val n = st.getPath.getName
              fs.exists(new Path(st.getPath, "_PUBLISHED")) && (
                n.startsWith(version.tierPrefix) ||
                  Version.Shape.findFirstMatchIn(n)
                    // Try-guarded like Bench's record-listing sort: a
                    // token component past Long range (a hostile or
                    // corrupted sibling name) must read as
                    // current-or-newer — never reaped, never a
                    // NumberFormatException aborting the caller's own
                    // build/probe (ADVICE r13)
                    .exists(m => scala.util.Try(m.group(2).toLong)
                      .map(_ >= srcToken).getOrElse(true)))
            }
            // LIST-cost short-circuit: newestIn is a full recursive
            // listing per sibling, a large object-store LIST bill inside
            // the base's lock on every rebuild. A dir young at depth 1 can only
            // get YOUNGER with children, so only depth-1-old candidates
            // (and mtime-0 pseudo-dirs, age unknown) pay the recursion.
            !publishedCurrentOrNewer &&
              now - st.getModificationTime > graceMs && {
                val eff = newestIn(st.getPath)
                eff > 0L && now - eff > graceMs
              }
          }
          .foreach(st => fs.delete(st.getPath, true))
      } }
      (ver.toString, split)
    }
}
