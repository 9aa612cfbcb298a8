package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.hadoop.fs.Path
import graft.Published

/** Sink-side operators (SURVEY §2.1 S5/S6, §2.9 ST8).
  *
  * At 100 TB these write partitioned parquet keyed by the natural
  * partition column; locally they are exercised against temp dirs by
  * `SinksSpec`. */
object Sinks {

  /** S5: append event sink with a per-batch row cap (runs/route.ts:120-130
    * persists at most 250 trace events per run; lib.rs `emit!` appends). */
  def appendEvents(df: DataFrame, path: String, cap: Int = 250): Unit =
    df.limit(cap).write.mode(SaveMode.Append).parquet(path)

  /** ST8: fan-out sink partitioned by key (ws-server.ts:120-156 room-keyed
    * broadcast): consumers read only their key's partition — partition
    * pruning is the read-side analog of per-room delivery. `mode` lets
    * the streaming fan-out ([[graft.streaming.StreamOps.partitionedFanout]])
    * append each micro-batch into the same layout. */
  def partitionedSink(df: DataFrame, path: String, key: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(key).parquet(path)

  /** ST8 streaming micro-batch append, EFFECTIVELY EXACTLY-ONCE (r12 —
    * upgrades the documented at-least-once window of plain Append).
    * Each micro-batch lands under its own `__batch=<id>` subpartition
    * of the key layout (`path/<key>=…/__batch=<id>/part-*`) and the
    * write is a DYNAMIC partition overwrite: only partitions this batch
    * actually holds are replaced. A replayed batch — foreachBatch
    * re-runs a batch whenever the sink write completed but the crash
    * landed before the checkpoint's offset commit — therefore REWRITES
    * exactly its own (key, batchId) partitions with the same rows
    * instead of appending a second copy; batch ids never repeat across
    * a checkpoint's lifetime otherwise, so distinct batches never touch
    * each other's partitions. Holds given Structured Streaming's replay
    * contract (replayable source + deterministic transforms ⇒ the
    * re-run batch carries the same rows); a non-deterministic transform
    * upstream voids it, as it does every exactly-once sink.
    *
    * Read side: `__batch` surfaces as an extra partition column —
    * metadata, droppable by consumers; key-filter partition pruning is
    * unchanged because `<key>=` remains the top directory level. At
    * scale the per-batch dirs add directories, not files (one dir per
    * touched key per batch — same file count as plain append), and
    * age-out/compaction can fold old batches without touching the
    * live tail. */
  def idempotentFanoutBatch(batch: DataFrame, path: String, key: String,
      batchId: Long): Unit = {
    // any-case guard: withColumn resolves case-insensitively under the
    // default spark.sql.caseSensitive=false, so a caller's `__Batch`
    // would silently be replaced by the batch id without this
    require(!batch.columns.exists(_.equalsIgnoreCase("__batch")),
      "idempotentFanoutBatch: the batch already has a __batch column — " +
        "it is this sink's replay-identity partition; rename the data column")
    // Batch-id HIGH-WATER MARK guard. The overwrite that makes replays
    // idempotent is only safe while batch ids mean what they meant when
    // the data was written — i.e. within ONE checkpoint's lifetime. Two
    // scenarios break that and must be refused, not absorbed:
    //   • checkpoint loss / a fresh checkpoint over an established
    //     table: Spark restarts ids at 0, and "batch 0" (the whole
    //     re-read history) would DYNAMIC-OVERWRITE the real batch 0's
    //     partitions — silent deletion of committed data, strictly
    //     worse than the duplication a plain Append sink risked;
    //   • a pre-r12 FLAT layout (path/<key>=…/part-*) under the same
    //     root: mixed partition depths fail every subsequent read with
    //     "Conflicting directory structures", armed silently by a
    //     successful write.
    // The mark is written BEFORE the data (mark-then-data), so any
    // table holding __batch data always carries a mark ≥ its max
    // batch id: a legal crash replay re-runs id == mark (accepted, the
    // guard is strictly <), while a regressed id < mark or a markless
    // non-empty dir fails loudly with the operator's next step named.
    // Marks are content-free files named by batch id
    // ([[Published.mark]]; ≤ 2 retained), never one file rewritten in
    // place, whose torn write would unparse forever and lose the value
    // needed to recover. Single-writer per (table, checkpoint).
    val p = new Path(path)
    val fs = Published.fsOf(batch.sparkSession, path)
    val hwm = Published.highWaterMark(fs, p)
    hwm match {
      case Some(h) => require(batchId >= h,
        s"idempotentFanoutBatch: batch id $batchId regressed below the " +
          s"table's high-water mark $h at $path — this is a NEW checkpoint " +
          "replaying history over an established table, and the per-batch " +
          "overwrite would silently delete committed data. Resume from the " +
          "original checkpoint, or fan out to a fresh path")
      case None =>
        // ignore the marks dir itself: a crash between its mkdirs and
        // the first mark's create must read as "fresh table", not as
        // foreign content that wedges the stream
        val foreign = Published.children(fs, p).map(_.getPath.getName)
          .filterNot(_ == Published.marksDir(p).getName)
        require(foreign.isEmpty,
          s"idempotentFanoutBatch: $path holds data but no batch marks " +
            "— a pre-batch-layout (flat) fan-out table or a foreign " +
            "directory; migrate it (rewrite under __batch=<id> partitions " +
            "with marks) or fan out to a fresh path")
    }
    if (hwm.forall(_ < batchId)) Published.mark(fs, p, batchId, hwm)
    batch.withColumn("__batch", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(key, "__batch")
      .parquet(path)
  }

  /** S6: keyed upsert (PDA-keyed account create-or-update, lib.rs:237-251;
    * Prisma create-returning, runs/route.ts:101-118). Last-writer-wins by
    * `versionCol` per `key`; equal-version ties broken deterministically
    * by the LOWEST full-row hash (xxhash64 ascending) to stay idempotent.
    *
    * Parquet has no MERGE, so the table is realized as a tiny
    * snapshot-isolated format built from two parts the way the MinHash
    * index publish gates reads behind a marker:
    *
    *   path/_graft_manifest/m-<gen>.json     bucket → data-dir map; the
    *                                         newest manifest IS the table
    *   path/data/g<gen>-<tok>/__b=<b>/part-* immutable bucket data files
    *
    * Each upsert hashes its keys into `buckets` stable buckets
    * (`pmod(xxhash64(key), n)`), reads ONLY the current generation of
    * the buckets its keys touch, merges keep-latest, writes those
    * buckets under a fresh generation, and publishes a new manifest.
    * Cost is O(affected buckets), never O(table) — at 100 TB a
    * single-key upsert rewrites one bucket, not the corpus.
    *
    * The swap is the manifest file itself, written CREATE-EXCLUSIVE at
    * its final name (single-object PUT on S3): a concurrent reader
    * resolves the newest PARSEABLE manifest — either the old or the new
    * one, each describing a COMPLETE table (a torn file from a crashed
    * writer is skipped) — so there is no window in which the table
    * half-exists, unlike a delete-then-rename of the data dir.
    * Superseded manifests — and the bucket generations only they
    * reference — are reaped once their SUPERSESSION is older than
    * `graceMs`: a reader always resolved a then-newest manifest, so it
    * keeps at least the full grace window of scan time before anything
    * it references can disappear. Single-writer per table,
    * like the reference's program-authority accounts; a lost
    * manifest-rename race fails loudly rather than silently dropping a
    * generation — and HARMLESSLY: each writer stages its generation
    * under a writer-unique dir name (`g<gen>-<tok>`), so a racing
    * loser's Overwrite can never delete the winner's already-published
    * data out from under the winner's manifest; the loser's orphan dir
    * is unreferenced and reaped by the next successful upsert. Null
    * keys are legal: `xxhash64` hashes a null to its seed, so they
    * land deterministically in one bucket and LWW-merge like any key. */
  def upsertByKey(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      key: String,
      versionCol: String,
      buckets: Int = 16,
      graceMs: Long = 15 * 60 * 1000L): Unit = {
    require(buckets > 0, s"upsertByKey: buckets must be positive, got $buckets")
    // case-insensitive like every reserved-name guard in the engine:
    // withColumn would silently REPLACE a caller's __rn/__b data column
    // (then drop it from the published table — silent data loss)
    require(!updates.columns.exists(c =>
        c.equalsIgnoreCase("__rn") || c.equalsIgnoreCase("__b")),
      "upsertByKey reserves __rn and __b (any case); rename them on the input")
    val fs = Published.fsOf(spark, path)
    val current = readManifest(spark, path)
    // a manifest-less path that nonetheless holds files is NOT an empty
    // table — it is either a legacy plain-parquet layout or a foreign
    // directory, and silently treating it as empty would drop every
    // previously acknowledged row from reads. Fail loudly; the one
    // benign shape (a crashed FIRST upsert that wrote data/ but died
    // before its manifest) is recovered by the gen-0 rewrite below.
    if (current.isEmpty) {
      val foreign = Published.children(fs, new Path(path)).map(_.getPath.getName)
        .filterNot(n => n == Published.manifestDir(path).getName || n == "data")
      require(foreign.isEmpty,
        s"upsertByKey: $path holds non-upsert-table content " +
          s"(${foreign.take(3).mkString(", ")}…) with no manifest — refusing " +
          "to shadow it as an empty table; migrate the legacy layout first")
    }
    // bucket count is table-layout identity: fixed at first write, the
    // manifest's record wins thereafter (a caller-supplied mismatch
    // would route keys to buckets the existing data was not hashed
    // into); [[rebucket]] is the explicit growth path
    val nB = current.map(_.buckets).getOrElse(buckets)
    val gen = current.map(_.gen + 1).getOrElse(0L)
    val bmap = current.map(_.map).getOrElse(Map.empty[Int, String])
    // the key's TYPE is layout identity too: xxhash64 hashes the key's
    // bytes, so the same logical keys arriving as a different numeric
    // type would route to different buckets — the merge would never see
    // the existing rows and publish permanent duplicates. Unknown (old
    // manifests) is accepted once and recorded going forward.
    val kt = updates.select(col(key)).schema.head.dataType.sql
    current.map(_.keyType).filter(_.nonEmpty).foreach(prev =>
      require(prev == kt,
        s"upsertByKey: key '$key' arrives as $kt but the table was " +
          s"bucketed with $prev — cast the update frame's key to $prev " +
          "(bucket routing is type-sensitive)"))
    val bucketOf = bucketExpr(col(key), nB)
    // persisted across its TWO consumers (the affected-bucket collect
    // and the merged write): a non-deterministic updates plan
    // re-evaluated between them could write buckets the manifest never
    // references — acknowledged rows invisible to every read and reaped
    // as unreferenced — and even a deterministic plan would pay its
    // full upstream lineage twice (r13 sweep)
    val up = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val affected = up.select(bucketOf.as("__b")).distinct()
        .collect().map(_.getInt(0)).sorted // bounded: ≤ buckets
      // a zero-row upsert is a NO-OP, not a new generation: publishing an
      // empty-map manifest on first write would create a "table" no read
      // can resolve, and bumping the generation on an established table
      // would churn manifests for nothing (an empty streaming micro-batch
      // routed through here would otherwise do exactly that)
      if (affected.isEmpty) return
      val livePaths = affected.toSeq.flatMap(b =>
        bmap.get(b).map(dn => s"$path/data/$dn/__b=$b"))
      val existing =
        if (livePaths.nonEmpty) spark.read.parquet(livePaths: _*)
        else {
          // row-schema identity must hold even when every affected
          // bucket is NEW: the unionByName below (the implicit guard)
          // never runs on this path, so a schema-drifted update would
          // publish mixed-schema generations — and readUpserted has no
          // mergeSchema, so the drifted column silently vanishes (or
          // reads as null) depending on which file Spark infers from.
          // Enforce against any referenced bucket of the established
          // table, loudly, like the keyType layout guard above.
          bmap.headOption.foreach { case (b, dn) =>
            val tbl = spark.read.parquet(s"$path/data/$dn/__b=$b").schema
            def shape(s: org.apache.spark.sql.types.StructType) =
              s.map(f => (f.name.toLowerCase(java.util.Locale.ROOT),
                f.dataType)).toSet
            require(shape(tbl) == shape(up.schema),
              s"upsertByKey: update schema ${up.schema.simpleString} does " +
                s"not match the table's ${tbl.simpleString} — a mixed-schema " +
                "publish would make columns silently vanish on read; align " +
                "the update frame first")
          }
          up.limit(0)
        }
      val w = Window.partitionBy(col(key))
        .orderBy(col(versionCol).desc, xxhash64(struct(col("*"))).asc)
      val merged = existing.unionByName(up)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
      // the generation dir name is WRITER-UNIQUE (g<gen>-<token>): two
      // racing writers computing the same next gen therefore write into
      // DISJOINT dirs, and the race is decided only at the manifest
      // rename — the loser fails loudly with the winner's published data
      // untouched (an Overwrite into a shared g<gen> would have deleted
      // the winner's files BEFORE the rename could detect the race)
      val genDir = genDirName(gen)
      // repartition by bucket before the partitioned write: without it
      // every shuffle task writes a file into every bucket dir it touches
      // (tasks × buckets small files at scale); clustered, each bucket's
      // rows land in one task's files
      merged.withColumn("__b", bucketOf)
        .repartition(col("__b"))
        .write.mode(SaveMode.Overwrite).partitionBy("__b")
        .parquet(s"$path/data/$genDir")
      publishManifest(spark, path, Manifest(gen, nB,
        bmap ++ affected.map(_ -> genDir), kt))
      reapSuperseded(fs, path, graceMs)
    } finally { up.unpersist(); () }
  }

  /** Reap discipline shared by [[upsertByKey]] and [[rebucket]]. The
    * grace that protects an in-flight reader must
    * be measured from SUPERSESSION, not from write time: a bucket
    * written an hour ago and superseded a millisecond ago may be
    * mid-scan right now. A manifest's supersession instant is its
    * SUCCESSOR's mtime (until a successor exists it is the newest and
    * a reader may resolve it at any moment), so: retain the newest
    * manifest plus every manifest whose successor is younger than
    * grace; then a bucket generation is live exactly while ANY
    * retained manifest references it. A reader always resolves a
    * then-newest manifest, so it gets at least the full grace window
    * of scan time before anything it references can disappear. */
  private def reapSuperseded(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String, graceMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val mdir = Published.manifestDir(path)
    val manifests = Published.generations(fs, mdir, Published.Manifests)
    val superseded = manifests.zip(manifests.drop(1)).collect {
      case (st, successor) if now - successor.getModificationTime > graceMs => st.getPath
    }.toSet
    // `.m-tmp-*`: staged manifests of the stage+rename writer this
    // table format had before its create-exclusive publish
    Published.reap(fs, mdir)(st => superseded(st.getPath) ||
      st.getPath.getName.startsWith(".m-tmp-") && now - st.getModificationTime > graceMs)
    // every bucket generation referenced by a retained manifest is live
    val liveSet = manifests.filterNot(st => superseded(st.getPath))
      .flatMap(st => scala.util.Try(parseManifest(fs, st)).toOption.toSeq
        .flatMap(_.map.map { case (b, dn) => s"$dn/__b=$b" }))
      .toSet
    def isBucket(st: org.apache.hadoop.fs.FileStatus) = st.getPath.getName.startsWith("__b=")
    Published.reap(fs, new Path(s"$path/data")) { gen =>
      val g = gen.getPath
      g.getName.startsWith("g") && {
        Published.reap(fs, g)(st => isBucket(st) && !liveSet(s"${g.getName}/${st.getPath.getName}"))
        // gone when no bucket dirs remain — committer markers like
        // _SUCCESS must not pin the husk (delete is recursive)
        !Published.children(fs, g).exists(isBucket)
      }
    }
  }

  /** Re-buckets an upsert table to `newBuckets` — the GROWTH path.
    * The bucket count is fixed at first write (the manifest's record
    * wins over the caller's argument, because re-hashing only some
    * keys would tear routing), which is right for every upsert but
    * wrong FOREVER on a table that grows orders of magnitude: a 100 TB
    * table stuck at its day-one 16 buckets rewrites ~6 TB per
    * single-key upsert. Rebucketing pays the whole-table rewrite ONCE,
    * explicitly and operator-scheduled, redistributing every row into
    * `newBuckets` dirs under a fresh generation and publishing a
    * manifest that carries the new count — after which every upsert is
    * O(table/newBuckets) again. The swap is the same single-file
    * manifest rename as an upsert: a concurrent reader resolves either
    * the old or the new manifest, each a complete table, and keeps the
    * old generations for the grace window while mid-scan. Same-count
    * rebucket is a no-op. Single-writer, like every other mutation of
    * this table format. */
  def rebucket(
      spark: SparkSession,
      path: String,
      key: String,
      newBuckets: Int,
      graceMs: Long = 15 * 60 * 1000L): Unit = {
    require(newBuckets > 0,
      s"rebucket: newBuckets must be positive, got $newBuckets")
    val current = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no upsert table at $path"))
    if (current.buckets == newBuckets) return
    val fs = Published.fsOf(spark, path)
    val gen = current.gen + 1
    val genDir = genDirName(gen)
    val bucketOf = bucketExpr(col(key), newBuckets)
    // ONE resolution of the table: the frame serves both the rewrite
    // and (below) the key-type derivation — a second readUpserted call
    // paid a full second manifest-resolve + parquet footer pass
    val table = readUpserted(spark, path)
    table
      .withColumn("__b", bucketOf)
      .repartition(col("__b"))
      .write.mode(SaveMode.Overwrite).partitionBy("__b")
      .parquet(s"$path/data/$genDir")
    // the manifest must reference exactly the buckets that hold rows:
    // list them from the JUST-WRITTEN layout (one shallow LIST) rather
    // than re-evaluating the table a second time for a distinct()
    val present = fs.listStatus(new Path(s"$path/data/$genDir"))
      .map(_.getPath.getName).filter(_.startsWith("__b="))
      .map(_.stripPrefix("__b=").toInt)
    require(present.nonEmpty,
      s"rebucket: rewrite of $path produced no buckets — refusing to " +
        "publish an empty manifest over a table that had data")
    // carry the key type forward (derive it for pre-field tables from
    // the data just read — the rewrite preserves the schema)
    val kt = if (current.keyType.nonEmpty) current.keyType
      else table.select(col(key)).schema.head.dataType.sql
    publishManifest(spark, path, Manifest(gen, newBuckets,
      present.map(_ -> genDir).toMap, kt))
    reapSuperseded(fs, path, graceMs)
  }

  /** Writer-unique generation dir name (`g<gen>-<token>`) — byte-level
    * layout identity shared by [[upsertByKey]] and [[rebucket]]:
    * parseManifest's legacy fallback and the reaper's dir walk both key
    * off this exact shape, so one definition makes drift impossible
    * (the same rule bucketExpr documents for routing). */
  private def genDirName(gen: Long): String =
    f"g$gen%d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** THE bucket-routing expression — the single definition every
    * writer (upsertByKey), migrator (rebucket) and pruned reader
    * (readUpsertedForKeys) shares. Routing correctness is byte-level:
    * a reader whose hash, seed, cast or modulus drifts from the
    * writer's scans the wrong bucket and reports present keys as
    * absent — silently, since absence is a legal outcome. One
    * definition makes that drift impossible. */
  private def bucketExpr(
      keyCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCol), lit(n.toLong)).cast("int")

  /** The manifest record: table generation, fixed bucket count, and the
    * bucket → data-dir-name map resolving each bucket's current data
    * dir under `path/data/` (writer-unique `g<gen>-<tok>` names). */
  /** `keyType` is part of the layout identity alongside the bucket
    * count: bucket routing hashes the key's BYTES, so the same logical
    * keys arriving as a different type (int vs long) route to different
    * buckets — a writer must refuse the mismatch or last-writer-wins
    * silently breaks with permanently duplicated keys. Empty for
    * manifests written before the field existed (accepted as unknown;
    * the next publish records the type going forward). */
  private[sources] final case class Manifest(
      gen: Long, buckets: Int, map: Map[Int, String], keyType: String = "")

  /** Newest PARSEABLE manifest, or None for a not-yet-created table: a
    * crashed writer's torn manifest is skipped for the previous
    * generation, a complete table. */
  private[sources] def readManifest(
      spark: SparkSession, path: String): Option[Manifest] = {
    val fs = Published.fsOf(spark, path)
    Published.newest(fs, Published.manifestDir(path), Published.Manifests)(parseManifest(fs, _))
  }

  /** One manifest file's parse — shared by the newest-resolution read
    * and the reap pass's retained-set computation. Manifests are
    * IMMUTABLE once published (single-writer, staged + renamed), so
    * each file is parsed once per JVM and served from a bounded cache
    * thereafter: a grace window can retain hundreds of manifests, and
    * re-opening all of them per upsert would be O(retained) small-file
    * GETs on an object store. The cache key includes the file's
    * (mtime, length), NOT just its path: a table deleted and rebuilt at
    * the same path re-mints the same manifest NAMES (m-000000000000…),
    * and a path-only key would serve the dead table's records — wrong
    * bucket count, dangling data dirs — to the new one. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def parseManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus): Manifest = {
    // evict OUTSIDE computeIfAbsent: CHM's mapping function must not
    // update other mappings of the same map (clear() inside it is
    // undefined behavior against the in-flight bin reservation)
    if (manifestCache.size > 4096) manifestCache.clear() // bound, rare
    val p = st.getPath
    val key = s"$p@${st.getModificationTime}:${st.getLen}"
    manifestCache.computeIfAbsent(key, _ => {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Published.readAll(fs, p))
      import scala.jdk.CollectionConverters._
      Manifest(
        node.get("gen").asLong(),
        node.get("buckets").asInt(),
        node.get("map").properties().asScala.iterator
          .map { e =>
            // pre-writer-unique-dir manifests recorded a bare numeric
            // generation; its dir name was g<gen>
            val v = e.getValue.asText()
            e.getKey.toInt -> (if (v.forall(_.isDigit)) s"g$v" else v)
          }.toMap,
        Option(node.get("keyType")).map(_.asText()).getOrElse(""))
    })
  }

  /** Publishes the manifest by CREATE-EXCLUSIVE write at its final name
    * ([[Published.commitExclusive]]), the table's one race arbiter: a
    * stage+rename could not be, because LocalFileSystem's rename
    * silently overwrites an existing destination on POSIX. A torn
    * occupant is this writer's own crashed publish and is replaced; a
    * PARSEABLE one is a concurrent writer and fails loudly. */
  private def publishManifest(
      spark: SparkSession, path: String, m: Manifest): Unit = {
    val fs = Published.fsOf(spark, path)
    // keyType is ESCAPED (the one free-text field here — DataType.sql
    // can carry quotes/backslashes via struct field names), sharing
    // Verify.jsonStr, the same rule Bench.recordLines applies to its
    // free-text field: an unescaped value would make every manifest
    // unparseable and the newest-PARSEABLE-wins read silently walk back
    // to a stale generation forever (r13 diff re-review)
    val body = (s"""{"gen":${m.gen},"buckets":${m.buckets},""" +
      s""""keyType":${graft.Verify.jsonStr(m.keyType)},"map":{""" +
      m.map.toSeq.sortBy(_._1)
        .map { case (b, dn) => s""""$b":"$dn"""" }.mkString(",") + "}}")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Published.commitExclusive(fs, Published.manifestDir(path), Published.Manifests,
      m.gen, body, "upsert manifest")(st => scala.util.Try(parseManifest(fs, st)).isSuccess)
  }

  /** Read side of [[upsertByKey]]: resolves the newest manifest and
    * scans exactly the bucket generations it references — a consistent
    * snapshot regardless of concurrent upserts, because manifests are
    * immutable and their publish is a single atomic rename. */
  def readUpserted(spark: SparkSession, path: String): DataFrame = {
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no upsert table at $path"))
    val paths = m.map.toSeq.sortBy(_._1)
      .map { case (b, dn) => s"$path/data/$dn/__b=$b" }
    // unreachable through upsertByKey (a zero-row upsert is a no-op, so
    // a published manifest always references ≥1 bucket) — but a foreign
    // or hand-edited manifest should name the problem, not die in
    // parquet schema inference over an empty path list
    require(paths.nonEmpty,
      s"upsert table at $path has a manifest referencing no buckets — " +
        "corrupt or foreign manifest")
    spark.read.parquet(paths: _*)
  }

  /** Point/multi-key lookup against an upsert table — the reference's
    * PDA `findUnique` shape (runs/[runId]/route.ts:23-26) — reading
    * ONLY the buckets the keys hash into instead of the whole table.
    * [[readUpserted]] scans every bucket; at 100 TB a single-key read
    * through it scans ~the corpus, where this reads 1 of N bucket dirs.
    *
    * The bucket of each key is computed with the SAME expression the
    * writer used (`pmod(xxhash64(key), n)`) — evaluated over one local
    * row, with each key literal CAST to the table's key column type
    * first, because xxhash64 is type-sensitive: an Int literal hashed
    * as-is would route to a different bucket than the Long column it
    * queries. Rows are then filtered to the exact keys (a bucket holds
    * other keys too). A null key is legal in the table (it buckets by
    * the hash seed) and is matched with an explicit isNull arm — isin
    * alone would never match it. Keys hashing to buckets the manifest
    * does not reference (never written) contribute nothing; all keys
    * absent → empty frame with the table schema. */
  def readUpsertedForKeys(
      spark: SparkSession,
      path: String,
      key: String,
      keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readUpsertedForKeys: no keys given")
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no upsert table at $path"))
    require(m.map.nonEmpty,
      s"upsert table at $path has a manifest referencing no buckets — " +
        "corrupt or foreign manifest")
    // table schema from one referenced bucket (footer-only read) — the
    // key column's type is what the writer's xxhash64 actually hashed
    val (b0, dn0) = m.map.minBy(_._1)
    val sample = spark.read.parquet(s"$path/data/$dn0/__b=$b0")
    val keyType = sample.schema(key).dataType
    val bucketExprs = keys.map(k => bucketExpr(lit(k).cast(keyType), m.buckets))
    // one local row; |keys| is point-lookup-bounded by contract
    val wanted = spark.range(1).select(bucketExprs: _*)
      .head().toSeq.map(_.asInstanceOf[Int]).toSet
    val paths = m.map.toSeq.filter { case (b, _) => wanted(b) }
      .sortBy(_._1).map { case (b, dn) => s"$path/data/$dn/__b=$b" }
    if (paths.isEmpty) return sample.limit(0)
    val df = spark.read.parquet(paths: _*)
    val (nulls, nonNulls) = keys.partition(_ == null)
    val matches = (if (nonNulls.nonEmpty)
        Seq(col(key).isin(nonNulls.map(lit(_).cast(keyType)): _*)) else Nil) ++
      (if (nulls.nonEmpty) Seq(col(key).isNull) else Nil)
    df.filter(matches.reduce(_ || _))
  }

  /** Bucketed table writer — the 100 TB co-located-join path: both sides
    * of a recurring fact↔fact equi-join written with the same bucket
    * count on the join key join WITHOUT an exchange (each bucket pair
    * joins locally; at cluster scale this removes the dominant shuffle
    * of repeated large joins). `sortBy` within buckets additionally
    * removes the join's sort step. SinksSpec asserts the shuffle-free
    * plan. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** S7: cached source snapshot with TTL (discovery.ts:15-37: 60 s memo).
    * The TTL is orchestration, not query semantics — the engine-side part
    * is the cache/unpersist lifecycle. */
  final class CachedSource(load: () => DataFrame, ttlMs: Long) {
    private var snapshot: Option[(Long, DataFrame)] = None
    def get(nowMs: Long): DataFrame = synchronized {
      snapshot match {
        case Some((at, df)) if nowMs - at < ttlMs => df
        case prev =>
          prev.foreach(_._2.unpersist())
          val df = load().cache()
          snapshot = Some((nowMs, df))
          df
      }
    }
    // synchronized like get(): an unsynchronized read of the mutable
    // field has no happens-before edge with the writer and could
    // observe a stale None/timestamp (r13 sweep)
    def loadedAt: Option[Long] = synchronized(snapshot.map(_._1))
  }
}
