package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sink semantics against temp dirs: append cap, partitioned fan-out,
  * keyed upsert last-writer-wins, cached-source TTL. */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    tempDir("graft-sink").resolve("t").toString

  /** fd-safe directory listing (full path strings): Files.list returns a
    * stream backed by an open DirectoryStream the javadoc requires
    * closing — the old toArray call sites leaked one fd each until GC.
    * File.listFiles has nothing to leak. */
  private def ls(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.toString).toSeq

  /** fd-safe recursive walk (dir itself included, like Files.walk). */
  private def walk(dir: String): Seq[String] =
    dir +: ls(dir).flatMap(walk)

  test("S5 append sink caps each batch and accumulates") {
    val path = tmp()
    val ev = Tables(spark, sf001).events.select($"event_id", $"user_id")
    Sinks.appendEvents(ev, path, cap = 100)
    Sinks.appendEvents(ev.withColumn("event_id", $"event_id" + 100000L), path, cap = 50)
    assert(spark.read.parquet(path).count() === 150)
  }

  test("ST8 partitioned sink prunes to one key's partition") {
    val path = tmp()
    val ev = Tables(spark, sf001).events
      .select($"event_id", $"event_type", $"user_id")
    Sinks.partitionedSink(ev, path, "event_type")
    val one = spark.read.parquet(path).filter($"event_type" === "purchase")
    // partition pruning ASSERTED in the scan, not just computed: losing
    // read-side pruning (scan all 5 dirs, filter rows after) keeps every
    // count below identical (r13 test sweep — the val was dead)
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .head.toString
    assert(scanned.contains("PartitionFilters: [") &&
      !scanned.contains("PartitionFilters: []"),
      s"per-key read is not partition-pruned: $scanned")
    assert(one.count() ===
      Tables(spark, sf001).events.filter($"event_type" === "purchase").count())
    assert(ls(path).count(_.contains("event_type=")) === 5)
  }

  test("persisted IVF index: probe prunes to nProbe cell partitions and equals the in-memory path") {
    import graft.operators.Similarity
    val path = tmp()
    val centroids = Similarity.writeIvfIndex(spark, sf001, path, nCells = 16)
    // the stored layout is one directory per cell
    val cellDirs = ls(path).count(_.contains("cell="))
    assert(cellDirs > 4, s"expected cell partitions, got $cellDirs")
    val probed = Similarity.probeIvfIndex(spark, sf001, path, centroids, nProbe = 4)
    // partition pruning: the probe's parquet scan carries the cell filter
    // at the PARTITION level (cell is a directory column, not data)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("no PartitionFilters line"))
    // identical result to the in-memory query (same corpus, same quantizer)
    val mem = QueryDef.catalogs.find(_.name == "sim_ivf_topk").get.run(spark, sf001)
    assert(probed.collect().map(_.toSeq).toSeq === mem.collect().map(_.toSeq).toSeq)
  }

  test("S6 upsert is last-writer-wins by version and idempotent") {
    val path = tmp()
    val v1 = Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, v1, "id", "version")
    val v2 = Seq((2L, "b2", 2L), (3L, "c", 1L)).toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, v2, "id", "version")
    Sinks.upsertByKey(spark, path, v2, "id", "version") // replay: no change
    val got = Sinks.readUpserted(spark, path).orderBy($"id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("S6 upsert touching k of N buckets rewrites only those k") {
    val path = tmp()
    // seed spans many buckets; the follow-up update touches ONE key
    val seed = (1L to 200L).map(i => (i, s"p$i", 1L))
      .toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, seed, "id", "version", buckets = 8)
    val one = Seq((7L, "p7-v2", 2L)).toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, one, "id", "version", buckets = 8)
    // generation 1 holds exactly the single bucket id 7 hashes into;
    // the other 7 buckets' data files were not rewritten. The gen dir
    // name is writer-unique (g1-<tok>) so a racing loser could never
    // overwrite it.
    val g1Dirs = ls(s"$path/data").filter(_.matches(".*/g1-[0-9a-f]{8}$"))
    assert(g1Dirs.length === 1, s"expected one unique g1-<tok> dir, got ${g1Dirs.length}")
    val g1Buckets = ls(g1Dirs.head).count(_.contains("__b="))
    assert(g1Buckets === 1, s"single-key upsert must rewrite 1 bucket, got $g1Buckets")
    val got = Sinks.readUpserted(spark, path)
    assert(got.count() === 200)
    assert(got.filter($"id" === 7L).select($"payload").head().getString(0) === "p7-v2")
  }

  test("S6 keyed read prunes to the keys' buckets: 1 of 8 for a point lookup") {
    val path = tmp()
    val seed = (1L to 200L).map(i => (i, s"p$i", 1L))
      .toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, seed, "id", "version", buckets = 8)
    // the point lookup (the reference's PDA findUnique shape) must
    // read exactly ONE of the 8 bucket dirs — assert it from the scan's
    // root paths, not just the result
    val one = Sinks.readUpsertedForKeys(spark, path, "id", Seq(7L))
    val scannedDirs = one.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
      }.flatten.distinct
    assert(scannedDirs.length === 1,
      s"single-key read must scan 1 bucket dir of 8, got $scannedDirs")
    assert(scannedDirs.head.matches(".*/data/g0-[0-9a-f]{8}/__b=\\d+$"))
    assert(one.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSeq === Seq((7L, "p7")))
    // an Int key against the Long column routes to the SAME bucket the
    // writer hashed the Long into (the cast-before-hash contract)
    assert(Sinks.readUpsertedForKeys(spark, path, "id", Seq(7))
      .select($"payload").head().getString(0) === "p7")
    // multi-key: results complete, scanned dirs = the keys' distinct buckets
    val multi = Sinks.readUpsertedForKeys(spark, path, "id", Seq(7L, 8L, 9L))
    assert(multi.select($"id").as[Long].collect().sorted.toSeq === Seq(7L, 8L, 9L))
    val multiDirs = multi.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
      }.flatten.distinct
    assert(multiDirs.length <= 3 && multiDirs.length >= 1)
    // an absent key reads its (existing) bucket but matches nothing;
    // the lookup stays a pruned scan either way
    assert(Sinks.readUpsertedForKeys(spark, path, "id", Seq(100000L)).count() === 0)
    // the lookup sees the table's current state across generations:
    // update one key, then point-read it — the fresher generation wins
    Sinks.upsertByKey(spark, path,
      Seq((7L, "p7-v2", 2L)).toDF("id", "payload", "version"), "id", "version")
    assert(Sinks.readUpsertedForKeys(spark, path, "id", Seq(7L))
      .select($"payload").head().getString(0) === "p7-v2")
  }

  test("S6 reserved columns are refused any-case; a torn manifest is skipped and replaced") {
    // __rn/__b are internal: withColumn would silently REPLACE a
    // caller's same-named data column and drop it from the table
    val path = tmp()
    intercept[IllegalArgumentException] {
      Sinks.upsertByKey(spark, path,
        Seq((1L, 1L, "x")).toDF("id", "version", "__RN"), "id", "version")
    }
    // torn-manifest recovery: a crashed writer leaves garbage at the
    // next generation's FINAL name (create-exclusive design). Readers
    // must skip it (previous generation = complete table), and the
    // recovering single writer must replace it and publish.
    Sinks.upsertByKey(spark, path,
      Seq((1L, 1L, "a")).toDF("id", "version", "payload"), "id", "version",
      buckets = 2)
    val torn = new java.io.PrintWriter(
      s"$path/_graft_manifest/m-000000000001.json")
    torn.write("{\"gen\": 1, \"buck") // mid-write crash
    torn.close()
    assert(Sinks.readUpserted(spark, path).count() === 1,
      "a torn newest manifest must fall back to the previous generation")
    Sinks.upsertByKey(spark, path,
      Seq((2L, 1L, "b")).toDF("id", "version", "payload"), "id", "version")
    val got = Sinks.readUpserted(spark, path).orderBy($"id")
      .collect().map(_.getAs[String]("payload")).toSeq
    assert(got === Seq("a", "b"),
      "the recovering writer must replace its own torn manifest and publish")
  }

  test("S6 upsert reaps superseded manifests and bucket generations past grace") {
    val path = tmp()
    // grace 0: a manifest is reapable the moment its successor exists
    // (ms-resolution mtimes may briefly retain one extra), so the
    // steady state is a BOUNDED manifest set + only live bucket dirs —
    // the bound that keeps a micro-batch streaming upsert from growing
    // the table's metadata without limit
    for (v <- 1L to 5L) {
      Sinks.upsertByKey(spark, path,
        Seq((1L, s"p$v", v)).toDF("id", "payload", "version"),
        "id", "version", buckets = 4, graceMs = 0L)
      Thread.sleep(5) // let successor mtimes tick past the 0 ms grace
    }
    // one more no-op-shaped upsert so the reap pass runs AFTER the
    // final supersession aged past grace
    Sinks.upsertByKey(spark, path,
      Seq((1L, "p6", 6L)).toDF("id", "payload", "version"),
      "id", "version", buckets = 4, graceMs = 0L)
    val manifests = ls(s"$path/_graft_manifest").count(_.endsWith(".json"))
    assert(manifests <= 2, s"superseded manifests must reap, got $manifests")
    val liveBuckets = walk(s"$path/data").count(_.matches(".*__b=\\d+$"))
    assert(liveBuckets <= 2, s"one key → ≤2 retained bucket dirs, got $liveBuckets")
    // superseded GEN dirs are fully gone — a committer _SUCCESS marker
    // must not pin an empty generation husk forever
    val genDirs = ls(s"$path/data").count(_.matches(".*/g\\d+-[0-9a-f]{8}$"))
    assert(genDirs <= 2, s"superseded generation husks must reap, got $genDirs")
    val got = Sinks.readUpserted(spark, path).collect()
    assert(got.length === 1 && got.head.getAs[String]("payload") === "p6")
  }

  test("S6 zero-row upsert is a no-op: no table created, no generation churned") {
    val path = tmp()
    val none = Seq.empty[(Long, String, Long)].toDF("id", "payload", "version")
    // on a fresh path: nothing is created (no empty-map manifest a read
    // could resolve to an unreadable "table")
    Sinks.upsertByKey(spark, path, none, "id", "version")
    intercept[IllegalArgumentException] { Sinks.readUpserted(spark, path) }
    // on an established table: no new manifest/generation
    Sinks.upsertByKey(spark, path,
      Seq((1L, "a", 1L)).toDF("id", "payload", "version"), "id", "version")
    val before = ls(s"$path/_graft_manifest").count(_.endsWith(".json"))
    Sinks.upsertByKey(spark, path, none, "id", "version")
    val after = ls(s"$path/_graft_manifest").count(_.endsWith(".json"))
    assert(after === before, "empty upsert must not publish a new manifest")
    assert(Sinks.readUpserted(spark, path).count() === 1)
  }

  test("S6 table rebuilt at the same path is served fresh, not from a stale manifest cache") {
    val path = tmp()
    Sinks.upsertByKey(spark, path,
      Seq((1L, "old", 1L)).toDF("id", "payload", "version"),
      "id", "version", buckets = 4)
    assert(Sinks.readUpserted(spark, path).count() === 1)
    // ordinary reprocessing: drop the table dir and rebuild at the SAME
    // path — the new table re-mints the same manifest names, so a
    // path-keyed parse cache would resurrect the old bucket map
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    Thread.sleep(5) // ms-resolution mtimes: let the new manifest's tick differ
    val fresh = (1L to 20L).map(i => (i, s"new$i", 1L))
      .toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, fresh, "id", "version", buckets = 2)
    val got = Sinks.readUpserted(spark, path)
    assert(got.count() === 20, "rebuilt table must serve the new manifest")
    assert(got.filter($"payload".startsWith("old")).count() === 0)
  }

  test("S6 rebucket migrates the table to a new bucket count; later upserts rewrite 1 of N") {
    val path = tmp()
    val seed = (1L to 100L).map(i => (i, s"p$i", 1L))
      .toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, seed, "id", "version", buckets = 2)
    Sinks.rebucket(spark, path, "id", 16)
    // migration preserves every row
    val migrated = Sinks.readUpserted(spark, path)
    assert(migrated.count() === 100)
    // the new layout spreads past the old 2-bucket ceiling
    val rebucketDirs = ls(s"$path/data").filter(_.matches(".*/g1-[0-9a-f]{8}$"))
    assert(rebucketDirs.length === 1)
    val spread = ls(rebucketDirs.head).count(_.contains("__b="))
    assert(spread > 2, s"100 keys over 16 buckets must spread past 2, got $spread")
    // a follow-up single-key upsert rewrites exactly one of the NEW buckets
    Sinks.upsertByKey(spark, path,
      Seq((7L, "p7-v2", 2L)).toDF("id", "payload", "version"), "id", "version")
    val g2Dirs = ls(s"$path/data").filter(_.matches(".*/g2-[0-9a-f]{8}$"))
    val g2Buckets = ls(g2Dirs.head).count(_.contains("__b="))
    assert(g2Buckets === 1, s"post-rebucket single-key upsert must rewrite 1 bucket, got $g2Buckets")
    val got = Sinks.readUpserted(spark, path)
    assert(got.count() === 100)
    assert(got.filter($"id" === 7L).select($"payload").head().getString(0) === "p7-v2")
    // same-count rebucket is a no-op: no new manifest published
    val before = ls(s"$path/_graft_manifest").count(_.endsWith(".json"))
    Sinks.rebucket(spark, path, "id", 16)
    val after = ls(s"$path/_graft_manifest").count(_.endsWith(".json"))
    assert(after === before, "same-count rebucket must be a no-op")
  }

  test("S6 upsert refuses to shadow a manifest-less legacy table as empty") {
    val path = tmp()
    // a plain-parquet table at the target path (the OLD upsert layout)
    Seq((1L, "legacy", 1L)).toDF("id", "payload", "version")
      .write.parquet(path)
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(spark, path,
        Seq((2L, "new", 1L)).toDF("id", "payload", "version"),
        "id", "version")
    }
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  test("S6 schema-drifted upsert is refused loudly even when it touches only NEW buckets") {
    // the implicit unionByName guard never runs when every affected
    // bucket is unreferenced — pre-fix, a drifted update publishing
    // there created mixed-schema generations whose columns silently
    // vanished on read (no mergeSchema). Single-key drifted upserts
    // across many keys exercise BOTH paths: same-bucket (unionByName
    // refuses) and new-bucket (the footer-schema guard refuses) —
    // every one must throw, and the table must stay intact.
    val path = tmp()
    Sinks.upsertByKey(spark, path,
      Seq((1L, "p", 1L)).toDF("id", "payload", "version"),
      "id", "version", buckets = 8)
    (2L to 20L).foreach { k =>
      val drifted = Seq((k, s"x$k", 1L)).toDF("id", "payload2", "version")
      intercept[Exception] {
        Sinks.upsertByKey(spark, path, drifted, "id", "version")
      }
    }
    val got = Sinks.readUpserted(spark, path).collect()
    assert(got.length === 1 && got.head.getAs[String]("payload") === "p",
      "a refused drifted upsert must leave the table untouched")
  }

  test("S6 reader concurrent with upserts always sees a complete consistent snapshot") {
    val path = tmp()
    val keys = 1L to 40L
    def all(v: Long) = keys.map(k => (k, s"p$k-$v", v))
      .toDF("id", "payload", "version")
    Sinks.upsertByKey(spark, path, all(0L), "id", "version", buckets = 8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writer = new Thread(() =>
      try (1L to 5L).foreach(v =>
        Sinks.upsertByKey(spark, path, all(v), "id", "version", buckets = 8))
      catch { case e: Throwable => errs.add(s"writer: ${e.getMessage}") })
    writer.start()
    try {
      // every read resolves ONE manifest = one complete table version:
      // all 40 keys present and every row from the same upsert batch.
      // BOUNDED: if the writer hangs (the concurrency-bug class this
      // test guards), the loop must fail with a diagnostic after the
      // deadline, not spin the suite forever (r13 test sweep).
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (writer.isAlive && System.nanoTime() < deadline) {
        val rows = Sinks.readUpserted(spark, path)
          .select($"id", $"version").collect()
        if (rows.length != keys.length)
          errs.add(s"partial table: ${rows.length} rows")
        val versions = rows.map(_.getLong(1)).distinct
        if (versions.length != 1)
          errs.add(s"torn snapshot across versions ${versions.mkString(",")}")
      }
      assert(!writer.isAlive,
        "writer still alive after 120 s — upsert hangs under a concurrent reader")
    } finally writer.join(10000L) // bounded: a hung writer must not pin the finally too
    assert(errs.isEmpty, errs.toArray.mkString("; "))
    val finalRead = Sinks.readUpserted(spark, path)
    assert(finalRead.filter($"version" === 5L).count() === keys.length)
  }

  test("bucketed co-located join runs without a shuffle exchange") {
    val wh = tmp()
    val orders = Tables(spark, sf001).orders.select($"o_orderkey", $"o_custkey")
    val items = Tables(spark, sf001).lineitem.select($"l_orderkey", $"l_quantity")
    Sinks.writeBucketed(orders, "b_orders", s"$wh/b_orders", "o_orderkey", 4)
    Sinks.writeBucketed(items.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_items", s"$wh/b_items", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("b_orders").join(spark.table("b_items"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === items.count()) // every lineitem finds its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("S6 streaming upsert via foreachBatch converges and survives replays") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("id", "payload", "version")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sinks.upsertByKey(spark, path, batch, "id", "version")
      }
      .outputMode("update").start()
    try {
      mem.addData((1L, "a", 1L), (2L, "b", 1L)); q.processAllAvailable()
      mem.addData((2L, "b2", 2L), (3L, "c", 1L)); q.processAllAvailable()
      mem.addData((2L, "b2", 2L)); q.processAllAvailable() // replayed update
    } finally q.stop()
    val got = Sinks.readUpserted(spark, path).orderBy($"id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("S1b JSON-lines source round-trips the events relation (schema-on-read)") {
    // the reference's Json columns (schema.prisma:144-163) as a *source*
    // format: write JSONL, read back with the declared schema, lossless
    val path = tmp()
    val ev = Tables(spark, sf001).events
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts_ms")
    ev.write.json(path)
    val back = spark.read.schema(ev.schema).json(path)
    assert(back.count() === ev.count())
    assert(back.exceptAll(ev).count() === 0L)
    assert(ev.exceptAll(back).count() === 0L)
  }

  test("S7 cached source reloads only after TTL") {
    var loads = 0
    val src = new Sinks.CachedSource(
      () => { loads += 1; Seq((1L, "x")).toDF("id", "v") }, ttlMs = 1000L)
    src.get(nowMs = 0L); src.get(nowMs = 500L)
    assert(loads === 1) // within TTL: memoized
    src.get(nowMs = 1500L)
    assert(loads === 2) // expired: reloaded
  }

  test("upsert refuses a key-type change: bucket routing is type-sensitive (r13 sweep)") {
    val path = tmp()
    // first write buckets under INT keys
    Sinks.upsertByKey(spark, path,
      Seq((1, "a", 1L)).toDF("k", "v", "ver"), "k", "ver")
    // the same logical key arriving as LONG would hash to a different
    // bucket — the merge would never see the existing row and publish a
    // permanent duplicate; refused loudly instead
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(spark, path,
        Seq((1L, "b", 2L)).toDF("k", "v", "ver"), "k", "ver")
    }
    assert(e.getMessage.contains("type-sensitive"), e.getMessage)
    // a same-typed upsert still LWW-merges
    Sinks.upsertByKey(spark, path,
      Seq((1, "b", 2L)).toDF("k", "v", "ver"), "k", "ver")
    val rows = Sinks.readUpserted(spark, path)
      .select($"k", $"v").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((1, "b")))
  }

  test("upserts that reap a superseded manifest and its generation fork no process") {
    // ROADMAP item 5's no-fork guard over the upsert reap: manifest
    // listing, create-exclusive publish and the grace-0 delete pass
    val path = tmp()
    def upsert(v: Long) = Sinks.upsertByKey(spark, path,
      Seq((1L, s"p$v", v)).toDF("id", "payload", "version"), "id", "version",
      buckets = 4, graceMs = 0L)
    upsert(0L)
    val g0 = ls(s"$path/data").filter(_.matches(".*/g0-[0-9a-f]{8}$"))
    assert(g0.length === 1)
    val shellForks = hadoopShellForks { upsert(1L); Thread.sleep(5); upsert(2L) }
    assert(!new java.io.File(s"$path/_graft_manifest/m-000000000000.json").exists,
      "the superseded gen-0 manifest was not reaped")
    assert(!new java.io.File(g0.head).exists, "the superseded gen-0 data was not reaped")
    assert(Sinks.readUpserted(spark, path).select($"payload").as[String].collect().toSeq === Seq("p2"))
    assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
  }
}
