package graft

import java.io.File
import java.nio.file.{Files, Paths}

import graft.operators.{IngestIncr, VersionedIndex}
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Layouts written before `graft.Published` existed are adopted as they
  * are. Each one is built by hand from literal names and bytes, never
  * from Published's own constants, so renaming a marker, a generation
  * name or a marker body fails here. */
class PublishedSpec extends SparkSpec {

  import spark.implicits._

  private def tree(root: File): Seq[(String, Long)] =
    (root.toString -> root.lastModified()) +:
      Option(root.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(tree)

  test("an index version published with an empty _PUBLISHED is adopted: nothing built, nothing touched") {
    val indexBase = tempDir("graft-adopt-idx").toString
    val dirHash = f"${scala.util.hashing.MurmurHash3.stringHash(sf001) & 0xffffffffL}%08x"
    val base = new File(indexBase,
      "graft-adopt-idx-" + sf001.replaceAll("[^A-Za-z0-9.]", "_") + "-" + dirHash)
    val maxId = spark.read.parquet(s"$sf001/documents.parquet").agg(max($"doc_id")).head().getLong(0)
    val token = Tables.newestMtime(spark, s"$sf001/documents.parquet")
    val ver = new File(base, s"v${maxId - maxId / 5}-$token-s32")
    new File(ver, "part").mkdirs()
    Files.write(Paths.get(s"$ver/part/part-00000.parquet"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(s"$ver/_PUBLISHED"), Array.emptyByteArray)
    // an old stale sibling: adoption builds nothing, so it reaps nothing
    val stale = new File(base, "v1-1-s32")
    stale.mkdirs()
    stale.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000)
    val before = tree(base)
    spark.conf.set("spark.graft.minhash.indexBase", indexBase)
    val (path, split) =
      try VersionedIndex.ensureVersioned(spark, sf001, "adopt", Seq("part")) { (_, _, _) =>
        fail("ensure rebuilt an index the earlier layout had published")
      } finally spark.conf.unset("spark.graft.minhash.indexBase")
    assert(path === ver.toString && split === maxId - maxId / 5)
    assert(tree(base) === before)
  }

  test("an admission state of gen<n>/_COMMIT '<max>;' plus a committed b<id> tail is resolved") {
    val (idx, split) = IngestIncr.ensurePipeIngestIndex(spark, sf001)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter($"doc_id" >= split)
      .select($"doc_id", $"source", $"lang", $"text").orderBy($"doc_id")
      .as[(Long, String, String, String)].collect().toSeq
    val statePath = tempDir("graft-adopt-st").toString + "/state"
    val outPath = tempDir("graft-adopt-out").toString + "/out"
    def plant(dir: String, fp: String, keeper: Long, bucket: Long, max: Long): Unit = {
      Seq((fp, keeper)).toDF("fp", "keeper").write.parquet(s"$statePath/$dir/fps")
      Seq((0, bucket, keeper)).toDF("band", "bucket", "keeper")
        .write.parquet(s"$statePath/$dir/bands")
      Seq((keeper, Seq(fp))).toDF("doc_id", "toks").write.parquet(s"$statePath/$dir/toks")
      Files.write(Paths.get(s"$statePath/$dir/_COMMIT"), s"$max;".getBytes("UTF-8"))
    }
    plant("gen3", "fpA", 1L, 7L, docs(0)._1)
    plant("b4", "fpB", 2L, 8L, docs(1)._1)
    val (state, gen, tail) = IngestIncr.stateSnapshot(spark, statePath)
    assert(gen === Some(3L) && tail === 1)
    assert(state.fps.as[(String, Long)].collect().toSet === Set("fpA" -> 1L, "fpB" -> 2L))
    assert(state.bands.count() === 2 && state.toks.count() === 2)
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "source", "lang", "text")
    // the running max is the tail's: docs(1) is already admitted
    val e = intercept[IllegalArgumentException] {
      IngestIncr.admitMicroBatch(spark, df(docs.slice(1, 2)), 5L, idx, split, statePath, outPath)
    }
    assert(e.getMessage.contains(s"already-admitted max ${docs(1)._1}"), e.getMessage)
    IngestIncr.admitMicroBatch(spark, df(docs.slice(2, 4)), 5L, idx, split, statePath, outPath)
    assert(new String(Files.readAllBytes(Paths.get(s"$statePath/b5/_COMMIT")), "UTF-8") ===
      s"${docs(3)._1};")
    assert(spark.read.parquet(s"$outPath/batch=5").count() === 2)
  }

  test("a legacy upsert manifest (bare numeric map value, no keyType) is read, and the next upsert publishes gen 1") {
    val path = tempDir("graft-adopt-upsert").resolve("t").toString
    val ids = spark.range(0, 200).select($"id", pmod(xxhash64($"id"), lit(4L)).cast("int").as("b"))
      .filter($"b" === 1).select($"id").as[Long].collect().take(3).toSeq
    assert(ids.size === 3)
    ids.map(i => (i, s"legacy$i", 1L)).toDF("id", "payload", "version")
      .write.parquet(s"$path/data/g0/__b=1")
    Files.createDirectories(Paths.get(s"$path/_graft_manifest"))
    Files.write(Paths.get(s"$path/_graft_manifest/m-000000000000.json"),
      """{"gen":0,"buckets":4,"map":{"1":"0"}}""".getBytes("UTF-8"))
    def rows() = Sinks.readUpserted(spark, path).select($"id", $"payload")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows() === ids.sorted.map(i => i -> s"legacy$i"))
    Sinks.upsertByKey(spark, path,
      Seq((ids.head, "fresh", 2L)).toDF("id", "payload", "version"), "id", "version")
    val m1 = Paths.get(s"$path/_graft_manifest/m-000000000001.json")
    assert(Files.isRegularFile(m1), "the next upsert did not publish gen 1")
    assert(new String(Files.readAllBytes(m1), "UTF-8")
      .matches("""\{"gen":1,"buckets":4,"keyType":"BIGINT","map":\{"1":"g1-[0-9a-f]{8}"\}\}"""))
    assert(rows() === ids.sorted.map(i => i -> (if (i == ids.head) "fresh" else s"legacy$i")))
  }
}
