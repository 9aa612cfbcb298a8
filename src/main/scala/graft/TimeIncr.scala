package graft

/** Decade measurement for the INCREMENTAL index probes — the artifact
  * behind the `_incr` family's O(increment) claim (SURVEY §6.3/§6.5):
  * build the band index per tier, then probe a FIXED-size increment
  * against each. Build must scale with the corpus; probe must stay
  * ~flat (it reads the increment slice plus pruned index partitions,
  * never the corpus).
  *
  * Usage:
  * {{{
  * sbt "runMain graft.TimeIncr /root/testdata/sf0.1 /tmp/graft-sf1"
  * sbt "runMain graft.TimeIncr family=phash /root/testdata/sf0.1 /tmp/graft-sf1"
  * sbt "runMain graft.TimeIncr spans=500,1000,2000,4000 /tmp/graft-sf1"
  * }}}
  *
  * `family=` selects the index family (minhash default, simhash, phash,
  * embedding) — all four are [[operators.VersionedIndex.IncrFamily]]
  * declarations riding the same [[operators.VersionedIndex.write]]/
  * [[operators.VersionedIndex.probe]] core, so this harness measures the
  * shared machinery under each family's feature kernel.
  *
  * The increment is the FIRST tier's natural 20% id slice; the SAME id
  * count is carved off the top of every later tier's id range, so the
  * probe's input is constant while the indexed corpus grows 10× — the
  * steady-state ingest shape (a day's crawl against a year's corpus).
  * A leading `spans=a,b,...` argument instead sweeps increment id-spans
  * at each tier — the complementary curve (probe cost vs increment size
  * at a ~fixed corpus); each span builds its own index, since the
  * corpus/increment boundary moves with the span.
  * Protocol matches [[TimeQueries]] §6.2: three INTERLEAVED passes per
  * (stage, tier) with min, so one bad host window cannot poison a pair;
  * memoized feature frames are dropped before every sample; probes
  * materialize through the noop sink. Each pass builds into a fresh
  * staging dir (full cold ingest cost) and probes against that build;
  * per-pass times go to stderr, one `INCR` line per tier plus a `RATIO`
  * line to stdout. */
object TimeIncr {

  private val fams = Map(
    "minhash" -> operators.Similarity.minhashIncr,
    "simhash" -> operators.Similarity.simhashIncr,
    "phash" -> operators.Multimodal.phashIncr,
    "embedding" -> operators.Similarity.embeddingIncr)

  /** The ROW-COUNTED frame — what the index actually fingerprints. For
    * phash that is only the image third of the documents ids (doc_id %
    * 3 == 0, Multimodal.media), minus NULL-text docs, which are never
    * fingerprinted (phashFeatOf's payload guard) — counting the full
    * relation would overstate the indexed/probed row basis the INCR line
    * reports ~3× (r13 sweep). */
  private def counted(family: String, src: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    if (family == "phash")
      src.filter(pmod(col("doc_id"), lit(3)) === lit(0) && col("text").isNotNull)
    else src
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: TimeIncr [family=minhash|simhash|phash|embedding] " +
      "[spans=a,b,...] <dir> [dir2 ...]"
    // options are key=value and may appear in any order before the dirs;
    // an unknown key fails loudly rather than silently benchmarking the
    // default family under a typo
    var rest = args.toSeq
    var family = "minhash"
    var spansArg: Option[Seq[Long]] = None
    // an option is `key=value` with a bare identifier key — a jdbc:
    // locator also contains '=' (…?user=graft) and must stay a DIR
    // argument, or the harness can never measure the relational tier
    // the whole stack otherwise supports (r13 sweep)
    while (rest.headOption.exists(a =>
        a.matches("[A-Za-z][A-Za-z0-9_]*=.*") && !a.contains(":"))) {
      val a = rest.head
      rest = rest.tail
      a.split("=", 2) match {
        case Array("family", v) => family = v
        case Array("spans", v) =>
          spansArg = Some(v.split(",").toSeq.map(_.trim.toLong))
        case _ =>
          throw new IllegalArgumentException(s"unknown option '$a'; $usage")
      }
    }
    val fam = fams.getOrElse(family,
      throw new IllegalArgumentException(s"unknown family '$family'; $usage"))
    val dirs = rest
    require(dirs.nonEmpty, usage)
    val spark = Engine.session(appName = "graft-time-incr")
    import org.apache.spark.sql.functions.{col, count, max, when}
    def source(dir: String) = Tables(spark, dir).byName(fam.srcTable)
    val maxIds = dirs.map { dir =>
      val r = source(dir).agg(max(col(fam.srcIdCol))).head()
      require(!r.isNullAt(0), s"empty ${fam.srcIdCol} corpus at $dir")
      dir -> r.getLong(0)
    }.toMap
    val spans = spansArg.getOrElse(Seq(maxIds(dirs.head) / 5)) // natural slice
    // honor the session's shard conf so the harness measures the layout a
    // deployment actually configures — read through the same resolver
    // the production ensure path uses; the probe reads it back from the
    // version name each pass builds under
    val shards = operators.VersionedIndex.confShards(spark)
    val tiers = for (dir <- dirs; span <- spans) yield {
      val split = maxIds(dir) - span
      // the span must carve a real increment out of a real corpus: a
      // span ≥ the tier's max id (oversized spans= arg, or dirs passed
      // largest-first so the head tier's natural slice exceeds a later
      // tier's id range) makes split ≤ 0 — the whole corpus becomes the
      // "increment", corpus=0, and the RATIO line divides by zero — a
      // silently-garbage O(increment) measurement instead of the loud
      // failure every other option here gets (r13 sweep)
      require(span > 0 && split > 0,
        s"span $span must be in (0, max ${fam.srcIdCol}=${maxIds(dir)}) for $dir")
      val cnt = counted(family, source(dir)).agg(
        count(when(col(fam.srcIdCol) >= split, 1)).as("incr"),
        count(when(col(fam.srcIdCol) < split, 1)).as("corpus")).head()
      (dir, split, cnt.getLong(0), cnt.getLong(1))
    }
    val samples = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    for (pass <- 0 until 3; (dir, split, _, _) <- tiers) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-incr-idx").toString
      // a version-named directory: the probe reads the shard count from it
      val idx = s"$tmp/${operators.VersionedIndex.Version(split, 0L, shards).name}"
      // each pass pays the full cold ingest; the finally keeps tier-scale
      // builds from accumulating in tmp even when a pass fails
      try {
        // the FULL registry, not a hand-picked cache: TimeIncr is a
        // cold-measurement harness, and the RunCaches contract is that
        // clearing anything less silently lets a warm survivor deflate
        // the next pass's samples the moment a probed pipeline adopts a
        // new registered cache (r13 sweep)
        operators.RunCaches.clearAll()
        val b0 = System.nanoTime()
        operators.VersionedIndex.write(fam, spark, dir, idx, split, shards)
        val bSec = (System.nanoTime() - b0) / 1e9
        operators.RunCaches.clearAll()
        val p0 = System.nanoTime()
        operators.VersionedIndex.probe(fam, spark, dir, idx, split)
          .write.format("noop").mode("overwrite").save()
        val pSec = (System.nanoTime() - p0) / 1e9
        samples(("build", s"$dir@$split")) =
          bSec :: samples(("build", s"$dir@$split"))
        samples(("probe", s"$dir@$split")) =
          pSec :: samples(("probe", s"$dir@$split"))
        System.err.println(
          f"[incr] $family pass $pass $dir split=$split build=$bSec%.2f s probe=$pSec%.2f s")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(tmp))
    }
    for ((dir, split, rows, corpus) <- tiers) {
      val b = samples(("build", s"$dir@$split")).min
      val p = samples(("probe", s"$dir@$split")).min
      println(f"INCR family=$family $dir corpus=$corpus incrRows=$rows split=$split " +
        f"shards=$shards build=$b%.3f probe=$p%.3f")
    }
    if (spans.length == 1 && dirs.length >= 2) {
      val k0 = s"${tiers.head._1}@${tiers.head._2}"
      val kN = s"${tiers.last._1}@${tiers.last._2}"
      println(f"RATIO family=$family corpus=${tiers.last._4.toDouble / tiers.head._4}%.2f " +
        f"build=${samples(("build", kN)).min / samples(("build", k0)).min}%.2f " +
        f"probe=${samples(("probe", kN)).min / samples(("probe", k0)).min}%.2f")
    }
    spark.stop()
  }
}
