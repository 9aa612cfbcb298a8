package graft

/** Decade measurement for the INCREMENTAL index probes — the artifact
  * behind the `_incr` family's O(increment) claim (SURVEY §6.3/§6.5):
  * build the band index per tier, then probe a FIXED-size increment
  * against each. Build must scale with the corpus; probe must stay
  * ~flat (it reads the increment slice plus pruned index partitions,
  * never the corpus).
  *
  * Usage, over tiers a decade apart (`/tmp/graft-sf1` is what
  * `runMain graft.MakeTier <sf0.1> /tmp/graft-sf1 10` writes):
  * {{{
  * sbt "runMain graft.TimeIncr /root/testdata/sf0.1 /tmp/graft-sf1"
  * sbt "runMain graft.TimeIncr family=phash /root/testdata/sf0.1 /tmp/graft-sf1"
  * sbt "runMain graft.TimeIncr spans=500,1000,2000,4000 /tmp/graft-sf1"
  * }}}
  * A ratio run refuses tiers whose corpus does not grow ([[requireGrowing]]).
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
  * Protocol as in [[Bench]] and [[TimeQueries]]: [[Bench.interleaved]]
  * runs three passes over every (stage, tier) pair, each tier's build
  * then its probe, so one bad host window cannot poison a pair; memoized
  * feature frames are dropped before every sample; probes materialize
  * through the noop sink. Each pass builds into a fresh staging dir (full
  * cold ingest cost) and probes against that build. A failed sample is a
  * −1 marker and its pair is not run again (a failed build leaves its
  * probes nothing to read); the other tiers go on. Per-pass times go to
  * stderr, one `INCR` line per tier plus a `RATIO` line to stdout
  * ([[report]]). */
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

  /** One tier of the run: the increment is every id ≥ `split`. */
  private[graft] final case class Tier(dir: String, split: Long, incrRows: Long,
      corpus: Long) {
    def key: String = s"$dir@$split"
  }

  /** The stdout lines: one `INCR` per tier, a stage with no valid sample
    * reading `FAILED`, then, when `ratio`, a `RATIO` of the last tier over
    * the first unless a stage failed at either end — as [[TimeQueries]]
    * prints a pair. `samples` are keyed `"<stage> <tier key>"`. */
  private[graft] def report(family: String, shards: Int, tiers: Seq[Tier],
      samples: Map[String, Seq[Double]], ratio: Boolean): Seq[String] = {
    def min(stage: String, t: Tier) =
      TimeQueries.minValid(samples.getOrElse(s"$stage ${t.key}", Nil))
    val incr = tiers.map(t =>
      s"INCR family=$family ${t.dir} corpus=${t.corpus} incrRows=${t.incrRows} " +
        s"split=${t.split} shards=$shards ${TimeQueries.cell("build", min("build", t))} " +
        TimeQueries.cell("probe", min("probe", t)))
    val (first, last) = (tiers.head, tiers.last)
    val ratioLine = for {
      b <- TimeQueries.ratioOf(min("build", first), min("build", last)) if ratio
      p <- TimeQueries.ratioOf(min("probe", first), min("probe", last))
    } yield f"RATIO family=$family corpus=${last.corpus.toDouble / first.corpus}%.2f " +
      f"build=$b%.2f probe=$p%.2f"
    incr ++ ratioLine
  }

  /** A ratio over tiers needs each tier's corpus larger than the one
    * before it; a flat pair would print `RATIO … corpus=1.00` and claim
    * nothing. Fails naming both tiers. */
  private[graft] def requireGrowing(tiers: Seq[Tier]): Unit =
    tiers.zip(tiers.drop(1)).foreach { case (a, b) =>
      require(b.corpus > a.corpus,
        s"tier ${b.dir} (corpus=${b.corpus}) is no larger than ${a.dir} " +
          s"(corpus=${a.corpus}): a ratio needs growing tiers, e.g. from graft.MakeTier")
    }

  def main(args: Array[String]): Unit = {
    val a = Bench.mainArgs(args.toSeq, Set("family", "spans"),
      "usage: TimeIncr [family=minhash|simhash|phash|embedding] " +
        "[spans=a,b,...] <dir> [dir2 ...]")
    val family = a.opts.getOrElse("family", "minhash")
    val spansArg = a.list("spans").map(_.map(v =>
      v.toLongOption.getOrElse(a.fail(s"spans= wants integers, got '$v'"))))
    val fam = fams.getOrElse(family, a.fail(s"unknown family '$family'"))
    val dirs = a.positional
    require(dirs.nonEmpty, a.usage)
    val spark = Engine.session(appName = "graft-time-incr")
    import org.apache.spark.sql.functions.{col, count, max, when}
    def source(dir: String) = Tables(spark, dir).byName(fam.srcTable)
    val maxIds = dirs.map { dir =>
      val r = source(dir).agg(max(col(fam.srcIdCol))).head()
      require(!r.isNullAt(0), s"empty ${fam.srcIdCol} corpus at $dir")
      dir -> r.getLong(0)
    }.toMap
    val spans = spansArg.getOrElse(Seq(maxIds(dirs.head) / 5)) // natural slice
    // the production ensure path's shard count; the probe reads it back
    // from the version name each pass builds under
    val shards = operators.VersionedIndex.bucketShards
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
      Tier(dir, split, cnt.getLong(0), cnt.getLong(1))
    }
    val ratio = spans.length == 1 && dirs.length >= 2
    if (ratio) requireGrowing(tiers)
    // each tier's staging dir of the current pass: its build creates it,
    // its probe deletes it, and the finally deletes what a failure left
    val staged = scala.collection.mutable.Map.empty[Tier, java.io.File]
    def unstage(t: Tier): Unit =
      staged.remove(t).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    // a version-named directory: the probe reads the shard count from it
    def index(t: Tier): String = {
      val tmp = staged.getOrElse(t, sys.error(s"no index built for ${t.key} this pass"))
      s"$tmp/${operators.VersionedIndex.Version(t.split, 0L, shards).name}"
    }
    // the FULL registry, not a hand-picked cache: TimeIncr is a
    // cold-measurement harness, and the RunCaches contract is that
    // clearing anything less silently lets a warm survivor deflate the
    // next pass's samples the moment a probed pipeline adopts a new
    // registered cache (r13 sweep)
    def timed(body: => Unit): Double = {
      operators.RunCaches.clearAll()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val samples = try Bench.interleaved(
        for (t <- tiers; stage <- Seq("build", "probe")) yield (stage, t),
        passes = 3, s"incr $family") { case (stage, t) => s"$stage ${t.key}" } {
      case ("build", t) =>
        unstage(t) // the last pass's build, when its probe no longer runs
        staged(t) = java.nio.file.Files.createTempDirectory("graft-incr-idx").toFile
        try timed(operators.VersionedIndex.write(fam, spark, t.dir, index(t), t.split, shards))
        catch { case e: Throwable => unstage(t); throw e }
      case (_, t) =>
        try timed(operators.VersionedIndex.probe(fam, spark, t.dir, index(t), t.split)
          .write.format("noop").mode("overwrite").save())
        finally unstage(t)
    } finally staged.keys.toSeq.foreach(unstage)
    report(family, shards, tiers, samples, ratio)
      .foreach(println)
    spark.stop()
  }
}
