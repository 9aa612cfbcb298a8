package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints the run's record for the driver: a full JSON line, then the
  * compact summary object behind a `[bench-json] ` marker, then the
  * summary line itself, last.
  *
  * One measurement protocol for every tier, fixed before the run starts:
  * each query is timed cold through the noop sink ([[timeOnce]]) in a
  * fixed number of INTERLEAVED passes over the whole suite ([[interleaved]]),
  * pass 0 is the warm-up, and each query reports the min of its measured
  * passes ([[minMeasured]]). Interleaving puts a query's samples a whole
  * suite apart, so a load window of the host rarely covers all of them.
  * Nothing is read from earlier records, nothing sleeps, and no pass is
  * added because of what a pass measured: the record says how noisy the
  * host was instead (`steal_frac` and `cpus` on both lines, `wall_sec`
  * and the per-tier sample spreads on the summary line), so a reader
  * adjudicates noise from the record alone.
  *
  * Tiers (the scale tiers only when the primary dir is the driver's sf0.1):
  *  - the primary dir: the headline suite, 3 passes; `value` is the sum
  *    over the healthy queries of the min of passes 1–2.
  *  - sf1: a 10× tier synthesized once into a cached tmp dir
  *    ([[ensureSf1]]), 3 passes; `sf1_ratio_vs_sf01` is one measured
  *    decade of scaling. `SPARK_GRAFT_SF1=0` skips it.
  *  - sf10: a 100× tier ([[ensureSf10]]), the five most expensive
  *    queries, 2 passes; `sf10_ratio_vs_sf1` is the second decade.
  *    `SPARK_GRAFT_SF10=0` skips it.
  * Both scale tiers run through one runner (`scaleTier` in [[main]]),
  * which GCs before each sample ([[timeAfterGc]]). A linear plan lands
  * ≤ ~12× per decade; a ratio past that, and the worst sf1 ratio of the
  * run, dumps its final plan and stage times to stderr
  * ([[dumpDiagnostic]], the same [[Explain.dump]] that
  * `runMain graft.Explain` writes on demand). The scale tiers are
  * additive JSON keys; their failure never corrupts the primary metric.
  * [[TimeQueries]] runs this protocol ([[timeAfterGc]], [[interleaved]])
  * for any catalog queries over any tiers — the full-catalog sf10 sweep
  * is `TimeQueries passes=1 all <sf10Dir>` — and [[TimeIncr]] interleaves
  * the incremental index build and probe the same way.
  */
object Bench {

  /** Diagnostic dump for the scale tiers' ratio triggers: re-executes `q`
    * over `dir` once through [[Explain.dump]] and prints its sections to
    * stderr. Returns the re-execution's wall seconds, −1 when the dump
    * failed; it goes in the record as `diag_wall`. The dump runs minutes
    * after the contested samples, so when a load window caused the slow
    * passes this wall lands near the quiet-host time, and a genuinely
    * slow query confirms its passes once more. A diagnostic failure never
    * discards the measurements it annotates. */
  private def dumpDiagnostic(spark: SparkSession, q: QueryDef, dir: String,
      tag: String, why: String): Double =
    scala.util.Try {
      val d = Explain.dump(spark, q, dir)
      System.err.println(f"[bench] $tag ${q.name} $why; diag re-execution wall ${d.wall}%.2f s\n" +
        d.render(s"$tag ${q.name}"))
      d.wall
    }.recover { case e =>
      System.err.println(s"[bench] $tag ${q.name} $why; plan dump failed: ${e.getMessage}")
      -1.0
    }.get

  /** `passes` interleaved passes over `keys`: pass 0 of every key, then
    * pass 1 of every key, and so on. `sample` times one key; a key whose
    * sample throws gets a −1 marker for that pass and is not run again,
    * so a key that dies mid-run keeps the samples it produced. Samples
    * are returned, and printed to stderr as they land, under `label`. */
  private[graft] def interleaved[K](keys: Seq[K], passes: Int, tag: String)(
      label: K => String)(sample: K => Double): Map[String, Seq[Double]] = {
    val bufs = keys.map(k =>
      label(k) -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    for (p <- 0 until passes; k <- keys) {
      val buf = bufs(label(k))
      if (!buf.contains(-1.0))
        try {
          val t = sample(k)
          System.err.println(f"[bench] $tag ${label(k)} pass $p: $t%.2f s")
          buf += t
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $tag ${label(k)} pass $p failed: ${e.getMessage}")
          buf += -1.0
        }
    }
    bufs.map { case (k, v) => k -> v.toSeq }
  }

  /** A query's reported time: the min of its measured passes (all but
    * the pass-0 warm-up); −1 when a pass failed or none was measured. */
  private[graft] def minMeasured(samples: Seq[Double]): Double =
    if (samples.size < 2 || samples.contains(-1.0)) -1.0 else samples.tail.min

  /** Share of the host's CPU ticks stolen between two aggregate `cpu`
    * lines of `/proc/stat` — the delta perfbench's `cpu_ticks` takes:
    * steal over the sum of every counter, steal being the eighth. None
    * when a line is not an aggregate `cpu` line or has no steal column:
    * a signal the kernel does not count is left out, not read as 0. */
  private[graft] def stealFrac(start: String, end: String): Option[Double] = {
    def ticks(line: String): Option[Seq[Long]] = scala.util.Try {
      val f = line.trim.split("\\s+").toSeq
      require(f.head == "cpu" && f.size > 8)
      f.tail.map(_.toLong)
    }.toOption
    for (a <- ticks(start); b <- ticks(end)) yield {
      val d = a.zip(b).map { case (x, y) => y - x }
      math.round(d(7).toDouble / math.max(1L, d.sum) * 10000) / 10000.0
    }
  }

  /** The aggregate `cpu` line of `/proc/stat`; None where it is unreadable. */
  private def procStatCpu(): Option[String] = scala.util.Try {
    val r = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get("/proc/stat"))
    try r.readLine() finally r.close()
  }.toOption

  /** `{"name":[s0,s1,s2,…]}` — every raw timing sample per query, emitted
    * into the bench record itself (`queries_samples` / `sf1_passes`), so
    * any number is attributable from the artifact alone: consistent
    * samples = real cost, one slow outlier among fast ones = a load
    * window. Insertion order = the given order; a failed sample is a -1
    * marker IN PLACE, so "ran twice then died" keeps its two real samples
    * and differs from "never ran" (an empty array). */
  private[graft] def samplesJson(names: Seq[String],
      samples: collection.Map[String, collection.Seq[Double]]): String =
    names.map { n =>
      val vs = samples.getOrElse(n, Nil)
      // values are quantized to 3 decimals (sub-ms noise is meaningless
      // here) and rendered via Double.toString — locale-proof, and the
      // -1 failure markers survive as-is
      Verify.jsonStr(n) + ":[" + vs.map(v => math.round(v * 1000) / 1000.0).mkString(",") + "]"
    }.mkString("{", ",", "}")

  /** Worst per-query sample spread (max/min over valid samples) across
    * the suite — the record's window-quality indicator, on the compact
    * summary line: interleaved samples of one query land minutes apart,
    * so a healthy host reads ~1.0-1.3× while a load window shows up as a
    * 3-18× spread (r13's sf1 j1 passes [44.63, 3.95, 2.53] = 17.6×).
    * `skipFirst` drops the warm-up sample where it measures JIT, not the
    * host (sf0.1, the first execution of every plan); the sf1 tier runs
    * after sf0.1 warmed the JIT, so its pass-0 spread IS host signal.
    * 0.0 when no query has two valid samples. */
  private[graft] def maxSpread(samples: Iterable[collection.Seq[Double]],
      skipFirst: Boolean): Double = {
    val spreads = samples.iterator
      .map(ss => (if (skipFirst) ss.drop(1) else ss).filter(_ > 0))
      .filter(_.size >= 2).map(ss => ss.max / ss.min)
    if (spreads.isEmpty) 0.0
    else math.round(spreads.max * 100) / 100.0
  }

  /** The two stdout record lines, built from pre-rendered JSON parts.
    * The FULL line carries everything including the per-sample evidence
    * (`queries_samples`, `sf1_passes`); the COMPACT summary line repeats
    * only the headline numbers plus a `"summary":true` marker and
    * `summaryExtra` (wall_sec, spreads). The summary is printed LAST: the
    * round's artifact keeps the trailing bytes of the run's output
    * (r8's record outgrew it and lost its head), so truncation can only
    * ever eat the reconstructible evidence fields, never the
    * measurements. Package-private so the spec pins both shapes. */
  private[graft] def recordLines(total: Double, qs: String, qSamples: String,
      sfDir: String, sf1Full: String, sf1Summary: String,
      extraBoth: String = "", summaryExtra: String = ""): (String, String) = {
    // sfDir is the one free-text string in these driver-parsed lines —
    // escape it (shared rule with oracle_sql.json) so a quote or
    // backslash in the path can't invalidate the round's record
    val sfJ = Verify.jsonStr(sfDir)
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""queries_samples":$qSamples,"sf":$sfJ$extraBoth$sf1Full}""",
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":$sfJ$extraBoth$sf1Summary$summaryExtra,"summary":true}""")
  }

  /** One cold timed run of `q` over `dir` through the noop sink — THE
    * measurement protocol, shared with [[TimeQueries]] (its protocol
    * twin) so a change here (e.g. the RunCaches clearing, added r6)
    * cannot silently leave the twin measuring something else. Memoized
    * dedup feature frames, Bloom broadcasts and kernel state are dropped
    * first so every sample pays the full cold pipeline; the noop sink
    * materializes every row without write cost. */
  private[graft] def timeOnce(spark: SparkSession)(q: QueryDef, dir: String): Double = {
    graft.operators.RunCaches.clearAll()
    val t0 = System.nanoTime()
    q.run(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** [[timeOnce]] after a System.gc(), so Spark's ContextCleaner drains
    * the previous query's debris outside the timed region — the sample
    * of the scale tiers and of [[TimeQueries]]. */
  private[graft] def timeAfterGc(spark: SparkSession)(q: QueryDef, dir: String): Double = {
    System.gc()
    timeOnce(spark)(q, dir)
  }

  /** Synthesizes an N× tier from sf0.1 by key-offset replication:
    * fact tables (lineitem, orders, customer, events, documents,
    * embeddings) get `copies` copies with join keys offset per copy — FK
    * pairs (l_orderkey↔o_orderkey, o_custkey↔c_custkey) offset together
    * so join fan-out is preserved — while dimension tables (nation,
    * region, part, supplier) stay fixed, the realistic shape (dims grow
    * slower than facts) that also keeps broadcast dims broadcast-able.
    * Copy 0 keeps original ids, so id-anchored semantics (the 5 query
    * vectors, keeper elections) still resolve. Idempotent via a marker
    * file. sf1 (10×) backs the per-round scaling ratios; sf10 (100×,
    * r14 verdict #1) adds the SECOND measured decade behind the 100 TB
    * plan-shape claims. */
  def ensureSf1(spark: SparkSession, sf01Dir: String, outDir: String): Unit =
    ensureScaled(spark, sf01Dir, outDir, copies = 10, "_GRAFT_SF1_READY_v3")

  def ensureSf10(spark: SparkSession, sf01Dir: String, outDir: String): Unit =
    ensureScaled(spark, sf01Dir, outDir, copies = 100, "_GRAFT_SF10_READY_v1")

  /** sf100 (1000×, ~600M lineitem rows, ~17 GB): the THIRD measured
    * decade. NEVER run by the per-round Bench (generation is minutes of
    * write I/O — it would blow the driver's wall budget); generated on
    * demand via [[MakeTier]] and probed with TimeQueries — SURVEY
    * §6.13. Derived from the CACHED sf10 tier ×10 (ensured first),
    * not from sf0.1 ×1000: the driver's sf0.1 facts are single-file,
    * so a ×1000 explode runs as ONE task for hours (the §6.2 layout
    * lesson, re-learned on the generator itself — measured ~1 core
    * busy, 32 GB of spill, no output after 20 min), while the sf10
    * facts are 32 files and the same job parallelizes. The copy offset
    * is 1e12 — ABOVE sf10's own key ceiling (99 × 1e10 + source keys),
    * so replica key ranges cannot collide — and 9 × 1e12 stays inside
    * every Long-keyed kernel's envelope. */
  def ensureSf100(spark: SparkSession, sf01Dir: String, outDir: String,
      // SPARK_GRAFT_SF10_DIR, as in Bench's sf10 tier — a host whose sf10
      // cache lives elsewhere must not get a drifting duplicate under /tmp
      sf10Dir: String = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft-sf10")): Unit = {
    ensureSf10(spark, sf01Dir, sf10Dir)
    ensureScaled(spark, sf10Dir, outDir, copies = 10,
      "_GRAFT_SF100_READY_v2", off = 1000000000000L)
  }

  private def ensureScaled(spark: SparkSession, sf01Dir: String,
      outDir: String, copies: Int, markerName: String,
      off: Long = 10000000000L): Unit = {
    // marker is generator-versioned: a layout change (v2 = 32-file facts,
    // v3 = single-file dims)
    // must invalidate a cached tier built by an older generator
    val marker = new java.io.File(s"$outDir/$markerName")
    // staleness guard: regenerate when the source tier is newer than the
    // cached marker (driver may regenerate test data between rounds).
    // Max over EVERY source table this tier copies — the six replicated
    // facts AND the four copied dims: the driver has regenerated single
    // tables before (events.ts encoding in r9), and a facts-only key
    // would keep serving the OLD copy of a regenerated dim — sf1 ratios
    // computed over mismatched tiers with no error (r13 sweeps).
    val srcMtime = Seq("lineitem", "orders", "customer", "events",
      "documents", "embeddings", "nation", "region", "part", "supplier").map { t =>
      val d = new java.io.File(s"$sf01Dir/$t.parquet")
      if (d.isDirectory)
        (d.lastModified +: d.listFiles().map(_.lastModified).toSeq).max
      else d.lastModified
    }.max
    if (marker.exists() && marker.lastModified() >= srcMtime) return
    marker.delete()
    val t = Tables(spark, sf01Dir)
    // default off (1e10) sits far above any sf0.1 key (100 copies stay
    // < 2^40); the sf100 derivation passes 1e12 — above the sf10 tier's
    // own bumped-key ceiling (see ensureSf100)
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("__c", explode(sequence(lit(0L), lit(copies - 1L))))
    def bump(c: String): org.apache.spark.sql.Column =
      (col(c) + col("__c") * lit(off)).as(c)
    // facts are written as 32 files: the driver's source tier is a single
    // one-row-group file, which caps every scan (and the whole codegen'd
    // scan→filter→partial-agg map stage fused to it) at ONE task — at
    // 10× the rows that serialized stage dominates wall-clock on a
    // 32-core box and measures nothing about the plan. Real 100 TB
    // tables are many-file; the scale tier should be too.
    def write(df: DataFrame, name: String, numFiles: Int = 32): Unit =
      df.drop("__c").repartition(numFiles)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    write(replicate(t.lineitem).select(
      bump("l_orderkey") +: t.lineitem.columns.filterNot(_ == "l_orderkey")
        .map(col).toIndexedSeq: _*), "lineitem")
    write(replicate(t.orders).select(
      bump("o_orderkey") +: bump("o_custkey") +:
        t.orders.columns.filterNot(Set("o_orderkey", "o_custkey"))
          .map(col).toIndexedSeq: _*), "orders")
    write(replicate(t.customer).select(
      bump("c_custkey") +: t.customer.columns.filterNot(_ == "c_custkey")
        .map(col).toIndexedSeq: _*), "customer")
    // events.ts is read as epoch-nanos Long (legacy nanosAsLong) and
    // written back as PLAIN int64 (no TIMESTAMP(NANOS) annotation);
    // Tables.events only ever does integer math on it, so the round-trip
    // is transparent to every Spark consumer. It is NOT oracle-compatible:
    // DuckDB would read this ts as BIGINT, so epoch_ms(ts)/CAST(ts AS DATE)
    // oracle SQL must never run against the sf1 dir (Bench only times it)
    val ev = spark.read.parquet(s"$sf01Dir/events.parquet")
    write(replicate(ev).select(
      bump("event_id") +: bump("user_id") +:
        ev.columns.filterNot(Set("event_id", "user_id"))
          .map(col).toIndexedSeq: _*), "events")
    write(replicate(t.documents).select(
      bump("doc_id") +: t.documents.columns.filterNot(_ == "doc_id")
        .map(col).toIndexedSeq: _*), "documents")
    write(replicate(t.embeddings).select(
      bump("vec_id") +: t.embeddings.columns.filterNot(_ == "vec_id")
        .map(col).toIndexedSeq: _*), "embeddings")
    // dims stay ONE file each: they are broadcast, not scanned in
    // parallel, and spraying 25 rows over 32 tiny files only adds
    // fixed task/file-open noise to every query of the tier
    for (dim <- Seq("nation", "region", "part", "supplier"))
      write(spark.read.parquet(s"$sf01Dir/$dim.parquet"), dim, numFiles = 1)
    marker.createNewFile()
  }

  /** The five most expensive headline queries, timed on the sf10 tier. */
  private val sf10Probes = Seq("q1_agg", "j1_fk_join", "j2_broadcast_lookup",
    "dd_minhash", "sim_lsh_topk")

  /** What one scale tier measured: each query's [[minMeasured]] time and
    * its ratio to the tier below, every raw sample, and the seconds the
    * tier's synthesis took (near 0 for a cached tier). */
  private final case class ScaleTier(mins: Seq[(String, Double)],
      ratios: Seq[(String, Double)], samples: Map[String, Seq[Double]],
      genSec: Double) {
    def total: Double = mins.map(_._2).filter(_ >= 0).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "graft-bench")
    val runStart = System.nanoTime()
    val cpuStart = procStatCpu()

    val headline = QueryDef.catalogs.filter(_.headline)
    def json(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val bufs = interleaved(headline, passes = 3, "sf0.1")(_.name)(timeOnce(spark)(_, sfDir))
    val results = headline.map(q => q.name -> minMeasured(bufs(q.name)))
    val sf01Armed = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    // every diagnostic dump's re-execution wall, keyed "tier:query" —
    // recorded on BOTH lines as `diag_wall` so the adjudication the dump
    // prints to (truncated) stderr survives in the artifact: a wall near
    // the measured passes confirms them, a much lower one says the
    // passes ran in a load window
    val diagWalls = scala.collection.mutable.LinkedHashMap[String, Double]()

    /** Resets every piece of cross-query state the primary tier leaves
      * behind, so a later tier measures steady-state plans, not
      * accumulated debris. The explicit System.gc() matters on big-heap
      * drivers: Spark's ContextCleaner reclaims shuffle files, broadcast
      * blocks and unpersisted RDDs only when JVM GC runs, and a 50 GiB+
      * heap may not GC for the whole bench — r3's driver-recorded
      * j2@sf1 = 38.75× (vs 5.9× isolated, same plan) was exactly this
      * cross-tier contamination, invisible at the default 8g heap. */
    def resetBetweenTiers(): Unit = {
      graft.operators.RunCaches.clearAll()
      spark.catalog.clearCache()
      System.gc()
    }
    // one decade's scaling ratio, 2 decimals; -1 when either side failed
    def ratio(v: Double, base: Double): Double =
      if (v >= 0 && base > 0) math.round(v / base * 100) / 100.0 else -1.0
    val total = results.map(_._2).filter(_ >= 0).sum

    /** One scale tier, only when the primary dir is sf0.1 and skipped when
      * `skip` is "0"; a failure prints and yields None. `ensure` caches
      * the tier in `dir`, the cross-tier state is reset, and `queries`
      * run `passes` interleaved passes of [[timeAfterGc]]; each ratio is
      * one decade's min over `base`, the tier below (linear ≤ ~12×). A
      * ratio past 12, and with `dumpWorst` the worst ratio (r5/r6's
      * dd_minhash sat below every other trigger), gets a
      * [[dumpDiagnostic]]. */
    def scaleTier(tag: String, skip: Option[String], dir: String,
        ensure: (SparkSession, String, String) => Unit, queries: Seq[QueryDef],
        passes: Int, base: Map[String, Double], dumpWorst: Boolean): Option[ScaleTier] =
      if (!sf01Armed || skip.contains("0")) None
      else try {
        val g0 = System.nanoTime()
        ensure(spark, sfDir, dir)
        val genSec = (System.nanoTime() - g0) / 1e9
        resetBetweenTiers()
        val samples = interleaved(queries, passes, tag)(_.name)(timeAfterGc(spark)(_, dir))
        val mins = queries.map(q => q.name -> minMeasured(samples(q.name)))
        val ratios = mins.map { case (k, v) => k -> ratio(v, base.getOrElse(k, -1.0)) }
        val worstKey =
          if (dumpWorst) ratios.filter(_._2 > 0).sortBy(-_._2).headOption.map(_._1)
          else None
        for ((q, (k, r)) <- queries.zip(ratios) if r > 12.0 || worstKey.contains(k)) {
          val why = ((if (r > 12.0) Seq(f"ratio $r%.2f > 12") else Nil) ++
            (if (worstKey.contains(k)) Seq(f"worst $tag ratio this round ($r%.2fx)")
             else Nil)).mkString(", ")
          val perPass = samples(k).map(s => f"$s%.2f").mkString(" / ")
          diagWalls(s"$tag:$k") =
            dumpDiagnostic(spark, q, dir, tag, s"$why; passes $perPass s")
        }
        Some(ScaleTier(mins, ratios, samples, genSec))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $tag tier skipped: ${e.getMessage}")
        None
      }

    // sf1: a 10× tier, the headline suite. sf10: a 100× tier (~60M
    // lineitem rows), the five most expensive headline queries, a warm-up
    // and one measured pass — evidence that every non-sort-bound plan
    // stays sub-linear across TWO measured decades, not a binding number
    val sf1 = scaleTier("sf1", sys.env.get("SPARK_GRAFT_SF1"),
      sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1"), ensureSf1,
      headline, passes = 3, base = results.toMap, dumpWorst = true)
    val sf10 = scaleTier("sf10", sys.env.get("SPARK_GRAFT_SF10"),
      sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft-sf10"), ensureSf10,
      headline.filter(q => sf10Probes.contains(q.name)), passes = 2,
      base = sf1.fold(Map.empty[String, Double])(_.mins.toMap), dumpWorst = false)
    // sf1's totals and ratios go on both lines, its per-pass samples and
    // synthesis time on the full line only; sf10's fields, rounded, on both
    val sf1Summary = sf1.fold("")(t =>
      s""","sf1_total":${t.total},"sf1_queries":${json(t.mins)},""" +
        s""""sf1_ratio_vs_sf01":${json(t.ratios)}""")
    val sf1Section = sf1.fold("")(t => sf1Summary +
      s""","sf1_passes":${samplesJson(headline.map(_.name), t.samples)},""" +
      s""""sf1_gen_sec":${t.genSec}""")
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val sf10Both = sf10.fold("")(t =>
      s""","sf10_total":${r3(t.total)},""" +
        s""""sf10_queries":${json(t.mins.map { case (k, v) => k -> r3(v) })},""" +
        s""""sf10_ratio_vs_sf1":${json(t.ratios)},""" +
        s""""sf10_gen_sec":${math.round(t.genSec * 10) / 10.0}""")
    // pass-0 spread IS host signal on sf1: the sf0.1 tier already warmed
    // the JIT for every plan (see [[maxSpread]])
    val sf1Spread = sf1.fold(0.0)(t => maxSpread(t.samples.values, skipFirst = false))

    // a -1 (died) query is EXCLUDED from the total's sum, which would
    // otherwise read as a speedup — the `failed` field marks the total
    // as partial ON BOTH LINES so the 2x-baseline bar can never mistake
    // a partial round for a fast one
    val failedBoth = {
      val failed = results.filter(_._2 < 0).map(_._1)
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    }
    // the host signals, on BOTH lines: the core count the scheduler
    // actually granted (Engine derives the master and shuffle width from
    // SPARK_GRAFT_CPUS, else the host's cores) and the share of host CPU
    // stolen over the run
    val hostBoth = s""","cpus":${spark.sparkContext.defaultParallelism}""" +
      (for (a <- cpuStart; b <- procStatCpu(); f <- stealFrac(a, b))
        yield s""","steal_frac":$f""").getOrElse("")
    // summary-line attribution: the driver's artifact keeps only the
    // trailing ~2000 chars of the run's output, so the window
    // adjudication rides on the compact line — run wall time (a loaded
    // host stretches it 2-3× at unchanged plans) and the worst per-query
    // sample spread per tier
    val summaryExtra = {
      val wall = s""","wall_sec":${math.round((System.nanoTime() - runStart) / 1e8) / 10.0}"""
      val sp01 = maxSpread(headline.map(q => bufs(q.name)), skipFirst = true)
      wall + (if (sp01 > 0) s""","spread_sf01":$sp01""" else "") +
        (if (sf1Spread > 0) s""","spread_sf1":$sf1Spread""" else "")
    }
    val diagJson =
      if (diagWalls.isEmpty) ""
      else diagWalls.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","diag_wall":{""", ",", "}")
    val (fullLine, summaryLine) = recordLines(total, json(results),
      samplesJson(headline.map(_.name), bufs), sfDir, sf1Section, sf1Summary,
      hostBoth + failedBoth + sf10Both + diagJson, summaryExtra)
    println(fullLine)
    // the same summary object once more behind a grep-able marker, so a
    // consumer finds the machine-readable record without depending on
    // sbt's `[info]` framing; printed second-to-last so the bare summary
    // line below remains the LAST stdout line
    println(s"[bench-json] $summaryLine")
    println(summaryLine) // LAST stdout line — the driver's tail keeps the end
    spark.stop()
  }
}
