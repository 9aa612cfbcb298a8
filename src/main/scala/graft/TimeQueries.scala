package graft

/** Ad-hoc decade timing for ANY catalog queries — [[Bench]]'s fixed-pass
  * protocol for non-headline operators (the scale-pattern tier,
  * plan-shape experiments, SURVEY §6 decade tables).
  *
  * Usage:
  * {{{
  * sbt "runMain graft.TimeQueries [passes=N] <q1,q2|all> <sfDir> [<sfDir2> ...]"
  * }}}
  *
  * `all` names the whole catalog. The full-catalog sf10 sweep
  * (`SF10_SWEEP.json`) is `TimeQueries passes=1 all /tmp/graft-sf10`, over
  * the tier `runMain graft.MakeTier <sf0.1> /tmp/graft-sf10 100` builds.
  *
  * Like Bench's scale tiers: each sample is one cold [[Bench.timeAfterGc]]
  * run (a GC, memoized state dropped, noop-sink materialization), and
  * [[Bench.interleaved]] runs a fixed number of passes (`passes=N`,
  * default 3) over every (tier, query) pair, so a pair's samples land a
  * whole pass apart; a pair whose sample fails is marked −1 and not run
  * again, and nothing is added because of a result. One untimed warm-up
  * sample of the first pair runs before pass 0 (stderr `[time] warm-up`),
  * so no recorded sample pays the JVM's cold start. Unlike Bench, the min
  * per pair counts pass 0 too ([[minValid]]), so `passes=1` is a valid
  * single-sample probe. Every [[freshSessionEvery]] samples the session is
  * replaced by a fresh one. Per-pass times go to stderr, one
  * `TIME <query> <tier>=<s> ... ratio=` line per query to stdout (ratio =
  * last tier / first tier when two tiers are given; a pair with no valid
  * sample reads `FAILED` and leaves the ratio out). Stage times and plans
  * of a query come from `runMain graft.Explain <tier> <q1,q2>`. */
object TimeQueries {

  /** Samples per session. A long-lived local-mode JVM accumulates
    * block-manager and ContextCleaner debris that a per-sample GC does
    * not clear: g1_components read 99.7 s at position 124 of the r20 sf10
    * sweep vs 64.2 s isolated. A new SparkContext clears it for ~2 s; a
    * run of at most 20 samples never cycles. [[Bench.timeOnce]] clears
    * RunCaches, which drops a stopped session's entries. */
  private[graft] val freshSessionEvery = 20

  /** A pair's reported time: the min of its valid samples, pass 0
    * included; −1 when no sample is valid. */
  private[graft] def minValid(samples: Seq[Double]): Double =
    samples.filter(_ >= 0).minOption.getOrElse(-1.0)

  /** `label=<s>` to 3 decimals, or `label=FAILED` for a −1 time. */
  private[graft] def cell(label: String, t: Double): String =
    if (t < 0) s"$label=FAILED" else f"$label=$t%.3f"

  /** last / first, None unless both were measured. */
  private[graft] def ratioOf(first: Double, last: Double): Option[Double] =
    if (first > 0 && last >= 0) Some(last / first) else None

  /** One query's stdout line from its per-tier times, in tier order. */
  private[graft] def timeLine(q: String, mins: Seq[(String, Double)]): String = {
    val ratio =
      if (mins.size < 2) ""
      else ratioOf(mins.head._2, mins.last._2).fold("")(r => f" ratio=$r%.2f")
    s"TIME $q ${mins.map { case (d, t) => cell(d, t) }.mkString(" ")}$ratio"
  }

  def main(args: Array[String]): Unit = {
    val a = Bench.mainArgs(args.toSeq, Set("passes"),
      "usage: TimeQueries [passes=N] <q1,q2,...|all> <dir> [dir2 ...]")
    val nPasses = a.int("passes", 3)
    require(a.positional.length >= 2 && nPasses >= 1, a.usage)
    val defs = QueryDef.resolve(a.positional(0))
    require(defs.nonEmpty, a.usage)
    val dirs = a.positional.drop(1)
    var spark = Engine.session(appName = "graft-time")
    // one untimed sample of the first pair before pass 0: with passes=1
    // nothing else absorbs the JVM's cold start, which the first query
    // would otherwise pay (q1_agg read 5.3 s cold at sf0.01, ~0.45 s warm)
    val warm = scala.util.Try(Bench.timeAfterGc(spark)(defs.head, dirs.head))
      .fold(e => s"failed: ${e.getMessage}", t => f"$t%.3f s")
    System.err.println(s"[time] warm-up ${defs.head.name} ${dirs.head} (not recorded): $warm")
    var taken = 0
    def key(q: QueryDef, dir: String) = s"${q.name} $dir"
    // stopped in a finally: a failure after the first cycle must not leak
    // the replacement session; nothing below needs a live context
    val bufs = try Bench.interleaved(for (d <- dirs; q <- defs) yield (q, d),
        nPasses, "time")((key _).tupled) { case (q, d) =>
      if (taken > 0 && taken % freshSessionEvery == 0) {
        spark.stop()
        spark = Engine.session(appName = "graft-time")
      }
      taken += 1
      Bench.timeAfterGc(spark)(q, d)
    } finally spark.stop()
    val record = defs.map { q =>
      val mins = dirs.map(d => d -> minValid(bufs(key(q, d))))
      println(timeLine(q.name, mins))
      // a (query, dir) whose EVERY pass failed serializes its min as null,
      // not -1.0 — a consumer of the committed artifact must not mistake
      // the failure sentinel for a measured time; the raw -1 marker stays
      // visible in the passes array (review r17)
      s" ${Verify.jsonStr(q.name)}: {" + mins.map { case (d, t) =>
        s"${Verify.jsonStr(d)}: ${if (t < 0) "null" else t.toString}" }.mkString(", ") +
        """, "passes": """ +
        Bench.samplesJson(dirs, dirs.map(d => d -> bufs(key(q, d))).toMap) + "}"
    }.mkString(",\n")
    // SPARK_GRAFT_TIME_OUT: write the min-of-N record (plus every raw
    // pass) as a committed-artifact JSON — measured numbers quoted in
    // SURVEY should have an in-repo, diffable provenance file, the same
    // discipline as BENCH_r{N}.json / SF10_SWEEP.json (r16)
    sys.env.get("SPARK_GRAFT_TIME_OUT").foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"probe": "timequeries", "passes": $nPasses, """ +
          s""""fresh_session_every": $freshSessionEvery,""" + "\n" +
          s""" "queries": {""" + "\n" + record + "\n}}\n")
      System.err.println(s"[time] record -> $out")
    }
  }
}
