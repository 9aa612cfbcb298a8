package graft

/** Ad-hoc decade timing for ANY catalog queries — [[Bench]]'s fixed-pass
  * protocol for non-headline operators (the scale-pattern tier,
  * plan-shape experiments, SURVEY §6 decade tables).
  *
  * Usage:
  * {{{
  * sbt "runMain graft.TimeQueries [passes=N] q1,q2 <sfDir> [<sfDir2> ...]"
  * }}}
  *
  * Like Bench: each sample is one cold [[Bench.timeOnce]] run (memoized
  * state dropped, noop-sink materialization), and [[Bench.interleaved]]
  * runs a fixed number of passes (`passes=N`, default 3) over every
  * (tier, query) pair, so a pair's samples land a whole pass apart; a pair
  * whose sample fails is marked −1 and not run again, and nothing is added
  * because of a result. Unlike Bench, the min per pair counts pass 0 too,
  * so `passes=1` is a valid single-sample probe. Per-pass times go to
  * stderr, one `TIME <query> <tier>=<s> ... ratio=` line per query to
  * stdout (ratio = last tier / first tier when two tiers are given).
  * Stage times and plans of a query come from `runMain graft.Explain
  * <tier> <q1,q2>`. */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    // a malformed passes value fails with the usage string, not a raw
    // NumberFormatException
    val usage = "usage: TimeQueries [passes=N] <q1,q2,...> <dir> [dir2 ...]"
    var nPasses = 3
    val rest0 = args.dropWhile {
      case p if p.startsWith("passes=") =>
        nPasses = scala.util.Try(p.stripPrefix("passes=").toInt)
          .getOrElse(sys.error(s"passes= wants an integer; $usage"))
        true
      case _ => false
    }
    require(rest0.length >= 2 && nPasses >= 1, usage)
    val names = rest0(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val dirs = rest0.drop(1).toSeq
    val defs = names.map { n =>
      QueryDef.catalogs.find(_.name == n)
        .getOrElse(sys.error(s"unknown catalog query: $n"))
    }
    val spark = Engine.session(appName = "graft-time")
    def key(q: QueryDef, dir: String) = s"${q.name} $dir"
    val bufs = Bench.interleaved(for (d <- dirs; q <- defs) yield (q, d),
      nPasses, "time")((key _).tupled)((Bench.timeOnce(spark) _).tupled)
    val record = defs.map { q =>
      val mins = dirs.map(d => d -> bufs(key(q, d)).filter(_ >= 0).minOption.getOrElse(-1.0))
      val cells = mins.map { case (d, t) =>
        if (t < 0) s"$d=FAILED" else f"$d=$t%.3f" }.mkString(" ")
      val ratio =
        if (dirs.length >= 2 && mins.head._2 > 0 && mins.last._2 >= 0)
          f" ratio=${mins.last._2 / mins.head._2}%.2f"
        else ""
      println(s"TIME ${q.name} $cells$ratio")
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
        s"""{"probe": "timequeries", "passes": $nPasses,""" + "\n" +
          s""" "queries": {""" + "\n" + record + "\n}}\n")
      System.err.println(s"[time] record -> $out")
    }
    spark.stop()
  }
}
