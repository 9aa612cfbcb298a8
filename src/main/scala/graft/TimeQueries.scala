package graft

/** Ad-hoc decade timing for ANY catalog queries — [[Bench]]'s fixed-pass
  * protocol for non-headline operators (the scale-pattern tier,
  * plan-shape experiments, SURVEY §6 decade tables).
  *
  * Usage:
  * {{{
  * sbt "runMain graft.TimeQueries q1,q2 /root/testdata/sf0.1 /tmp/graft-sf1"
  * }}}
  *
  * Like Bench: each sample is one cold [[Bench.timeOnce]] run (memoized
  * state dropped, noop-sink materialization), and a fixed number of
  * INTERLEAVED passes (`passes=N`, default 3) runs over every (query,
  * tier) pair, so a pair's samples land a whole pass apart; nothing is
  * added or re-run because of a result. Unlike Bench, the min per pair
  * counts pass 0 too, so `passes=1` is a valid single-sample probe.
  * Per-pass times go to stderr, one `TIME <query> <tier>=<s> ... ratio=`
  * line per query to stdout (ratio = last tier / first tier when two
  * tiers are given). */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    // optional leading `dump=1`: after timing, re-execute each (query,
    // LAST dir) pair through [[Bench.dumpDiagnostic]] — per-stage wall
    // times + the final adaptive plan on stderr, the same evidence the
    // bench's ratio triggers produce, on demand (r14: used to attribute
    // the sf10 dd_minhash superlinearity)
    // Leading key=value flags are parsed in a loop, ORDER-FREE: the old
    // dump-then-passes sequence silently treated `passes=2 dump=1` as a
    // query list named "passes=2" (ADVICE r14). A malformed passes value
    // fails with the usage string, not a raw NumberFormatException.
    val usage = "usage: TimeQueries [dump=1] [passes=N] <q1,q2,...> <dir> [dir2 ...]"
    var dump = false
    var nPasses = 3
    val rest0 = args.dropWhile {
      case "dump=1" => dump = true; true
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
    // the ONE measurement protocol, shared with Bench so the two
    // cannot drift (cache clearing, noop-sink materialization)
    val time = Bench.timeOnce(spark) _
    val samples = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    for (pass <- 0 until nPasses; dir <- dirs; q <- defs) {
      // per-sample isolation, like Bench (same protocol):
      // one throwing (query, dir) pair must not abort the run and
      // discard every already-collected sample — it records a -1
      // marker and the others keep timing
      val t = try time(q, dir) catch { case e: Throwable =>
        System.err.println(s"[time] pass $pass ${q.name} $dir FAILED: ${e.getMessage}")
        -1.0
      }
      samples((q.name, dir)) = t :: samples((q.name, dir))
      if (t >= 0) System.err.println(f"[time] pass $pass ${q.name} $dir $t%.2f s")
    }
    val record = new StringBuilder
    for (q <- defs) {
      val mins = dirs.map { d =>
        val ok = samples((q.name, d)).filter(_ >= 0)
        d -> (if (ok.isEmpty) -1.0 else ok.min)
      }
      val cells = mins.map { case (d, t) =>
        if (t < 0) s"$d=FAILED" else f"$d=$t%.3f" }.mkString(" ")
      val ratio =
        if (dirs.length >= 2 && mins.head._2 > 0 && mins.last._2 >= 0)
          f" ratio=${mins.last._2 / mins.head._2}%.2f"
        else ""
      println(s"TIME ${q.name} $cells$ratio")
      if (record.nonEmpty) record.append(",\n")
      record.append(s" ${Verify.jsonStr(q.name)}: {")
        .append(mins.map { case (d, t) =>
          // a (query, dir) whose EVERY pass failed serializes its min as
          // null, not -1.0 — a consumer of the committed artifact must
          // not mistake the failure sentinel for a measured time; the
          // raw -1 markers stay visible in the passes array (review r17)
          s"${Verify.jsonStr(d)}: ${if (t < 0) "null" else t.toString}" }
          .mkString(", "))
        .append(s""", "passes": {""")
        .append(dirs.map(d => s"${Verify.jsonStr(d)}: [" +
          // Locale.ROOT: the default-locale f"" interpolator writes
          // comma decimals under e.g. de_DE — invalid JSON (review r16)
          samples((q.name, d)).reverse.map(t =>
            "%.3f".formatLocal(java.util.Locale.ROOT, t)).mkString(",") + "]")
          .mkString(", "))
        .append("}}")
    }
    // SPARK_GRAFT_TIME_OUT: write the min-of-N record (plus every raw
    // pass) as a committed-artifact JSON — measured numbers quoted in
    // SURVEY should have an in-repo, diffable provenance file, the same
    // discipline as BENCH_r{N}.json / SF10_SWEEP.json (r16)
    sys.env.get("SPARK_GRAFT_TIME_OUT").foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"probe": "timequeries", "passes": $nPasses,""" + "\n" +
          s""" "queries": {""" + "\n" + record.toString + "\n}}\n")
      System.err.println(s"[time] record -> $out")
    }
    if (dump) defs.foreach(q =>
      Bench.dumpDiagnostic(spark, q, dirs.last, "dump",
        "requested via dump=1", ""))
    spark.stop()
  }
}
