package graft

/** On-demand scale-tier synthesis — the [[Bench]] generators behind a
  * standalone main, for tiers the per-round bench must never pay for
  * inline (sf100 derives from the cached sf10 tier in ~5 min — 302 s
  * measured — but that is still far outside the driver's per-round
  * wall budget). Idempotent: each tier is a [[Staged]] directory,
  * rebuilt only when its generator version or its source's newest mtime
  * moved.
  *
  * Usage:
  * {{{
  * sbt "runMain graft.MakeTier /root/testdata/sf0.1 /tmp/graft-sf100 1000"
  * }}}
  */
object MakeTier {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: MakeTier <sf01Dir> <outDir> <copies: 10|100|1000>")
    val spark = Engine.session(appName = "graft-maketier")
    val t0 = System.nanoTime()
    args(2) match {
      case "10" => Bench.ensureSf1(spark, args(0), args(1))
      case "100" => Bench.ensureSf10(spark, args(0), args(1))
      case "1000" => Bench.ensureSf100(spark, args(0), args(1))
      case other => sys.error(s"copies must be 10, 100 or 1000, got $other")
    }
    System.err.println(
      f"[maketier] ${args(1)} ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
