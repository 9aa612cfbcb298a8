package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Plan and stage dump of catalog queries: the pushdown / join-strategy /
  * exchange audit, the committed plan evidence under `plans/r<N>/`, and
  * Bench's ratio diagnostics all come from [[dump]].
  *
  * Usage: runMain graft.Explain <sfDir> [q1,q2,…] [<outDir> <suffix>]
  *
  * No names (or `all`) dumps the whole catalog; an unknown name fails
  * before anything runs ([[QueryDef.resolve]]). With an out dir each
  * query goes to `<outDir>/<q>_<suffix>.txt`, else to stdout, in four
  * sections: the formatted plan before execution
  * (PushedFilters/ReadSchema per scan, join strategy, Exchange placement),
  * the stage times, the per-operator metrics, and the final adaptive plan
  * after execution, last, where `scripts/audit_plans.py` reads it.
  *
  * The final adaptive plan is run-time evidence, not a fixed function of
  * the code: AQE picks some join sides from runtime statistics, and three
  * runs of `dd_embedding` at sf0.01 on one 4-core host built the
  * bands⨝keepers broadcast on the left once and on the right twice. A
  * plan-equality check therefore compares operator trees regardless of
  * the broadcast build side, or compares against several dumps of the
  * parent.
  */
object Explain {

  /** One executed query's evidence; `wall` is the execution's seconds. */
  final case class Dump(formatted: String, stages: Seq[String],
      metrics: Seq[String], finalPlan: String, wall: Double) {
    /** The four sections under `head`, the final plan last. */
    def render(head: String): String =
      s"===== $head — explain formatted =====\n$formatted\n" +
        f"===== $head — stage times (wall $wall%.2f s) =====\n" +
        stages.map(_ + "\n").mkString +
        s"===== $head — operator metrics =====\n" + metrics.map(_ + "\n").mkString +
        s"===== $head — final adaptive plan after execution =====\n$finalPlan\n"
  }

  /** Runs `q` over `dir` once, cold (RunCaches cleared, as
    * [[Bench.timeOnce]] does, so a memoized frame cannot turn a parquet
    * Scan into an InMemoryTableScan), under a [[Profile]]. The formatted
    * plan is taken before execution; execution goes through `toRdd` so
    * AQE finalizes and the final plan shows the runtime rewrites. */
  def dump(spark: SparkSession, q: QueryDef, dir: String): Dump = {
    graft.operators.RunCaches.clearAll()
    val ((qe, formatted, wall), prof) = Profile.during(spark) {
      val w0 = System.nanoTime()
      val qe = q.run(spark, dir).queryExecution
      val f0 = System.nanoTime()
      val formatted = qe.explainString(ExplainMode.fromString("formatted"))
      val f1 = System.nanoTime()
      qe.toRdd.count(): Unit
      (qe, formatted, math.round((System.nanoTime() - w0 - (f1 - f0)) / 1e6) / 1000.0)
    }
    val stages = prof.stageStats.map(s =>
      f"    stage ${s.stageId}.${s.attempt}: ${s.wallSec}%.2f s, ${s.tasks} tasks, " +
        f"maxTask ${s.maxTaskSec}%.2f s, sumTask ${s.sumTaskSec}%.1f s (${s.name.take(70)})") ++
      (if (prof.drained) Nil else Seq("    (listener bus not drained; stage list may be short)"))
    val metrics = scala.util.Try(metricLines(qe.executedPlan, 0))
      .getOrElse(Seq("    (operator metrics unavailable)"))
    Dump(formatted, stages, metrics, qe.executedPlan.toString, wall)
  }

  /** Per-operator SQL metrics (output rows, operator times) over the
    * executed tree, materialized AQE query stages and cached frames'
    * plans included: the stage names alone cannot say which operator a
    * slow stage was running. */
  private def metricLines(p: SparkPlan, depth: Int): Seq[String] = {
    val keep = p.metrics.filter { case (k, m) =>
      (k.contains("numOutputRows") || k.contains("time")) && m.value > 0
    }.map { case (k, m) => s"$k=${m.value}" }
    val self =
      if (keep.isEmpty) Nil
      else Seq(s"    ${"  " * depth}${p.nodeName}: ${keep.mkString(", ")}")
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    self ++ kids.flatMap(metricLines(_, depth + 1))
  }

  def main(args: Array[String]): Unit = {
    require(Set(1, 2, 4)(args.length), "usage: Explain <sfDir> [q1,q2,...] [<outDir> <suffix>]")
    val defs = args.lift(1).fold(QueryDef.catalogs)(QueryDef.resolve)
    val out = Option.when(args.length == 4)((args(2), args(3)))
    val spark = Engine.session(appName = "graft-explain")
    val failed = defs.filterNot(q => scala.util.Try(dump(spark, q, args(0))).fold(
        e => { System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}"); false },
        d => {
          val text = d.render(q.name + out.fold("")(o => s" (${o._2})"))
          out.fold(print(text)) { case (dir, suffix) =>
            val f = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
              .resolve(s"${q.name}_$suffix.txt")
            java.nio.file.Files.writeString(f, text)
            System.err.println(s"[explain] ${q.name} -> $f")
          }
          true
        }))
    spark.stop()
    require(failed.isEmpty, s"dump failed for: ${failed.map(_.name).mkString(", ")}")
  }
}
