package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with [[Bench.recordLines]]'s sfDir field, the other
    * free-text string interpolated into a driver-parsed JSON line. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Which current-catalog oracle entries survive into oracle_sql.json.
    * Full run: all. Subset run: selected ∪ prior-file keys ∪ existing
    * result dirs (the prior-key arm keeps a sibling that FAILED in the
    * prior full run — entry, no dir — failing the compare; dropping it
    * would silently downgrade the failure to unchecked, review r16). An
    * unreadable prior file degrades to dirs-only with a loud stderr
    * note, never a throw. */
  private[graft] def oracleKeep(only: Set[String], outDir: String):
      String => Boolean =
    if (only.isEmpty) _ => true
    else {
      val prior = {
        val f = new java.io.File(s"$outDir/oracle_sql.json")
        if (!f.isFile) Set.empty[String]
        else scala.util.Try {
          import scala.jdk.CollectionConverters._
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readValue(f, classOf[java.util.Map[String, String]])
            .keySet.asScala.toSet
        }.fold(t => { System.err.println(
          s"[verify] prior oracle_sql.json unreadable, merging dirs only: ${t.getMessage}")
          Set.empty[String] }, identity)
      }
      k => only(k) || prior(k) || new java.io.File(s"$outDir/$k").isDirectory
    }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration on one family without the
    // full 137-query sweep); the driver passes exactly two args and gets
    // the complete catalog, unchanged.
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = QueryDef.resolve(args.drop(2).mkString(",")).map(_.name).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val spark = Engine.session(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // coalesce(1), NOT repartition(1): the oracle compare is row-order
      // sensitive and coalesce concatenates the orderBy'd partitions in
      // index order inside one task, preserving the global sort;
      // repartition would scramble it (the single-task dump is the
      // accepted price on this non-graded surface).
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must leave NO parquet behind: outDir is reused
        // across runs, and a stale previous-round result under this name
        // would verify green against the oracle for a query that no
        // longer runs at all. commons-io (on the Spark classpath), not a
        // hand-rolled walk that ignored delete() failures — and a
        // residual survivor is reported loudly, not silently verified
        val stale = new java.io.File(s"$outDir/$name")
        scala.util.Try {
          if (stale.exists())
            org.apache.commons.io.FileUtils.deleteDirectory(stale)
        }.failed.foreach(t => System.err.println(
          s"[verify] $name: stale result dir not removed " +
            s"(may verify green for a dead query): ${t.getMessage}"))
      }
    }
    // Full run: every oracle entry (a failed query keeps its entry and
    // FAILS the compare — never silently weakens to rows-only). Subset
    // run: MERGE with the oracle_sql.json already in outDir — every key
    // the prior full run recorded keeps its entry (values refreshed from
    // the current catalog), so a sibling that FAILED in that full run
    // (entry present, no result dir) keeps failing the compare instead
    // of silently downgrading to unchecked; result dirs without a prior
    // entry are (re)added too (review r15/r16). Keys are intersected
    // with the current catalog: a renamed/removed query's stale entry
    // would otherwise fail the compare forever with no way to run it.
    val keep = oracleKeep(only, outDir)
    val json = SparkEntry.oracleSql.view.filterKeys(keep).toMap
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a subset refresh re-executes ONLY the selected queries; sibling
    // result dirs in the reused outDir are prior-run bytes, and a code
    // change since that run can make their green compare stale evidence
    // — name them loudly so a local iteration never mistakes a reused
    // dir for a current-round pass (review r16; the driver's full run
    // re-executes everything and never hits this)
    if (only.nonEmpty) {
      val reused = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && !only(f.getName)).map(_.getName).sorted
      if (reused.nonEmpty) System.err.println(
        s"[verify] subset run: ${reused.length} sibling result dir(s) reused " +
          "from a prior run, NOT re-executed this run — re-run the full " +
          s"catalog before treating their compare as current: ${reused.mkString(", ")}")
    }
    spark.stop()
  }
}
