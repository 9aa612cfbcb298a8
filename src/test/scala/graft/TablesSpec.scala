package graft

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The table facade's schema memo: a session reads a table it has read
  * before with the declared schema, no inference job, and infers again
  * when the table's files change or another session asks. */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  /** A copy of the sf0.001 events table in a fresh directory, so no
    * earlier suite has memoized it. */
  private def freshEvents(tag: String): String = {
    val dir = tempDir(s"graft-memo-$tag").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  test("a second Tables.events in the same session runs no job") {
    val dir = freshEvents("hit")
    val (first, p1) = Profile.during(spark)(Tables(spark, dir).events.schema)
    val hits = Tables.schemaMemoHits
    val (second, p2) = Profile.during(spark)(Tables(spark, dir).events.schema)
    assert(p1.jobs > 0, "the first read infers the schema with a job")
    assert(p2.jobs === 0L, "the second read declares the memoized schema")
    assert(Tables.schemaMemoHits === hits + 1)
    assert(second === first)
  }

  test("a replaced table file with a newer mtime and another schema is inferred again") {
    val dir = tempDir("graft-memo-replace").toString
    val path = s"$dir/events.parquet"
    val rows = Seq((1L, 1700000000000000000L, 7L, "view", 1.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(path)
    assert(!Tables(spark, dir).events.columns.contains("note"))
    val mtime = Tables.newestMtime(spark, path)
    rows.map { case (id, ts, u, t, v) => (id, ts, u, t, v, "replaced") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "note")
      .write.mode("overwrite").parquet(path)
    // the filesystem's mtime granularity must not decide the outcome
    new java.io.File(path).setLastModified(mtime + 5000L)
    val misses = Tables.schemaMemoMisses
    val got = Tables(spark, dir).events
    assert(Tables.schemaMemoMisses === misses + 1)
    assert(got.select($"note").as[String].collect().toSeq === Seq("replaced"))
  }

  test("a new session infers with its own reader confs, not another session's memo") {
    // the committed tiers store naive timestamp[us]: TIMESTAMP_NTZ under
    // NTZ inference (the default), TIMESTAMP without it
    val dir = freshEvents("session")
    val path = s"$dir/events.parquet"
    assert(Tables.readParquet(spark, path).schema("ts").dataType === TimestampNTZType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.readParquet(other, path).schema("ts").dataType === TimestampType)
    assert(Tables.readParquet(spark, path).schema("ts").dataType === TimestampNTZType)
    // both arrivals derive the same epoch-nanos under the UTC sessions
    def tsMs(s: org.apache.spark.sql.SparkSession) =
      Tables(s, dir).events.select($"event_id", $"ts_ms").collect().toSet
    assert(tsMs(other) === tsMs(spark))
  }

  test("the schema memo forks no process") {
    val dir = freshEvents("fork")
    val shellForks = hadoopShellForks {
      Tables(spark, dir).events.count()
      Tables(spark, dir).events.count()
    }
    assert(shellForks.isEmpty, shellForks.take(5).mkString("; e.g. ", "; ", ""))
  }
}
