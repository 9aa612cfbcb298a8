package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Everything is generated from [[QueryDef.catalogs]]: one `queries` entry
  * per implemented SURVEY §2 operator, and an `oracleSql` twin for every
  * operator whose semantics are exactly SQL-expressible in DuckDB.
  */
object SparkEntry {

  /** `q` on a session this library may not own: the graft SQL functions
    * are registered first, since a session built without
    * `spark.sql.extensions=graft.GraftExtensions` lacks them. */
  private def registered(q: QueryDef): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      GraftExtensions.ensureRegistered(spark)
      q.run(spark, dir)
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftExtensions.ensureRegistered(spark)
    QueryDef.catalogs.find(_.name == "q1_agg").get
      .run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.catalogs.map(q => q.name -> registered(q)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryDef.catalogs.flatMap(q => q.oracle.map(sql => q.name -> sql.trim)).toMap
}
