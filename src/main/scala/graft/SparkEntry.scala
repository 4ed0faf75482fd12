package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Full query surface, one [[Q]] per operator family (SURVEY.md §2/§7.3). */
  def allQueries: Seq[Q] =
    CoreQueries.all ++ RelationalQueries.all ++
      DedupQueries.all ++ SimQueries.all ++ PqQueries.all ++
      TextStatsQueries.all ++
      IngestQueries.all ++ LayoutQueries.all ++
      JoinQueries.all ++ CurationQueries.all ++ MediaQueries.all ++
      WebQueries.all ++
      StreamingQueries.all

  /** The contract boundary is the one layer that receives FOREIGN sessions
    * (the driver builds its own SparkSession for the smoke check), so
    * [[Sessions.compat]] is applied here — never inside shared readers
    * (see Tables.read scaladoc). Idempotent. */
  private def withSessionDefaults(
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      Sessions.compat.foreach { case (k, v) => s.conf.set(k, v) }
      fn(s, dir)
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    withSessionDefaults(CoreQueries.qSessionize.fn)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> withSessionDefaults(q.fn)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
