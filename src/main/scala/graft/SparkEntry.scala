package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query definitions live in [[Queries]]; each implemented operator from
  * SURVEY.md §2 registers one entry here (plus DuckDB oracle SQL when
  * expressible).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full chat pipeline: synthetic conversations → prefix-explode → clean →
    * filter → dedup → chatml (graft.chat.ChatPipeline).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.chat.ChatPipeline.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(qd => qd.name -> qd.run).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, its side-channel paths resolved to this
    * run's root. Omitted for non-SQL-expressible ops (driver records a
    * weaker rows-only check).
    */
  def oracleSql: Map[String, String] = Queries.all.flatMap(qd =>
    qd.oracle.map(qd.name -> SideChannel.resolve(_))).toMap
}
