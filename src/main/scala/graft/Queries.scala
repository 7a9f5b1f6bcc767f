package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One verifiable operator query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares at sf0.01. Column names and ORDER BY are kept
  * identical on both sides (the driver sorts columns by name before
  * hashing).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The query registry: one object per domain, each listing its queries
  * in `all`.
  */
object Queries {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` physical type has varied across driver data
    * generations: TIMESTAMP(NANOS) (which Spark's reader rejects — read
    * nanos as long and rebuild a truncated-to-micros timestamp) vs plain
    * TIMESTAMP_NTZ micros (use as-is, cast to session-TZ timestamp; the
    * session runs UTC so the wall-clock reading is unchanged). DuckDB's
    * `epoch_us(ts)` reads both the same way, so the oracles don't care.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, dir, "events"))
  }

  /** See [[events]]; shared with the streaming/plan specs. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // INTEGER division: `ts / 1000` is a double divide, and nanos
        // ~1.7e18 exceed a double's 53-bit integer range — the rounded
        // quotient truncates to the wrong microsecond on ~12% of rows
        // (measured), which DuckDB's exact nanos→micros truncation would
        // expose in any micros-exact oracle
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  val all: Seq[QueryDef] =
    QueriesText.all ++ QueriesChat.all ++ QueriesDedup.all ++
      QueriesSampling.all ++ QueriesSimilarity.all ++ QueriesAnalysis.all ++
      QueriesScoring.all ++ QueriesMultimodal.all ++ QueriesTemporal.all ++
      QueriesSources.all
}

/** A `documents` text that discriminates by `lang`: `text` plus
  * ` marker(lang)` repeated `doc_id % 3 + 1` times, built identically on
  * both engines (the last marker also stands for any other lang). The
  * synthetic corpus is the same word soup in every language, so the
  * trained-classifier and selection queries inject these markers to give
  * their models something to learn.
  */
private[graft] final case class MarkerDoc(markers: Seq[(String, String)]) {

  val spark: Column = {
    val marker = markers.init.foldLeft(null: Column) { case (acc, (l, m)) =>
      if (acc == null) when(col("lang") === l, lit(m))
      else acc.when(col("lang") === l, lit(m))
    }.otherwise(lit(markers.last._2))
    val unit = concat(lit(" "), marker)
    concat(col("text"), element_at(
      array(unit, concat(unit, unit), concat(unit, unit, unit)),
      (col("doc_id") % 3 + 1).cast("int")))
  }

  val sql: String = {
    val cases = markers.init.map { case (l, m) => s"WHEN '$l' THEN '$m'" }
      .mkString(" ")
    s"text || repeat(' ' || CASE lang $cases ELSE '${markers.last._2}' END, " +
      s"(doc_id % 3 + 1)::INT)"
  }
}
