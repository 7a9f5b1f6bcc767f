package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. The side channels
  * its oracle SQL reads go to `<outDir>_side`, beside `outDir`: emptied
  * at start and kept after exit, for the compare. status.json
  * records every query that ran: "ok", or the error class and message it
  * threw (its output directory is then removed, so no stale parquet is
  * compared). Exits non-zero if any query threw, after writing every
  * file. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in the oracle SQL would otherwise make the
    * compare's json.load fail and silently zero the correctness check. A
    * null string renders as "null".
    */
  private[graft] def jsonString(s: String): String =
    "\"" + String.valueOf(s).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    SideChannel.keepAt(
      s"${java.nio.file.Paths.get(outDir).toAbsolutePath.normalize}_side")
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b restricts the dump for fast local
    // iteration (the driver never sets it; oracle_sql.json still carries
    // every query so a partial out-dir is visibly partial, not silently
    // complete)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val status = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      spark.catalog.clearCache() // drop blocks leaked by earlier queries
      name -> (try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        new scala.reflect.io.Directory(new java.io.File(s"$outDir/$name"))
          .deleteRecursively()
        Some(s"${e.getClass.getName}: ${e.getMessage}")
      })
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/status.json"), status
      .map { case (k, err) =>
        s"${jsonString(k)}: ${jsonString(err.getOrElse("ok"))}" }
      .mkString("{", ",", "}"))
    spark.stop()
    val failed = status.collect { case (k, Some(_)) => k }
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries threw: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
