package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the test JVM: `local[4]`, 4 shuffle
  * partitions, UTC, no UI, warehouse under [[SharedSession.dir]]. Every
  * spec mixes this in, so no spec's settings depend on which spec the
  * forked JVM happens to run first.
  */
trait SharedSession {
  lazy val spark: SparkSession = SharedSession.spark

  /** `name` under the test JVM's temp directory. */
  def tmp(name: String): String = s"${SharedSession.dir}/$name"

  /** A new, empty directory under the test JVM's temp directory. */
  def freshDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SharedSession.dir), prefix)
}

object SharedSession {
  /** The test JVM's one temp directory, removed when the JVM exits: every
    * file a spec writes goes under it. */
  lazy val dir: String = SideChannel.tempDir("graft_test_")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    .getOrCreate()
}
