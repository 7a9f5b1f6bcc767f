package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session of the test JVM: `local[4]`, 4 shuffle
  * partitions, UTC, no UI, warehouse at /tmp/graft_warehouse. Every spec
  * mixes this in, so no spec's settings depend on which spec the forked
  * JVM happens to run first.
  */
trait SharedSession {
  lazy val spark: SparkSession = SharedSession.spark
}

object SharedSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()
}
