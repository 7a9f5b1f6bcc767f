package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every main uses: `local[$SPARK_GRAFT_CPUS]`
  * (default 32) with as many shuffle partitions, a UTC session time zone,
  * no UI and WARN logging. `SPARK_GRAFT_MASTER`, when set, replaces the
  * master URL.
  */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
