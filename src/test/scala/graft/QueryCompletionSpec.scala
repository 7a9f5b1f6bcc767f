package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs to completion at sf0.001, one test per
  * query name: a query that throws fails `sbt test` under its own name,
  * instead of surfacing only as a missing oracle output or bench line.
  */
class QueryCompletionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  for ((name, run) <- SparkEntry.queries.toSeq.sortBy(_._1))
    test(s"$name runs to completion at sf0.001") {
      spark.catalog.clearCache() // drop blocks leaked by earlier queries
      assert(run(spark, sf).count() >= 0)
    }
}
