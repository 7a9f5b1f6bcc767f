package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs to completion at sf0.001, one test per
  * query name: a query that throws fails `sbt test` under its own name,
  * instead of surfacing only as a missing oracle output or bench line.
  */
class QueryCompletionSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  for ((name, run) <- SparkEntry.queries.toSeq.sortBy(_._1))
    test(s"$name runs to completion at sf0.001") {
      spark.catalog.clearCache() // drop blocks leaked by earlier queries
      assert(run(spark, sf).count() >= 0)
    }
}
