package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs to completion at sf0.001, one test per
  * query name: a query that throws fails `sbt test` under its own name,
  * instead of surfacing only as a missing oracle output or bench line.
  */
class QueryCompletionSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  /** sha256 of `SparkEntry.oracleSql` sorted by name, in `Verify`'s
    * `oracle_sql.json` format. Moving a QueryDef between files or sharing
    * an SQL fragment must leave every oracle byte-identical; a deliberate
    * oracle change updates this value.
    */
  private val OracleSqlDigest =
    "02e57b75622d8a173419f4d52315d8166abd630fd529930a1e58c17fcfb56f30"

  test("registry: 131 distinct query names and byte-stable oracle SQL") {
    val names = Queries.all.map(_.name)
    assert(names.size == 131, "registered queries")
    assert(names.distinct.size == names.size, "duplicate query names: " +
      names.diff(names.distinct).mkString(", "))
    val serialized = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Verify.jsonString(k)}: ${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(serialized.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(sha == OracleSqlDigest, "oracle SQL digest")
  }

  for ((name, run) <- SparkEntry.queries.toSeq.sortBy(_._1))
    test(s"$name runs to completion at sf0.001") {
      spark.catalog.clearCache() // drop blocks leaked by earlier queries
      assert(run(spark, sf).count() >= 0)
    }
}
