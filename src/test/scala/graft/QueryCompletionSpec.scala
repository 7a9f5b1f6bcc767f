package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs to completion at sf0.001, one test per
  * query name: a query that throws fails `sbt test` under its own name,
  * instead of surfacing only as a missing oracle output or bench line.
  */
class QueryCompletionSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.001"

  /** sha256 of the registered oracle SQL sorted by name, in `Verify`'s
    * `oracle_sql.json` format, with the side-channel root unresolved (so
    * the value does not vary with the run). Moving a QueryDef between
    * files or sharing an SQL fragment must leave every oracle
    * byte-identical; a deliberate oracle change updates this value.
    */
  private val OracleSqlDigest =
    "fe1e2c4a2d8d600afb2a9b8403ffc6e826a9127bea184cdc7e2cd14141ed72a2"

  test("registry: 131 distinct query names and byte-stable oracle SQL") {
    val names = Queries.all.map(_.name)
    assert(names.size == 131, "registered queries")
    assert(names.distinct.size == names.size, "duplicate query names: " +
      names.diff(names.distinct).mkString(", "))
    val serialized = Queries.all.flatMap(qd => qd.oracle.map(qd.name -> _))
      .sortBy(_._1)
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

  test("oracle SQL reads only side channels this run wrote") {
    val sql = SparkEntry.oracleSql
    assert(!sql.values.exists(_.contains(SideChannel.Root)),
      "unresolved side-channel root")
    val paths = sql.values
      .flatMap("parquet_scan\\('([^']*)'\\)".r.findAllMatchIn(_))
      .map(_.group(1).takeWhile(_ != '*').stripSuffix("/")).toSet
    assert(paths.nonEmpty)
    for (p <- paths) {
      assert(p.startsWith(SideChannel.path("")), s"$p is outside the root")
      assert(new java.io.File(p).isDirectory, s"$p was never written")
    }
  }

  test("a run serves one scale: exporting for a second sf dir throws") {
    SideChannel.exportOnce(sf, "scale_probe")(spark.range(1).toDF("id"))
    val e = intercept[IllegalStateException] {
      SideChannel.exportOnce(sf.replace("sf0.001", "sf0.01"), "scale_probe")(
        fail("a frame for a second scale was built"))
    }
    assert(e.getMessage.contains("sf0.01"), e.getMessage)
  }
}
