package graft

/** Plan auditor: print formatted physical plans for selected queries (all
  * queries when no names given) — used to confirm pushdown/pruning,
  * broadcast strategies, and WholeStageCodegen coverage.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSet else Set.empty[String]
    val spark = GraftSession.local()
    Queries.all
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try q.run(spark, sf).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
