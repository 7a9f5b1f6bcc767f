package graft

/** One-shot generator for committed golden resources (run manually; kept in
  * the repo so goldens are reproducible): prints the flagship kept-id set.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local()
    val ids = graft.chat.ChatPipeline.flagshipKept(spark, sf)
      .select("__mid__").collect().map(_.getLong(0)).sorted
    println(s"""GOLDEN{"n_kept": ${ids.length}, "kept_mids": [${ids.mkString(",")}]}GOLDEN""")
    spark.stop()
  }
}
