package graft

/** Driver-style smoke: run the flagship `SparkEntry.entry` at sf0.001 and
  * print its row count + a sample (the driver checks rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    val df = graft.chat.ChatPipeline.flagship(spark, sf)
    val n = df.count()
    println(s"[smoke] flagship rows = $n")
    df.show(3, truncate = 120)
    spark.stop()
  }
}
