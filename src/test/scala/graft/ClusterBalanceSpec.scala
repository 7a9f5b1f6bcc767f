package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.ClusterBalance

class ClusterBalanceSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("capPerCell: at most quota per cell, deterministic, repartition-" +
      "invariant") {
    val df = (1L to 200L).map(i => (i, (i % 7).toInt)).toDF("id", "cell")
    def run(d: org.apache.spark.sql.DataFrame) =
      ClusterBalance.capPerCell(d, "id", "cell", quota = 10, seed = 5L)
        .select("id").as[Long].collect().sorted.toSeq
    val a = run(df)
    val b = run(df.repartition(13))
    assert(a == b)
    val sizes = ClusterBalance.capPerCell(df, "id", "cell", 10, 5L)
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(sizes.values.forall(_ <= 10) && sizes.size == 7)
  }

  test("priority order keeps the best rows of each cell") {
    val df = (1L to 60L).map(i => (i, (i % 3).toInt, (i % 10).toDouble))
      .toDF("id", "cell", "quality")
    val kept = ClusterBalance.capPerCell(df, "id", "cell", quota = 5,
        seed = 0L, orderBy = Some(col("quality").desc))
      .select("quality").as[Double].collect()
    // per cell, the 5 kept rows all have quality >= any dropped row's:
    // with qualities 0..9 repeating, top-5 per cell are >= 5
    assert(kept.forall(_ >= 5.0), kept.mkString(","))
  }

  test("sampleBalanced: learned cells flatten an over-represented region") {
    // 80 vectors clustered tightly around +e1, 10 around -e1: capping at
    // 8 per cell must cut the big region hard but keep the small intact.
    // ids 1 and 2 span the two regions — the trainer seeds centroids from
    // the k smallest ids, so Lloyd starts with one centroid per region
    val vecs = (1 to 90).map { i =>
      val small = i == 2 || i > 81
      val sign = if (small) -1.0f else 1.0f
      (i.toLong, Array(sign, 0.01f * i, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val kept = ClusterBalance.sampleBalanced(vecs, "embedding", "vec_id",
        k = 2, quota = 8, seed = 1L)
      .select("vec_id").as[Long].collect()
    assert(kept.length <= 16)
    val small = kept.count(i => i == 2 || i > 81)
    assert(small == 8, s"small region kept $small of its 10")
    assert(kept.count(i => i != 2 && i <= 81) <= 8)
  }
}
