package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.Curriculum

class CurriculumSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("hand grid: phase = floor(below * P / N), same-score same-phase") {
    // scores [1,1,2,3,3,3,4,5], P=2: below = {1:0, 2:2, 3:3, 4:6, 5:7}
    // → phases {1:0, 2:0, 3:0, 4:1, 5:1} — score 3 straddles the
    // midpoint and lands whole in phase 0 (documented unevenness)
    val df = Seq(1L, 1L, 2L, 3L, 3L, 3L, 4L, 5L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val got = Curriculum.phaseByScore(df, col("s"), 2)
      .select("s", "phase").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L))
  }

  test("phases are monotone in score and cover 0..P-1 on testdata") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Curriculum.phaseByScore(docs,
      floor(graft.analysis.TextAnalysis.qualityScore(col("text")) * 1000)
        .cast("long"), 4)
      .select("score_q", "phase")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.forall { case (_, p) => p >= 0 && p <= 3 })
    val byScore = out.distinct.sortBy(_._1)
    assert(byScore.zip(byScore.tail).forall { case ((_, a), (_, b)) =>
      a <= b }, "phase must be monotone in score")
    // near-equal sizing: each phase holds a nonzero share on 50 docs
    val sizes = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet.size >= 3, s"phases collapsed: $sizes")
  }

  test("repartition-invariant (assignment is value-based, not positional)") {
    val df = (1L to 300L).map(i => (i, i % 17)).toDF("id", "s")
    val a = Curriculum.phaseByScore(df, col("s"), 4)
      .select("id", "phase").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Curriculum.phaseByScore(df.repartition(13), col("s"), 4)
      .select("id", "phase").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
