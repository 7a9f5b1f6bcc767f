package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Sketch

class SketchSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private def gramsOf(seq: Seq[String]) = seq.toDF("gram")

  test("cms never under-counts; wide sketch is exact") {
    // 400 occurrences over 40 distinct grams
    val occs = (1 to 400).map(i => s"gram${i % 40}")
    val grams = gramsOf(occs)
    val exact = occs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((w, mustBeExact) <- Seq(16 -> false, 65536 -> true)) {
      val grid = Sketch.cmsBuild(grams, "gram", depth = 3, width = w)
      val est = Sketch.cmsEstimate(gramsOf(exact.keys.toSeq), "gram",
          grid, 3, w)
        .as[(String, Long)].collect().toMap
      for ((g, e) <- est) {
        assert(e >= exact(g), s"w=$w $g: est $e < exact ${exact(g)}")
        if (mustBeExact) assert(e == exact(g), s"w=$w $g: $e != ${exact(g)}")
      }
    }
  }

  test("grid is bounded by depth x width and deterministic") {
    val grams = gramsOf((1 to 1000).map(i => s"g$i"))
    val a = Sketch.cmsBuild(grams, "gram", 3, 32)
      .orderBy("r", "bucket").as[(Int, Long, Long)].collect().toSeq
    assert(a.size <= 3 * 32)
    assert(a.map(_._3).sum == 3000L) // every occurrence lands in each row
    val b = Sketch.cmsBuild(grams.repartition(7), "gram", 3, 32)
      .orderBy("r", "bucket").as[(Int, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("unseen gram estimates 0 only when its cells are empty") {
    val grid = Sketch.cmsBuild(gramsOf(Seq("alpha")), "gram", 3, 65536)
    val est = Sketch.cmsEstimate(gramsOf(Seq("never-seen")), "gram",
        grid, 3, 65536)
      .as[(String, Long)].collect().head._2
    assert(est == 0L)
  }

  private def hllEst(items: Seq[String], p: Int): Long =
    Sketch.hllEstimate(Sketch.hllRegisters(items.toDF("t"), "t", p), p)
      .select("est_x1000").as[Long].collect().head

  test("hll estimate lands within the published error band") {
    // 50k distinct items with duplicates mixed in; p=9 -> ~4.6% stderr,
    // assert 3 sigma
    val n = 50000
    val items = (0 until n).map(i => s"item-$i") ++
      (0 until 5000).map(i => s"item-${i * 7 % n}")
    val est = hllEst(items, 9) / 1000.0
    assert(math.abs(est - n) / n < 0.14, s"est $est vs $n")
  }

  test("hll is multiplicity-blind and partitioning-independent") {
    val df = (1 to 2000).map(i => s"x${i % 300}").toDF("t")
    val a = Sketch.hllRegisters(df, "t", 9)
      .orderBy("bucket").as[(Long, Int)].collect().toSeq
    val b = Sketch.hllRegisters(
        df.repartition(7).distinct(), "t", 9)
      .orderBy("bucket").as[(Long, Int)].collect().toSeq
    assert(a == b)
    assert(a.size <= 512)
  }

  test("hll merge of shard sketches equals the union sketch") {
    val l = (1 to 4000).map(i => s"left-$i")
    val r = (1 to 4000).map(i => s"right-$i") ++ l.take(1000)
    val merged = Sketch.hllMerge(
        Sketch.hllRegisters(l.toDF("t"), "t", 9),
        Sketch.hllRegisters(r.toDF("t"), "t", 9))
      .orderBy("bucket").as[(Long, Int)].collect().toSeq
    val whole = Sketch.hllRegisters((l ++ r).toDF("t"), "t", 9)
      .orderBy("bucket").as[(Long, Int)].collect().toSeq
    assert(merged == whole)
  }

  test("grouped hll equals independent per-group sketches") {
    val rows = (1 to 6000).map(i => (s"g${i % 3}", s"item-${i % 997}"))
    val df = rows.toDF("grp", "t")
    val grouped = Sketch.hllEstimateBy(
        Sketch.hllRegistersBy(df, Seq("grp"), "t", 9), Seq("grp"), 9)
      .orderBy("grp")
      .collect().map(r => r.getString(0) -> r.getLong(5)).toSeq
    val independent = (0 to 2).map { g =>
      s"g$g" -> Sketch.hllEstimate(Sketch.hllRegisters(
          df.where(col("grp") === s"g$g"), "t", 9), 9)
        .select("est_x1000").as[Long].collect().head
    }
    assert(grouped == independent)
  }

  test("hll linear-counting branch covers tiny sets") {
    // 40 distinct << 2.5m: raw HLL would bias; linear counting kicks in
    val est = hllEst((1 to 40).map(i => s"t$i"), 9) / 1000.0
    assert(math.abs(est - 40) <= 3, s"tiny est $est")
  }
}
