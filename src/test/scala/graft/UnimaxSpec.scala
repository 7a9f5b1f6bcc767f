package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.Unimax

class UnimaxSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  /** One row per (lang, token) unit so capacities are exact. */
  private def corpus(caps: (String, Int)*): DataFrame =
    caps.flatMap { case (l, c) => (1 to c).map(i => (s"$l$i", l, 1L)) }
      .toDF("id", "lang", "toks")

  private def alloc(df: DataFrame, budget: Long, e: Int) =
    Unimax.allocate(df, "lang", col("toks"), budget, e)
      .collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getBoolean(3), r.getLong(5), r.getLong(6))).toMap

  test("none binding: equal shares, remainder to largest caps") {
    // caps 100/200/300, B=92 → fair 30, rem 2 → C and B get the +1
    val got = alloc(corpus("a" -> 100, "b" -> 200, "c" -> 300), 92L, 1)
    assert(got("a") == ((30L, false, 0L, 30L)))
    assert(got("b") == ((31L, false, 0L, 31L)))
    assert(got("c") == ((31L, false, 0L, 31L)))
  }

  test("mixed: small language binds, freed budget re-shared") {
    // caps 10/200/300, B=250: a binds (10*3 < 250); then fair = 240/2
    // — matches the sequential waterfill 83→bind→120/120
    val got = alloc(corpus("a" -> 10, "b" -> 200, "c" -> 300), 250L, 1)
    assert(got("a") == ((10L, true, 1L, 0L)))
    assert(got("b") == ((120L, false, 0L, 120L)))
    assert(got("c") == ((120L, false, 0L, 120L)))
  }

  test("budget above total ceiling: every language binds at maxEpochs") {
    val got = alloc(corpus("a" -> 10, "b" -> 20), 1000L, 3)
    assert(got("a") == ((30L, true, 3L, 0L)))
    assert(got("b") == ((60L, true, 3L, 0L)))
  }

  test("maxEpochs caps repetition: binding alloc = capacity * E exactly") {
    // a's whole corpus twice is below its equal share → binds at E=2
    val got = alloc(corpus("a" -> 5, "b" -> 500), 400L, 2)
    assert(got("a") == ((10L, true, 2L, 0L)))
    assert(got("b") == ((390L, false, 0L, 390L)))
  }

  test("sum invariant: total allocation = min(budget, total ceiling)") {
    val df = corpus("a" -> 37, "b" -> 113, "c" -> 59, "d" -> 211)
    for (b <- Seq(50L, 170L, 301L, 419L, 10000L); e <- Seq(1, 2)) {
      val total = Unimax.allocate(df, "lang", col("toks"), b, e)
        .agg(sum("allocation")).collect()(0).getLong(0)
      val ceiling = 420L * e
      assert(total == math.min(b, ceiling),
        s"B=$b E=$e: got $total, want ${math.min(b, ceiling)}")
    }
  }

  test("repartition-invariant (windows run over the aggregate only)") {
    val df = corpus("a" -> 21, "b" -> 84, "c" -> 163)
    val a = alloc(df, 177L, 2)
    val b = alloc(df.repartition(13), 177L, 2)
    assert(a == b)
  }

  test("select composes with the greedy fill: per-lang kept tokens within" +
      " allocation") {
    val df = corpus("a" -> 40, "b" -> 160)
    val budgets = alloc(df, 100L, 1).map { case (l, (al, _, _, _)) =>
      l -> al }
    val kept = Unimax.select(df, "id", "lang", col("toks"), 100L, 1, 7L)
      .groupBy("lang").agg(sum("toks").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((l, t) <- kept) assert(t <= budgets(l),
      s"$l kept $t > allocation ${budgets(l)}")
    // unit-token rows: the greedy fill packs the budget exactly
    assert(kept.values.sum == 100L)
  }
}
