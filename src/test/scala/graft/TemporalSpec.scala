package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the batch-5 operators: as-of join, sessionization,
  * bounded-gap pairs, Bloom incremental dedup, and term statistics.
  */
class TemporalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import graft.temporal.Temporal

  private def ts(us: Long) = new java.sql.Timestamp(us / 1000)

  test("asofJoin is backward-inclusive and null below the first match") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 99L))
      .toDF("k", "t").withColumn("ts", timestamp_micros(col("t")))
    val right = Seq((1L, 15L, "A"), (1L, 20L, "B"), (1L, 25L, "C"))
      .toDF("k", "t", "v").withColumn("ts", timestamp_micros(col("t")))
      .drop("t")
    val out = Temporal.asofJoin(left, right, Seq("k"), "ts", Seq("v"))
      .orderBy("k", "t")
      .select(col("t"), col("v_asof")).as[(Long, Option[String])].collect()
    assert(out === Seq(
      (10L, None),        // before any right row
      (20L, Some("B")),   // right row AT the left timestamp wins (<=)
      (30L, Some("C")),   // latest of the earlier rows
      (99L, None)))       // key with no right rows at all
  }

  test("asofJoin carries every left column through") {
    import spark.implicits._
    val left = Seq((1L, 10L, "x")).toDF("k", "t", "payload")
      .withColumn("ts", timestamp_micros(col("t")))
    val right = Seq((1L, 5L, 7.5)).toDF("k", "t", "price")
      .withColumn("ts", timestamp_micros(col("t"))).drop("t")
    val out = Temporal.asofJoin(left, right, Seq("k"), "ts", Seq("price"))
    assert(out.columns.toSet ===
      Set("k", "t", "payload", "ts", "price_asof"))
    assert(out.select("payload", "price_asof").as[(String, Double)]
      .collect() === Seq(("x", 7.5)))
  }

  test("asofJoin forward picks the earliest at-or-after match") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 30L))
      .toDF("k", "t").withColumn("ts", timestamp_micros(col("t")))
    val right = Seq((1L, 15L, "A"), (1L, 20L, "B"), (1L, 25L, "C"))
      .toDF("k", "t", "v").withColumn("ts", timestamp_micros(col("t")))
      .drop("t")
    val out = Temporal
      .asofJoin(left, right, Seq("k"), "ts", Seq("v"),
        direction = "forward")
      .orderBy("t")
      .select(col("t"), col("v_asof")).as[(Long, Option[String])].collect()
    assert(out === Seq(
      (10L, Some("A")),   // next right row at 15
      (20L, Some("B")),   // right row AT the timestamp wins (>=)
      (30L, None)))       // nothing after 25
  }

  test("sessionize splits on gaps > maxGap and keeps boundaries inclusive") {
    import spark.implicits._
    // gaps: 100 (== maxGap, same session), 101 (new session)
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 201L), (2L, 50L))
      .toDF("user", "t").withColumn("ts", timestamp_micros(col("t")))
    val out = Temporal.sessionize(ev, "user", "ts", 100L)
      .orderBy("user", "session_start_us")
      .select("user", "session_start_us", "session_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect()
    assert(out === Seq(
      (1L, 0L, 100L, 2L),
      (1L, 201L, 201L, 1L),
      (2L, 50L, 50L, 1L)))
  }

  test("nearTimePairs finds cross-bucket pairs exactly once") {
    import spark.implicits._
    // bucket width == maxGap == 100: (150, 230) spans buckets 1|2 and is
    // only reachable through the probe-next-bucket emission; (0, 100) is
    // boundary-inclusive; (0, 150) exceeds the gap
    val ev = Seq((1L, 10L, 0L), (1L, 11L, 100L), (1L, 12L, 150L),
      (1L, 13L, 230L), (2L, 20L, 0L))
      .toDF("user", "id", "t").withColumn("ts", timestamp_micros(col("t")))
    val out = Temporal.nearTimePairs(ev, Seq("user"), "id", "ts", 100L)
      .select("a_id", "b_id").as[(Long, Long)].collect().sorted
    assert(out === Seq((10L, 11L), (11L, 12L), (12L, 13L)).sorted)
  }

  test("bloom dedup-against equals the exact anti-join at fpp=1e-9") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val newDf = docs.where(col("doc_id") % 2 === 1)
    val refDf = docs.where(col("doc_id") % 2 === 0)
    val bloom = graft.dedup.ExactDedup
      .bloomDedupAgainst(newDf, refDf, "text", 10000L, 1e-9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = newDf.join(refDf.select("text"), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom === exact)
    assert(bloom.nonEmpty)
  }

  // SELF-goldens (no reference implementation exists for these variants):
  // the committed kept-id sets pin today's verified behavior against
  // algorithmic regressions — the exact class of bug the r4 order-
  // dependent UnionFind golden caught for minhash. Reference-parity
  // goldens exist separately for minhash (ExtrasSpec).
  private def goldenIds(name: String): Seq[Long] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getClassLoader
        .getResourceAsStream(s"${name}_golden_sf001.json"), "UTF-8")
    val js = try src.mkString finally src.close()
    "\"kept_ids\": \\[([^\\]]*)\\]".r.findFirstMatchIn(js)
      .get.group(1).split(",").map(_.trim.toLong).toSeq
  }

  test("simhash/embedding/ngram-jaccard dedup match their committed goldens") {
    val sf = "/root/testdata/sf0.01"
    val simhash = graft.dedup.SimHash.deduplicate(
      Queries.table(spark, sf, "documents"), "text", maxHamming = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(simhash === goldenIds("dedup_simhash"))
    val emb = graft.dedup.EmbeddingDedup.deduplicate(
      Queries.table(spark, sf, "embeddings"), "embedding", "label", 0.35)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(emb === goldenIds("dedup_embedding"))
    val ng = graft.dedup.NgramJaccard.deduplicate(
      Queries.table(spark, sf, "documents"), "text", n = 5, threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ng === goldenIds("dedup_ngram_jaccard"))
  }

  test("temperatureMix up-weights the minority corpus vs natural mixing") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("user_id", col("doc_id") % 50)
    val major = docs.where(col("doc_id") % 10 =!= 0).withColumn("src", lit("major"))
    val minor = docs.where(col("doc_id") % 10 === 0).withColumn("src", lit("minor"))
    def minorShare(df: org.apache.spark.sql.DataFrame): Double = {
      val m = df.groupBy("src").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      m.getOrElse("minor", 0L).toDouble / (m.values.sum max 1L)
    }
    // natural (by-size) proportions ~ 0.9/0.1
    val natural = minorShare(graft.sampling.Sampling.sampleDatasets(
      Seq(major, minor), Seq(0.9, 0.1), 300.0, "user_id"))
    val tempered = minorShare(graft.sampling.Sampling.temperatureMix(
      Seq(major, minor), 2.0, 300.0, "user_id"))
    assert(tempered > natural,
      s"T=2 should up-weight the minority: $tempered <= $natural")
    assert(tempered > 0.2 && tempered < 0.3) // sqrt weights -> ~0.25
  }

  test("topNgrams counts with multiplicity") {
    import spark.implicits._
    val df = Seq("a b c a b c", "a b c").toDF("text")
    val out = graft.analysis.TermStats.topNgrams(df, "text", 3, 10)
      .as[(String, Long)].collect().toMap
    assert(out === Map("a b c" -> 3L, "b c a" -> 1L, "c a b" -> 1L))
  }

  test("tfIdfTop surfaces tf and corpus-wide df per surviving term") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = graft.analysis.TermStats.tfIdfTop(df, "doc_id", "text", 2)
      .select("doc_id", "term", "tf", "df")
      .as[(Long, String, Long, Long)].collect().toSet
    // doc 1: x(tf2, df1) then y(tf1, df2); doc 2: z(tf1, df1) then y
    assert(out === Set(
      (1L, "x", 2L, 1L), (1L, "y", 1L, 2L),
      (2L, "z", 1L, 1L), (2L, "y", 1L, 2L)))
  }
}
