package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives a larger-scale corpus from the driver-provided sf0.1 testdata
  * (VERDICT r6 #1: the scale-crossover machinery had never executed above
  * sf0.1). Each fact table is replicated `factor` times with key offsets
  * chosen far above the source key ranges, so joins stay consistent
  * across copies; text copies beyond the first get a per-copy suffix
  * (near-duplicates of the original — GROWING dedup cluster sizes and
  * edge counts, the part of dedup that scales worst), and embeddings get
  * a copy-indexed perturbation on one component while keeping their
  * label blocks (so within-block pair counts grow quadratically — the
  * stress the blocking design must absorb). Dimension tables
  * (region/nation/customer/supplier/part) copy through unchanged apart
  * from customer keys, which track the orders offsets.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <destDir> <factor>
  */
object ScaleGen {

  private val KeyStride = 10_000_000L // > max o_orderkey at sf0.1 (6M)
  private val CustStride = 1_000_000L // > max o_custkey at sf0.1 (150k)
  private val DocStride = 1_000_000L
  private val VecStride = 1_000_000L
  private val UserStride = 1_000_000L
  private val EventStride = 10_000_000L

  private def copies(df: DataFrame, factor: Int)(
      f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)

  /** Zipf-template corpus (VERDICT r11 #1 — the adversarial LSH-banding
    * skew shape): `total` docs drawn from `templates` boilerplate classes
    * with Zipf(`exponent`) weights, so the hottest template owns a large
    * constant fraction of the corpus — the Common Crawl reality of
    * templated boilerplate. Every token carries the template id (zero
    * cross-template shingle overlap — the r8 >10M-edge soak's lesson: sloppy
    * synthetic corpora legitimately merge into one component), and each
    * doc gets ONE unique tail token, so texts are near- but never
    * exact-identical: the identical-text pre-collapse cannot absorb the
    * class, every row genuinely reaches banding, and the hot template's
    * docs land together in the same (band, bsig) buckets (within-class
    * shingle Jaccard ≈ 0.95 ≫ the 0.7 threshold).
    *
    * Deterministic: template choice is an inverse-CDF lookup on a
    * xxhash64-derived uniform of the doc id — no RNG state, stable
    * across partitionings. Schema (doc_id, template, text).
    */
  def zipfTemplateDocs(spark: SparkSession, total: Long, templates: Int,
      exponent: Double, tokensPerDoc: Int = 40): DataFrame = {
    val weights =
      Array.tabulate(templates)(t => math.pow(t + 1.0, -exponent))
    val z = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / z)
    val bCum = spark.sparkContext.broadcast(cum)
    val pick = udf { (u: Double) =>
      val c = bCum.value
      val i = java.util.Arrays.binarySearch(c, u)
      math.min(if (i >= 0) i else -i - 1, c.length - 1)
    }
    // uniform [0,1) from the top 53 bits of xxhash64(doc_id)
    val u = shiftrightunsigned(xxhash64(col("doc_id")), 11)
      .cast("double") / lit(9007199254740992.0)
    val tpl = col("template").cast("string")
    val body = concat_ws(" ",
      (1 to tokensPerDoc).map(i => concat(lit(s"t${i}x"), tpl)): _*)
    spark.range(total)
      .select(col("id").as("doc_id"))
      .withColumn("template", pick(u))
      .withColumn("text",
        concat(body, lit(" zz"), col("doc_id").cast("string")))
  }

  /** Templated-corpus SIGNATURE cloud (VERDICT r12 #2 — the adversarial
    * shape for the hamming family's (band, chunk) buckets): `n` 64-bit
    * signatures all equal to `center` except for `flips` bit-flips drawn
    * (with replacement — duplicates cancel, giving a spread of hamming
    * radii) from a FIXED set of `varyingBits` positions. This is what
    * simhash does to boilerplate: template words fix most bit votes,
    * only the low-margin positions vary — so the corpus yields MANY
    * DISTINCT near signatures that the hamming-0 collapse cannot absorb
    * and that share 16-bit chunks in most bands (deep buckets, the
    * O(depth²) self-join hazard). Positions (7j mod 64) spread the
    * varying set across every chunk. Deterministic per id. Schema
    * (id, sig).
    */
  def templateSigCloud(spark: SparkSession, n: Long,
      varyingBits: Int = 40, flips: Int = 5,
      center: Long = 0x5AC3F00F96693CA5L): DataFrame = {
    require(varyingBits >= 1 && varyingBits <= 64)
    val positions = Array.tabulate(varyingBits)(j => (j * 7) % 64)
    val posSql = positions.mkString("array(", ",", ")")
    val flipTerms = (0 until flips).map(j =>
      s"shiftleft(1L, element_at($posSql, " +
        s"CAST(pmod(xxhash64(id, $j), $varyingBits) AS INT) + 1))")
    spark.range(n).select(col("id"),
      expr(s"${center}L ^ ${flipTerms.mkString(" ^ ")}").as("sig"))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    // events.ts is TIMESTAMP(NANOS) — read as long; the derived table then
    // carries plain int64 nanos, which Queries.events consumes identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")

    write(copies(read("orders"), factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CustStride))
    }, "orders", 32)

    write(copies(read("lineitem"), factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))
    }, "lineitem", 32)

    write(copies(read("customer"), factor) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * CustStride))
    }, "customer", 8)

    write(copies(read("documents"), factor) { (df, i) =>
      val t = if (i == 0) col("text")
        else concat(col("text"), lit(s" variant$i"))
      df.withColumn("doc_id", col("doc_id") + lit(i * DocStride))
        .withColumn("text", t)
    }, "documents", 32)

    write(copies(read("embeddings"), factor) { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else transform(col("embedding"),
          (x, idx) => when(idx === 0, x + lit(i * 1e-3f)).otherwise(x))
      df.withColumn("vec_id", col("vec_id") + lit(i * VecStride))
        .withColumn("embedding", emb)
    }, "embeddings", 16)

    write(copies(read("events"), factor) { (df, i) =>
      // shift each copy by i seconds so timestamps stay distinct across
      // copies without changing session structure. The ts physical type
      // varies by driver data generation (see Queries.normalizeEventTs):
      // TIMESTAMP(NANOS) reads as int64 nanos under nanosAsLong; the
      // TIMESTAMP_NTZ generation arrives as a timestamp and takes an
      // interval instead of a long
      val shifted = df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          col("ts") + lit(i * 1_000_000_000L)
        case _ => col("ts") + expr(s"INTERVAL '$i' SECOND")
      }
      df.withColumn("event_id", col("event_id") + lit(i * EventStride))
        .withColumn("user_id", col("user_id") + lit(i * UserStride))
        .withColumn("ts", shifted)
    }, "events", 32)

    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(read(t), t, 1)
    }

    val counts = Seq("orders", "lineitem", "customer", "documents",
      "embeddings", "events").map { t =>
      t -> spark.read.parquet(s"$dest/$t.parquet").count()
    }
    println(s"[scalegen] $dest factor=$factor " +
      counts.map { case (t, n) => s"$t=$n" }.mkString(" "))
    spark.stop()
  }
}
