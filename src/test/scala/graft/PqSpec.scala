package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.similarity.{Ann, Pq}

class PqSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("train: codebook shapes, determinism, duplicate-tolerant init") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val m1 = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8, k = 4)
    val m2 = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8, k = 4)
    assert(m1.codebooks.length == 8)
    assert(m1.codebooks.forall(_.length == 4))
    assert(m1.codebooks.forall(_.forall(_.length == 8)))
    // deterministic end to end (seeded sample + fixed Lloyd rounds)
    assert(m1.codebooks.flatten.flatten.toSeq ==
      m2.codebooks.flatten.flatten.toSeq)
    // degenerate corpus: all-identical vectors → one distinct init → a
    // single surviving codebook entry, no crash
    val const = Seq.tabulate(5)(i => (i.toLong, Seq.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val md = Pq.train(const, "embedding", "vec_id", dim = 8, m = 2, k = 4)
    assert(md.codebooks.forall(_.length == 1))
  }

  test("encode: code range, determinism, exact on codebook points") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8, k = 8)
    val codes = Pq.encode(emb, "embedding", model, "c")
      .select("vec_id", "c").orderBy("vec_id")
      .as[(Long, Seq[Int])].collect()
    assert(codes.forall(_._2.length == 8))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 8)))
    // a vector assembled FROM centroids must encode to those exact codes
    val assembled = model.codebooks.map(_(2).map(_.toFloat)).flatten.toSeq
    val one = Seq((0L, assembled)).toDF("vec_id", "embedding")
    val c = Pq.encode(one, "embedding", model, "c")
      .select("c").as[Seq[Int]].collect()(0)
    assert(c == Seq.fill(8)(2))
  }

  test("adcTopK matches the exported table's integer arithmetic") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8, k = 8)
    val qv = emb.orderBy("vec_id").limit(1)
      .select("embedding").as[Seq[Float]].collect()(0).toArray
    val encoded = Pq.encode(emb, "embedding", model, "c")
    val top = Pq.adcTopK(encoded, "vec_id", "c", qv, model, 5)
      .orderBy("rank")
      .as[(Int, Long, Long)].collect()
    assert(top.length == 5)
    // replay via the DataFrame codes/table frames (what the oracle does)
    val table = Pq.adcTable(spark, qv, model)
    val replay = Pq.codesFrame(encoded, "vec_id", "c")
      .join(table, Seq("sub", "code"))
      .groupBy("vec_id").agg(sum("d2_micro").as("s"))
      .orderBy(col("s"), col("vec_id")).limit(5)
      .select("vec_id", "s").as[(Long, Long)].collect()
    assert(top.map(t => (t._2, t._3)).toSeq == replay.toSeq)
    // distances ascend; the query's own vector is its best match
    assert(top.map(_._3).toSeq == top.map(_._3).sorted.toSeq)
    assert(top(0)._2 == 0L || top(0)._3 <= top(1)._3)
  }

  test("IVF-PQ: probed-cell ADC keeps the query's own cell and agrees with full ADC") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = graft.similarity.Ann.kmeansAssign(emb, "embedding",
      "vec_id", "cell", k = 4, iters = 2)
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8, k = 8)
    val qv = emb.orderBy("vec_id").limit(1)
      .select("embedding").as[Seq[Float]].collect()(0).toArray
    val enc = Pq.encode(cells, "embedding", model, "c")
    val pruned = Pq.ivfAdcTopK(enc, "vec_id", "c", "embedding", "cell",
        qv, model, 10, nprobe = 2)
      .select("vec_id").as[Long].collect()
    val full = Pq.adcTopK(enc, "vec_id", "c", qv, model, 10)
      .select("vec_id").as[Long].collect()
    assert(pruned.length == 10)
    // the query vector's own cell is its max-cosine centroid → probed
    // first, so vec 0 survives pruning; full-ADC puts it on top too
    assert(pruned.contains(0L) && full.contains(0L))
    // nprobe=2 of 4 cells: the pruned top-10 is a large subset of the
    // unpruned top-10 (misses only ids whose cells were not probed)
    assert((pruned.toSet & full.toSet).size >= 5,
      s"pruned=${pruned.toSeq} full=${full.toSeq}")
  }

  test("ivfAdcKnnJoin: each query's rows equal the single-query IVF-ADC " +
      "path minus self") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = Ann.kmeansAssign(emb, "embedding", "vec_id", "__cell__",
      k = 4, iters = 2, trainFraction = 0.5).persist()
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8,
      k = 8, iters = 2, maxTrain = 500)
    val encoded = Pq.encode(cells, "embedding", model, "_codes").persist()
    val queries = emb.orderBy("vec_id").limit(3)
    // probes computed internally → also exercises probeCellsBatch ≡
    // probeCells on each query (same centroid cosine, same tie-break)
    val joined = Pq.ivfAdcKnnJoin(queries, encoded, "embedding", "vec_id",
      "vec_id", "__cell__", "_codes", model, k = 4, nprobe = 2)
      .collect().toSeq.groupBy(_.getLong(0))
    assert(joined.keySet.size == 3)
    val qRows = queries.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    qRows.foreach { case (qid, qv) =>
      // single-query twin at k+1, self removed, truncated to k: equals
      // the batch's top-k non-self rows whether or not self ranked
      val single = Pq.ivfAdcTopK(encoded, "vec_id", "_codes", "embedding",
        "__cell__", qv.toArray, model, k = 5, nprobe = 2)
        .orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
        .filter(_._1 != qid).take(4).toSeq
      val batch = joined(qid).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getLong(3)))
      assert(batch == single, s"query $qid")
    }
    encoded.unpersist(); cells.unpersist()
  }

  test("batched serving drops null-embedding query rows instead of " +
      "crashing (ADVICE r11)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = Ann.kmeansAssign(emb, "embedding", "vec_id", "__cell__",
      k = 4, iters = 2, trainFraction = 0.5).persist()
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8,
      k = 8, iters = 2, maxTrain = 500)
    val encoded = Pq.encode(cells, "embedding", model, "_codes").persist()
    val good = emb.orderBy("vec_id").limit(2).select("vec_id", "embedding")
    val nullRow = Seq((999999L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val queries = good.unionByName(nullRow)
    // ivfAdcKnnJoin (internally probeCellsBatch + the grid UDF): the two
    // good queries serve, the unembeddable one contributes zero rows
    val joined = Pq.ivfAdcKnnJoin(queries, encoded, "embedding", "vec_id",
      "vec_id", "__cell__", "_codes", model, k = 3, nprobe = 2).collect()
    assert(joined.map(_.getLong(0)).toSet == Set(0L, 1L))
    // same contract for the exported ADC-tables frame
    val frames = Pq.adcTablesFrame(queries, "embedding", "vec_id", model)
    assert(frames.select("query_id").distinct()
      .as[Long].collect().toSet == Set(0L, 1L))
    // and the refine path
    val refined = Pq.ivfAdcRefineKnnJoin(queries, encoded, "embedding",
      "vec_id", "vec_id", "__cell__", "_codes", model, k = 2,
      shortlist = 4, nprobe = 2).collect()
    assert(refined.map(_.getLong(0)).toSet == Set(0L, 1L))
    encoded.unpersist(); cells.unpersist()
  }

  test("ivfAdcRefineKnnJoin: exactly the ADC shortlist re-ranked by " +
      "true L2, per query") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cells = Ann.kmeansAssign(emb, "embedding", "vec_id", "__cell__",
      k = 4, iters = 2, trainFraction = 0.5).persist()
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8,
      k = 8, iters = 2, maxTrain = 500)
    val encoded = Pq.encode(cells, "embedding", model, "_codes").persist()
    val queries = emb.orderBy("vec_id").limit(3)
    val probes = Pq.probeCellsBatch(cells, queries, "embedding", "vec_id",
      "__cell__", nprobe = 2).localCheckpoint(true)
    val short = Pq.ivfAdcKnnJoin(queries, encoded, "embedding", "vec_id",
        "vec_id", "__cell__", "_codes", model, k = 5, nprobe = 2,
        probes = Some(probes))
      .collect().toSeq.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2))).toMap
    val refined = Pq.ivfAdcRefineKnnJoin(queries, encoded, "embedding",
        "vec_id", "vec_id", "__cell__", "_codes", model, k = 3,
        shortlist = 5, nprobe = 2, probes = Some(probes))
      .collect().toSeq.groupBy(_.getLong(0))
    val embMap = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    short.foreach { case (qid, candidates) =>
      val expected = candidates
        .sortBy(n => (d2(embMap(n), embMap(qid)), n)).take(3)
      val got = refined(qid).sortBy(_.getInt(1)).map(_.getLong(2))
      assert(got.toSeq == expected.toSeq, s"query $qid")
    }
    encoded.unpersist(); cells.unpersist()
  }

  test("recall@10 vs exact L2 brute force is useful") {
    // sf0.01 (500 vectors): enough training points that the codebooks
    // are representative — the tiny sf0.001 corpus under-trains k=16
    val emb = spark.read.parquet(
      "/root/testdata/sf0.01/embeddings.parquet")
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 16,
      k = 64, iters = 8)
    val qv = emb.orderBy("vec_id").limit(1)
      .select("embedding").as[Seq[Float]].collect()(0).toArray
    val encoded = Pq.encode(emb, "embedding", model, "c")
    val approx = Pq.adcTopK(encoded, "vec_id", "c", qv, model, 10)
      .select("vec_id").as[Long].collect().toSet
    // exact L2 top-10 (same metric as ADC) via the double-cast kernel
    val qLit = typedLit(qv.toSeq)
    val exact = emb.withColumn("d2", aggregate(
        zip_with(col("embedding"), qLit,
          (a, b) => (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double"))),
        lit(0.0), (acc, v) => acc + v))
      .orderBy(col("d2"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (approx & exact).size / 10.0
    // raw ADC must put a useful fraction of the exact set in front
    assert(recall >= 0.4, s"ADC recall@10 = $recall")
    // the served shape — ADC shortlist + exact re-rank — recovers the
    // exact set up to shortlist misses (10% of the corpus shortlisted)
    val refined = Pq.refineTopK(encoded, "vec_id", "c", "embedding",
        qv, model, 10, shortlist = 50)
      .select("vec_id").as[Long].collect().toSet
    val rRecall = (refined & exact).size / 10.0
    assert(rRecall >= 0.8, s"refined recall@10 = $rRecall")
    // and the query's own vector is always rank 1 after the re-rank
    val r1 = Pq.refineTopK(encoded, "vec_id", "c", "embedding",
        qv, model, 1, shortlist = 50)
      .select("vec_id").as[Long].collect()(0)
    assert(r1 == 0L)
  }
}
