package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{ConnectedComponents, MinHash}
import graft.text.CharRepetition

/** Property-based invariants (SURVEY §5.2): cleaner idempotence, ratio
  * bounds, signature determinism, union-find ↔ distributed clustering
  * equivalence.
  */
class PropertySpec extends AnyFunSuite {

  /** Manual property driver (no scalatestplus bridge in the offline
    * cache): evaluate the property over N generator samples.
    */
  private def forAll[T](g: Gen[T], n: Int = 200)(f: T => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).foreach { i =>
      g.apply(params, org.scalacheck.rng.Seed(i.toLong))
        .foreach(f)
    }
  }

  private val texts: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar,
    3 -> Gen.const(' '),
    1 -> Gen.oneOf('\n', '\t', '.', '!', '…', '，', '　'))
  ).map(_.mkString).map(_.take(200))

  test("char repetition ratio ∈ [0,1]") {
    forAll(texts) { t =>
      val r = CharRepetition.ratio(t, 10)
      assert(r >= 0.0 && r <= 1.0)
    }
  }

  test("rolling-fingerprint determinism and window independence") {
    // same window content ⇒ same fingerprint, regardless of surrounding
    // text (the rolling recurrence must equal the direct hash)
    val g = for {
      pre <- Gen.alphaNumStr.map(_.take(20))
      core <- Gen.listOfN(40, Gen.alphaNumChar).map(_.mkString)
      post <- Gen.alphaNumStr.map(_.take(20))
    } yield (pre, core, post)
    forAll(g, n = 100) { case (pre, core, post) =>
      val a = graft.dedup.ExactSubstring.fingerprints(pre + core, 40).last
      val b = graft.dedup.ExactSubstring.fingerprints(core + post, 40).head
      assert(a === b,
        s"window fingerprint depends on context: '$pre' / '$post'")
    }
  }

  test("unionFindRoots is edge-order independent") {
    // regression for the r4 bug: resolving roots while path compression
    // mutated the map skipped entries for ~15% of edge orders
    val edgeList: Gen[List[(Long, Long)]] = Gen.listOfN(25,
      for {
        y <- Gen.choose(0L, 30L)
        x <- Gen.choose(y + 1, y + 40L)
      } yield (x, y))
    forAll(edgeList, n = 100) { edges =>
      val base = ConnectedComponents.unionFindRoots(edges.toArray)
        .filter { case (k, v) => k != v }
      (1 to 5).foreach { s =>
        val shuffled = new scala.util.Random(s).shuffle(edges).toArray
        val r = ConnectedComponents.unionFindRoots(shuffled)
          .filter { case (k, v) => k != v }
        assert(r === base, s"shuffle seed $s diverged")
      }
    }
  }

  test("modMersenne equals unsigned remainder on the full 64-bit range") {
    val gen = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue,
        MinHash.MersennePrime, MinHash.MersennePrime - 1,
        MinHash.MersennePrime + 1, (1L << 61), -2L))
    forAll(gen, n = 2000) { x =>
      assert(MinHash.modMersenne(x) ===
        java.lang.Long.remainderUnsigned(x, MinHash.MersennePrime),
        s"x=$x")
    }
  }

  test("minhash signatures are deterministic and length-stable") {
    forAll(texts) { t =>
      val a = MinHash.bandSignatures(t, 256, 5, 5, 25, 10)
      val b = MinHash.bandSignatures(t, 256, 5, 5, 25, 10)
      assert(a.length === 25)
      assert(a.forall(_.length === 80))
      assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    }
  }

  test("simhash of identical text identical; ratio of bit flips bounded") {
    forAll(texts) { t =>
      assert(graft.dedup.SimHash.simhash64(t) ===
        graft.dedup.SimHash.simhash64(t))
    }
  }

  test("union-find roots are component minima (vs brute force)") {
    val edgeGen = Gen.listOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    forAll(edgeGen) { edges =>
      val roots = ConnectedComponents.unionFindRoots(edges.toArray)
      // brute-force components
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      edges.foreach { case (a, b) =>
        adj(a) = adj(a) + b; adj(b) = adj(b) + a
      }
      def comp(start: Long): Set[Long] = {
        var seen = Set(start)
        var frontier = List(start)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj).filterNot(seen)
          seen ++= next
          frontier = next
        }
        seen
      }
      roots.foreach { case (node, root) =>
        assert(root === comp(node).min, s"node $node")
      }
    }
  }
}

/** Spark-bound equivalence: distributed min-propagation clustering must
  * agree with the driver UnionFind on random graphs.
  */
class DistributedCcSpec extends AnyFunSuite with SharedSession {

  test("distributed clustering == driver union-find on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = Array.fill(120)(
        (rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      val ufRoots = ConnectedComponents.unionFindRoots(edges)
      val dist = ConnectedComponents.distributed(edges.toSeq.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      dist.foreach { case (id, root) =>
        assert(root === ufRoots.getOrElse(id, id), s"trial $trial node $id")
      }
      ufRoots.foreach { case (id, root) =>
        assert(dist.getOrElse(id, id) === root, s"trial $trial node $id")
      }
    }
  }

  test("minhash dedup via distributed path matches driver path") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away from home"
    val docs = (0 until 20).map { i =>
      (i.toLong, if (i % 4 == 0) base + " today" else base + s" variant $i words")
    }.toDF("id", "text")
    val viaDriver = graft.dedup.MinHashDedup
      .deduplicate(docs, "text").select("id")
      .as[Long].collect().toSet
    val viaDistributed = graft.dedup.MinHashDedup
      .deduplicate(docs, "text", maxDriverEdges = 0L).select("id")
      .as[Long].collect().toSet
    assert(viaDriver === viaDistributed)
  }

  test("simhash/ngram/embedding dedup distributed paths match driver paths") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away from home"
    val docs = (0 until 20).map { i =>
      (i.toLong, if (i % 4 == 0) base + " today" else base + s" variant $i words")
    }.toDF("id", "text")

    val sh = graft.dedup.SimHash
    assert(
      sh.deduplicate(docs, "text").select("id").as[Long].collect().toSet ===
        sh.deduplicate(docs, "text", maxDriverEdges = 0L)
          .select("id").as[Long].collect().toSet, "simhash")

    val nj = graft.dedup.NgramJaccard
    assert(
      nj.deduplicate(docs, "text").select("id").as[Long].collect().toSet ===
        nj.deduplicate(docs, "text", maxDriverEdges = 0L)
          .select("id").as[Long].collect().toSet, "ngram jaccard")

    val rng = new scala.util.Random(11)
    val vecs = (0 until 24).map { i =>
      val v = if (i % 3 == 0) Array.fill(8)(1.0f)
        else Array.fill(8)(rng.nextGaussian().toFloat)
      (i.toLong, i % 2, v.toSeq)
    }.toDF("id", "label", "embedding")
      .selectExpr("id", "label", "cast(embedding as array<float>) as embedding")
    val ed = graft.dedup.EmbeddingDedup
    assert(
      ed.deduplicate(vecs, "embedding", "label", 0.95)
        .select("id").as[Long].collect().toSet ===
        ed.deduplicate(vecs, "embedding", "label", 0.95,
          maxDriverEdges = 0L).select("id").as[Long].collect().toSet,
      "embedding")
  }

  private val bytes: Gen[Array[Byte]] = Gen.frequency(
    5 -> Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray),
    // adversarial: valid magic + random tail, so the parsers walk real
    // header/chunk structure over garbage instead of bailing at byte 0
    2 -> Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(t => "P5\n".getBytes("US-ASCII") ++ t.toArray),
    2 -> Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(t => "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1")
        ++ t.toArray),
    1 -> Gen.const(Array.empty[Byte]))

  test("binary decoders never throw or over-read on arbitrary bytes, " +
      "and every accepted parse is internally consistent") {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until 400).flatMap(i =>
        bytes.apply(params, org.scalacheck.rng.Seed(i.toLong))).foreach { b =>
      // PGM: accepted -> dimensions positive, raster exactly w*h
      graft.multimodal.ImageHash.decodePgm(b).foreach { case (w, h, px) =>
        assert(w > 0 && h > 0 && px.length == w * h)
        // a hash, when defined, is a pure function of the pixels
        assert(graft.multimodal.ImageHash.dhash64(w, h, px) ===
          graft.multimodal.ImageHash.dhash64(w, h, px.clone()))
      }
      // WAV: accepted -> positive channels, mono length consistent
      graft.multimodal.AudioHash.decodePcm16(b).foreach {
        case (ch, _, mono) =>
          assert(ch >= 1 && mono.length >= 1)
          assert(graft.multimodal.AudioHash.ehash64(mono) ===
            graft.multimodal.AudioHash.ehash64(mono.clone()))
      }
      // WARC: every emitted record's payload length equals its declared
      // Content-Length
      graft.sources.Warc.parseRecords(b).foreach { case (_, _, n, p) =>
        assert(n >= 0 && p.getBytes("UTF-8").length <= b.length)
      }
      ()
    }
  }
}
