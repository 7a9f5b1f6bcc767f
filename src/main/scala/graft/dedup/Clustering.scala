package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The clustering OUTCOME of one candidate edge list, path-explicit, with
  * one method per derived output. Every dedup family reaches its output
  * through here (the reference's one idea: candidate edges → UnionFind →
  * keep each cluster's first row, minhash_deduplication.py:179-193,
  * 273-280); the families differ only in how they build their edges.
  *
  * The driver path's UnionFind map is ALREADY driver-resident and bounded
  * (≤ 2× `maxDriverEdges` entries), so consumers that only need
  * per-cluster aggregates — weights, size histograms, keep filters —
  * answer them from the map with ZERO additional shuffles instead of
  * re-shuffling a corpus-scale (id, root) frame through groupBy/join
  * (guide §2.4 "remove shuffles outright", §8 "decide with small rows").
  * The distributed path keeps its DataFrame shape — there the roots frame
  * is NOT bounded and the corpus-scale aggregation is the honest cost.
  *
  * Every output takes the `withId` frame the edges were built over (id
  * column [[Clustering.IdCol]]). A lazy output that reads held ids keeps
  * their pin alive for exactly as long as the output itself is
  * referenced — see [[Clustering.run]].
  */
private[graft] sealed trait Clustering {

  /** Keep each cluster's first row (min id) — hard dedup. */
  def keep(withId: DataFrame): DataFrame

  /** (id, root) for EVERY row — rows in no duplicate cluster root to
    * themselves. Zero additional shuffles on every path (projection,
    * broadcast-map UDF, or left join against the checkpointed
    * min-label roots).
    */
  def roots(withId: DataFrame): DataFrame

  /** The kept rows plus `weight` = their cluster size. */
  def weighted(withId: DataFrame): DataFrame

  /** (cluster_size, n_clusters), singletons included as size-1
    * clusters — EAGER, a driver-local frame (one row per distinct
    * cluster size).
    */
  def histogram(withId: DataFrame): DataFrame
}

private[graft] object Clustering {

  val IdCol = "__graft_dedup_id__"

  /** The increment side's id offset for incremental dedup: new-side ids
    * are offset by 2^62, so every reference row orders below every new
    * row by construction. Safe: monotonically_increasing_id packs the
    * partition id into the upper 31 bits, so values stay below 2^62
    * until a side exceeds 2^29 (~537M) partitions — far beyond Spark's
    * practical partition count (100 TB at 128 MB splits is ~800k).
    */
  val NewIdOffset: Long = 1L << 62

  /** The keep-first id: a DATA-DERIVED unique non-null Long column when
    * `orderCol` is given (kept set then deterministic under ANY
    * partitioning), physical row order otherwise (reference semantics).
    */
  def idExpr(orderCol: Option[String]): Column = orderCol match {
    case Some(c) => col(c).cast(org.apache.spark.sql.types.LongType)
    case None => monotonically_increasing_id()
  }

  /** Attach the keep-first id (plus `idOffset`) as [[IdCol]]. */
  def withIds(df: DataFrame, orderCol: Option[String],
      idOffset: Long = 0L): DataFrame = {
    val id = idExpr(orderCol)
    df.withColumn(IdCol, if (idOffset == 0L) id else id + lit(idOffset))
  }

  /** [[withIds]], persisted because every family scans it at least twice
    * (edge building + the output).
    */
  def assignId(df: DataFrame, orderCol: Option[String],
      idOffset: Long = 0L): DataFrame =
    withIds(df, orderCol, idOffset).persist()

  /** What [[run]]'s output reads its ids from once `run` returns. */
  sealed trait Pin
  object Pin {
    /** A lazy single-consumer output: synthetic ids (no `orderCol`) are
      * [[Held]]; a named, recompute-stable order is cached for the
      * clustering only and the output re-derives it from source (r19
      * measured that faster than holding a cache: the keep filter
      * pushes below the expensive projections).
      */
    case object IfStable extends Pin
    /** The output reads the very ids the clustering saw, from a lazy
      * local checkpoint it owns: the ids are synthetic even under a name
      * (the union-tagged incremental order), or the output has a second,
      * later consumer.
      */
    case object Held extends Pin
    /** The output materialized inside [[run]]: cached for the call. */
    case object Released extends Pin
  }

  /** Frames an edge builder pinned (skew-probe banded frame,
    * hamming-guard frontiers, a store path's banded frame), released by
    * [[withCacheRelease]].
    */
  type Sink = mutable.Buffer[DataFrame]

  /** Run `body` with a fresh [[Sink]], then release every frame it
    * collected (VERDICT r13 #3 / ADVICE r13). Safe once a [[Clustering]]
    * is built: building it fully materializes the edge frame (driver
    * collect, or the distributed min-label loop whose roots are
    * checkpointed), so the released caches are never re-read. A
    * long-lived session calling dedup repeatedly therefore never
    * accumulates one pinned |corpus|×bands cache per call.
    */
  def withCacheRelease[A](body: Sink => A): A = {
    val sink = mutable.Buffer.empty[DataFrame]
    try body(sink)
    finally sink.foreach(_.unpersist())
  }

  /** The one entry-point shape every dedup family shares: attach ids,
    * build the family's edges over them (`edges` gets the id frame and a
    * [[Sink]]), cluster the edges ONCE, derive the output, then release
    * what was pinned — the sink's frames always.
    *
    * The corpus pin: every family scans the id frame at least twice
    * (edge building + the output). A held pin ([[Pin]]) is a LAZY local
    * checkpoint — the first job that reads it stores its blocks, and
    * they belong to the frames built over it: ContextCleaner frees them
    * once the last output is dropped, a lost block fails the job instead
    * of re-rolling monotonically_increasing_id under an already-built
    * root map, and no other call can alias or drop it (Spark's cache is
    * keyed by plan and shared across the session, so a `persist()` pin
    * is shared by two calls over one frame and dropped by either one's
    * release). Every other pin is a `persist()` released before `run`
    * returns.
    */
  def run[A](df: DataFrame, orderCol: Option[String], maxDriverEdges: Long,
      pin: Pin = Pin.IfStable, idOffset: Long = 0L)(
      edges: (DataFrame, Sink) => DataFrame)(
      output: (Clustering, DataFrame) => A): A = {
    val held = pin == Pin.Held || pin == Pin.IfStable && orderCol.isEmpty
    val withId =
      if (held) withIds(df, orderCol, idOffset).localCheckpoint(eager = false)
      else assignId(df, orderCol, idOffset)
    val out = withCacheRelease { sink =>
      output(of(edges(withId, sink), maxDriverEdges), withId)
    }
    if (!held) withId.unpersist()
    out
  }

  /** Edge list → kept rows, for callers that already hold `withId`. */
  def keepFirst(withId: DataFrame, edges: DataFrame,
      maxDriverEdges: Long): DataFrame =
    of(edges, maxDriverEdges).keep(withId)

  private val MarkCol = "__graft_dedup_new__"
  private val OrderCol = "__graft_dedup_order__"

  /** Incremental dedup by recompute: drop rows of `newDf` that cluster
    * with `refDf` rows or with earlier `newDf` rows; `refDf` is never
    * modified. Keep-first over `refDf ∪ newDf` with an EXPLICIT order
    * column: each side gets monotonically_increasing_id BEFORE the union
    * and new-side ids are offset by [[NewIdOffset]] — so every reference
    * row orders below every new row by construction, not by the union's
    * physical row order (an optimizer artifact, not a contract). A new row
    * clustered with ANY reference row can never be its cluster's min.
    * Returns the surviving `newDf` rows only. The corpus pin is held: the
    * order column is synthetic even though it is named.
    */
  def against(newDf: DataFrame, refDf: DataFrame, maxDriverEdges: Long)(
      edges: (DataFrame, Sink) => DataFrame): DataFrame = {
    val tagged = refDf
      .selectExpr(newDf.columns.map(c => s"`$c`").toIndexedSeq: _*)
      .withColumn(MarkCol, lit(false))
      .withColumn(OrderCol, monotonically_increasing_id())
      .unionByName(newDf.withColumn(MarkCol, lit(true))
        .withColumn(OrderCol, monotonically_increasing_id() + lit(NewIdOffset)))
    run(tagged, Some(OrderCol), maxDriverEdges, Pin.Held)(edges)(_.keep(_))
      .where(col(MarkCol)).drop(MarkCol, OrderCol)
  }

  /** Incremental dedup against a persisted store, EAGER: ids are
    * `orderCol` (or row order) + `newIdOffset`, `edges` links increment
    * rows to each other and to store ids (all below the offset), and the
    * surviving rows — |increment|-bounded — are localCheckpointed before
    * every cache is released. The per-batch caller this shape serves must
    * not accumulate cached frames across batches (ADVICE r10).
    */
  def againstStore(newDf: DataFrame, orderCol: Option[String],
      newIdOffset: Long, maxDriverEdges: Long)(
      edges: (DataFrame, Sink) => DataFrame): DataFrame =
    run(newDf, orderCol, maxDriverEdges, Pin.Released, newIdOffset)(edges)(
      _.keep(_).localCheckpoint(true))

  /** No candidate edges — every row is a singleton. */
  case object Empty extends Clustering {
    def keep(withId: DataFrame): DataFrame = withId.drop(IdCol)
    def roots(withId: DataFrame): DataFrame =
      withId.select(col(IdCol).as("id"), col(IdCol).as("root"))
    def weighted(withId: DataFrame): DataFrame =
      withId.withColumn("weight", lit(1L)).drop(IdCol)
    def histogram(withId: DataFrame): DataFrame =
      Driver(Map.empty).histogram(withId)
  }

  /** Bounded edge set: component-min roots for every id that appears in
    * an edge (UnionFind, reference-faithful). Ids absent from the map are
    * singletons rooting to themselves. Each output broadcasts the map
    * once; the keep filter is the zero-shuffle plan PlanSpec pins.
    */
  final case class Driver(rootMap: Map[Long, Long]) extends Clustering {
    private def keepUdf(withId: DataFrame) = {
      val b = withId.sparkSession.sparkContext.broadcast(rootMap)
      udf { (id: Long) => b.value.getOrElse(id, id) == id }
    }

    def keep(withId: DataFrame): DataFrame =
      withId.where(keepUdf(withId)(col(IdCol))).drop(IdCol)

    def roots(withId: DataFrame): DataFrame = {
      val b = withId.sparkSession.sparkContext.broadcast(rootMap)
      val rootUdf = udf { (id: Long) => b.value.getOrElse(id, id) }
      withId.select(col(IdCol).as("id"), rootUdf(col(IdCol)).as("root"))
    }

    /** r20: keep filter + weight column are broadcast-map UDFs, zero
      * shuffles, identical values to the groupBy(root)+join form (which
      * exchanged ~|corpus| rows: singleton roots are unique agg keys, so
      * map-side partial aggregation never reduced them).
      */
    def weighted(withId: DataFrame): DataFrame = {
      val b = withId.sparkSession.sparkContext.broadcast(rootSizes)
      val weightUdf =
        udf { (id: Long) => b.value.getOrElse(id, 1L) }.asNonNullable()
      withId.where(keepUdf(withId)(col(IdCol)))
        .withColumn("weight", weightUdf(col(IdCol))).drop(IdCol)
    }

    /** r20: pure driver arithmetic over the map plus ONE count() of the
      * cached corpus — replacing a root-UDF scan shuffled through TWO
      * corpus-scale aggregations. Non-singleton buckets come from the
      * map, the singleton bucket is corpus rows minus mapped ids.
      */
    def histogram(withId: DataFrame): DataFrame = {
      val hist = mutable.Map.empty[Long, Long]
      rootSizes.valuesIterator
        .foreach(s => hist.update(s, hist.getOrElse(s, 0L) + 1L))
      val singletons = withId.count() - rootMap.size
      if (singletons > 0)
        hist.update(1L, hist.getOrElse(1L, 0L) + singletons)
      histogramDf(withId.sparkSession, hist.toMap)
    }

    /** root → cluster size. Exact for every non-singleton cluster: the
      * map holds one entry per id that appears in ANY edge (both
      * endpoints are always inserted), and every such id belongs to a ≥2
      * cluster (edges never self-loop — the edge builders filter
      * id ≠ min), so counting entries per root counts full memberships.
      */
    private lazy val rootSizes: Map[Long, Long] = {
      val m = mutable.Map.empty[Long, Long]
      rootMap.valuesIterator.foreach(r => m.update(r, m.getOrElse(r, 0L) + 1L))
      m.toMap
    }
  }

  /** Edge set over `maxDriverEdges`: (id, root) from min-label
    * propagation, one row per id that appears in an edge, locally
    * checkpointed — the lazy outputs read it, and ContextCleaner
    * reclaims its blocks once they are dropped.
    */
  final case class Distributed(rootFrame: DataFrame) extends Clustering {
    def keep(withId: DataFrame): DataFrame = {
      // dropped rows removed via a broadcast-able anti-join on the
      // (id, root) pairs with root ≠ id
      val dropped = rootFrame.where(col("root") =!= col("id"))
        .select(col("id").as(IdCol))
      withId.join(dropped, Seq(IdCol), "left_anti").drop(IdCol)
    }

    def roots(withId: DataFrame): DataFrame = {
      val ids = withId.select(col(IdCol).as("id"))
      ids.join(rootFrame.withColumnRenamed("id", "__rid__"),
          ids("id") === col("__rid__"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("root"))
    }

    /** Corpus-scale clustering: weights honestly need the aggregation.
      * Inner join on id == root: a row survives iff it is its cluster's
      * representative (singletons root to themselves).
      */
    def weighted(withId: DataFrame): DataFrame = {
      val weights = roots(withId).groupBy("root")
        .agg(count(lit(1)).as("weight")).withColumnRenamed("root", IdCol)
      withId.join(weights, Seq(IdCol)).drop(IdCol)
    }

    def histogram(withId: DataFrame): DataFrame =
      histogramDf(withId.sparkSession, roots(withId)
        .groupBy("root").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** Local (cluster_size, n_clusters) frame, sorted by size, with the
    * schema the Spark aggregation form produces (both columns
    * non-nullable LongType).
    */
  private def histogramDf(spark: SparkSession,
      hist: Map[Long, Long]): DataFrame =
    spark.createDataFrame(hist.toSeq.sortBy(_._1))
      .toDF("cluster_size", "n_clusters")

  /** Probe + cluster an edge frame ONCE: the bounded-head collect decides
    * driver UnionFind vs distributed min-label. The edge frame is
    * persisted for the probe and released before returning.
    */
  def of(edgesRaw: DataFrame, maxDriverEdges: Long): Clustering = {
    val edges = edgesRaw.toDF("__x__", "__y__").persist()
    val out = boundedEdgeHead(edges, maxDriverEdges) match {
      case Some(head) if head.isEmpty =>
        DedupMetrics.emptyPath.incrementAndGet()
        Empty
      case Some(head) =>
        DedupMetrics.driverPath.incrementAndGet()
        Driver(ConnectedComponents.unionFindRoots(
          head.map(r => (r.getLong(0), r.getLong(1)))))
      case None =>
        // 100 TB path: roots computed distributed — no driver
        // materialization anywhere
        DedupMetrics.distributedPath.incrementAndGet()
        println(s"[graft] clustering: edge list exceeded maxDriverEdges=" +
          s"$maxDriverEdges — distributed min-label clustering engaged")
        Distributed(ConnectedComponents.distributed(edges.toDF("id", "root")))
    }
    edges.unpersist()
    out
  }

  /** ONE limited collect decides the clustering branch AND delivers the
    * edges in the common case (a separate count() would be a whole extra
    * job), but the speculative collect is BOUNDED at ~1M rows: above
    * that, a count-only probe (limit stops early; no rows reach the
    * driver) decides driver-vs-distributed, and rows are collected only
    * when the driver path is actually taken — an edge set overflowing
    * `maxDriverEdges` never materializes ~10M Rows on the driver just to
    * be discarded. The probe and the collect share the persisted
    * partitions. None = over budget (distributed path).
    */
  private def boundedEdgeHead(edges: DataFrame,
      maxDriverEdges: Long): Option[Array[org.apache.spark.sql.Row]] = {
    val cap = math.min(maxDriverEdges, Int.MaxValue - 2L).toInt
    val directCap = math.min(cap, 1 << 20)
    val probe = edges.limit(directCap + 1).collect()
    if (probe.length <= directCap) Some(probe)
    else if (cap > directCap && edges.limit(cap + 1).count() <= cap)
      Some(edges.collect())
    else None
  }
}

/** Cluster-representative assignment. Driver UnionFind mirrors the
  * reference exactly (minhash_deduplication.py:179-193,273-280) — path
  * compression, union-to-min.
  */
object ConnectedComponents {

  def unionFindRoots(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      // path compression
      var cur = x
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent(cur)
        parent(cur) = root
        cur = next
      }
      root
    }
    edges.foreach { case (x, y) =>
      val px = find(x)
      val py = find(y)
      val m = math.min(px, py)
      parent(px) = m
      parent(py) = m
      if (!parent.contains(x)) parent(x) = m
    }
    // SNAPSHOT the keys before resolving: find()'s path compression
    // mutates `parent`, and iterating a mutable.HashMap's key view while
    // writing to the map silently skips entries (observed: ~15% of edge
    // orders dropped rows from the roots map → over-kept clusters; caught
    // by the reference-golden spec, r4)
    val ks = parent.keys.toArray
    ks.map(k => k -> find(k)).toMap
  }

  /** 100 TB-scale path: UNDIRECTED min-label propagation over the edge
    * DataFrame — no driver materialization, same component-min
    * representative as the UnionFind. Each round every node takes the min
    * of its own root and its neighbors' roots; converges within component
    * diameter rounds (LSH components are star-shaped → 2-3 rounds).
    * Input: (a, b) candidate pairs (any direction); output: (id, root)
    * for every node that appears in an edge, LOCALLY CHECKPOINTED from
    * the converged round's cache (no recompute of the loop) and that
    * cache released — the returned frame pins nothing a caller must
    * free: ContextCleaner reclaims its blocks once it is dropped.
    */
  def distributed(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = pairs.toDF("a", "b")
    val sym = e.union(e.select(col("b"), col("a"))).distinct().persist()
    var cur = sym.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("root"))
      .persist()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbor = sym
        .join(cur, sym("b") === cur("id"))
        .select(sym("a").as("id"), col("root"))
      val next = cur.select(col("id"), col("root"))
        .union(viaNeighbor)
        .groupBy("id").agg(min("root").as("root"))
        .persist()
      val changed = next
        .join(cur.withColumnRenamed("root", "prev"), Seq("id"))
        .where(col("root") =!= col("prev"))
        .limit(1).count()
      cur.unpersist()
      cur = next
      converged = changed == 0
      i += 1
    }
    val out = cur.localCheckpoint(true)
    cur.unpersist()
    sym.unpersist()
    out
  }
}
