package graft

import org.apache.spark.sql.functions._

import graft.text.Filters

/** Pipeline meta-operator, set-op, sampling, projection-surface, and exact
  * dedup queries (SURVEY §2.1, §2.2 R6-R10, §2.5).
  */
object QueriesPipeline {

  /** S3 `combine_datasets`: union N sources tagging origin (main.py:78-87).
    * Two "datasets" carved from documents, source column added when absent.
    */
  val s3: QueryDef = QueryDef("s3_combine_datasets",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val d1 = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
        .withColumn("source", lit("ds/alpha"))
      val d2 = docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
        .withColumn("source", lit("ds/beta"))
      d1.unionByName(d2).orderBy("doc_id")
    },
    Some("SELECT doc_id, text, 'ds/alpha' AS source FROM documents WHERE " +
      "doc_id%3=0 UNION ALL SELECT doc_id, text, 'ds/beta' FROM documents " +
      "WHERE doc_id%3=1 ORDER BY doc_id"))

  /** R6/R7 edit-dataset projection surface — utils.py:178-194: rename
    * model_input→input_text, edited_response→output_text, keep-set
    * projection.
    */
  val r6r7: QueryDef = QueryDef("r6_r7_edit_prep",
    (s, dir) => {
      val raw = Queries.table(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderpriority").as("model_input"),
        col("o_orderstatus").as("edited_response"),
        col("o_orderdate").cast("string").as("response"),
        col("o_totalprice").as("extraneous"))
      val prepped = graft.pipeline.Renames.prepareEditDataset(raw)
      graft.pipeline.Renames.removeUnusedColumns(prepped)
        .orderBy("user_id", "input_text", "output_text")
    },
    Some("SELECT o_custkey AS user_id, o_orderpriority AS input_text, " +
      "o_orderstatus AS output_text FROM orders " +
      "ORDER BY user_id, input_text, output_text"))

  /** R8 `add_concatenated_column` + R9 `post_process_output_text`
    * (utils.py:296-301, 197-202).
    */
  val r8r9: QueryDef = QueryDef("r8_r9_concat_postprocess",
    (s, dir) => {
      val df = Queries.table(s, dir, "part").select(
        col("p_partkey"),
        col("p_name").as("response"),
        col("p_type").as("output_text"))
      graft.pipeline.Renames.postProcessOutputText(
        graft.pipeline.Renames.addConcatenatedColumn(df, "merged", "<|tok|>"))
        .orderBy("p_partkey")
    },
    Some("SELECT p_partkey, p_name AS response, ' ' || " +
      "replace(" + OracleSql.strip("p_type") + ", chr(10), '')" +
      " || chr(10) AS output_text, p_name || '<|tok|>' || p_type AS merged " +
      "FROM part ORDER BY p_partkey"))

  /** R10 contiguous row ids over a pinned order (preprocessor.py:46-48). */
  val r10: QueryDef = QueryDef("r10_row_ids",
    (s, dir) => graft.pipeline.Preprocessor.withRowIds(
      Queries.table(s, dir, "documents").select("doc_id").orderBy("doc_id"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ids " +
      "FROM documents ORDER BY doc_id"))

  /** P7 `split_dataset_by_filter`: the failed half (the passed half is
    * f1_check_word_number's own query).
    */
  val p7: QueryDef = QueryDef("p7_split_failed_half",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val (_, failed) = graft.pipeline.Preprocessor.splitByFilter(
        docs, "text", Filters.checkWordNumber(20, 60))
      failed.select("doc_id").orderBy("doc_id")
    },
    Some("SELECT doc_id FROM documents WHERE NOT " +
      "(" + OracleSql.wordCount("text") + " BETWEEN 20 AND 60) " +
      "ORDER BY doc_id"))

  /** P8 `_dataset_subtraction` — left-anti join on id (the reference's only
    * join). Orders with no lineitem.
    */
  val p8: QueryDef = QueryDef("p8_anti_join_subtraction",
    (s, dir) => {
      val orders = Queries.table(s, dir, "orders")
        .withColumnRenamed("o_orderkey", "ids")
      val li = Queries.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ids"))
      graft.pipeline.Preprocessor.subtract(orders, li)
        .select(col("ids"), col("o_custkey")).orderBy("ids")
    },
    Some("SELECT o_orderkey AS ids, o_custkey FROM orders WHERE o_orderkey " +
      "NOT IN (SELECT l_orderkey FROM lineitem) ORDER BY ids"))

  /** P10 stratified sampling — group SIZES are deterministic (<5 whole,
    * else ⌊cnt·frac⌋) even though membership is seeded-random; the oracle
    * checks the size contract.
    */
  val p10: QueryDef = QueryDef("p10_stratified_sample_sizes",
    (s, dir) => {
      val orders = Queries.table(s, dir, "orders")
        .withColumn("user_id", col("o_custkey"))
      graft.sampling.Sampling.sampleDataset(orders, "user_id", 0.4)
        .groupBy("user_id").agg(count(lit(1)).as("kept"))
        .orderBy("user_id")
    },
    Some("SELECT o_custkey AS user_id, CASE WHEN count(*) < 5 THEN count(*) " +
      "ELSE floor(count(*) * 0.4)::BIGINT END AS kept FROM orders " +
      "GROUP BY o_custkey ORDER BY user_id"))

  /** P9 `sample_datasets` proportional mix — per-user kept sizes after the
    * effective-target arithmetic (utils.py:205-215), deterministic.
    */
  val p9: QueryDef = QueryDef("p9_sample_datasets_mix",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
        .withColumn("user_id", col("doc_id") % 50)
      val d1 = docs.where(col("doc_id") % 2 === 0)
      val d2 = docs.where(col("doc_id") % 2 === 1)
      graft.sampling.Sampling
        .sampleDatasets(Seq(d1, d2), Seq(0.3, 0.7), 400.0, "user_id")
        .groupBy("user_id").agg(count(lit(1)).as("kept"))
        .orderBy("user_id")
    },
    Some("WITH d1 AS (SELECT *, doc_id%50 AS user_id FROM documents WHERE " +
      "doc_id%2=0), d2 AS (SELECT *, doc_id%50 AS user_id FROM documents " +
      "WHERE doc_id%2=1), eff AS (SELECT least(400.0, (SELECT count(*) FROM " +
      "d1)/0.3, (SELECT count(*) FROM d2)/0.7) AS t), " +
      "s1 AS (SELECT user_id, count(*) AS cnt, CASE WHEN count(*) < 5 THEN " +
      "count(*) ELSE floor(count(*) * ((SELECT t FROM eff)*0.3/(SELECT " +
      "count(*) FROM d1)))::BIGINT END AS kept FROM d1 GROUP BY user_id), " +
      "s2 AS (SELECT user_id, count(*) AS cnt, CASE WHEN count(*) < 5 THEN " +
      "count(*) ELSE floor(count(*) * ((SELECT t FROM eff)*0.7/(SELECT " +
      "count(*) FROM d2)))::BIGINT END AS kept FROM d2 GROUP BY user_id) " +
      // CAST: DuckDB sum(BIGINT) returns HUGEINT → pandas float64 → the
      // driver would hash 4.0 against Spark's int64 4 (r1 failure mode)
      "SELECT user_id, CAST(sum(kept) AS BIGINT) AS kept FROM (SELECT * " +
      "FROM s1 UNION ALL SELECT * FROM s2) GROUP BY user_id ORDER BY user_id"))

  /** Exact dedup (hash-groupBy, keep smallest id) on a prefix key. */
  val dedupExact: QueryDef = QueryDef("dedup_exact",
    (s, dir) => graft.dedup.ExactDedup.deduplicate(
      Queries.table(s, dir, "documents"),
      Seq(substring(col("text"), 1, 20)), col("doc_id"))
      .select("doc_id").orderBy("doc_id"),
    Some("SELECT min(doc_id) AS doc_id FROM documents " +
      "GROUP BY substr(text, 1, 20) ORDER BY doc_id"))

  /** MinHash near-dedup over documents (SURVEY §2.6) — SIGNATURE-oracled
    * since r7: the sha1/permutation math is the only thing that crosses
    * the side-channel (the exploded (id, band, bsig) frame); DuckDB
    * derives the bucket-min candidate edges, recomputes the identical/
    * short-class star edges from the corpus, and replays transitive
    * closure → component minima → keep-first. Reference-golden kept-id
    * specs pin the signature math itself.
    */
  val dedupMinhash: QueryDef = QueryDef("dedup_minhash",
    (s, dir) => graft.dedup.MinHashDedup.deduplicate(
      QueriesExtra2.docsBanded(s, dir, "minhash"), "text",
      QueriesExtra2.DocsMinhash, orderCol = Some("doc_id"))
      .select("doc_id").orderBy("doc_id"),
    Some(QueriesExtra2.minhashKeepFirstSql("minhash", 3,
      "documents", "doc_id")))

  /** Dedup observability (§2.6-adjacent, beyond-reference): cluster-size
    * histogram of the minhash clustering — "how duplicated is my corpus"
    * — singletons included. Signature-oracled like dedup_minhash: DuckDB
    * derives candidates from the exported banding, recomputes ident/short
    * star edges from the corpus, clusters, then LEFT JOINs every doc to
    * its root (no-edge docs root to themselves) and histograms the
    * component sizes.
    */
  val dedupClusterStats: QueryDef = QueryDef("dedup_cluster_stats",
    (s, dir) => graft.dedup.MinHashDedup.clusterSizeStats(
        QueriesExtra2.docsBanded(s, dir, "minhash_stats"), "text",
        QueriesExtra2.DocsMinhash, orderCol = Some("doc_id"))
      .orderBy("cluster_size"),
    Some {
      val glob = SideChannel.sqlPath("dedup_banded_minhash_stats") +
        "/*.parquet"
      "WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text AS t FROM " +
        "documents), " + QueriesExtra2.minhashCtes(glob, 3) + ", " +
        "rts AS (SELECT d.id, coalesce(r.root, d.id) AS root FROM dsrc d " +
        "LEFT JOIN root r ON d.id = r.id), " +
        "cs AS (SELECT root, count(*) AS cluster_size FROM rts GROUP BY " +
        "root) SELECT cluster_size, count(*) AS n_clusters FROM cs " +
        "GROUP BY cluster_size ORDER BY cluster_size"
    })

  val all: Seq[QueryDef] = Seq(
    s3, r6r7, r8r9, r10, p7, p8, p9, p10, dedupExact, dedupMinhash,
    dedupClusterStats)
}
