package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.ArrowDataset

/** The HF `save_to_disk` / `load_from_disk` interop surfaces as
  * driver-gated oracle queries (S4 — preprocessor.py:68,72). Each query
  * saves the corpus in an HF on-disk layout (Arrow IPC stream shards +
  * state.json + dataset_info.json, `sources/ArrowDataset.scala`) and loads
  * it back through the arrow reader; the oracle reads the ORIGINAL
  * parquet, so a hash match certifies every value survived the format
  * conversion byte-exactly. Interop with the real ecosystem is pinned
  * separately: ArrowDatasetSpec reads committed pyarrow-written fixtures
  * (reader direction) and tools/arrow_interop.py has pyarrow validate our
  * shards (writer direction, log committed).
  *
  *  - `s4_arrow_roundtrip` — the plain save path.
  *  - `s4_arrow_append` — the STREAMING publish path: the corpus arrives
  *    as three `appendBatch` micro-batches (split by doc_id mod 3, with
  *    batch 1 re-delivered once — the foreachBatch at-least-once case),
  *    and the loaded dataset must still hash-equal the source parquet:
  *    exactly-once convergence, manifest-ordered, value-faithful.
  *  - `s4_arrow_zstd` — the COMPRESSED save path (Arrow IPC body
  *    compression): at a 100 TB publish the uncompressed HF layout costs
  *    ~3× parquet bytes (PERF.md interop table); zstd closes that, and
  *    the hash certifies it is value-lossless through our writer AND
  *    reader. pyarrow reads the same shards transparently
  *    (tools/arrow_interop_r18.log).
  *  - `s3_dict_splits` — the HF DatasetDict layout (`dataset_dict.json` +
  *    one subdir per split): the reference's first act on a dict-shaped
  *    dataset is concatenating its splits (main.py:82, utils.py:173-176).
  *    The corpus is saved as a 2-split dict (doc_id parity) and loaded
  *    back through the dict-sniffing reader, which unions in dict order,
  *    so the hash certifies no row is lost or duplicated across the split
  *    boundary.
  */
object QueriesArrow {

  /** Saves the corpus once per run into the side channel `arrow_<tag>`
    * and loads it back on every run: each run's writer makes the shards
    * its loads read.
    */
  private def arrowQuery(name: String, tag: String)(
      save: (DataFrame, String) => Unit): QueryDef = QueryDef(name,
    (s, dir) => {
      SideChannel.writeOnce(dir, s"arrow_$tag")(
        save(Queries.table(s, dir, "documents"), _))
      ArrowDataset.load(s, SideChannel.path(s"arrow_$tag"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents"))

  val s4ArrowRoundTrip: QueryDef =
    arrowQuery("s4_arrow_roundtrip", "rt") { (docs, out) =>
      ArrowDataset.save(docs.repartition(4, col("doc_id")), out)
    }

  val s4ArrowAppend: QueryDef =
    arrowQuery("s4_arrow_append", "append") { (docs, out) =>
      def slice(k: Int) = docs.where(col("doc_id") % 3 === k)
        .repartition(2, col("doc_id"))
      (0 to 2).foreach(k => ArrowDataset.appendBatch(slice(k), out, k.toLong))
      ArrowDataset.appendBatch(slice(1), out, 1L) // replay batch 1
    }

  val s4ArrowZstd: QueryDef =
    arrowQuery("s4_arrow_zstd", "zstd") { (docs, out) =>
      ArrowDataset.save(docs.repartition(4, col("doc_id")), out,
        compression = "zstd")
    }

  val s3DictSplits: QueryDef =
    arrowQuery("s3_dict_splits", "dict") { (docs, out) =>
      def split(parity: Int) = docs.where(col("doc_id") % 2 === parity)
        .repartition(2, col("doc_id"))
      // dict-sniffing load unions the splits (the reference's
      // concatenate-splits semantics) — every doc exactly once
      ArrowDataset.saveDict(Seq("train" -> split(0), "test" -> split(1)),
        out)
    }

  val all: Seq[QueryDef] =
    Seq(s4ArrowRoundTrip, s4ArrowAppend, s4ArrowZstd, s3DictSplits)
}
