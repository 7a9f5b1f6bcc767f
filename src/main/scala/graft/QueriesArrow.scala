package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

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

  /** Scale-keyed output dir (VERDICT r16 "what's wrong" #3 discipline):
    * the key folds in the sf dir path AND the source parquet's (name,
    * length, mtime) listing, so a driver-regenerated corpus at the same
    * path can never alias a stale dump.
    */
  private def keyedDir(dir: String, tag: String): String = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val sig = Option(src.listFiles()).getOrElse(Array.empty)
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(dir + "|", ",", "")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"/tmp/graft_arrow_${tag}_$key"
  }

  /** Run `body` holding an exclusive OS file lock on `dir/.lock`
    * (creating `dir`): the query layer's one cross-JVM exclusion, for
    * frames that concurrent verify/bench JVMs would otherwise race.
    */
  private[graft] def withDirLock(dir: String)(body: => Unit): Unit = {
    Files.createDirectories(Paths.get(dir))
    val ch = java.nio.channels.FileChannel.open(Paths.get(s"$dir/.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock = ch.lock()
    try body finally { lock.release(); ch.close() }
  }

  /** Write-once per corpus generation, across JVMs: the dir lock
    * serializes concurrent verify/bench JVMs and the marker file makes
    * the write idempotent — once a marker exists no JVM writes the dir
    * again, so concurrent readers are safe (shard bytes depend on shuffle
    * order and are NOT cross-JVM identical, unlike the ExtLm dumps).
    * Inside a JVM, [[SideChannel.writeOnce]] skips the lock after the
    * first call.
    */
  private def arrowQuery(name: String, tag: String)(
      save: (DataFrame, String) => Unit): QueryDef = QueryDef(name,
    (s, dir) => {
      // keyedDir computed ONCE: it hashes the source parquet's mtime
      // listing, so a second evaluation during a concurrent testdata
      // refresh could diverge from the locked/marked dir
      val out = keyedDir(dir, tag)
      SideChannel.writeOnce(out)(withDirLock(out) {
        val marker = Paths.get(s"$out/_GRAFT_ARROW_OK")
        if (!Files.exists(marker)) {
          save(Queries.table(s, dir, "documents"), out)
          Files.createFile(marker)
        }
      })
      ArrowDataset.load(s, out)
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
