package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle side-channel export bookkeeping for the query layer — the one
  * place that writes a frame "once per JVM". Library operators never
  * write a side-channel: a query that needs an intermediate frame for its
  * SQL oracle builds that frame with the same library function its entry
  * point uses and exports it here, before it calls the entry point.
  *
  * [[writeOnce]] is the primitive: it runs a write body for a path unless
  * this JVM already wrote it (exports are deterministic per (variant,
  * scale), so later bench repetitions skip the write but still recompute
  * everything the query is timed on). `exportOnce` writes a frame as
  * parquet; `readBack` exports and always reads the bytes on disk
  * (persisted state such as a dedup store or journal, built by the first
  * run only); `through` exports and reads back on the exporting run, for
  * the query-built frames (model tables, embedding edges) whose consumer
  * should read exactly the bytes the oracle will read.
  *
  * The claim is recorded only AFTER the write body succeeds (ADVICE r7: a
  * claim-before-write design left the claim set if the query failed
  * between the claim and the write — the export would then be silently
  * skipped for the JVM lifetime and the oracle could read a stale frame
  * from a previous JVM at the same /tmp path). Unclaimed callers of the
  * SAME path are serialized by a per-path lock and the later ones re-check
  * the claim inside it, so they skip instead of re-writing — concurrent
  * `overwrite` writes to one directory could interleave the delete and
  * write phases. Several queries share some paths (the pqknn frames, the
  * external-LM dump) and the bench warm pass runs queries on a thread
  * pool, so the lock is what makes every export single-writer.
  */
object SideChannel {
  private val claimed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `write` unless this JVM already wrote `path`; true iff this call
    * ran it. The path is claimed (and listed in [[exportedPaths]]) once
    * `write` returns normally; a throwing body leaves it unclaimed.
    */
  def writeOnce(path: String)(write: => Unit): Boolean =
    !claimed.contains(path) &&
      pathLocks.computeIfAbsent(path, _ => new Object).synchronized {
        !claimed.contains(path) && { write; claimed.add(path) }
      }

  /** Write `df` to `path` (overwrite) unless this JVM already exported
    * it; `df` is not even built once the path is claimed.
    */
  def exportOnce(path: String)(df: => DataFrame): Boolean =
    writeOnce(path)(df.write.mode("overwrite").parquet(path))

  def readBack(path: String)(df: => DataFrame): DataFrame = {
    exportOnce(path)(df)
    SparkSession.active.read.parquet(path)
  }

  /** `df` read back from `path` on the run that exports it, `df` itself
    * on every later run. */
  def through(path: String)(df: DataFrame): DataFrame =
    if (exportOnce(path)(df)) SparkSession.active.read.parquet(path) else df

  /** Every path whose [[writeOnce]] completed in THIS JVM: written by
    * it, except the arrow interop dirs (`QueriesArrow`), whose body skips
    * a dir another JVM already completed. `graft.Verify` dumps this as
    * `side_channels.json` next to the query outputs so the oracle harness
    * can prove a /tmp frame came from the same run as the artifacts it is
    * compared against — an existing directory alone could be a stale
    * frame from an older JVM, code version, or corpus. */
  def exportedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    claimed.asScala.toSeq.sorted
  }
}
