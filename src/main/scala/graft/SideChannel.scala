package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle side-channel export bookkeeping for the query layer. Library
  * operators never write a side-channel: a query that needs an
  * intermediate frame for its SQL oracle builds that frame with the same
  * library function its entry point uses and exports it here, before it
  * calls the entry point.
  *
  * `once` reports whether a path still needs exporting in this JVM
  * (exports are deterministic per (variant, scale), so later bench
  * repetitions skip the write but still recompute everything the query is
  * timed on); `exportOnce` performs that write; `readBack` exports and
  * always reads the bytes on disk (persisted state such as a dedup store
  * or journal, built by the first run only); `through` exports and reads
  * back on the exporting run, for the query-built frames (model tables,
  * embedding edges) whose consumer should read exactly the bytes the
  * oracle will read. The claim is recorded only AFTER the write action
  * succeeds (ADVICE r7: a claim-at-`once` design left the claim set if
  * the query failed anywhere between `once` and the write — the export
  * would then be silently skipped for the JVM lifetime and the oracle
  * could read a stale frame from a previous JVM at the same /tmp path). Two unclaimed callers of
  * the SAME path are serialized by a per-path lock and the second
  * re-checks the claim inside it, so it skips instead of re-writing —
  * concurrent `overwrite` writes to one directory could interleave the
  * delete and write phases. In practice every side-channel path is
  * written by exactly one query (audited r19), but the bench warm pass
  * runs queries on a thread pool, so the lock is the guarantee rather
  * than the call pattern.
  */
object SideChannel {
  private val claimed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)

  def once(path: String): Option[String] =
    if (claimed.contains(path)) None else Some(path)

  /** Write `df` to `path` (overwrite) unless this JVM already exported
    * it; `df` is not even built once the path is claimed.
    */
  def exportOnce(path: String)(df: => DataFrame): Unit =
    if (!claimed.contains(path)) lockFor(path).synchronized {
      if (!claimed.contains(path)) {
        df.write.mode("overwrite").parquet(path)
        claimed.add(path) // write-then-claim: only a SUCCESSFUL export claims
      }
    }

  def readBack(path: String)(df: => DataFrame): DataFrame = {
    exportOnce(path)(df)
    SparkSession.active.read.parquet(path)
  }

  def through(df: DataFrame, sink: Option[String]): DataFrame =
    sink.fold(df)(readBack(_)(df))

  /** Register an export performed outside [[exportOnce]] (e.g. the IVF
    * cells/probe frames, a published dedup store) so it appears in
    * [[exportedPaths]]. */
  def record(path: String): Unit = claimed.add(path)

  /** Every side-channel path successfully exported by THIS JVM.
    * `graft.Verify` dumps this as `side_channels.json` next to the query
    * outputs so the oracle harness can prove a /tmp frame came from the
    * same run as the artifacts it is compared against — an existing
    * directory alone could be a stale frame from an older JVM, code
    * version, or corpus. */
  def exportedPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    claimed.asScala.toSeq.sorted
  }
}
