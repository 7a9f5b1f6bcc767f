package graft.dedup

import org.apache.spark.sql.DataFrame

/** Oracle side-channel export bookkeeping, shared by every dedup variant:
  * `once` reports whether a path still needs exporting in this JVM
  * (exports are deterministic per (variant, scale), so later bench
  * repetitions skip the write but still recompute everything the query is
  * timed on); `through` performs the write-then-read-back so the
  * clustering consumes exactly the bytes the oracle will read. The claim
  * is recorded only AFTER the write action succeeds (ADVICE r7: a
  * claim-at-`once` design left the claim set if the query failed anywhere
  * between `once` and the write — the export would then be silently
  * skipped for the JVM lifetime and the oracle could read a stale frame
  * from a previous JVM at the same /tmp path). Two unclaimed callers of
  * the SAME path are serialized by a per-path lock and the second
  * re-checks the claim inside it, so it reads instead of re-writing —
  * concurrent `overwrite` writes to one directory could interleave the
  * delete and write phases. In practice every side-channel path is
  * written by exactly one query (audited r19), but the bench warm pass
  * now runs queries on a thread pool, so the lock is the guarantee
  * rather than the call pattern.
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

  def through(df: DataFrame, sink: Option[String]): DataFrame = sink match {
    case Some(p) =>
      lockFor(p).synchronized {
        if (!claimed.contains(p)) {
          df.write.mode("overwrite").parquet(p)
          claimed.add(p) // write-then-claim: only a SUCCESSFUL export claims
        }
      }
      df.sparkSession.read.parquet(p)
    case None => df
  }

  /** Register an export performed outside [[through]] (e.g. the IVF
    * cells/probe frames) so it appears in [[exportedPaths]]. */
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
