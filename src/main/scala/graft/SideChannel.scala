package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle side channels: the frames a query exports for its DuckDB
  * oracle. Library operators never write a side channel: a query that
  * needs an intermediate frame for its SQL oracle builds that frame with
  * the same library function its entry point uses and exports it here,
  * before it calls the entry point.
  *
  * Every frame lives under one run root, and [[path]] is the only place
  * that forms a side-channel path. The root is a fresh temp directory per
  * JVM, created on first use and removed when the JVM exits; only
  * `graft.Verify` keeps its root ([[keepAt]]), because the DuckDB
  * compare reads the frames after it exits. Static oracle SQL names the
  * root through the [[Root]] placeholder ([[sqlPath]]), which
  * `SparkEntry.oracleSql` resolves to this run's root. A run serves one
  * scale: the first export binds the root to its sf dir, and an export
  * for another sf dir throws, so no frame of one scale can be read as
  * another's.
  *
  * [[writeOnce]] is the primitive: it runs a write body for a name unless
  * this JVM already wrote it (exports are deterministic per (variant,
  * scale), so later bench repetitions skip the write but still recompute
  * everything the query is timed on). `exportOnce` writes a frame as
  * parquet; `through` exports and reads back on the exporting run, for
  * the query-built frames (model tables, embedding edges) whose consumer
  * should read exactly the bytes the oracle will read. Persisted state
  * that later runs must read from disk (a dedup store or journal) is
  * exported with `exportOnce` and read at [[path]].
  *
  * The claim is recorded only AFTER the write body succeeds: a
  * claim-before-write design would leave the claim set if the query
  * failed between the claim and the write, and the export would then be
  * silently skipped for the JVM lifetime. Unclaimed callers of the SAME
  * name are serialized by a per-name lock and the later ones re-check the
  * claim inside it, so they skip instead of re-writing — concurrent
  * `overwrite` writes to one directory could interleave the delete and
  * write phases. Several queries share some frames (the pqknn frames, the
  * external-LM dump) and the bench warm pass runs queries on a thread
  * pool, so the lock is what makes every export single-writer.
  */
object SideChannel {
  /** Stands for the run root in static oracle SQL. */
  private[graft] val Root = "{side_channel_root}"

  private var runRoot: String = null
  private val scale = new AtomicReference[String]()
  private val claimed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val nameLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A fresh temp directory, removed with its contents when the JVM
    * exits. */
  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(new scala.reflect.io.Directory(d).deleteRecursively())
    d.getPath
  }

  private def root: String = synchronized {
    if (runRoot == null) runRoot = tempDir("graft_run_")
    runRoot
  }

  /** Make `dir`, emptied first and kept after exit, this JVM's root; only
    * before the first side-channel use. */
  private[graft] def keepAt(dir: String): Unit = synchronized {
    require(runRoot == null, s"side-channel root already at $runRoot")
    val d = new java.io.File(dir)
    new scala.reflect.io.Directory(d).deleteRecursively()
    require(d.mkdirs(), s"cannot create side-channel root $dir")
    runRoot = d.getPath
  }

  /** The side channel `name` of this run. */
  def path(name: String): String = s"$root/$name"

  /** The side channel `name` as static oracle SQL names it. */
  private[graft] def sqlPath(name: String): String = s"$Root/$name"

  /** `sql` with its side-channel paths resolved to this run's root. */
  private[graft] def resolve(sql: String): String = sql.replace(Root, root)

  /** Run `write` on [[path]]`(name)` unless this JVM already wrote it;
    * true iff this call ran it. `name` is claimed once `write` returns
    * normally; a throwing body leaves it unclaimed. Throws if this run
    * already exported for an sf dir other than `sfDir`.
    */
  def writeOnce(sfDir: String, name: String)(write: String => Unit)
      : Boolean = {
    val sf = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize
      .toString
    if (!scale.compareAndSet(null, sf) && scale.get != sf)
      throw new IllegalStateException(s"side channels under $root serve " +
        s"${scale.get}: a run serves one scale, so $name cannot be " +
        s"exported for $sf")
    !claimed.contains(name) &&
      nameLocks.computeIfAbsent(name, _ => new Object).synchronized {
        !claimed.contains(name) && { write(path(name)); claimed.add(name) }
      }
  }

  /** Write `df` as parquet unless this JVM already exported `name`; `df`
    * is not even built once the name is claimed.
    */
  def exportOnce(sfDir: String, name: String)(df: => DataFrame): Boolean =
    writeOnce(sfDir, name)(df.write.mode("overwrite").parquet(_))

  /** `df` read back from disk on the run that exports it, `df` itself
    * on every later run. */
  def through(sfDir: String, name: String)(df: DataFrame): DataFrame =
    if (!exportOnce(sfDir, name)(df)) df
    else SparkSession.active.read.parquet(path(name))
}
