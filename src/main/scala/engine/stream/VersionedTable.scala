package engine.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import engine.Core.deleteRecursively

/** A crash-safe parquet state table for foreachBatch merge sinks: every
  * commit writes a FRESH version directory (`v<id>/`) and then atomically
  * repoints the `CURRENT` file at it (tmp file + POSIX rename — readers
  * see the old version or the new one, never a missing or half-written
  * table). This replaces the delete-then-move swap, whose window between
  * `rm(state)` and `move(tmp, state)` left NO state table if the process
  * died in between. Superseded version dirs are pruned after the pointer
  * lands; a crash before the prune leaves only orphan dirs the next
  * commit removes. The same shape at cluster scale is a manifest pointer
  * in object storage (or a transactional table format doing precisely
  * this under the hood).
  */
object VersionedTable {

  private def currentName(root: java.io.File): Option[String] = {
    val cur = new java.io.File(root, "CURRENT")
    if (cur.isFile) Some(java.nio.file.Files.readString(cur.toPath).trim)
    else None
  }

  /** The current version of the table, if any commit has landed. */
  def read(spark: SparkSession, root: java.io.File): Option[DataFrame] =
    currentName(root).map(v =>
      spark.read.parquet(new java.io.File(root, v).getPath))

  /** Publish `df` as version `id` and swap the pointer. `id` must be
    * non-decreasing across commits (a micro-batch id is); re-committing
    * the CURRENT id is an idempotent no-op (crash-replay contract).
    * `keep` > 1 retains that many trailing versions for snapshot
    * ([[readAt]]) reads. */
  def commit(df: DataFrame, root: java.io.File, id: Long,
      keep: Int = 1): Unit =
    commitDir(root, id, keep) { dir =>
      df.write.mode("overwrite").parquet(dir.getPath)
    }

  /** SNAPSHOT (time-travel) read of retained version `id`: Some iff the
    * version directory exists AND `id` is at or below the published
    * pointer — a dir ABOVE the pointer is a crashed build's torn
    * orphan, never a readable snapshot (the pointer, not the
    * filesystem, defines what committed). Retention is the committer's
    * `keep` choice; pruned versions read as None. */
  def readAt(spark: SparkSession, root: java.io.File,
      id: Long): Option[DataFrame] = {
    val vdir = new java.io.File(root, s"v$id")
    currentName(root)
      .map(_.stripPrefix("v").toLong)
      .filter(cur => id <= cur && vdir.isDirectory)
      .map(_ => spark.read.parquet(vdir.getPath))
  }

  /** Retained snapshot ids, newest first (CURRENT always included). */
  def retainedVersions(root: java.io.File): Seq[Long] =
    currentName(root).map(_.stripPrefix("v").toLong).toSeq.flatMap { cur =>
      Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName.stripPrefix("v").toLong)
        .filter(_ <= cur).sorted.reverse
    }

  /** Multi-table variant: `write` populates a fresh version DIRECTORY
    * (any number of tables/subdirs) which is then published by the same
    * atomic pointer swap — for state that is several co-versioned
    * tables (e.g. an ANN index's codebook + postings: readers must
    * never see a new codebook with old postings, which two independent
    * `mode("overwrite")` writes would expose, torn, on a crash between
    * them). */
  def commitDir(root: java.io.File, id: Long, keep: Int = 1)
      (write: java.io.File => Unit): Unit = {
    root.mkdirs()
    val vname = s"v$id"
    // Idempotent replay: a foreachBatch replayed after its commit landed
    // but before the ENGINE checkpointed it (the standard crash-recovery
    // window) re-presents the same batch id — the published state already
    // reflects it, so the commit is a no-op (the AppendTable.append
    // contract). Throwing here would kill stream recovery.
    if (currentName(root).contains(vname)) return
    val vdir = new java.io.File(root, vname)
    // a crash between writing CURRENT.tmp.<id> and the atomic rename
    // leaves the tmp file behind; it is never referenced once CURRENT
    // exists, so sweep strays before building the new version
    Option(root.listFiles()).foreach(_.filter(f =>
      f.isFile && f.getName.startsWith("CURRENT.tmp."))
      .foreach(_.delete()))
    // a same-id dir not referenced by CURRENT is an orphan from a
    // crashed build — clear it so the rewrite starts clean
    if (vdir.exists()) deleteRecursively(vdir)
    write(vdir)
    val tmp = new java.io.File(root, s"CURRENT.tmp.$id")
    java.nio.file.Files.writeString(tmp.toPath, vname)
    // POSIX rename: replaces CURRENT atomically — the only mutation a
    // concurrent reader can observe is old-pointer -> new-pointer
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, "CURRENT").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // retention: keep the newest `keep` committed versions for snapshot
    // reads (default 1 = current only, the pre-r19 behavior); anything
    // non-numeric under v* is a stray and always swept
    val retained = (Seq(id) ++ Option(root.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(_.getName.stripPrefix("v").toLong).filter(_ < id))
      .distinct.sorted.reverse.take(math.max(keep, 1))
      .map(v => s"v$v").toSet
    root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("v") && !retained(f.getName))
      .foreach(deleteRecursively)
  }

  /** The current version directory, if any commit has landed. */
  def currentDir(root: java.io.File): Option[java.io.File] =
    currentName(root).map(new java.io.File(root, _))

  /** Remove the table entirely (fresh-run reset). */
  def destroy(root: java.io.File): Unit = deleteRecursively(root)
}
