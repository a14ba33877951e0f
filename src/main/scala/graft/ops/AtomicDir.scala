package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe whole-table replacement shared by the two plain-parquet
  * sinks ([[Upsert.upsertParquet]], [[Sinks.overwriteParquet]]): write
  * to a sibling staging dir, swap via a rename pair, and heal an
  * interrupted swap on the next call. Spark's own `mode("overwrite")`
  * deletes the target before the job commits, so a crash mid-write (or
  * a concurrent read mid-rewrite) loses or misses the table — this
  * machinery closes that window to the instant between two renames.
  *
  * Concurrent-reader contract (asserted by SwapReaderSpec): a reader
  * whose file listing predates a swap either serves the old snapshot or
  * fails with a clean, retryable missing-file error — never a silently
  * mixed/partial/empty result, because the whole directory moves in one
  * rename and the pinned old paths vanish together. A reader arriving in
  * the instant between the renames fails at path resolution; the next
  * call heals. Row-level maintenance (key deletes, compaction, merges
  * that touch a few files) belongs to the snapshot format
  * ([[Snapshots]]), whose manifest commit needs no swap at all.
  */
private[ops] object AtomicDir {

  private def stagingFor(target: HPath): HPath =
    new HPath(target.getParent, target.getName + "__staging__")

  /** Sibling dir where the previous copy is parked during a swap — NEVER
    * inside the table directory, where a reader would list it as data. */
  private def oldFor(target: HPath): HPath =
    new HPath(target.getParent, target.getName + "__old__")

  /** Crash recovery, run BEFORE the existence probe: a crash between the
    * swap renames leaves the previous copy parked at `<target>__old__`
    * with no table in place — the parked copy IS the table, so rename it
    * back. A parked copy beside a present table is the leftover of a
    * completed swap whose cleanup did not run, and is dropped. */
  private def recoverInterruptedSwap(fs: FileSystem, target: HPath): Unit = {
    val old = oldFor(target)
    if (!fs.exists(old)) return
    if (fs.exists(target)) fs.delete(old, true)
    else if (!fs.rename(old, target))
      throw new java.io.IOException(s"recovery rename $old -> $target failed")
  }

  /** Swap a fully-written staging dir into place: rename current aside
    * (to `old` — a path OUTSIDE the table dir), rename staging in,
    * delete the parked copy. The previous data survives a failure at ANY
    * point — a crash between the renames is healed by
    * [[recoverInterruptedSwap]] on the next call; the visibility gap is
    * the instant between the renames — the price of running on a store
    * without atomic directory replace. */
  private def swapInto(fs: FileSystem, staging: HPath, target: HPath,
      old: HPath): Unit = {
    if (fs.exists(old)) fs.delete(old, true)
    val hadPrev = fs.exists(target)
    if (hadPrev && !fs.rename(target, old))
      throw new java.io.IOException(s"rename $target -> $old failed")
    if (!fs.rename(staging, target)) {
      if (hadPrev) fs.rename(old, target) // restore before failing
      throw new java.io.IOException(s"rename $staging -> $target failed")
    }
    if (hadPrev) fs.delete(old, true)
  }

  /** Stage-and-swap replacement of the parquet table at `path` with the
    * frame `build` returns. Heals an interrupted swap first, then hands
    * `build` whether a table exists, so a builder that reads the current
    * table (an upsert's merge) probes it once, after recovery. The write
    * targets the staging dir, so the table stays readable until the
    * final rename pair. */
  def replaceWith(spark: SparkSession, path: String)(
      build: Boolean => DataFrame): Unit = {
    val target = new HPath(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedSwap(fs, target)
    val next = build(fs.exists(target))
    val staging = stagingFor(target)
    if (fs.exists(staging)) fs.delete(staging, true)
    next.write.mode("overwrite").parquet(staging.toString)
    swapInto(fs, staging, target, oldFor(target))
  }
}
