package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** S7: hive-partitioned snappy parquet sink (SURVEY.md §2.1).
  *
  * The reference's pandas to_parquet writes a fresh GUID file per run and
  * never overwrites — de-facto append (SURVEY §1.4.4). We make the mode a
  * first-class argument; `overwrite` is the sane default for recomputed
  * layers, `append` reproduces the reference.
  */
object Sinks {
  def writePartitioned(
      df: DataFrame,
      path: String,
      mode: String = "overwrite",
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Unit = {
    df.write
      .mode(mode)
      .option("compression", "snappy")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** [[writePartitioned]] that also returns the row count of the written
    * frame, measured DURING the write job via the Observation API — the
    * Spark-native form of the reference's informational per-stage row
    * prints (main.py:242-247, 287, 309), at zero extra passes: a
    * `df.count()` before or after the write would re-execute the whole
    * stage plan, which at 100 TB doubles the stage. */
  def writePartitionedCounted(
      df: DataFrame,
      path: String,
      mode: String = "overwrite",
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long = {
    val obs = Observation()
    writePartitioned(df.observe(obs, count(lit(1)).as("rows")),
      path, mode, partitionBy)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * df, leave all others untouched — the write mode for incremental
    * recompute (a daily run that rebuilds one ano/mes does not clobber
    * seven years of history, and does not re-write 100 TB). */
  def overwritePartitionsOf(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Unit = {
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "snappy")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  private def delete(fs: FileSystem, p: HPath): Unit = { fs.delete(p, true); () }

  /** Replace `target` with `replacement` without a window where neither
    * copy exists durably: target is first swapped aside to `old` (a
    * location OUTSIDE any table root, so hive discovery never sees it),
    * the replacement moved in, and the old copy deleted last. If the
    * move-in fails, the old copy is restored and the replacement left
    * untouched for the caller's recovery policy. Routed through the
    * Hadoop FileSystem resolved from the path, so the swap runs against
    * whatever filesystem the staging write went to (local, hdfs://, …)
    * rather than silently assuming the driver's local disk. */
  private def swapInto(fs: FileSystem, replacement: HPath, target: HPath,
      old: HPath): Unit = {
    delete(fs, old)
    Option(target.getParent).foreach(fs.mkdirs)
    Option(old.getParent).foreach(fs.mkdirs)
    val hadTarget = fs.exists(target)
    if (hadTarget) require(fs.rename(target, old),
      s"could not set aside $target -> $old")
    try require(fs.rename(replacement, target),
      s"could not publish $replacement -> $target")
    catch {
      case e: Throwable =>
        // a FAILED restore must not be silent: the previous data would
        // sit stranded under `old` while the exception implies it was
        // put back — surface it on the original error
        if (hadTarget && !fs.exists(target) && !fs.rename(old, target))
          e.addSuppressed(new RuntimeException(
            s"rollback rename $old -> $target also failed — previous data stranded at $old"))
        throw e
    }
    delete(fs, old)
  }

  /** Shared write-audit-publish scaffold. Failure BEFORE or DURING the
    * audit deletes staging (nothing publishable existed); a failure
    * inside `publish` leaves the staged, audit-passed data in place —
    * after a clean audit the staged copy is the valuable one, and the
    * rerun's own staging overwrite supersedes it. */
  private def stagedPublish(df: DataFrame, path: String, audit: () => Unit,
      partitionBy: Seq[String])(
      publish: (FileSystem, HPath) => Unit): Long = {
    val fs = new HPath(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = fs.makeQualified(new HPath(path + ".staging"))
    delete(fs, staging)
    val rows =
      try {
        val r = writePartitionedCounted(df, staging.toString, "overwrite", partitionBy)
        audit()
        r
      } catch { case e: Throwable => delete(fs, staging); throw e }
    publish(fs, staging)
    rows
  }

  /** Write-audit-publish: the ONE-PASS form of the quality-gated
    * overwrite sink. The frame is written to `<path>.staging` with the
    * gate's violation counts observed during that same write job
    * (Quality.observedChecks); `audit()` then reads the observed metrics
    * and throws on violation — staging is deleted and nothing becomes
    * visible at `path`; on a clean audit the staging dir is swapped into
    * place (previous data set aside at `<path>.old`, restored if the
    * swap fails, deleted last — at no point is the published path's data
    * deleted before its replacement is in place). Same externally-
    * visible contract as the two-pass gate (bad data never lands at
    * `path`), but the corpus is scanned once, not twice — at 100 TB that
    * halves the stage. The publish renames go through the Hadoop
    * FileSystem resolved from `path`, so any Hadoop-visible filesystem
    * works; the no-partial-visibility guarantee additionally needs
    * ATOMIC dir rename, which local and HDFS provide — on an object
    * store (s3a:// rename = copy) use a table format's metadata commit
    * instead (Iceberg/Delta do exactly this pattern). Overwrite-mode
    * only: an append publish would need a merge, which is a table-format
    * commit, not a dir move. Hard-crash recovery = rerun the stage:
    * leftover `.staging`/`.old` dirs are superseded and cleaned by the
    * rerun. */
  def publishAudited(
      df: DataFrame,
      path: String,
      audit: () => Unit,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long =
    stagedPublish(df, path, audit, partitionBy) { (fs, staging) =>
      swapInto(fs, staging, fs.makeQualified(new HPath(path)),
        fs.makeQualified(new HPath(path + ".old")))
    }

  /** Write-audit-publish for PARTITION-SCOPED overwrites (the
    * incremental-recompute twin of [[publishAudited]]): the frame is
    * staged as a plain overwrite (the staging dir is fresh, so the
    * partitions present there are exactly the partitions dynamic
    * overwrite would replace), audited via the metrics observed during
    * that write, and published by swapping each staged leaf partition
    * dir over its target — untouched partitions are never read,
    * rewritten, or moved, and each leaf's previous data is set aside
    * under `<path>.old` (outside the table root, invisible to hive
    * discovery) and restored if that leaf's swap fails. Renames go
    * through the Hadoop FileSystem resolved from `path` (local/hdfs://
    * rename atomically; object stores need a table format, see
    * [[publishAudited]]). A cross-partition atomic commit needs a table
    * format regardless. A failure mid-loop keeps already-published
    * leaves and the remaining staged leaves (rerun supersedes both). */
  def publishAuditedPartitions(
      df: DataFrame,
      path: String,
      audit: () => Unit,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long =
    stagedPublish(df, path, audit, partitionBy) { (fs, staging) =>
      val target = fs.makeQualified(new HPath(path))
      val oldRoot = fs.makeQualified(new HPath(path + ".old"))
      if (partitionBy.isEmpty) {
        // depth 0: the "leaf" IS the table root — swap it whole, exactly
        // like publishAudited (the relative-path arithmetic below would
        // otherwise resolve the absolute staging URI against `target`
        // and try to swap staging onto itself)
        swapInto(fs, staging, target, oldRoot)
      } else {
        def leafDirs(dir: HPath, depth: Int): Seq[HPath] =
          if (depth == 0) Seq(dir)
          else fs.listStatus(dir).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.contains("="))
            .flatMap(st => leafDirs(st.getPath, depth - 1))
        val stagingPrefix = staging.toString + "/"
        leafDirs(staging, partitionBy.size).foreach { leaf =>
          val rel = fs.makeQualified(leaf).toString.stripPrefix(stagingPrefix)
          swapInto(fs, leaf, new HPath(target, rel), new HPath(oldRoot, rel))
        }
        delete(fs, staging) // _SUCCESS marker + empty skeleton
        delete(fs, oldRoot) // empty graveyard skeleton
      }
    }

  /** [[overwritePartitionsOf]] with the observed row count — see
    * [[writePartitionedCounted]] for the zero-extra-pass contract. */
  def overwritePartitionsOfCounted(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long = {
    val obs = Observation()
    overwritePartitionsOf(df.observe(obs, count(lit(1)).as("rows")),
      path, partitionBy)
    obs.get("rows").asInstanceOf[Long]
  }
}
