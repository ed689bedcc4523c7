package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** S7: hive-partitioned snappy parquet sink (SURVEY.md §2.1), and the
  * medallion's one publish protocol, write-audit-publish: a layer is
  * written to `<path>.staging`, audited from metrics observed during that
  * same write job, and published by rename.
  *
  *   - [[publishAudited]] replaces a whole table by one swap (each layer
  *     of a full run);
  *   - [[publishAuditedPartitions]] replaces each written `ano=/mes=`
  *     leaf by its own swap (each partition of a recompute, and a landing
  *     page's partitions in bronze).
  *
  * Guarantee, per swap: a reader sees the old table (or leaf) or the new
  * one, never a mix of the two — except that the published path is
  * absent between `swapInto`'s two renames. A multi-partition recompute
  * is not atomic across partitions: a reader during the leaf loop, or a
  * crash in it, sees some leaves new and others old. The plain hive
  * layout stays because the benchmark and the reference read the plain
  * `ano=/mes=` tree; a commit atomic across partitions is
  * [[ManifestTable]]'s job.
  */
object Sinks {
  /** The bare write. `append` reproduces the reference's pandas
    * to_parquet, which writes a fresh GUID file per run and never
    * overwrites (SURVEY §1.4.4); the medallion itself never appends. */
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

  private def delete(fs: FileSystem, p: HPath): Unit = { fs.delete(p, true); () }

  /** Replace `target` with `replacement` without a window where neither
    * copy exists durably: target is first swapped aside to `old` (a
    * location OUTSIDE any table root, so hive discovery never sees it),
    * the replacement moved in, and the old copy deleted last. `target`
    * itself is absent between the two renames. If the move-in fails, the
    * old copy is restored and the replacement left untouched for the
    * caller's recovery policy. Routed through the Hadoop FileSystem
    * resolved from the path, so the swap runs against whatever
    * filesystem the staging write went to (local, hdfs://, …) rather
    * than silently assuming the driver's local disk. */
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

  /** Shared write-audit-publish scaffold; returns the row count of the
    * written frame, observed DURING the staging write — the Spark-native
    * form of the reference's per-stage row prints (main.py:242-247, 287,
    * 309) at zero extra passes: a `df.count()` would re-execute the whole
    * stage plan. Failure BEFORE or DURING the audit deletes staging
    * (nothing publishable existed); a failure inside `publish` leaves the
    * staged, audit-passed data in place — after a clean audit the staged
    * copy is the valuable one, and the rerun's own staging overwrite
    * supersedes it. */
  private def stagedPublish(df: DataFrame, path: String, audit: () => Unit,
      partitionBy: Seq[String])(
      publish: (FileSystem, HPath) => Unit): Long = {
    val fs = new HPath(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = fs.makeQualified(new HPath(path + ".staging"))
    delete(fs, staging)
    val written = Observation()
    val rows =
      try {
        writePartitioned(df.observe(written, count(lit(1)).as("rows")),
          staging.toString, "overwrite", partitionBy)
        audit()
        written.get("rows").asInstanceOf[Long]
      } catch { case e: Throwable => delete(fs, staging); throw e }
    publish(fs, staging)
    rows
  }

  /** Write-audit-publish with a whole-table swap: `audit()` reads the
    * metrics observed during the staging write (e.g.
    * Quality.observedChecks) and throws on violation — staging is deleted
    * and nothing becomes visible at `path`; on a clean audit staging is
    * swapped into place (previous data set aside at `<path>.old`,
    * restored if the swap fails, deleted last). A layer with nothing to
    * audit passes `() => ()`. The swap needs ATOMIC dir rename, which
    * local and HDFS provide — on an object store (s3a:// rename = copy)
    * use a table format's metadata commit instead. Hard-crash recovery =
    * rerun the stage: leftover `.staging`/`.old` dirs are superseded. */
  def publishAudited(
      df: DataFrame,
      path: String,
      audit: () => Unit,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long =
    stagedPublish(df, path, audit, partitionBy) { (fs, staging) =>
      swapInto(fs, staging, fs.makeQualified(new HPath(path)),
        fs.makeQualified(new HPath(path + ".old")))
    }

  /** Write-audit-publish with a per-leaf swap: replace ONLY the
    * partitions present in the frame. Staging is fresh, so its leaves are
    * exactly the partitions the write produced; after the audit each
    * staged leaf is swapped over its target (previous data set aside
    * under `<path>.old`, restored if that leaf's swap fails). Untouched
    * partitions are never read, rewritten or moved. A failure mid-loop
    * keeps already-published leaves and the remaining staged ones (a
    * rerun supersedes both). A requested partition with no rows has no
    * staged leaf and keeps its old data: the caller's audit checks that. */
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

  /** [[publishAuditedPartitions]] with nothing to audit: how a landing
    * page's partitions replace theirs in bronze. */
  def overwritePartitionsOfCounted(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String] = GastosSchema.partitionColumns): Long =
    publishAuditedPartitions(df, path, () => (), partitionBy)
}
