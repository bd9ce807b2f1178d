package graft.table

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Staged, atomically-committed dataset rewrites — the transaction layer
  * under the dataset DML surface ([[MergeOps]]). The reference commits
  * copy-on-write table rewrites through the table format's metadata swap
  * (Iceberg snapshot commit, `athena/_write_iceberg.py:411-714`; Delta
  * single-transaction streaming commit, `s3/_write_deltalake.py:139-226`).
  * A plain Parquet dataset has no log to swap, so the same guarantee is
  * built from the filesystem primitive every format bottoms out on:
  * write everything to a staging directory, then swap directories with
  * atomic renames.
  *
  * Properties:
  *  - The rewritten plan streams straight from the old target files into
  *    the staging write: no driver materialization and no block-manager
  *    copy of the table.
  *  - The target is never touched until the staged write has fully
  *    succeeded: a crash mid-write leaves the target intact plus an
  *    inert `.staging-*` directory ([[recover]] sweeps those).
  *  - Partition-granular commits swap only the rewritten partition
  *    directories, by the names Spark wrote them under — the same
  *    copy-on-write granularity Iceberg uses for tables without
  *    deletion vectors.
  */
object StagedCommit {

  /** A staged-but-uncommitted rewrite: data is on disk under
    * `stagingPath`; the target is untouched until [[commit]]. */
  final case class Staged(
      spark: SparkSession,
      targetPath: String,
      stagingPath: String,
      partitionCols: Seq[String],
      format: String,
      rows: Long) {

    /** Atomically replace the whole target with the staged data. */
    def commit(): Unit = {
      val (fs, target) = fsFor(spark, targetPath)
      val old = sibling(target, s".old-${UUID.randomUUID()}")
      val had = fs.exists(target)
      if (had && !fs.rename(target, old))
        throw new IllegalStateException(s"commit: cannot move $target aside")
      if (!fs.rename(new Path(stagingPath), target)) {
        // roll the old data back so the target never stays missing
        if (had) fs.rename(old, target)
        throw new IllegalStateException(s"commit: cannot publish $stagingPath")
      }
      if (had) fs.delete(old, true)
    }

    /** Replace the partition directories `touched` (paths relative to
      * the target) and every directory the staged write produced, each
      * by the name Spark wrote it under. A touched directory the staged
      * data holds no rows for (every row moved elsewhere) is deleted.
      *
      * Atomicity is PER PARTITION, not table-level: each partition swap is
      * its own rename pair, so a crash mid-commit leaves some partitions
      * on the new data and some on the old (plus a hidden
      * `.<part>.old-*` sibling inside the swap window). [[recover]] walks
      * the table tree and restores/sweeps those leftovers; readers needing
      * a table-level atomic view should commit through [[graft.table.TxnLog]],
      * which publishes all partition dirs in one manifest.
      */
    def commitPartitions(touched: Seq[String]): Unit = {
      require(partitionCols.nonEmpty, "commitPartitions needs partitionCols")
      val (fs, target) = fsFor(spark, targetPath)
      val staging = new Path(stagingPath)
      val staged = dataFiles(fs, staging).map(f => f.take(f.lastIndexOf('/')))
      (touched ++ staged).distinct.foreach { rel =>
        val tgtPart = new Path(target, rel)
        val stgPart = new Path(staging, rel)
        val hasNew = fs.exists(stgPart)
        val old = sibling(tgtPart, s".old-${UUID.randomUUID()}")
        val had = fs.exists(tgtPart)
        if (had && !fs.rename(tgtPart, old))
          throw new IllegalStateException(s"commit: cannot move $tgtPart aside")
        if (hasNew) {
          if (!fs.exists(tgtPart.getParent)) fs.mkdirs(tgtPart.getParent)
          if (!fs.rename(stgPart, tgtPart)) {
            if (had) fs.rename(old, tgtPart)
            throw new IllegalStateException(s"commit: cannot publish $stgPart")
          }
        }
        if (had) fs.delete(old, true)
      }
      fs.delete(staging, true) // drop the (now hollow) staging skeleton
    }

    /** Abandon the staged data, leaving the target untouched. */
    def abort(): Unit = {
      val (fs, _) = fsFor(spark, targetPath)
      fs.delete(new Path(stagingPath), true)
    }
  }

  /** Execute `df` into a fresh staging directory beside the target. The
    * plan may freely read the current target files — nothing conflicts
    * until [[Staged.commit]]. */
  def stage(
      df: DataFrame,
      targetPath: String,
      partitionCols: Seq[String] = Nil,
      format: String = "parquet"): Staged = {
    val spark = df.sparkSession
    val (_, target) = fsFor(spark, targetPath)
    val staging = sibling(target, s".staging-${UUID.randomUUID()}")
    // row count observed during the staging write itself — no second scan
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val writer0 = observed.write.format(format).mode("overwrite")
    val writer =
      if (partitionCols.nonEmpty) writer0.partitionBy(partitionCols: _*)
      else writer0
    writer.save(staging.toString)
    val n = obs.get("rows").asInstanceOf[Long]
    Staged(spark, target.toString, staging.toString, partitionCols, format, n)
  }

  /** Stage + full-swap commit; returns the committed row count. */
  def overwrite(
      df: DataFrame,
      targetPath: String,
      partitionCols: Seq[String] = Nil,
      format: String = "parquet"): Long = {
    val staged = stage(df, targetPath, partitionCols, format)
    staged.commit()
    staged.rows
  }

  /** Stage + partition-granular commit; `touched` are the partition
    * directories being rewritten (including ones the staged data may
    * have emptied). Returns the committed row count. */
  def overwritePartitions(
      df: DataFrame,
      targetPath: String,
      partitionCols: Seq[String],
      touched: Seq[String],
      format: String = "parquet"): Long = {
    val staged = stage(df, targetPath, partitionCols, format)
    staged.commitPartitions(touched)
    staged.rows
  }

  /** The data files under `root`, as paths relative to it, skipping
    * the names Spark's reader skips ([[hidden]]). */
  private[table] def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    val prefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    val out = Seq.newBuilder[String]
    if (fs.exists(root)) {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val rel = it.next().getPath.toString.stripPrefix(prefix)
        if (!rel.split('/').exists(hidden)) out += rel
      }
    }
    out.result()
  }

  /** Whether Spark's file reader skips a path segment named `n`: a `.`
    * name, a `_` name that is not a `k=v` partition directory (so
    * `_SUCCESS` is hidden and `_p=1` is not), or an in-flight
    * `._COPYING_` upload. */
  private def hidden(n: String): Boolean =
    n.startsWith(".") || (n.startsWith("_") && !n.contains("=")) ||
      n.endsWith("._COPYING_")

  /** Sweep leftovers of crashed commits: beside `targetPath`, inert
    * `.staging-*` dirs are deleted and a table-level `.old-*` dir with no
    * live target (crash inside the swap window) is restored; then the
    * table tree itself is walked for the per-partition `.<part>.old-*`
    * dirs a crashed [[Staged.commitPartitions]] leaves INSIDE the table
    * (siblings of each partition dir) — a partition whose live dir is
    * missing is restored from its old copy, otherwise the old copy is
    * deleted. Returns the number of leftovers handled. */
  def recover(spark: SparkSession, targetPath: String): Int = {
    val (fs, target) = fsFor(spark, targetPath)
    val parent = target.getParent
    if (parent == null || !fs.exists(parent)) return 0
    val name = target.getName
    var handled = 0
    fs.listStatus(parent).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(s".$name.staging-")) {
        fs.delete(st.getPath, true); handled += 1
      } else if (n.startsWith(s".$name.old-")) {
        if (!fs.exists(target)) fs.rename(st.getPath, target)
        else fs.delete(st.getPath, true)
        handled += 1
      }
    }
    if (fs.exists(target)) handled += recoverTree(fs, target)
    handled
  }

  /** Hidden-dir leftover name: `.<live-name>.old-<uuid>`. */
  private val PartOldName = """^\.(.+)\.old-[0-9a-fA-F-]+$""".r

  /** Depth-first sweep of a table tree for per-partition swap leftovers.
    * Metadata-scale: lists directories only (data files are skipped, not
    * recursed into), and recovery is a rare administrative path. */
  private def recoverTree(fs: FileSystem, dir: Path): Int = {
    var handled = 0
    val children = fs.listStatus(dir).filter(_.isDirectory)
    children.foreach { st =>
      st.getPath.getName match {
        case PartOldName(liveName) =>
          val live = new Path(dir, liveName)
          if (!fs.exists(live)) fs.rename(st.getPath, live)
          else fs.delete(st.getPath, true)
          handled += 1
        case n if !hidden(n) => handled += recoverTree(fs, st.getPath)
        case _ => () // other hidden/metadata dirs are not ours to touch
      }
    }
    handled
  }

  private def sibling(target: Path, suffix: String): Path =
    new Path(target.getParent, s".${target.getName}$suffix")

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }
}
