package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.TableFiles

/** Dataset DML — the MERGE/DELETE/upsert surface of the reference
  * (`athena/_write_iceberg.py:297-393` MERGE INTO generation,
  * `715-868` delete-from, `redshift/_write.py:544-769` upsert with
  * `precombine_key`, `timestream/_write.py` version upsert) over a plain
  * hive-partitioned Parquet dataset with no table log: staged
  * copy-on-write, committed through [[StagedCommit]].
  *
  * MERGE and delete-matched plan through the same planner as the Delta
  * and Iceberg writers ([[TableFiles.planMerge]],
  * [[TableFiles.planDeleteMatched]]) over the dataset's data files, each
  * file's partition tuple parsed from the directory names Spark wrote.
  * With partition columns declared, only the partitions where source
  * rows land or matched keys live are rewritten, so a key whose
  * partition value changed leaves its old partition; the commit swaps
  * those directories and the staged ones by name. Without partition
  * columns the dataset is rewritten whole. The merge plan streams from
  * the current files into the staging write; the driver holds only the
  * partitioned dataset's file list and the distinct touched partition
  * tuples.
  */
object MergeOps {

  /** The dataset at `targetPath` as a rewrite target, plus the
    * whole-dataset scan. A partitioned dataset's target is its data files
    * (paths relative to the root), each file's tuple parsed from its
    * directory names. An unpartitioned one is rewritten whole, so it
    * lists no files and its scan is the whole dataset. */
  private def target(spark: SparkSession, targetPath: String,
      partitionCols: Seq[String]): (TableFiles.Target[String], DataFrame) = {
    val whole = spark.read.option("basePath", targetPath).parquet(targetPath)
    if (partitionCols.isEmpty)
      return (TableFiles.Target[String](Nil, _ => whole, Nil, _ => None), whole)
    val root = new Path(targetPath)
    val files = StagedCommit.dataFiles(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    (TableFiles.Target(files,
      TableFiles.subsetScan(whole, root, files, Map("basePath" -> targetPath)),
      partitionCols.map(col), f => {
        val values = TableFiles.partitionValuesOf(f)
        Some(partitionCols.map(c => values.get(c).flatten))
      }), whole)
  }

  /** Commit `rewritten` over the planned rewrite: a whole swap without
    * partition columns, else a swap of the touched files' directories
    * and the staged ones. */
  private def commit(rewritten: DataFrame, targetPath: String,
      partitionCols: Seq[String], touched: Seq[String]): Long =
    if (partitionCols.isEmpty) StagedCommit.overwrite(rewritten, targetPath)
    else StagedCommit.overwritePartitions(rewritten, targetPath,
      partitionCols, touched.map(f => f.take(f.lastIndexOf('/'))).distinct)

  /** MERGE … WHEN MATCHED THEN UPDATE (replace row) WHEN NOT MATCHED
    * THEN INSERT — the `athena.to_iceberg(merge_cols=…)` semantic;
    * `matchNulls` is the reference's `merge_match_nulls`. Returns the
    * row count of the rewritten partitions (the whole dataset when
    * unpartitioned). */
  def upsert(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String] = Nil,
      matchNulls: Boolean = false): Long = {
    require(keys.nonEmpty, "merge requires key columns")
    val (t, whole) = target(spark, targetPath, partitionCols)
    val (plan, merged) = TableFiles.planMerge(t,
      source.select(whole.columns.map(col).toSeq: _*), keys, matchNulls)
    commit(merged, targetPath, partitionCols, plan.touched)
  }

  /** DELETE FROM target WHERE key IN (source keys) — the
    * `athena.delete_from_iceberg_table` semantic. Returns the row count
    * of the rewritten partitions (the whole dataset when
    * unpartitioned). */
  def deleteMatched(
      spark: SparkSession,
      targetPath: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      matchNulls: Boolean = false): Long = {
    val (plan, remaining) = TableFiles.planDeleteMatched(
      target(spark, targetPath, partitionCols)._1,
      keys.select(keyCols.map(col): _*).distinct(), keyCols, matchNulls)
    commit(remaining, targetPath, partitionCols, plan.touched)
  }

  /** Upsert with a precombine column (`redshift.copy(mode="upsert",
    * precombine_key=…)` / Timestream `version`): on key collision the row
    * with the greatest precombine value wins — including collisions
    * within the source batch itself; on a tie the source row wins.
    * Plans like [[upsert]]: the source is reduced to its winner per key,
    * a winner that a target row with a greater precombine value beats
    * is dropped, and the rest are upserted, so with partition columns
    * only the partitions the surviving rows touch are rewritten.
    * Returns [[upsert]]'s row count. */
  def versionedUpsert(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      keys: Seq[String],
      precombine: String,
      partitionCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "merge requires key columns")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(precombine).desc)
    val winners = source
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val target = spark.read.option("basePath", targetPath).parquet(targetPath)
      .select((keys :+ precombine).map(col): _*)
    val beaten = keys.map(k => col(s"s.$k") === col(s"t.$k"))
      .reduce(_ && _) && col(s"t.$precombine") > col(s"s.$precombine")
    upsert(spark, targetPath,
      winners.as("s").join(target.as("t"), beaten, "left_anti"),
      keys, partitionCols)
  }
}
