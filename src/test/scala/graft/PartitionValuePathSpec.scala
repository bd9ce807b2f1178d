package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{DatasetWriter, DeltaLogReader, DeltaLogWriter, IcebergReader,
  IcebergWriter}
import graft.table.{MergeOps, TxnLog}

/** Partition values whose hive directory names need escaping (a space,
  * `:`, `%`) or whose string rendering differs between the JVM and
  * Spark (a timestamp) survive write, read, MERGE and delete-matched on
  * both real table formats, the plain partitioned dataset and the
  * snapshot log (merge only). Each table holds the tricky value and one
  * plain neighbour partition, so the partition-granular rewrite paths
  * must both find the tricky value's files and carry the neighbour's. */
class PartitionValuePathSpec extends AnyFunSuite {
  import TestSpark._

  private trait Format {
    def name: String
    def write(df: DataFrame, dir: String): Unit
    def read(dir: String): DataFrame
    def merge(dir: String, src: DataFrame): Unit
  }

  /** A format with a delete-matched path. */
  private trait DmlFormat extends Format {
    def deleteMatched(dir: String, keys: DataFrame): Unit
  }

  /** A format with a file-level snapshot and an orphan-file sweep. */
  private trait TableFormat extends DmlFormat {
    /** The current snapshot's data file paths. */
    def files(dir: String): Seq[String]
    /** Vacuum or expire with zero retention; the deleted paths. */
    def sweep(dir: String): Seq[String]
  }

  private object Delta extends TableFormat {
    val name = "delta"
    def write(df: DataFrame, dir: String): Unit =
      DeltaLogWriter.write(df, dir, partitionBy = Seq("p"))
    def read(dir: String): DataFrame = DeltaLogReader.read(spark, dir)
    def merge(dir: String, src: DataFrame): Unit =
      DeltaLogWriter.merge(spark, dir, src, keys = Seq("id"))
    def deleteMatched(dir: String, keys: DataFrame): Unit =
      DeltaLogWriter.deleteMatched(spark, dir, keys, Seq("id"))
    def files(dir: String): Seq[String] =
      DeltaLogReader.snapshot(spark, dir).files.map(_.path)
    def sweep(dir: String): Seq[String] =
      DeltaLogWriter.vacuum(spark, dir, retentionMs = 0L)
  }

  private object Iceberg extends TableFormat {
    val name = "iceberg"
    def write(df: DataFrame, dir: String): Unit =
      IcebergWriter.write(df, dir, partitionBy = Seq("p"))
    def read(dir: String): DataFrame = IcebergReader.read(spark, dir)
    def merge(dir: String, src: DataFrame): Unit =
      IcebergWriter.merge(spark, dir, src, keys = Seq("id"))
    def deleteMatched(dir: String, keys: DataFrame): Unit =
      IcebergWriter.deleteMatched(spark, dir, keys, Seq("id"))
    def files(dir: String): Seq[String] =
      IcebergReader.snapshot(spark, dir).files.map(_.path)
    def sweep(dir: String): Seq[String] =
      IcebergWriter.expireSnapshots(spark, dir, retentionMs = 0L)
  }

  /** A hive-partitioned Parquet dataset under [[MergeOps]], its `p`
    * column stored as partition column `part`. */
  private final class Dataset(part: String) extends DmlFormat {
    val name = if (part == "p") "dataset" else s"dataset by $part"
    private def stored(df: DataFrame): DataFrame = df.withColumnRenamed("p", part)
    def write(df: DataFrame, dir: String): Unit =
      DatasetWriter.toParquet(stored(df), dir, mode = DatasetWriter.Overwrite,
        partitionCols = Seq(part))
    def read(dir: String): DataFrame =
      spark.read.option("basePath", dir).parquet(dir).withColumnRenamed(part, "p")
    def merge(dir: String, src: DataFrame): Unit =
      MergeOps.upsert(spark, dir, stored(src), keys = Seq("id"),
        partitionCols = Seq(part))
    def deleteMatched(dir: String, keys: DataFrame): Unit =
      MergeOps.deleteMatched(spark, dir, keys, Seq("id"),
        partitionCols = Seq(part))
  }

  private val Dataset = new Dataset("p")
  /** Spark reads a `_`-prefixed `k=v` directory as a partition, so the
    * dataset DML must find and swap `_p=…` directories too. */
  private val UnderscoreDataset = new Dataset("_p")

  private object Txn extends Format {
    val name = "txnlog"
    def write(df: DataFrame, dir: String): Unit =
      TxnLog.create(df, dir, partitionBy = Seq("p"))
    def read(dir: String): DataFrame = TxnLog.read(spark, dir)
    def merge(dir: String, src: DataFrame): Unit =
      TxnLog.merge(spark, dir, src, keys = Seq("id"))
  }

  private def frame(pType: DataType, rows: Seq[(Long, Any, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, p, v) => Row(i, p, v) }, 2),
      StructType(Seq(StructField("id", LongType), StructField("p", pType),
        StructField("v", StringType))))

  /** Rows as a sorted list — a duplicated key shows up as two entries. */
  private def rowsOf(df: DataFrame): Seq[(Long, String, String)] =
    df.select("id", "p", "v").collect().toSeq
      .map(r => (r.getLong(0), String.valueOf(r.get(1)), r.getString(2)))
      .sortBy(r => (r._1, r._3))

  private def expect(rows: (Long, Any, String)*): Seq[(Long, String, String)] =
    rows.map { case (i, p, v) => (i, String.valueOf(p), v) }
      .sortBy(r => (r._1, r._3))

  /** A table holding keys 1 and 2 in partition `value` and key 3 in
    * `neighbour`. */
  private def seeded(fmt: Format, pType: DataType, value: Any,
      neighbour: Any): String = {
    val dir = Files.createTempDirectory(s"graft-ppath-${fmt.name}").toString + "/t"
    fmt.write(frame(pType,
      Seq((1L, value, "a"), (2L, value, "b"), (3L, neighbour, "c"))), dir)
    assert(rowsOf(fmt.read(dir)) ==
      expect((1L, value, "a"), (2L, value, "b"), (3L, neighbour, "c")),
      "write then read")
    dir
  }

  private def roundTrip(fmt: Format, pType: DataType, value: Any,
      neighbour: Any): Unit = {
    val dir = seeded(fmt, pType, value, neighbour)
    fmt.merge(dir, frame(pType, Seq((1L, value, "a2"), (4L, value, "d"))))
    assert(rowsOf(fmt.read(dir)) == expect((1L, value, "a2"),
      (2L, value, "b"), (3L, neighbour, "c"), (4L, value, "d")),
      "merge updates the matched row once and inserts the new one")
    fmt match {
      case dml: DmlFormat =>
        dml.deleteMatched(dir, frame(pType, Seq((2L, value, "b"))).select("id"))
        assert(rowsOf(fmt.read(dir)) == expect((1L, value, "a2"),
          (3L, neighbour, "c"), (4L, value, "d")),
          "delete-matched removes only the matched key")
      case _ =>
    }
  }

  private val stringValues = Seq("plain", "a b", "a:b", "50%")
  private val timestamps = (Timestamp.valueOf("2024-03-01 10:00:00"),
    Timestamp.valueOf("2024-03-02 00:00:00"))

  for (fmt <- Seq(Delta, Iceberg, Dataset, UnderscoreDataset); v <- stringValues)
    test(s"${fmt.name}: partition value '$v' survives write, read, merge, delete") {
      roundTrip(fmt, StringType, v, "other")
    }

  for (fmt <- Seq(Delta, Iceberg, Dataset, UnderscoreDataset))
    test(s"${fmt.name}: a timestamp partition survives write, read, merge, delete") {
      roundTrip(fmt, TimestampType, timestamps._1, timestamps._2)
    }

  for (v <- stringValues)
    test(s"txnlog: partition value '$v' survives write, read, merge") {
      roundTrip(Txn, StringType, v, "other")
    }

  test("txnlog: a timestamp partition survives write, read, merge") {
    roundTrip(Txn, TimestampType, timestamps._1, timestamps._2)
  }

  private val kinds = Seq(
    ("string", StringType, "a:b", "other"),
    ("timestamp", TimestampType, timestamps._1, timestamps._2))

  /** MERGE replaces a matched row wherever it lives: a key whose
    * partition value changes leaves its old partition. */
  for (fmt <- Seq(Delta, Iceberg, Dataset, UnderscoreDataset, Txn);
       (kind, pType, value, neighbour) <- kinds)
    test(s"${fmt.name}: merge moves a key from a $kind partition into its " +
        "neighbour") {
      val dir = seeded(fmt, pType, value, neighbour)
      fmt.merge(dir, frame(pType, Seq((1L, neighbour, "a2"))))
      assert(rowsOf(fmt.read(dir)) == expect((1L, neighbour, "a2"),
        (2L, value, "b"), (3L, neighbour, "c")),
        "the moved key is in the neighbour partition only")
    }

  /** Delete-matched on a freshly written table, no MERGE before it. */
  for (fmt <- Seq[DmlFormat](Delta, Iceberg, Dataset, UnderscoreDataset);
       (kind, pType, value, neighbour) <- kinds)
    test(s"${fmt.name}: delete-matched in a $kind partition keeps the rest") {
      val dir = seeded(fmt, pType, value, neighbour)
      fmt.deleteMatched(dir, frame(pType, Seq((2L, value, "b"))).select("id"))
      assert(rowsOf(fmt.read(dir)) == expect((1L, value, "a"),
        (3L, neighbour, "c")), "only the matched key is gone")
    }

  /** A row-level DELETE in the tricky partition records its data file
    * in a position-delete file (v2) or deletion vector (v3); a MERGE
    * confined to the neighbour partition must still see that file as
    * delete-targeted and rewrite it with the delete applied, or the
    * rewrite commit, which drops the delete manifests, brings the row
    * back. */
  for (version <- Seq(2, 3); v <- stringValues.filterNot(_ == "plain"))
    test(s"iceberg v$version: a row deleted in partition '$v' stays deleted " +
        "after a merge into its neighbour") {
      import org.apache.spark.sql.functions.col
      val dir = Files.createTempDirectory("graft-ppath-dv").toString + "/t"
      Iceberg.write(frame(StringType,
        Seq((1L, v, "a"), (2L, v, "b"), (3L, "other", "c"))), dir)
      if (version == 3) IcebergWriter.setFormatVersion(spark, dir, 3)
      IcebergWriter.deleteWhere(spark, dir, col("id") === 2L)
      assert(rowsOf(Iceberg.read(dir)) ==
        Seq((1L, v, "a"), (3L, "other", "c")), "delete where")
      Iceberg.merge(dir, frame(StringType, Seq((3L, "other", "c2"))))
      assert(rowsOf(Iceberg.read(dir)) ==
        Seq((1L, v, "a"), (3L, "other", "c2")),
        "merge into the neighbour partition")
    }

  /** A zero-retention vacuum (Delta) or snapshot expiry (Iceberg) after
    * a MERGE into the `50%` partition deletes exactly the data file the
    * MERGE replaced: every live file, escaped directory name and all,
    * survives. */
  for (fmt <- Seq[TableFormat](Delta, Iceberg))
    test(s"${fmt.name}: a zero-retention sweep after a merge keeps every " +
        "live file in partition '50%'") {
      val dir = Files.createTempDirectory("graft-ppath-sweep").toString + "/t"
      // partition directory and file name: part-file names repeat
      // across partitions
      def name(p: String) = p.split('/').takeRight(2).mkString("/")
      fmt.write(frame(StringType,
        Seq((1L, "50%", "a"), (2L, "50%", "b"), (3L, "other", "c"))), dir)
      val before = fmt.files(dir).map(name).toSet
      fmt.merge(dir, frame(StringType, Seq((1L, "50%", "a2"))))
      val live = fmt.files(dir)
      val replaced = before -- live.map(name)
      assert(replaced.nonEmpty && live.exists(_.contains("p=50%25/")),
        "the merge rewrites the 50% partition")
      // the sweep deletes only files older than its cutoff
      Thread.sleep(1100)
      val swept = fmt.sweep(dir).filter(_.endsWith(".parquet"))
      assert(swept.map(name).toSet == replaced, swept)
      assert(swept.forall(_.contains("p=50%25/")), swept)
      assert(rowsOf(fmt.read(dir)) == Seq((1L, "50%", "a2"), (2L, "50%", "b"),
        (3L, "other", "c")), "the table still reads after the sweep")
    }
}
