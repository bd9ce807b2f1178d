package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{DeltaDeletionVectors, DeltaLogReader, DeltaLogWriter,
  IcebergReader, IcebergWriter, Puffin, TableFiles}

/** Deletion vectors applied as a per-file filter on row index
  * ([[TableFiles.withoutDeleted]]) read exactly the rows the
  * `(file, position)` anti-join they replace reads. The anti-join is
  * kept here as the reference. */
class DeletionFilterSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-dvf").toString
  private def conf = spark.sparkContext.hadoopConfiguration

  /** `scan` (the raw data files, no deletes applied) without the rows
    * `deleted` names, as the readers applied deletion vectors before:
    * a left anti-join on (file, row position). */
  private def referenceRead(scan: DataFrame,
      deleted: Seq[(String, Long)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    scan.withColumn("__file", TableFiles.fileName)
      .withColumn("__pos", col("_metadata.row_index"))
      .join(deleted.toDF("__file", "__pos"), Seq("__file", "__pos"), "left_anti")
      .drop("__file", "__pos")
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(c).cast("string")): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  /** The plan of `df` with AQE's initial plan unwrapped. */
  private def plan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** A DV-bearing read: no shuffle, no join on a row position, and no
    * broadcast of positions (the partition-value manifest may broadcast). */
  private def assertFilterShape(df: DataFrame): Unit = {
    val p = plan(df)
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"DV-bearing read shuffles:\n$p")
    val joinKeys = p.collect {
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
    }.flatten
    assert(!joinKeys.exists(_.references.exists(_.name == "__pos")),
      s"DV-bearing read joins on a row position:\n$p")
    assert(p.collect { case b: BroadcastExchangeExec => b }
      .forall(!_.child.output.exists(_.name == "__pos")),
      s"DV-bearing read broadcasts positions:\n$p")
  }

  test("Delta: sidecar and inline DVs over several files, row groups, " +
      "a fully deleted file and a '%' path read as the anti-join does") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    // four files in two partitions, one of them `p=50%`, each in row
    // groups of about 1,000 rows
    val src = (0L until 12000L).map(i => (i, s"v$i" * 20, if (i < 6000) "a" else "50%"))
      .toDF("id", "v", "p").repartition(4, col("id") % 4)
    src.sparkSession.conf.set("parquet.block.size", (64 * 1024).toString)
    try DeltaLogWriter.write(src, dir, mode = "overwrite", partitionBy = Seq("p"))
    finally src.sparkSession.conf.unset("parquet.block.size")
    val snap0 = DeltaLogReader.snapshot(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val located = TableFiles.locateAll(fs, root, snap0.files)(_.path)
    assert(located.size >= 4, "expected several data files")
    assert(located.exists(_._1.contains("50%")), "expected a '%' path")
    def groups(p: String): Int = {
      val r = TableFiles.openFooter(new Path(p), conf)
      try r.getRowGroups.size finally r.close()
    }
    assert(located.exists(f => groups(f._1) > 1), "expected several row groups")
    // per file: a sidecar DV of scattered positions, an inline DV, every
    // row deleted, and no DV
    val counts = TableFiles.recordCounts(spark, located.map(_._1))
    val dvs = located.zipWithIndex.flatMap { case ((uri, f), i) =>
      val n = counts(uri)
      i % 4 match {
        case 0 =>
          val pos = (0L until n).filter(x => x % 7 == 3 || x == n - 1)
          Some((uri, f, pos, DeltaDeletionVectors.writeSidecar(conf, root, pos)))
        case 1 =>
          val pos = Seq(0L, 5L, n / 2)
          val raw = DeltaDeletionVectors.encodeBitmapArray(pos)
          val padded = java.util.Arrays.copyOf(raw, (raw.length + 3) / 4 * 4)
          Some((uri, f, pos, DeltaDeletionVectors.Descriptor("i",
            DeltaDeletionVectors.z85Encode(padded), None, raw.length, pos.size)))
        case 2 =>
          val pos = 0L until n
          Some((uri, f, pos, DeltaDeletionVectors.writeSidecar(conf, root, pos)))
        case _ => None
      }
    }
    assert(dvs.map(_._4.storageType).toSet == Set("u", "i"))
    // re-add each DV-bearing file with its vector, as a DV delete commits
    val lines = dvs.map { case (_, f, _, d) =>
      val pv = f.partitionValues.map { case (k, v) =>
        s""""$k":${v.fold("null")(x => s""""$x"""")}""" }.mkString("{", ",", "}")
      s"""{"add":{"path":"${TableFiles.toLogPath(f.path)}","partitionValues":$pv,"size":${f.size},""" +
        s""""modificationTime":${f.modificationTime},"dataChange":true,""" +
        s""""deletionVector":{"storageType":"${d.storageType}",""" +
        s""""pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.getOrElse(1)},""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}}}"""
    } :+ """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""
    java.nio.file.Files.writeString(
      new java.io.File(s"$dir/_delta_log/${f"${snap0.version + 1}%020d"}.json").toPath,
      lines.mkString("", "\n", "\n"))

    val read = DeltaLogReader.read(spark, dir)
    val raw = spark.read.parquet(located.map(_._1): _*)
    val deleted = dvs.flatMap { case (uri, _, pos, _) => pos.map(uri -> _) }
    val ref = referenceRead(raw, deleted)
    val got = rows(read, Seq("id", "v"))
    assert(got == rows(ref, Seq("id", "v")))
    assert(got.size == 12000 - deleted.size)
    assertFilterShape(read)
    // the row-id read applies the same filter
    val withIds = DeltaLogReader.readWithRowIds(spark, dir)
    assert(rows(withIds, Seq("id", "v")) == got)
    assertFilterShape(withIds)
  }

  test("Iceberg v3: puffin DVs read as the anti-join does, without a " +
      "shuffle or a broadcast of positions") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    val df = (1L to 3000L).map(i => (i, s"row-$i", (i % 7).toInt))
      .toDF("id", "payload", "grp")
    IcebergWriter.createEmpty(spark, dir, df.schema, formatVersion = 3)
    IcebergWriter.write(df.repartition(3, col("grp")), dir)
    IcebergWriter.deleteWhere(spark, dir, col("id") % 10 === 0)
    IcebergWriter.deleteWhere(spark, dir, col("id") % 7 === 1)
    val snap = IcebergReader.snapshot(spark, dir)
    assert(snap.dvFiles.nonEmpty && snap.deleteFiles.isEmpty)
    val deleted = snap.dvFiles.flatMap { f =>
      Puffin.readDv(conf, new Path(f.path), f.contentOffset.get,
        f.contentSizeBytes.get).map(p => TableFiles.schemeless(f.referencedDataFile.get) -> p)
    }
    // Iceberg compares files scheme-less
    val raw = spark.read.parquet(snap.files.map(_.path): _*)
      .select("id", "payload", "grp")
    val ref = raw.withColumn("__file", TableFiles.schemeless(TableFiles.fileName))
      .withColumn("__pos", col("_metadata.row_index"))
      .join(deleted.toDF("__file", "__pos"), Seq("__file", "__pos"), "left_anti")
    val read = IcebergReader.read(spark, dir)
    val got = rows(read, Seq("id", "payload", "grp"))
    assert(got == rows(ref, Seq("id", "payload", "grp")))
    assert(got.size == 3000 - deleted.size)
    assert(got.size == 3000 - (1L to 3000L).count(i => i % 10 == 0 || i % 7 == 1))
    assertFilterShape(read)
    val lineage = IcebergReader.readWithLineage(spark, dir)
    assert(rows(lineage, Seq("id", "payload", "grp")) == got)
    assertFilterShape(lineage)
  }
}
