package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-row shapes for the hand-authored Delta log fixture (the
  * column layout the Delta protocol prescribes for
  * `<v>.checkpoint.parquet`). */
case class CkptAdd(path: String, partitionValues: Map[String, String],
    size: Long, modificationTime: Long, dataChange: Boolean)
case class CkptMeta(id: String, schemaString: String,
    partitionColumns: Seq[String])
case class CkptRemove(path: String, deletionTimestamp: Long)
case class CkptRow(add: Option[CkptAdd], remove: Option[CkptRemove],
    metaData: Option[CkptMeta])

/** Read-only interop with a REAL Delta Lake log: JSON actions, partition
  * re-attachment from partitionValues, version time travel, and
  * checkpoint-parquet replay — all against a fixture committed by hand in
  * the protocol's own format (no Delta jar on either side). */
class DeltaInteropSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-delta").toString

  private val tableSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("p", StringType)))
  private val dataSchema = StructType(tableSchema.fields.filter(_.name != "p"))

  /** Write `rows` as ONE parquet file at `tableDir/rel` (data columns
    * only — partition values live in the log, as Delta writes them). */
  private def writeDataFile(tableDir: String, rel: String,
      rows: Seq[(Long, String)]): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val stg = s"${tmp()}/stg"
    rows.toDF("id", "v").coalesce(1).write.parquet(stg)
    val fs = new Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stg))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val dst = new Path(tableDir, rel)
    fs.mkdirs(dst.getParent)
    assert(fs.rename(part, dst))
  }

  private def writeCommit(tableDir: String, version: Long,
      actions: Seq[String]): Unit = {
    val dir = new java.io.File(s"$tableDir/_delta_log")
    dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, f"$version%020d.json").toPath,
      actions.mkString("", "\n", "\n"))
  }

  private def metaAction: String = {
    val schemaJson = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().writeValueAsString(tableSchema.json)
    s"""{"metaData":{"id":"fixture-1","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":["p"],"configuration":{}}}"""
  }

  private def addAction(rel: String, p: String): String =
    s"""{"add":{"path":"$rel","partitionValues":{"p":"$p"},"size":1,"modificationTime":1,"dataChange":true}}"""

  private def removeAction(rel: String): String =
    s"""{"remove":{"path":"$rel","deletionTimestamp":2,"dataChange":true}}"""

  private def commitInfo(op: String, ts: Long): String =
    s"""{"commitInfo":{"timestamp":$ts,"operation":"$op"}}"""

  private def asSet(df: DataFrame): Set[(Long, String, String)] = {
    val spark0 = spark
    import spark0.implicits._
    df.as[(Long, String, String)].collect().toSet
  }

  /** v0: p=a + p=b; v1: rewrite p=a; v2: add p=c. Returns the table dir. */
  private def fixture(): String = {
    val dir = s"${tmp()}/tbl"
    writeDataFile(dir, "p=a/part-00000-a0.parquet", Seq((1L, "a1")))
    writeDataFile(dir, "p=b/part-00000-b0.parquet", Seq((2L, "b1")))
    writeCommit(dir, 0, Seq(commitInfo("WRITE", 10), metaAction,
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      addAction("p=a/part-00000-a0.parquet", "a"),
      addAction("p=b/part-00000-b0.parquet", "b")))
    writeDataFile(dir, "p=a/part-00000-a1.parquet", Seq((1L, "a2"), (3L, "a2")))
    writeCommit(dir, 1, Seq(commitInfo("MERGE", 20),
      removeAction("p=a/part-00000-a0.parquet"),
      addAction("p=a/part-00000-a1.parquet", "a")))
    writeDataFile(dir, "p=c/part-00000-c0.parquet", Seq((9L, "c1")))
    writeCommit(dir, 2, Seq(commitInfo("WRITE", 30),
      addAction("p=c/part-00000-c0.parquet", "c")))
    dir
  }

  test("delta interop: snapshot replay, partition re-attachment, time travel") {
    val dir = fixture()
    assert(io.DeltaLogReader.latestVersion(spark, dir) == 2)
    assert(asSet(io.DeltaLogReader.read(spark, dir)) ==
      Set((1L, "a2", "a"), (3L, "a2", "a"), (2L, "b1", "b"), (9L, "c1", "c")))
    assert(asSet(io.DeltaLogReader.read(spark, dir, asOfVersion = Some(0))) ==
      Set((1L, "a1", "a"), (2L, "b1", "b")))
    assert(asSet(io.DeltaLogReader.read(spark, dir, asOfVersion = Some(1))) ==
      Set((1L, "a2", "a"), (3L, "a2", "a"), (2L, "b1", "b")))
    val snap = io.DeltaLogReader.snapshot(spark, dir)
    assert(snap.schema == tableSchema && snap.partitionColumns == Seq("p"))
    assert(snap.files.length == 3, "one active file per partition")
    val hist = io.DeltaLogReader.history(spark, dir)
    assert(hist.map(c => (c.version, c.operation)) ==
      Seq((2L, "WRITE"), (1L, "MERGE"), (0L, "WRITE")))
    intercept[IllegalArgumentException] {
      io.DeltaLogReader.read(spark, dir, asOfVersion = Some(7))
    }
  }

  test("delta interop: checkpoint parquet replaces the compacted json tail") {
    val spark0 = spark
    import spark0.implicits._
    val dir = fixture()
    // checkpoint at v1: metaData + the two files active at that version
    val rows = Seq(
      CkptRow(None, None, Some(CkptMeta("fixture-1", tableSchema.json, Seq("p")))),
      CkptRow(Some(CkptAdd("p=a/part-00000-a1.parquet", Map("p" -> "a"),
        1L, 1L, true)), None, None),
      CkptRow(Some(CkptAdd("p=b/part-00000-b0.parquet", Map("p" -> "b"),
        1L, 1L, true)), None, None))
    val stg = s"${tmp()}/ckpt"
    rows.toDS().coalesce(1).write.parquet(stg)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stg))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part,
      new Path(s"$dir/_delta_log", f"${1L}%020d.checkpoint.parquet")))
    // compact away the pre-checkpoint json commits — replay must succeed
    // from checkpoint + tail alone
    fs.delete(new Path(s"$dir/_delta_log", f"${0L}%020d.json"), false)
    fs.delete(new Path(s"$dir/_delta_log", f"${1L}%020d.json"), false)
    assert(asSet(io.DeltaLogReader.read(spark, dir)) ==
      Set((1L, "a2", "a"), (3L, "a2", "a"), (2L, "b1", "b"), (9L, "c1", "c")))
    // a version below the checkpoint floor is gone — surfaced, not wrong
    intercept[IllegalArgumentException] {
      io.DeltaLogReader.read(spark, dir, asOfVersion = Some(0))
    }
  }

  test("delta interop: a timestamp max floored to the millisecond keeps its file") {
    val spark0 = spark
    import spark0.implicits._
    // Delta Spark writes timestamp bounds truncated to the millisecond:
    // the file holds 00:00:00.000500 under max 00:00:00.000Z
    val t = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00.000500Z"))
    val dir = s"${tmp()}/ts"
    val stg = s"${tmp()}/stg"
    Seq((1L, t)).toDF("id", "t").coalesce(1).write.parquet(stg)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(stg))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new Path(dir))
    assert(fs.rename(part, new Path(dir, "part-00000-t0.parquet")))
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", TimestampType)))
    val bound = "2024-01-01T00:00:00.000Z"
    val stats = s"""{"numRecords":1,"minValues":{"id":1,"t":"$bound"},""" +
      s""""maxValues":{"id":1,"t":"$bound"},"nullCount":{"id":0,"t":0}}"""
    writeCommit(dir, 0, Seq(commitInfo("WRITE", 10),
      s"""{"metaData":{"id":"fixture-ts","format":{"provider":"parquet","options":{}},"schemaString":${json.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}""",
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"add":{"path":"part-00000-t0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":${json.writeValueAsString(stats)}}}"""))
    assert(io.DeltaLogReader.readWhere(spark, dir,
      org.apache.spark.sql.functions.col("t") === t).count() == 1)
  }
}
