package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{DeltaDeletionVectors, DeltaLogReader, UnsupportedDeltaFeatureException}

/** Delta protocol-feature interop: reader-version gating, deletion
  * vectors (sidecar + inline), column mapping, and multi-part
  * checkpoints — every fixture hand-committed in the protocol's own
  * format (delta.io PROTOCOL.md), no Delta jar on either side. The round-4
  * verdict's top item: tables carrying features this reader doesn't know
  * must RAISE, never silently return wrong rows. */
class DeltaProtocolSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-dvp").toString

  private def writeDataFile(tableDir: String, rel: String,
      df: DataFrame): Unit = {
    val stg = s"${tmp()}/stg"
    df.coalesce(1).write.parquet(stg)
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

  private def schemaJson(schema: StructType): String =
    com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .writeValueAsString(schema.json)

  private def metaAction(schema: StructType, partCols: Seq[String],
      configuration: Map[String, String] = Map.empty): String = {
    val conf = configuration.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val parts = partCols.map(c => s""""$c"""").mkString("[", ",", "]")
    s"""{"metaData":{"id":"fx","format":{"provider":"parquet","options":{}},"schemaString":${schemaJson(schema)},"partitionColumns":$parts,"configuration":$conf}}"""
  }

  private def protocolAction(minReader: Int,
      readerFeatures: Seq[String] = Nil): String = {
    val rf =
      if (readerFeatures.isEmpty) ""
      else readerFeatures.map(f => s""""$f"""")
        .mkString(""","readerFeatures":[""", ",", "]")
    s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":7$rf}}"""
  }

  private def dvJson(d: DeltaDeletionVectors.Descriptor): String =
    s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.getOrElse(1)},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  private def addAction(rel: String, pv: Map[String, String] = Map.empty,
      dv: Option[DeltaDeletionVectors.Descriptor] = None): String = {
    val pvs = pv.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"add":{"path":"$rel","partitionValues":$pvs,"size":1,"modificationTime":1,"dataChange":true${dv.map(dvJson).getOrElse("")}}}"""
  }

  test("Z85 + RoaringBitmapArray codec roundtrips, including a >2^32 row index") {
    val bytes = Array.tabulate[Byte](16)(i => (i * 17 + 3).toByte)
    assert(DeltaDeletionVectors.z85Decode(
      DeltaDeletionVectors.z85Encode(bytes)).toSeq == bytes.toSeq)
    val indexes = Seq(0L, 5L, 63L, (1L << 32) + 7L)
    val decoded = DeltaDeletionVectors.decodeBitmapArray(
      DeltaDeletionVectors.encodeBitmapArray(indexes))
    assert(decoded.toSeq == indexes.sorted)
  }

  test("portable bitmap bytes conform to the official 64-bit portable format") {
    // The protocol's DV payload is the magic number followed by the
    // RoaringFormatSpec 64-bit portable serialization — the format
    // Roaring64NavigableMap implements. Cross-decode both directions
    // against that INDEPENDENT implementation so our bytes are the
    // bytes a real delta-rs / Iceberg-v3 reader parses, not merely
    // self-consistent. Sparse buckets (0 and 3) prove keys are written,
    // not dense positions.
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    val indexes = Seq(0L, 5L, 1000L, (3L << 32) + 1L, (3L << 32) + 99L)
    val ours = DeltaDeletionVectors.encodeBitmapArray(indexes)
    // theirs -> ours
    val rm = new Roaring64NavigableMap()
    indexes.foreach(rm.addLong)
    rm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    rm.serializePortable(new java.io.DataOutputStream(bos))
    val theirs = bos.toByteArray
    assert(ours.drop(4).toSeq == theirs.toSeq,
      "our vector bytes != Roaring64NavigableMap portable bytes")
    // ours -> theirs
    val rm2 = new Roaring64NavigableMap()
    rm2.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(ours.drop(4))))
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    rm2.forEach(new org.roaringbitmap.longlong.LongConsumer {
      override def accept(v: Long): Unit = got += v
    })
    assert(got.toSeq == indexes.sorted)
    // magic prefix pinned byte-for-byte (0x643 9D3D1 little-endian)
    assert(ours.take(4).toSeq ==
      Seq[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte))
  }

  test("deletion vectors: sidecar and inline DVs drop exactly the flagged rows") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    writeDataFile(dir, "part-a.parquet",
      (0L to 4L).map(i => (i, s"a$i")).toDF("id", "v"))
    writeDataFile(dir, "part-b.parquet",
      (10L to 14L).map(i => (i, s"b$i")).toDF("id", "v"))
    // file a: sidecar DV deleting row positions 1 and 3 (ids 1, 3)
    val dvA = DeltaDeletionVectors.writeSidecar(
      spark.sparkContext.hadoopConfiguration, new Path(dir), Seq(1L, 3L))
    // file b: inline DV deleting position 0 (id 10); Z85 needs 4-byte
    // alignment, so pad and keep sizeInBytes at the real length
    val rawB = DeltaDeletionVectors.encodeBitmapArray(Seq(0L))
    val padded = java.util.Arrays.copyOf(rawB, (rawB.length + 3) / 4 * 4)
    val dvB = DeltaDeletionVectors.Descriptor(
      "i", DeltaDeletionVectors.z85Encode(padded), None, rawB.length, 1L)
    writeCommit(dir, 0, Seq(
      protocolAction(3, Seq("deletionVectors")),
      metaAction(schema, Nil),
      addAction("part-a.parquet", dv = Some(dvA)),
      addAction("part-b.parquet", dv = Some(dvB))))
    val got = DeltaLogReader.read(spark, dir)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(got == Set(0L, 2L, 4L, 11L, 12L, 13L, 14L))
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.protocol.minReaderVersion == 3 &&
      snap.protocol.readerFeatures == Set("deletionVectors"))
    // a later add of the same file without a DV un-deletes (last add wins)
    writeCommit(dir, 1, Seq(addAction("part-a.parquet")))
    assert(DeltaLogReader.read(spark, dir).count() == 9)
  }

  test("deletion vectors compose with partition re-attachment") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType)))
    writeDataFile(dir, "p=x/f1.parquet",
      (0L to 3L).map(i => (i, s"v$i")).toDF("id", "v"))
    val dv = DeltaDeletionVectors.writeSidecar(
      spark.sparkContext.hadoopConfiguration, new Path(dir), Seq(2L))
    writeCommit(dir, 0, Seq(
      protocolAction(3, Seq("deletionVectors")),
      metaAction(schema, Seq("p")),
      addAction("p=x/f1.parquet", Map("p" -> "x"), Some(dv))))
    val got = DeltaLogReader.read(spark, dir)
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((0L, "v0", "x"), (1L, "v1", "x"), (3L, "v3", "x")))
  }

  test("column mapping (name mode): physical parquet names resolve to logical columns") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    def mapped(name: String, phys: String, id: Long, dt: DataType) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build())
    val schema = StructType(Seq(
      mapped("id", "col-aaa111", 1, LongType),
      mapped("v", "col-bbb222", 2, StringType),
      mapped("p", "col-ppp333", 3, StringType)))
    // data files carry the PHYSICAL column names, as Delta writes them
    writeDataFile(dir, "p=x/f1.parquet",
      Seq((1L, "one"), (2L, "two")).toDF("col-aaa111", "col-bbb222"))
    writeCommit(dir, 0, Seq(
      protocolAction(2),
      metaAction(schema, Seq("p"),
        Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "3")),
      // partitionValues keyed by the partition column's physical name
      addAction("p=x/f1.parquet", Map("col-ppp333" -> "x"))))
    val df = DeltaLogReader.read(spark, dir)
    assert(df.columns.toSeq == Seq("id", "v", "p"))
    assert(df.as[(Long, String, String)].collect().toSet ==
      Set((1L, "one", "x"), (2L, "two", "x")))
  }

  test("unsupported protocol features raise instead of returning wrong rows") {
    val spark0 = spark
    import spark0.implicits._
    def fixture(protocol: String): String = {
      val dir = s"${tmp()}/tbl"
      val schema = StructType(Seq(StructField("id", LongType)))
      writeDataFile(dir, "f1.parquet", Seq(1L).toDF("id"))
      writeCommit(dir, 0, Seq(protocol, metaAction(schema, Nil),
        addAction("f1.parquet")))
      dir
    }
    val ex = intercept[UnsupportedDeltaFeatureException] {
      DeltaLogReader.read(spark,
        fixture(protocolAction(3, Seq("deletionVectors", "typeWidening"))))
    }
    assert(ex.getMessage.contains("typeWidening"))
    intercept[UnsupportedDeltaFeatureException] {
      DeltaLogReader.snapshot(spark, fixture(protocolAction(4)))
    }
    // supported feature sets still read (v2Checkpoint joined in round 6)
    assert(DeltaLogReader.read(spark, fixture(protocolAction(3,
      Seq("timestampNtz", "columnMapping", "vacuumProtocolCheck",
        "v2Checkpoint")))).count() == 1)
    assert(DeltaLogReader.read(spark, fixture(protocolAction(2))).count() == 1)
  }

  test("DV read plan: ONE data scan, broadcast partition manifest, per-file filter") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType)))
    writeDataFile(dir, "p=x/f1.parquet",
      (0L to 3L).map(i => (i, s"v$i")).toDF("id", "v"))
    writeDataFile(dir, "p=y/f2.parquet",
      (4L to 7L).map(i => (i, s"v$i")).toDF("id", "v"))
    val dv = DeltaDeletionVectors.writeSidecar(
      spark.sparkContext.hadoopConfiguration, new Path(dir), Seq(1L))
    writeCommit(dir, 0, Seq(
      protocolAction(3, Seq("deletionVectors")),
      metaAction(schema, Seq("p")),
      addAction("p=x/f1.parquet", Map("p" -> "x"), Some(dv)),
      addAction("p=y/f2.parquet", Map("p" -> "y"))))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      DeltaLogReader.read(spark, dir).explain("formatted")
    }
    val plan = out.toString
    // one distributed parquet scan over the whole active file list —
    // never a per-partition union of scans (the detail-section "(N) Scan
    // parquet" pattern counts plan nodes once each)
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(plan).length
    assert(scans == 1, s"expected ONE parquet scan, got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "partition-value manifest must broadcast")
    // the DV applies as a filter each scan task answers from its file's
    // bitmap: no anti-join, and no shuffle of the scan
    assert(!plan.contains("LeftAnti"), s"DV applied as a join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"DV read shuffles:\n$plan")
  }

  test("TIMESTAMP_NTZ columns declare the timestampNtz feature") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-ntz").toString
    // creation with an NTZ column: protocol (3,7) + feature from v0
    val df = Seq((1L, "2024-01-01T01:02:03")).toDF("id", "s")
      .withColumn("t", col("s").cast(TimestampNTZType)).drop("s")
    graft.io.DeltaLogWriter.write(df, dir)
    val p0 = DeltaLogReader.snapshot(spark, dir).protocol
    assert(p0.minReaderVersion == 3 &&
      p0.readerFeatures.contains("timestampNtz") &&
      p0.writerFeatures.contains("timestampNtz"))
    assert(DeltaLogReader.read(spark, dir).schema("t").dataType ==
      TimestampNTZType)
    // evolution introducing the FIRST NTZ column merges the feature
    val dir2 = Files.createTempDirectory("graft-ntz2").toString
    graft.io.DeltaLogWriter.write(Seq((1L, 1.0)).toDF("id", "v"), dir2)
    assert(DeltaLogReader.snapshot(spark, dir2).protocol.minReaderVersion == 1)
    val evolved = Seq((2L, 2.0, "2024-02-02T00:00:00")).toDF("id", "v", "s")
      .withColumn("t", col("s").cast(TimestampNTZType)).drop("s")
    graft.io.DeltaLogWriter.write(evolved, dir2)
    val p2 = DeltaLogReader.snapshot(spark, dir2).protocol
    assert(p2.minReaderVersion == 3 &&
      p2.readerFeatures.contains("timestampNtz"))
    // legacy implied features are enumerated, not dropped
    assert(p2.writerFeatures.contains("appendOnly"))
    assert(DeltaLogReader.read(spark, dir2).count() == 2L)
  }

  test("deleteWhere writes deletion vectors — zero data-file rewrite") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    // coalesce(1): one multi-row file per partition, so the first delete
    // is PARTIAL per file (the DV path) rather than full-file removal
    io.DeltaLogWriter.write(
      Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y"))
        .toDF("id", "v", "p").coalesce(1),
      dir, partitionBy = Seq("p"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Map[String, Long] = {
      val out = Map.newBuilder[String, Long]
      val it = fs.listFiles(new Path(dir), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.toString.contains("_delta_log"))
          out += st.getPath.toString -> st.getModificationTime
      }
      out.result()
    }
    val before = dataFiles()
    val c = io.DeltaLogWriter.deleteWhere(spark, dir,
      col("id") === 2L || col("id") === 3L)
    assert(c.numFiles == 2, "one DV per touched file")
    // the parquet data files are byte-identical — only sidecars landed
    assert(dataFiles() == before)
    assert(DeltaLogReader.read(spark, dir)
      .as[(Long, String, String)].collect().map(_._1).toSet == Set(1L, 4L))
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.protocol.minReaderVersion == 3 &&
      snap.protocol.readerFeatures.contains("deletionVectors"))
    // a second delete on an already-DV'd file merges old ∪ new indexes;
    // here it covers EVERY row of the p=x file, which must be REMOVED
    // from the snapshot outright instead of carrying a dead full DV
    io.DeltaLogWriter.deleteWhere(spark, dir, col("v") === "a")
    assert(DeltaLogReader.read(spark, dir)
      .as[(Long, String, String)].collect().map(_._1).toSet == Set(4L))
    val afterFull = DeltaLogReader.snapshot(spark, dir)
    assert(!afterFull.files.exists(_.path.contains("p=x")),
      "fully-deleted file is removed, not DV'd")
    // the same two deletes on a log whose adds carry no `stats`: a
    // file's row total comes from its footer instead
    val bare = s"${tmp()}/bare"
    writeDataFile(bare, "p=x/f1.parquet",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    writeDataFile(bare, "p=y/f2.parquet", Seq((3L, "c")).toDF("id", "v"))
    writeCommit(bare, 0, Seq(protocolAction(1),
      metaAction(StructType(Seq(StructField("id", LongType),
        StructField("v", StringType), StructField("p", StringType))),
        Seq("p")),
      addAction("p=x/f1.parquet", Map("p" -> "x")),
      addAction("p=y/f2.parquet", Map("p" -> "y"))))
    io.DeltaLogWriter.deleteWhere(spark, bare, col("id") === 2L)
    assert(DeltaLogReader.snapshot(spark, bare).files
      .exists(f => f.path.contains("p=x") && f.deletionVector.isDefined),
      "a partial delete of a stats-less file writes a DV")
    io.DeltaLogWriter.deleteWhere(spark, bare, col("v") === "a")
    assert(!DeltaLogReader.snapshot(spark, bare).files
      .exists(_.path.contains("p=x")),
      "fully-deleted stats-less file is removed, not DV'd")
    assert(DeltaLogReader.read(spark, bare)
      .as[(Long, String, String)].collect().map(_._1).toSet == Set(3L))
    // predicates over partition columns work; no-match is a no-op commit
    val v0 = DeltaLogReader.latestVersion(spark, dir)
    val noop = io.DeltaLogWriter.deleteWhere(spark, dir, col("p") === "zzz")
    assert(noop.numFiles == 0 &&
      DeltaLogReader.latestVersion(spark, dir) == v0)
  }

  test("vacuum removes unreferenced data files and superseded DV sidecars") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOnDisk(suffix: String): Set[String] = {
      val out = Set.newBuilder[String]
      val it = fs.listFiles(new Path(dir), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(suffix) &&
          !st.getPath.toString.contains("_delta_log"))
          out += st.getPath.toString
      }
      out.result()
    }
    io.DeltaLogWriter.write(
      (0L to 9L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir)
    io.DeltaLogWriter.write(
      (10L to 14L).map(i => (i, s"w$i")).toDF("id", "v").coalesce(1), dir,
      mode = "overwrite") // v0's file becomes unreferenced
    io.DeltaLogWriter.deleteWhere(spark, dir, col("id") === 10L) // sidecar S1
    io.DeltaLogWriter.deleteWhere(spark, dir, col("id") === 11L) // S2 supersedes S1
    assert(filesOnDisk(".parquet").size == 2 && filesOnDisk(".bin").size == 2)
    // young files survive a retention-window vacuum
    assert(io.DeltaLogWriter.vacuum(spark, dir).isEmpty)
    // zero retention: the overwritten file and the superseded sidecar go
    val deleted = io.DeltaLogWriter.vacuum(spark, dir, retentionMs = 0L)
    assert(deleted.size == 2, s"expected 2 deletions, got $deleted")
    assert(filesOnDisk(".parquet").size == 1 && filesOnDisk(".bin").size == 1)
    assert(DeltaLogReader.read(spark, dir)
      .as[(Long, String)].collect().map(_._1).toSet == Set(12L, 13L, 14L))
  }

  test("deletion vectors and upgraded protocol survive checkpoint compaction") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    io.DeltaLogWriter.write(
      (0L to 9L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir)
    io.DeltaLogWriter.deleteWhere(spark, dir, col("id") < 3L) // v1
    // drive the log to v10 so the writer checkpoints, then vacuum the tail
    (2 to 10).foreach { i =>
      io.DeltaLogWriter.write(Seq((100L + i, "x")).toDF("id", "v"), dir)
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"$dir/_delta_log",
      f"${10L}%020d.checkpoint.parquet")))
    (0L to 9L).foreach(v =>
      fs.delete(new Path(s"$dir/_delta_log", f"$v%020d.json"), false))
    val got = DeltaLogReader.read(spark, dir)
      .as[(Long, String)].collect().map(_._1).toSet
    assert(got == ((3L to 9L) ++ (102L to 110L)).toSet,
      "checkpoint replay must keep the deletion vectors")
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.protocol.minReaderVersion == 3 &&
      snap.protocol.readerFeatures.contains("deletionVectors"),
      "checkpoint replay must keep the upgraded protocol")
  }

  test("multi-part checkpoint: all parts replayed, incomplete part sets ignored") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"${tmp()}/tbl"
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType)))
    writeDataFile(dir, "p=a/f1.parquet", Seq((1L, "a1")).toDF("id", "v"))
    writeDataFile(dir, "p=b/f2.parquet", Seq((2L, "b1")).toDF("id", "v"))
    writeCommit(dir, 0, Seq(protocolAction(1), metaAction(schema, Seq("p")),
      addAction("p=a/f1.parquet", Map("p" -> "a")),
      addAction("p=b/f2.parquet", Map("p" -> "b"))))
    writeDataFile(dir, "p=c/f3.parquet", Seq((3L, "c1")).toDF("id", "v"))
    writeCommit(dir, 1, Seq(addAction("p=c/f3.parquet", Map("p" -> "c"))))
    // 2-part checkpoint at v1: metaData in part 1, adds split across parts
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeCkptPart(i: Int, n: Int, rows: Seq[CkptRow]): Unit = {
      val stg = s"${tmp()}/ckpt"
      rows.toDS().coalesce(1).write.parquet(stg)
      val part = fs.listStatus(new Path(stg))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part, new Path(s"$dir/_delta_log",
        f"${1L}%020d.checkpoint.$i%010d.$n%010d.parquet")))
    }
    writeCkptPart(1, 2, Seq(
      CkptRow(None, None, Some(CkptMeta("fx", schema.json, Seq("p")))),
      CkptRow(Some(CkptAdd("p=a/f1.parquet", Map("p" -> "a"), 1L, 1L, true)),
        None, None)))
    writeCkptPart(2, 2, Seq(
      CkptRow(Some(CkptAdd("p=b/f2.parquet", Map("p" -> "b"), 1L, 1L, true)),
        None, None),
      CkptRow(Some(CkptAdd("p=c/f3.parquet", Map("p" -> "c"), 1L, 1L, true)),
        None, None)))
    // vacuum the json tail: replay must come from the parts alone
    fs.delete(new Path(s"$dir/_delta_log", f"${0L}%020d.json"), false)
    fs.delete(new Path(s"$dir/_delta_log", f"${1L}%020d.json"), false)
    assert(DeltaLogReader.read(spark, dir)
      .as[(Long, String, String)].collect().toSet ==
      Set((1L, "a1", "a"), (2L, "b1", "b"), (3L, "c1", "c")))
    // drop part 2: the group is incomplete, so the checkpoint must be
    // ignored — and with the tail vacuumed that is a LOUD failure
    fs.delete(new Path(s"$dir/_delta_log",
      f"${1L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"), false)
    intercept[IllegalArgumentException] {
      DeltaLogReader.snapshot(spark, dir)
    }
  }

  /** The starting protocols of the upgrade tables: three legacy
    * protocols (reader/writer 1/2, 1/4, 2/5) and a feature-range 3/7
    * table that already declares columnMapping. */
  private val upgradeFrom = Map(
    "1/2" -> DeltaLogReader.Protocol(minReaderVersion = 1, minWriterVersion = 2),
    "1/4" -> DeltaLogReader.Protocol(minReaderVersion = 1, minWriterVersion = 4),
    "2/5" -> DeltaLogReader.Protocol(minReaderVersion = 2, minWriterVersion = 5),
    "3/7" -> DeltaLogReader.Protocol(3, Set("columnMapping"), 7,
      Set("appendOnly", "columnMapping", "invariants")))

  test("reader+writer feature upgrades merge into one 3/7 protocol action") {
    // (feature, starting protocol, the emitted protocol action): legacy
    // versions enumerate their implied features, feature-range tables
    // keep every feature they declare
    val table = Seq(
      ("deletionVectors", "1/2",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["appendOnly","deletionVectors","invariants"]}}"""),
      ("deletionVectors", "1/4",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","deletionVectors","generatedColumns","invariants"]}}"""),
      ("deletionVectors", "2/5",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","columnMapping","deletionVectors","generatedColumns","invariants"]}}"""),
      ("deletionVectors", "3/7",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["appendOnly","columnMapping","deletionVectors","invariants"]}}"""),
      ("v2Checkpoint", "1/2",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["appendOnly","invariants","v2Checkpoint"]}}"""),
      ("v2Checkpoint", "1/4",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","generatedColumns","invariants","v2Checkpoint"]}}"""),
      ("v2Checkpoint", "2/5",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","v2Checkpoint"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","columnMapping","generatedColumns","invariants","v2Checkpoint"]}}"""),
      ("v2Checkpoint", "3/7",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","v2Checkpoint"],"writerFeatures":["appendOnly","columnMapping","invariants","v2Checkpoint"]}}"""),
      ("timestampNtz", "1/2",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["appendOnly","invariants","timestampNtz"]}}"""),
      ("timestampNtz", "1/4",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","generatedColumns","invariants","timestampNtz"]}}"""),
      ("timestampNtz", "2/5",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","timestampNtz"],"writerFeatures":["appendOnly","changeDataFeed","checkConstraints","columnMapping","generatedColumns","invariants","timestampNtz"]}}"""),
      ("timestampNtz", "3/7",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","timestampNtz"],"writerFeatures":["appendOnly","columnMapping","invariants","timestampNtz"]}}"""))
    table.foreach { case (feature, from, expected) =>
      assert(graft.io.DeltaLogWriter.readerWriterFeatureUpgrade(
        upgradeFrom(from), feature) == expected, s"$feature from $from")
    }
  }

  test("changeDataFeed enablement upgrades legacy writers to version 4") {
    val table = Seq(
      "1/2" -> Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""),
      "1/4" -> Nil,
      "2/5" -> Nil,
      "3/7" -> Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["appendOnly","changeDataFeed","columnMapping","invariants"]}}"""))
    table.foreach { case (from, expected) =>
      assert(graft.io.DeltaLogWriter.writerFeatureUpgrade(
        upgradeFrom(from), "changeDataFeed", 4) == expected, from)
    }
  }
}
