package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.DatasetWriter
import graft.multimodal.Multimodal
import graft.streaming.EventStream
import graft.table.{MergeOps, StagedCommit}

/** Specs for the MERGE/DML surface, the Structured Streaming surface, and
  * the multimodal plumbing. */
class DmlStreamSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-dml").toString

  test("merge upsert: matched rows replaced, new rows inserted") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "tag", "v")
    DatasetWriter.toParquet(base, dir, mode = DatasetWriter.Overwrite)
    val source = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("id", "tag", "v")
    val n = MergeOps.upsert(spark, dir, source, keys = Seq("id"))
    assert(n == 4)
    val got = spark.read.parquet(dir).as[(Long, String, Double)]
      .collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("partitioned merge rewrites only affected partitions") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    val base = Seq((1L, 1.0, "p1"), (2L, 2.0, "p1"), (3L, 3.0, "p2"))
      .toDF("id", "v", "p")
    DatasetWriter.toParquet(base, dir, mode = DatasetWriter.Overwrite,
      partitionCols = Seq("p"))
    val p2Before = new java.io.File(s"$dir/p=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    Thread.sleep(1100)
    val source = Seq((2L, 22.0, "p1")).toDF("id", "v", "p")
    MergeOps.upsert(spark, dir, source, keys = Seq("id"),
      partitionCols = Seq("p"))
    val got = spark.read.option("basePath", dir).parquet(dir)
      .select("id", "v").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 22.0), (3L, 3.0)))
    // p2 files untouched
    val p2After = new java.io.File(s"$dir/p=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(p2After == p2Before, "unaffected partition must not be rewritten")
  }

  test("staged commit: crash between stage and swap leaves target intact") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    DatasetWriter.toParquet(base, dir, mode = DatasetWriter.Overwrite)
    // stage a rewrite but "crash" before commit: target must be intact
    val staged = StagedCommit.stage(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "target modified before commit")
    assert(new java.io.File(staged.stagingPath.stripPrefix("file:")).exists())
    // recovery sweeps the orphaned staging dir; target still intact
    assert(StagedCommit.recover(spark, dir) == 1)
    assert(!new java.io.File(staged.stagingPath.stripPrefix("file:")).exists())
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // a completed commit publishes the new data
    val staged2 = StagedCommit.stage(Seq((9L, "z")).toDF("id", "v"), dir)
    staged2.commit()
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
  }

  test("partitioned merge drops stale row when a key changes partition") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    val base = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("id", "v", "p")
    DatasetWriter.toParquet(base, dir, mode = DatasetWriter.Overwrite,
      partitionCols = Seq("p"))
    // key 2 moves p1 -> p2: its old p1 row must disappear
    val n = MergeOps.upsert(spark, dir,
      Seq((2L, "B", "p2")).toDF("id", "v", "p"),
      keys = Seq("id"), partitionCols = Seq("p"))
    assert(n == 3)
    val got = spark.read.option("basePath", dir).parquet(dir)
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "a", "p1"), (2L, "B", "p2"), (3L, "c", "p2")))
  }

  test("partitioned merge deletes a partition its last row moved out of") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    DatasetWriter.toParquet(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "p"), dir,
      mode = DatasetWriter.Overwrite, partitionCols = Seq("p"))
    MergeOps.upsert(spark, dir, Seq((1L, "A", "p2")).toDF("id", "v", "p"),
      keys = Seq("id"), partitionCols = Seq("p"))
    val got = spark.read.option("basePath", dir).parquet(dir)
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "A", "p2"), (2L, "b", "p2")))
    assert(!new java.io.File(s"$dir/p=p1").exists(),
      "emptied partition directory must be removed")
  }

  test("deleteMatched removes only matched keys") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    DatasetWriter.toParquet(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir,
      mode = DatasetWriter.Overwrite)
    val n = MergeOps.deleteMatched(spark, dir,
      Seq(2L, 99L).toDF("id"), Seq("id"))
    assert(n == 2)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L))
  }

  test("partitioned deleteMatched keeps layout, touches only hit partitions") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    DatasetWriter.toParquet(
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
        .toDF("id", "v", "p"),
      dir, mode = DatasetWriter.Overwrite, partitionCols = Seq("p"))
    val p2Before = new java.io.File(s"$dir/p=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    Thread.sleep(1100)
    MergeOps.deleteMatched(spark, dir, Seq(2L).toDF("id"), Seq("id"),
      partitionCols = Seq("p"))
    // hive layout survives the delete
    assert(new java.io.File(s"$dir/p=p1").isDirectory)
    val got = spark.read.option("basePath", dir).parquet(dir)
      .as[(Long, String, String)].collect().toSet
    assert(got == Set((1L, "a", "p1"), (3L, "c", "p2")))
    val p2After = new java.io.File(s"$dir/p=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(p2After == p2Before, "unmatched partition must not be rewritten")
  }

  test("versionedUpsert keeps max-version row per key") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    DatasetWriter.toParquet(
      Seq((1L, 1L, "old"), (2L, 5L, "keep")).toDF("id", "version", "v"), dir,
      mode = DatasetWriter.Overwrite)
    // source has an internal collision on id=3: version 2 must win
    val source = Seq((1L, 2L, "new"), (2L, 1L, "stale"), (3L, 1L, "x"),
      (3L, 2L, "y")).toDF("id", "version", "v")
    MergeOps.versionedUpsert(spark, dir, source, Seq("id"), "version")
    val got = spark.read.parquet(dir).as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 2L, "new"), (2L, 5L, "keep"), (3L, 2L, "y")))
  }

  test("versionedUpsert rewrites only the partitions its winning rows touch") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp()
    DatasetWriter.toParquet(
      Seq((1L, 1L, "a", "p1"), (2L, 5L, "b", "p1"), (3L, 1L, "c", "p2"),
        (4L, 1L, "d", "p3")).toDF("id", "version", "v", "p"),
      dir, mode = DatasetWriter.Overwrite, partitionCols = Seq("p"))
    def files(part: String): Set[String] =
      new java.io.File(s"$dir/p=$part").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    val untouched = Seq("p2", "p3").map(p => p -> files(p)).toMap
    // every source row lands in p1: id=1 is newer and replaces, id=2 is
    // older than the target's version 5 and must not, id=5 is inserted
    val source = Seq((1L, 2L, "new", "p1"), (2L, 3L, "stale", "p1"),
      (5L, 1L, "e", "p1")).toDF("id", "version", "v", "p")
    MergeOps.versionedUpsert(spark, dir, source, Seq("id"), "version",
      partitionCols = Seq("p"))
    untouched.foreach { case (p, names) => assert(files(p) == names, p) }
    val got = spark.read.option("basePath", dir).parquet(dir)
      .select("id", "version", "v", "p").as[(Long, Long, String, String)]
      .collect().toSet
    assert(got == Set((1L, 2L, "new", "p1"), (2L, 5L, "b", "p1"),
      (3L, 1L, "c", "p2"), (4L, 1L, "d", "p3"), (5L, 1L, "e", "p1")))
  }

  test("streaming tumbling agg equals the batch window aggregate") {
    val events = EventStream.readEvents(spark, s"$sf")
    val agg = EventStream.tumblingAgg(events)
    EventStream.runToMemory(agg, "stream_tumbling", outputMode = "complete")
    val streamed = spark.table("stream_tumbling")
      .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = ops.TimeSeries.tumbling(spark, sf)
      .select(col("bucket"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming session windows produce sessions per user") {
    val events = EventStream.readEvents(spark, s"$sf")
    val agg = EventStream.sessionAgg(events)
    EventStream.runToMemory(agg, "stream_sessions", outputMode = "complete")
    val sessions = spark.table("stream_sessions")
    assert(sessions.count() > 0)
    // session totals must cover every event exactly once
    val total = sessions.agg(sum(col("n_events"))).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("streaming foreachBatch sink appends to a dataset") {
    val out = tmp(); val chk = tmp()
    val q = EventStream.runToDataset(
      EventStream.tumblingAgg(EventStream.readEvents(spark, s"$sf")),
      out, chk)
    q.awaitTermination()
    assert(spark.read.parquet(out).count() > 0)
  }

  test("multimodal: partition-preserving batch decode, stable features") {
    val media = Multimodal.synthesize(spark, 300).repartition(5)
    val feats = Multimodal.decodeFeatures(media, dim = 8)
    assert(feats.rdd.getNumPartitions == 5)
    val rows = feats.collect()
    assert(rows.length == 300)
    assert(rows.forall(_.ok))
    assert(rows.forall(_.features.length == 8))
    // deterministic: same input -> same features
    val again = Multimodal.decodeFeatures(
      Multimodal.synthesize(spark, 300).repartition(5), dim = 8)
      .filter(col("media_id") === 7L).head().features
    val first = rows.find(_.media_id == 7L).get.features
    assert(again.sameElements(first))
  }

  test("multimodal: resize plan and frame sampling shapes") {
    val df = Multimodal.synthesize(spark, 30).toDF()
    val resized = Multimodal.planResize(df, maxSide = 32)
    assert(resized.filter(col("out_width") > 32 || col("out_height") > 32)
      .count() == 0)
    val frames = Multimodal.planFrameSample(df)
    assert(frames.count() ==
      df.filter(col("modality") === "video").count() * 8)
    assert(frames.select(max(col("frame_idx"))).head().getInt(0) <= 299)
  }
}
