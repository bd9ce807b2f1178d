package graft

import java.nio.file.Files
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{DatasetCopy, DatasetWriter}
import graft.ops.{Search, Skew, TimeSeries}
import graft.sql.Executions

/** Specs for execution control, skew mitigation, dataset transfer, and
  * the time-series / search write wrappers. */
class ControlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-ctl").toString

  test("async query execution: submit, wait, inspect state") {
    Tables.registerAll(spark, sf)
    val q = Executions.startQueryExecution(spark,
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
    val df = Executions.waitQuery(q, 60.seconds)
    assert(q.state == Executions.Succeeded)
    assert(df.count() == 3)
  }

  test("async query execution: failure is reported, not thrown at submit") {
    val q = Executions.startQueryExecution(spark,
      "SELECT * FROM this_table_does_not_exist_xyz")
    intercept[Exception](Executions.waitQuery(q, 60.seconds))
    assert(q.state == Executions.Failed)
    assert(q.error.isDefined)
  }

  test("get_query_results by id; batch split; async DML statement") {
    val spark0 = spark
    import spark0.implicits._
    val q = Executions.startQueryExecution(spark,
      "SELECT 21 * 2 AS v")
    Executions.waitQuery(q, 60.seconds)
    // the reference's get_query_results(query_execution_id) — results
    // of a FINISHED execution resolve by id (test_athena.py:2018-2031)
    assert(Executions.getQueryResults(q.id).head().getInt(0) == 42)
    intercept[IllegalStateException](
      Executions.getQueryResults("no-such-execution"))
    // batch_get_query_execution splits known / unprocessed
    val (proc, unproc) =
      Executions.batchGetQueryExecution(Seq(q.id, "aaa", "bbb"))
    assert(proc.map(_("QueryExecutionId")) == Seq(q.id))
    assert(unproc == Seq("aaa", "bbb"))
    // start_query_execution accepts ANY statement — the route the
    // reference uses for its generated DML (athena/_executions.py:34)
    val dir = java.nio.file.Files.createTempDirectory("graft-asyncdml")
      .toString + "/t"
    graft.io.IcebergWriter.write(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    val dml = Executions.startQueryExecution(spark,
      "DELETE FROM t WHERE id = 1", tables = Map("t" -> dir))
    Executions.waitQuery(dml, 60.seconds)
    assert(dml.state == Executions.Succeeded)
    assert(graft.io.IcebergReader.read(spark, dir).count() == 1)
  }

  test("salted join equals unsalted join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(ord, Seq("l_orderkey")).count()
    val salted = Skew.saltedJoin(li, ord, Seq("l_orderkey"), buckets = 8)
    assert(salted.count() == plain)
    assert(!salted.columns.contains("__salt"))
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(10,2)")).as("q"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2)))
      .toSet
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), buckets = 8,
      partials = Map(
        "q" -> (sum(col("l_quantity").cast("decimal(10,2)")),
          (c: org.apache.spark.sql.Column) => sum(c)),
        "n" -> (count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c))))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2)))
      .toSet
    assert(salted == direct)
  }

  test("mergeDatasets transfers with mode semantics; copy + delete") {
    val spark0 = spark
    import spark0.implicits._
    val src = tmp(); val dst = tmp()
    DatasetWriter.toParquet(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src,
      mode = DatasetWriter.Overwrite)
    DatasetCopy.mergeDatasets(spark, src, dst,
      mode = DatasetWriter.Overwrite)
    assert(spark.read.parquet(dst).count() == 2)
    DatasetCopy.mergeDatasets(spark, src, dst) // append
    assert(spark.read.parquet(dst).count() == 4)
    assert(DatasetCopy.deleteObjects(spark, dst))
    assert(!graft.io.DatasetReader.exists(spark, dst))
  }

  test("timeseries write: day partitioning + version upsert") {
    val spark0 = spark
    import spark0.implicits._
    val path = tmp()
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-02 11:00:00")
    val v1 = Seq((t0, "dev1", 0.5, 1L), (t1, "dev2", 0.7, 1L))
      .toDF("time", "device", "cpu", "version")
    TimeSeries.write(v1, path, "time", Seq("device"), Seq("cpu"),
      versionCol = Some("version"))
    // higher version for (dev1, t0) replaces; lower version ignored
    val v2 = Seq((t0, "dev1", 0.9, 2L), (t1, "dev2", 0.1, 0L))
      .toDF("time", "device", "cpu", "version")
    TimeSeries.write(v2, path, "time", Seq("device"), Seq("cpu"),
      versionCol = Some("version"))
    val got = spark.read.parquet(path)
      .select("device", "cpu", "version").as[(String, Double, Long)]
      .collect().toSet
    assert(got == Set(("dev1", 0.9, 2L), ("dev2", 0.7, 1L)))
  }

  test("timeseries versioned write rewrites only the day it touches") {
    val spark0 = spark
    import spark0.implicits._
    val path = tmp()
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-02 11:00:00")
    TimeSeries.write(Seq((t0, "dev1", 0.5, 1L), (t1, "dev2", 0.7, 1L))
      .toDF("time", "device", "cpu", "version"), path, "time", Seq("device"),
      Seq("cpu"), versionCol = Some("version"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += f.getPath.toString.stripPrefix(
            fs.makeQualified(new org.apache.hadoop.fs.Path(path)).toString + "/") ->
            f.getModificationTime
      }
      out.result()
    }
    val before = files()
    assert(before.keySet.map(_.takeWhile(_ != '/')) ==
      Set("__day=2024-03-01", "__day=2024-03-02"))
    // a newer version of the 2024-03-01 key
    TimeSeries.write(Seq((t0, "dev1", 0.9, 2L)).toDF("time", "device", "cpu", "version"),
      path, "time", Seq("device"), Seq("cpu"), versionCol = Some("version"))
    val after = files()
    assert(after.keySet.forall(_.startsWith("__day=")), s"root-level files: $after")
    assert(after.keySet.map(_.takeWhile(_ != '/')) ==
      Set("__day=2024-03-01", "__day=2024-03-02"))
    // the other day's file is untouched, the touched day's replaced
    assert(after.filter(_._1.startsWith("__day=2024-03-02")) ==
      before.filter(_._1.startsWith("__day=2024-03-02")))
    assert(after.filter(_._1.startsWith("__day=2024-03-01")) !=
      before.filter(_._1.startsWith("__day=2024-03-01")))
    val got = spark.read.parquet(path)
      .select("device", "cpu", "version", "__day").as[(String, Double, Long, java.sql.Date)]
      .collect().toSet
    assert(got == Set(("dev1", 0.9, 2L, java.sql.Date.valueOf("2024-03-01")),
      ("dev2", 0.7, 1L, java.sql.Date.valueOf("2024-03-02"))))
  }

  test("search indexDocuments upserts by id keys") {
    val spark0 = spark
    import spark0.implicits._
    val idx = tmp()
    val docs1 = Seq(("d1", "hello world"), ("d2", "foo bar"))
      .toDF("_id", "body")
    assert(Search.indexDocuments(docs1, idx, Seq("_id")) == 2)
    val docs2 = Seq(("d2", "foo bar v2"), ("d3", "baz")).toDF("_id", "body")
    assert(Search.indexDocuments(docs2, idx, Seq("_id")) == 3)
    val got = spark.read.parquet(idx).as[(String, String)].collect().toMap
    assert(got == Map("d1" -> "hello world", "d2" -> "foo bar v2",
      "d3" -> "baz"))
  }
}
