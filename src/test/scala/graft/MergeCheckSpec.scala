package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter}
import graft.sql.TableDml

/** The MERGE cardinality check runs beside the write it guards: the
  * writer stages its files meanwhile, and its commit waits on the
  * check. A failed check raises the same error as before, moves no
  * table version and leaves no file behind; a passing one lets exactly
  * one version commit. */
class MergeCheckSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-mck").toString

  private val Cardinality =
    "requirement failed: MERGE: a target row matches more than one source row"

  private def seed: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (1L to 40L).map(i => (i, s"n$i", i * 10.0)).toDF("id", "name", "amt")
  }

  /** Every file under `dir`, with its size. */
  private def tree(dir: String): Map[String, Long] = {
    val root = new Path(dir)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) { val f = it.next(); out += f.getPath.toString -> f.getLen }
    out.result()
  }

  /** Each format: its name, a seeding write, and the table's version
    * (Iceberg's as its count of metadata files). */
  private def formats: Seq[(String, String => Unit, String => Long)] = Seq(
    ("delta", (d: String) => { DeltaLogWriter.write(seed, d); () },
      (d: String) => DeltaLogReader.latestVersion(spark, d)),
    ("iceberg", (d: String) => { IcebergWriter.write(seed, d); () },
      (d: String) => tree(d).keys.count(_.endsWith(".metadata.json")).toLong))

  private val upsert =
    """MERGE INTO "t" target USING "%s" source
      |ON (target."id" = source."id")
      |WHEN MATCHED THEN UPDATE SET "id" = source."id", "name" = source."name",
      |  "amt" = source."amt"
      |WHEN NOT MATCHED THEN INSERT ("id", "name", "amt")
      |  VALUES (source."id", source."name", source."amt")""".stripMargin

  private val deleteOnly =
    """MERGE INTO "t" target USING "%s" source
      |ON target."id" = source."id"
      |WHEN MATCHED THEN DELETE""".stripMargin

  for ((fmt, mk, version) <- formats; (kind, stmt) <- Seq(
      "UPDATE+INSERT" -> upsert, "DELETE-only" -> deleteOnly))
    test(s"$fmt $kind MERGE: a repeated matched source key commits nothing " +
        "and leaves no file; without it one version commits") {
      val spark0 = spark
      import spark0.implicits._
      val dir = tmp() + "/t"
      mk(dir)
      // a delete first, so the Delta table carries deletion vectors
      TableDml.execute(spark, "DELETE FROM t WHERE id = 40", Map("t" -> dir))
      Seq((3L, "X", 1.0), (3L, "Y", 2.0), (99L, "Z", 3.0))
        .toDF("id", "name", "amt").createOrReplaceTempView("mck_dup")
      Seq((3L, "X", 1.0), (99L, "Z", 3.0))
        .toDF("id", "name", "amt").createOrReplaceTempView("mck_ok")
      val v0 = version(dir)
      val before = tree(dir)
      val e = intercept[IllegalArgumentException] {
        TableDml.execute(spark, stmt.format("mck_dup"), Map("t" -> dir))
      }
      assert(e.getMessage == Cardinality)
      assert(version(dir) == v0)
      assert(tree(dir) == before, "a failed check left files behind")
      TableDml.execute(spark, stmt.format("mck_ok"), Map("t" -> dir))
      assert(version(dir) == v0 + 1)
      val ids = (if (fmt == "delta") DeltaLogReader.read(spark, dir)
        else IcebergReader.read(spark, dir)).select("id").as[Long].collect().toSet
      if (kind == "DELETE-only") assert(ids == (1L to 39L).toSet - 3L)
      else assert(ids == (1L to 39L).toSet + 99L)
    }

  test("a generated upsert on a DV-bearing Delta table runs no footer read-back job") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    DeltaLogWriter.write(seed.repartition(2), dir)
    DeltaLogWriter.deleteWhere(spark, dir, $"id" === 7L)
    assert(DeltaLogReader.snapshot(spark, dir).files.exists(_.deletionVector.isDefined))
    Seq((5L, "X", 1.0), (77L, "Z", 3.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("mck_up")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => sites.add(s.details))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TableDml.execute(spark, upsert.format("mck_up"), Map("t" -> dir))
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(sites.asScala.nonEmpty)
    assert(!sites.asScala.exists(_.contains("TableFiles$.footers")),
      "a footer read-back job ran")
    // every add the upsert wrote carries its stats
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.files.forall(_.stats.exists(_.contains("\"numRecords\""))))
    assert(DeltaLogReader.read(spark, dir).count() == 40L)
  }
}
