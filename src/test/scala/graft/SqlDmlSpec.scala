package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter}
import graft.sql.TableDml

/** Athena-style table-format DML — `DELETE FROM` / `UPDATE … SET` /
  * `MERGE INTO … UPDATE SET * / INSERT *` — compiled onto the
  * zero-rewrite writer paths, on BOTH real formats, plus the
  * single-commit UPDATE itself (old positions flagged and replacement
  * rows added in ONE snapshot). */
class SqlDmlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-dml").toString

  private def seedRows: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (1L to 30L).map(i => (i, s"n$i", i * 10.0)).toDF("id", "name", "amt")
  }

  private def seedIceberg(dir: String): Unit = IcebergWriter.write(seedRows, dir)

  private def seedDelta(dir: String): Unit = DeltaLogWriter.write(seedRows, dir)

  /** Each table format: its name, the 30-row seed and the reader. */
  private def formats: Seq[(String, String => Unit, String => DataFrame)] =
    Seq(("iceberg", seedIceberg, IcebergReader.read(spark, _)),
      ("delta", seedDelta, DeltaLogReader.read(spark, _)))

  test("UPDATE on Iceberg: one commit, zero data-file rewrite of untouched files") {
    val dir = tmp() + "/t"
    seedIceberg(dir)
    val before = IcebergReader.snapshotOpt(spark, dir).get
    TableDml.execute(spark, "UPDATE t SET amt = amt + 1000 WHERE id <= 5",
      Map("t" -> dir))
    val snap = IcebergReader.snapshotOpt(spark, dir).get
    // one new snapshot; prior data files all still present (flagged by
    // position deletes), plus the replacement file(s)
    assert(before.files.map(_.path).toSet.subsetOf(
      snap.files.map(_.path).toSet))
    assert(snap.deleteFiles.nonEmpty)
    val got = IcebergReader.read(spark, dir)
      .select("id", "amt").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 30)
    (1L to 5L).foreach(i => assert(got(i) == i * 10.0 + 1000))
    (6L to 30L).foreach(i => assert(got(i) == i * 10.0))
  }

  test("DELETE and MERGE INTO route through the format writers") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    TableDml.execute(spark, "DELETE FROM t WHERE id % 10 = 0",
      Map("t" -> dir))
    assert(IcebergReader.read(spark, dir).count() == 27)
    Seq((2L, "UPDATED", 999.0), (31L, "NEW", 1.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("dml_src")
    TableDml.execute(spark,
      """MERGE INTO t USING (SELECT * FROM dml_src) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == "UPDATED" && got(31L) == "NEW" && got.size == 28)
    // INSERT INTO: both VALUES and SELECT align by POSITION (ANSI) —
    // source column names are irrelevant, even when they collide with
    // table column names in a different order
    TableDml.execute(spark,
      "INSERT INTO t VALUES (40, 'forty', 400.0), (41, 'fortyone', 410.0)",
      Map("t" -> dir))
    TableDml.execute(spark,
      "INSERT INTO t SELECT 42 AS amt, 'fortytwo' AS id, 420.0 AS name",
      Map("t" -> dir))
    val afterIns = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterIns(40L) == "forty" && afterIns(42L) == "fortytwo" &&
      afterIns.size == 31)
    // explicit column list: listed columns bind positionally, the rest null
    TableDml.execute(spark,
      "INSERT INTO t (name, id) SELECT 'fortythree', 43", Map("t" -> dir))
    val r43 = IcebergReader.read(spark, dir)
      .filter(col("id") === 43L).collect()
    assert(r43.length == 1 && r43.head.getAs[String]("name") == "fortythree"
      && r43.head.isNullAt(r43.head.fieldIndex("amt")))
    // unsupported shapes raise loudly
    intercept[IllegalArgumentException] {
      TableDml.execute(spark, "TRUNCATE TABLE t", Map("t" -> dir))
    }
    intercept[IllegalArgumentException] {
      TableDml.execute(spark, "DELETE FROM unknown WHERE 1=1",
        Map("t" -> dir))
    }
  }

  test("UPDATE on Delta: DV-flagged single commit; CDF records pre/post images") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    DeltaLogWriter.write(
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"), dir)
    DeltaLogWriter.enableChangeDataFeed(spark, dir)
    val vBefore = DeltaLogReader.latestVersion(spark, dir)
    TableDml.execute(spark, "UPDATE t SET v = v * 2 WHERE id <= 3",
      Map("t" -> dir))
    assert(DeltaLogReader.latestVersion(spark, dir) == vBefore + 1)
    val got = DeltaLogReader.read(spark, dir)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(got(1L) == 2.0 && got(3L) == 6.0 && got(4L) == 4.0 &&
      got.size == 20)
    // the change feed shows pre/post images for the update commit
    val feed = DeltaLogReader.changes(spark, dir,
      startVersion = vBefore + 1)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed.count(_._2 == "update_preimage") == 3)
    assert(feed.count(_._2 == "update_postimage") == 3)
    // DV state: old files carried with deletion vectors, not rewritten
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.files.exists(_.deletionVector.isDefined))
  }

  test("reference-generated MERGE replays verbatim: explicit assignments, " +
      "quoted identifiers, INSERT (cols) VALUES") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq((2L, "UPD", 999.0), (31L, "NEW", 1.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("ref_src")
    // the exact statement athena.merge_iceberg generates
    // (reference athena/_write_iceberg.py:376-385)
    TableDml.execute(spark,
      """
        |            MERGE INTO "t" target
        |            USING "ref_src" source
        |            ON (target."id" = source."id")
        |            WHEN MATCHED THEN
        |                UPDATE SET "id" = source."id", "name" = source."name", "amt" = source."amt"
        |            WHEN NOT MATCHED THEN
        |                INSERT ("id", "name", "amt")
        |                VALUES (source."id", source."name", source."amt")
        |        """.stripMargin, Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == "UPD" && got(31L) == "NEW" && got.size == 31)
  }

  test("partial-assignment MERGE updates only the assigned columns") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq((3L, "X", 7.0), (32L, "Y", 8.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("part_src")
    TableDml.execute(spark,
      """MERGE INTO t USING part_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET amt = s.amt * 2
        |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)""".stripMargin,
      Map("t" -> dir))
    val got = IcebergReader.read(spark, dir).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("name"), r.getAs[Double]("amt")))).toMap
    assert(got(3L) == (("n3", 14.0)))     // name kept, amt reassigned
    assert(got(32L)._1 == null && got(32L)._2 == 8.0) // unlisted col null
    assert(got.size == 31)
  }

  test("matched-only MERGE DELETE and correlated DELETE WHERE EXISTS") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq(Tuple1(5L), Tuple1(6L)).toDF("id").createOrReplaceTempView("del_keys")
    // the exact statement athena.delete_from_iceberg_table generates
    // (reference athena/_write_iceberg.py:831-838)
    TableDml.execute(spark,
      """
        |            MERGE INTO "t" target
        |            USING "del_keys" source
        |            ON target."id" = source."id"
        |            WHEN MATCHED THEN
        |                DELETE
        |        """.stripMargin, Map("t" -> dir))
    assert(IcebergReader.read(spark, dir).count() == 28)
    Seq(Tuple1(7L)).toDF("id").createOrReplaceTempView("del_keys2")
    TableDml.execute(spark,
      "DELETE FROM t WHERE EXISTS (SELECT 1 FROM del_keys2 s WHERE s.id = t.id)",
      Map("t" -> dir))
    val ids = IcebergReader.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(7L) && ids.size == 27)
  }

  test("null-safe ON (IS NOT DISTINCT FROM) matches null keys") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    IcebergWriter.write(
      Seq((Option(1L), "a"), (Option.empty[Long], "b"))
        .toDF("k", "v"), dir)
    Seq((Option.empty[Long], "B2"), (Option(2L), "c"))
      .toDF("k", "v").createOrReplaceTempView("ns_src")
    TableDml.execute(spark,
      """MERGE INTO t USING ns_src s
        |ON (t."k" IS NOT DISTINCT FROM s."k")
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Map("t" -> dir))
    val got = IcebergReader.read(spark, dir).collect()
      .map(r => Option(r.get(r.fieldIndex("k"))) -> r.getAs[String]("v"))
      .toMap
    assert(got(None) == "B2" && got(Some(1L)) == "a" && got(Some(2L)) == "c")
  }

  test("insert-only MERGE, unconditioned UPDATE and DELETE") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq((1L, "DONT_TOUCH", 0.0), (40L, "NEW40", 1.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("ins_src")
    // merge_condition="ignore": no matched clause — matched rows stay
    TableDml.execute(spark,
      """MERGE INTO t USING ins_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "n1" && got(40L) == "NEW40" && got.size == 31)
    TableDml.execute(spark, "UPDATE t SET amt = 0.0", Map("t" -> dir))
    assert(IcebergReader.read(spark, dir)
      .filter(col("amt") =!= 0.0).count() == 0)
    // reference _write_iceberg.py:647 overwrite mode
    TableDml.execute(spark, "DELETE FROM t", Map("t" -> dir))
    assert(IcebergReader.read(spark, dir).count() == 0)
  }

  test("Delta: MERGE DELETE and correlated EXISTS ride deletion vectors") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    DeltaLogWriter.write(
      (1L to 20L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    Seq(Tuple1(2L), Tuple1(3L)).toDF("id").createOrReplaceTempView("ddel")
    TableDml.execute(spark,
      """MERGE INTO t USING ddel s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin, Map("t" -> dir))
    assert(DeltaLogReader.read(spark, dir).count() == 18)
    Seq(Tuple1(5L), Tuple1(99L)).toDF("id").createOrReplaceTempView("ddel2")
    TableDml.execute(spark,
      "DELETE FROM t WHERE EXISTS (SELECT 1 FROM ddel2 s WHERE s.id = t.id)",
      Map("t" -> dir))
    val left = DeltaLogReader.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!left.contains(5L) && left.size == 17)
    // non-equi correlated predicates raise rather than silently misparse
    intercept[IllegalArgumentException] {
      TableDml.execute(spark,
        "DELETE FROM t WHERE EXISTS (SELECT 1 FROM ddel2 s WHERE s.id = t.id + 1)",
        Map("t" -> dir))
    }
    // DVs, not rewrites: original files carried
    val snap = DeltaLogReader.snapshot(spark, dir)
    assert(snap.files.exists(_.deletionVector.isDefined))
  }

  test("MERGE raises on a target row matched by multiple source rows") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq((3L, "X", 1.0), (3L, "Y", 2.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("dup_src")
    intercept[IllegalArgumentException] {
      TableDml.execute(spark,
        """MERGE INTO t USING dup_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET amt = s.amt""".stripMargin,
        Map("t" -> dir))
    }
    // duplicate WHEN clauses and duplicate SET targets raise, never
    // silent last-wins
    intercept[IllegalArgumentException] {
      TableDml.execute(spark,
        """MERGE INTO t USING dup_src s ON t.id = s.id
          |WHEN MATCHED THEN DELETE
          |WHEN MATCHED THEN UPDATE SET amt = s.amt""".stripMargin,
        Map("t" -> dir))
    }
    intercept[IllegalArgumentException] {
      TableDml.execute(spark,
        "UPDATE t SET amt = 1.0, amt = 2.0 WHERE id = 1", Map("t" -> dir))
    }
  }

  test("full-replace MERGE accepts a reordered INSERT column list") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    Seq((2L, "R2", 9.0), (33L, "R33", 3.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("reord_src")
    // column list in source order (name, amt, id), not schema order —
    // the reference generates df.columns order
    TableDml.execute(spark,
      """MERGE INTO "t" target USING "reord_src" source
        |ON (target."id" = source."id")
        |WHEN MATCHED THEN UPDATE SET "name" = source."name", "amt" = source."amt", "id" = source."id"
        |WHEN NOT MATCHED THEN INSERT ("name", "amt", "id")
        |VALUES (source."name", source."amt", source."id")""".stripMargin,
      Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == "R2" && got(33L) == "R33" && got.size == 31)
  }

  test("a string literal containing ' WHERE ' does not split the statement") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    TableDml.execute(spark,
      "UPDATE t SET name = 'a WHERE b' WHERE id = 1", Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a WHERE b" && got(2L) == "n2")
    // and an UPDATE whose literal holds WHERE but has NO predicate
    TableDml.execute(spark,
      "UPDATE t SET name = 'all WHERE none'", Map("t" -> dir))
    assert(IcebergReader.read(spark, dir)
      .filter(col("name") === "all WHERE none").count() == 30)
  }

  test("CREATE EXTERNAL TABLE (the generated Hive shape) maps to a Spark table") {
    val spark0 = spark
    import spark0.implicits._
    val base = Files.createTempDirectory("graft-ext").toString
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "name", "par")
      .write.partitionBy("par").parquet(s"$base/t")
    spark.sql("DROP TABLE IF EXISTS ext_ddl_t")
    // the exact statement shape athena/_utils.py:1076-1096 generates
    val res = graft.sql.SqlEngine.executeSql(spark,
      s"""CREATE EXTERNAL TABLE `ext_ddl_t`(
         |  `id` bigint COMMENT 'the key',
         |  `name` string)
         |PARTITIONED BY (
         |  `par` string)
         |ROW FORMAT SERDE
         |  'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'
         |STORED AS INPUTFORMAT
         |  'org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat'
         |OUTPUTFORMAT
         |  'org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat'
         |LOCATION
         |  '$base/t'
         |TBLPROPERTIES (
         |  'classification'='parquet')""".stripMargin)
    assert(res.head().getString(0) == "CREATE")
    // partition discovery via the MSCK front door (athena/_utils.py:581)
    graft.sql.SqlEngine.executeSql(spark, "MSCK REPAIR TABLE `ext_ddl_t`;")
    assert(graft.sql.SqlEngine.executeSql(spark,
      "SELECT count(*) AS n FROM ext_ddl_t").head().getLong(0) == 2L)
    spark.sql("DROP TABLE ext_ddl_t")
  }

  test("CREATE OR REPLACE VIEW with a Trino body; DROP through the front door") {
    graft.sql.SqlEngine.executeSql(spark,
      """CREATE OR REPLACE VIEW "trino_v" AS
        |SELECT ARRAY[1, 2, 3][2] AS x, approx_distinct(c) AS ad
        |FROM (SELECT 1 AS c UNION ALL SELECT 2)""".stripMargin)
    val r = graft.sql.SqlEngine.executeSql(spark,
      "SELECT x, ad FROM trino_v").head()
    assert(r.getInt(0) == 2 && r.getLong(1) == 2L)
    graft.sql.SqlEngine.executeSql(spark, "DROP VIEW trino_v")
    intercept[Exception](spark.sql("SELECT * FROM trino_v").collect())
  }

  test("ALTER TABLE ADD COLUMNS / CHANGE COLUMN evolve an Iceberg table") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    IcebergWriter.write(
      Seq((1, "a"), (2, "b")).toDF("id", "name"), dir)
    // the statements athena/_write_iceberg.py:221,231 generates
    graft.sql.SqlEngine.executeSql(spark,
      "ALTER TABLE t ADD COLUMNS (score double)", tables = Map("t" -> dir))
    val evolved = IcebergReader.read(spark, dir)
    assert(evolved.columns.toSeq == Seq("id", "name", "score"))
    assert(evolved.filter(col("score").isNull).count() == 2)
    graft.sql.SqlEngine.executeSql(spark,
      "ALTER TABLE t CHANGE COLUMN id id bigint", tables = Map("t" -> dir))
    assert(IcebergReader.read(spark, dir).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // appends compose after the evolution
    IcebergWriter.write(Seq((3L, "c", 1.5)).toDF("id", "name", "score"),
      dir)
    assert(IcebergReader.read(spark, dir).count() == 3)
    // an illegal retype stays a loud error (writer merge rules apply)
    intercept[Exception](graft.sql.SqlEngine.executeSql(spark,
      "ALTER TABLE t CHANGE COLUMN name name int", tables = Map("t" -> dir)))
  }

  test("duplicate keys in the TARGET are ANSI-legal (only dup SOURCE keys raise)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    // two target rows share id=1 — each matches the ONE source row,
    // which Athena accepts (updates both); the probe must not flag it
    IcebergWriter.write(
      Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "c", 3.0))
        .toDF("id", "name", "amt"), dir)
    Seq((1L, "X", 9.0)).toDF("id", "name", "amt")
      .createOrReplaceTempView("dup_tgt_src")
    TableDml.execute(spark,
      """MERGE INTO t USING dup_tgt_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      Map("t" -> dir))
    val got = IcebergReader.read(spark, dir).select("id", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.count(_._1 == 1L) >= 1)
    assert(got.forall { case (id, n) => id != 1L || n == "X" })
  }

  test("executeSql INSERT into a PLAIN catalog table runs as Spark SQL") {
    val dir = Files.createTempDirectory("graft-plainins").toString
    spark.sql("DROP TABLE IF EXISTS plain_ins_t")
    spark.sql(
      s"CREATE TABLE plain_ins_t (id BIGINT, name STRING) USING parquet " +
        s"LOCATION '$dir/t'")
    val res = graft.sql.SqlEngine.executeSql(spark,
      "INSERT INTO plain_ins_t VALUES (1, 'a'), (2, 'b')")
    assert(res.head().getString(0) == "INSERT")
    assert(graft.sql.SqlEngine.executeSql(spark,
      "SELECT count(*) AS n FROM plain_ins_t").head().getLong(0) == 2L)
    // UPDATE on the plain table stays a loud error (Athena refuses too)
    intercept[Exception](graft.sql.SqlEngine.executeSql(spark,
      "UPDATE plain_ins_t SET name = 'x' WHERE id = 1"))
    spark.sql("DROP TABLE plain_ins_t")
  }

  test("executeSql front door: MERGE resolves the table from the session catalog") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    seedIceberg(dir)
    // register in the SESSION catalog — no explicit registry map; the
    // front door resolves the location via DESCRIBE FORMATTED
    spark.sql("DROP TABLE IF EXISTS dml_front_t")
    spark.sql(
      s"CREATE TABLE dml_front_t (id BIGINT, name STRING, amt DOUBLE) " +
        s"USING parquet LOCATION '$dir'")
    Seq((2L, "FRONT", 999.0), (31L, "NEW", 1.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("front_src")
    val res = graft.sql.SqlEngine.executeSql(spark,
      """MERGE INTO dml_front_t t USING front_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(res.collect().head.getString(0) == "MERGE")
    val got = IcebergReader.read(spark, dir)
      .select("id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == "FRONT" && got(31L) == "NEW" && got.size == 31)
    // the same entry point serves reads
    assert(graft.sql.SqlEngine.executeSql(spark,
      "SELECT count(*) AS n FROM front_src").head().getLong(0) == 2L)
    // ... and a front-door READ of the DML'd name must see the state
    // the MERGE wrote (the parquet-declared catalog entry over an
    // Iceberg location is shadowed by a format-aware view — a raw
    // parquet scan here would double-count superseded files)
    val reread = graft.sql.SqlEngine.executeSql(spark,
      "SELECT count(*) AS n, sum(CASE WHEN name = 'FRONT' THEN 1 ELSE 0 END) AS f " +
        "FROM dml_front_t").head()
    assert(reread.getLong(0) == 31L && reread.getLong(1) == 1L)
    // a SECOND DML on the same name must still resolve the TABLE's
    // location (the shadow view must not hijack resolution)
    Seq((31L, "AGAIN", 2.0)).toDF("id", "name", "amt")
      .createOrReplaceTempView("front_src2")
    graft.sql.SqlEngine.executeSql(spark,
      """MERGE INTO dml_front_t t USING front_src2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(graft.sql.SqlEngine.executeSql(spark,
      "SELECT count(*) AS n FROM dml_front_t WHERE name = 'AGAIN'")
      .head().getLong(0) == 1L)
    // front-door DROP removes BOTH the catalog table and the shadow
    graft.sql.SqlEngine.executeSql(spark, "DROP TABLE dml_front_t")
    intercept[Exception](
      spark.sql("SELECT * FROM dml_front_t").collect())
  }

  test("fast-path MERGE forms also enforce the cardinality rule") {
    val spark0 = spark
    import spark0.implicits._
    Seq((3L, "X", 1.0), (3L, "Y", 2.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("dup_src2")
    // unmatched duplicate keys stay legal: on the insert-only path, and
    // in an upsert, where the repeated key is looked up in the target
    // and found in no row
    Seq((41L, "A", 1.0), (41L, "B", 2.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("dup_ins")
    Seq((3L, "U", 5.0), (42L, "A", 1.0), (42L, "B", 2.0))
      .toDF("id", "name", "amt").createOrReplaceTempView("dup_new")
    for ((format, seed, read) <- formats) {
      val dir = tmp() + "/t"
      seed(dir)
      def merge(sql: String): Unit =
        TableDml.execute(spark, sql, Map("t" -> dir))
      // UPDATE SET * + INSERT * (the one-shot upsert fast path)
      intercept[IllegalArgumentException] {
        merge("""MERGE INTO t USING dup_src2 s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      // the reference-generated full-replace form
      intercept[IllegalArgumentException] {
        merge("""MERGE INTO t USING dup_src2 s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET "id" = s."id", "name" = s."name", "amt" = s."amt"
          |WHEN NOT MATCHED THEN INSERT ("id", "name", "amt") VALUES (s."id", s."name", s."amt")""".stripMargin)
      }
      // matched-only DELETE: deleting one row twice is an error in
      // ANSI/Athena, not an idempotent no-op
      intercept[IllegalArgumentException] {
        merge("""MERGE INTO t USING dup_src2 s ON t.id = s.id
          |WHEN MATCHED THEN DELETE""".stripMargin)
      }
      assert(read(dir).count() == 30, s"$format: a refused MERGE wrote")
      merge("""MERGE INTO t USING dup_ins s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(read(dir).filter(col("id") === 41L).count() == 2, format)
      merge("""MERGE INTO t USING dup_new s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = read(dir)
      assert(after.filter(col("id") === 42L).count() == 2, format)
      assert(after.filter(col("id") === 3L).select("name").as[String]
        .collect().toSeq == Seq("U"), format)
      assert(after.count() == 34, format)
    }
  }

  /** The query executions `body` runs, as a `QueryExecutionListener`
    * reports them. Listener events arrive asynchronously but in order,
    * so a marker query run after `body` closes the capture. */
  private def executionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val closed = new java.util.concurrent.CountDownLatch(1)
    val marker = "plan_capture_marker"
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) closed.countDown()
        else seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("executeSql MERGE from a unique temp-view source: no DESCRIBE, " +
    "and the cardinality check never scans the target") {
    val spark0 = spark
    import spark0.implicits._
    val MergeSql =
      """MERGE INTO t USING %s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    for ((format, seed, read) <- formats) {
      val dir = tmp() + "/t"
      seed(dir)
      Seq((2L, "X", 1.0), (31L, "Y", 2.0)).toDF("id", "name", "amt")
        .createOrReplaceTempView("uniq_src")
      val execs = executionsOf {
        graft.sql.SqlEngine.executeSql(spark, MergeSql.format("uniq_src"),
          tables = Map("t" -> dir))
      }
      assert(read(dir).count() == 31, format)
      val describes = execs.filter(qe =>
        qe.logical.exists(_.nodeName.startsWith("Describe")))
      assert(describes.isEmpty, s"$format: DESCRIBE ran:\n" +
        describes.map(_.logical).mkString("\n"))
      // the cardinality probe is the plan that counts source rows per
      // key and keeps the counts above one
      def isProbe(qe: QueryExecution): Boolean =
        qe.optimizedPlan.exists {
          case f: Filter => f.child.isInstanceOf[Aggregate] &&
            f.condition.references.exists(_.name == "n")
          case _ => false
        }
      def scansTarget(qe: QueryExecution): Boolean =
        qe.optimizedPlan.exists {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains(dir))
            case _ => false
          }
          case _ => false
        }
      val probes = execs.filter(isProbe)
      assert(probes.nonEmpty, s"$format: no cardinality probe ran")
      assert(!probes.exists(scansTarget),
        s"$format: the cardinality probe read the target:\n" +
          probes.filter(scansTarget).map(_.optimizedPlan).mkString("\n"))
      // a key repeated in the source that matches a target row still
      // raises
      Seq((5L, "X", 1.0), (5L, "Y", 2.0)).toDF("id", "name", "amt")
        .createOrReplaceTempView("dup_matched_src")
      intercept[IllegalArgumentException] {
        graft.sql.SqlEngine.executeSql(spark,
          MergeSql.format("dup_matched_src"), tables = Map("t" -> dir))
      }
      assert(read(dir).count() == 31, format)
    }
  }

  test("fully quoted qualified SET lhs parses to the bare column") {
    val dir = tmp() + "/t"
    seedIceberg(dir)
    TableDml.execute(spark,
      """UPDATE t SET "t"."amt" = 0.5 WHERE id = 1""", Map("t" -> dir))
    val got = IcebergReader.read(spark, dir)
      .filter(col("id") === 1L).select("amt").head().getDouble(0)
    assert(got == 0.5)
  }

  test("v3 Iceberg UPDATE goes through deletion vectors") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp() + "/t"
    val df = (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v")
    IcebergWriter.createEmpty(spark, dir, df.schema, formatVersion = 3)
    IcebergWriter.write(df, dir)
    TableDml.execute(spark, "UPDATE t SET v = 0.5 WHERE id > 18",
      Map("t" -> dir))
    val snap = IcebergReader.snapshotOpt(spark, dir).get
    assert(snap.dvFiles.nonEmpty && snap.deleteFiles.isEmpty)
    val got = IcebergReader.read(spark, dir)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(got(19L) == 0.5 && got(20L) == 0.5 && got(1L) == 1.0 &&
      got.size == 20)
  }
}
