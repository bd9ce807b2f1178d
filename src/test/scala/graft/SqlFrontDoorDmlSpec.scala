package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter}
import graft.sql.TableDml

/** DML statements are Trino SQL like queries: their predicates, SET
  * values, INSERT values and MERGE sources get the dialect rewrite that
  * `readSqlQuery` applies (raw string literals, typed literals,
  * string-unit date functions, Trino-semantics shims), and their comma
  * lists split only at the top level, `ARRAY[...]` brackets included.
  * Each case runs on both table formats. */
class SqlFrontDoorDmlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft-front").toString

  private val formats: Seq[(String, (DataFrame, String) => Unit, String => DataFrame)] =
    Seq(
      ("Delta", (df, p) => DeltaLogWriter.write(df, p), DeltaLogReader.read(spark, _)),
      ("Iceberg", (df, p) => IcebergWriter.write(df, p), IcebergReader.read(spark, _)))

  private def table(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val named = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private val tagged = StructType(Seq(
    StructField("id", LongType), StructField("tags", ArrayType(StringType))))

  private val numbered = StructType(Seq(
    StructField("id", LongType), StructField("nums", ArrayType(IntegerType))))

  for ((fmt, write, read) <- formats) {
    test(s"$fmt: DELETE with a Trino raw-string regex deletes what a query selects") {
      val dir = tmp() + "/t"
      write(table(named, Row(1L, "abc"), Row(2L, "a1"), Row(3L, "d"),
        Row(4L, "x99")), dir)
      TableDml.execute(spark,
        """DELETE FROM t WHERE regexp_like(name, '\d+')""", Map("t" -> dir))
      assert(read(dir).collect().map(_.getString(1)).sorted.toSeq ==
        Seq("abc", "d"))
    }

    test(s"$fmt: UPDATE with a DECIMAL literal and a string-unit date_add") {
      val dir = tmp() + "/t"
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("amt", DecimalType(10, 2))))
      write(table(schema, (1L to 4L).map(i =>
        Row(i, new java.math.BigDecimal(i * 10))): _*), dir)
      TableDml.execute(spark,
        """UPDATE t SET amt = amt + DECIMAL '1.5'
          |WHERE date_add('day', id, DATE '2024-01-01') <= DATE '2024-01-03'""".stripMargin,
        Map("t" -> dir))
      val got = read(dir).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue).toMap
      assert(got == Map(1L -> 11.5, 2L -> 21.5, 3L -> 30.0, 4L -> 40.0))
    }

    test(s"$fmt: MERGE USING a subquery with a Trino-semantics function") {
      val dir = tmp() + "/t"
      write(table(named, Row(1L, "one"), Row(2L, "two")), dir)
      table(named, Row(2L, "code-22"), Row(3L, "code-33"))
        .createOrReplaceTempView("front_codes")
      // Trino's regexp_extract defaults to the whole match (group 0);
      // Spark's builtin asks for group 1, which this pattern lacks
      TableDml.execute(spark,
        """MERGE INTO t USING (
          |  SELECT id, regexp_extract(name, '\d+') AS name FROM front_codes
          |) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin, Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "one", 2L -> "22", 3L -> "33"))
    }

    test(s"$fmt: UPDATE SET and DELETE WHERE call shims that shadow Spark builtins") {
      val dir = tmp() + "/t"
      write(table(named, Row(1L, "abc"), Row(2L, "xax"), Row(3L, "d")), dir)
      // Trino's 2-argument regexp_replace removes every match; Spark's
      // builtin needs a replacement argument
      TableDml.execute(spark,
        "UPDATE t SET name = regexp_replace(name, 'a') WHERE id < 3",
        Map("t" -> dir))
      TableDml.execute(spark,
        "DELETE FROM t WHERE contains(name, 'x')", Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "bc", 3L -> "d"))
    }

    test(s"$fmt: MERGE UPDATE SET and INSERT VALUES call a shim that shadows a builtin") {
      val dir = tmp() + "/t"
      write(table(named, Row(1L, "one"), Row(2L, "two")), dir)
      table(StructType(Seq(StructField("id", LongType))), Row(2L), Row(3L))
        .createOrReplaceTempView("front_shadow")
      TableDml.execute(spark,
        """MERGE INTO t USING front_shadow s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET name = regexp_replace(name, 'o')
          |WHEN NOT MATCHED THEN INSERT (id, name)
          |  VALUES (s.id, regexp_replace('zoo', 'o'))""".stripMargin,
        Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "one", 2L -> "tw", 3L -> "z"))
    }

    test(s"$fmt: UPDATE SET an ARRAY[...] value with a comma inside the brackets") {
      val dir = tmp() + "/t"
      write(table(tagged, Row(1L, Seq("a")), Row(2L, Seq("b"))), dir)
      TableDml.execute(spark,
        "UPDATE t SET tags = ARRAY['x', 'y'] WHERE id = 1", Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == Map(1L -> Seq("x", "y"), 2L -> Seq("b")))
    }

    test(s"$fmt: MERGE UPDATE SET an ARRAY[...] value") {
      val dir = tmp() + "/t"
      write(table(tagged, Row(1L, Seq("a")), Row(2L, Seq("b"))), dir)
      table(StructType(Seq(StructField("id", LongType))), Row(2L))
        .createOrReplaceTempView("front_keys")
      TableDml.execute(spark,
        """MERGE INTO t USING front_keys s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET tags = ARRAY['p', 'q']""".stripMargin,
        Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == Map(1L -> Seq("a"), 2L -> Seq("p", "q")))
    }

    test(s"$fmt: MERGE INSERT VALUES with an ARRAY[...] value") {
      val dir = tmp() + "/t"
      write(table(numbered, Row(1L, Seq(0))), dir)
      table(StructType(Seq(StructField("id", LongType))), Row(1L), Row(5L))
        .createOrReplaceTempView("front_new")
      TableDml.execute(spark,
        """MERGE INTO t USING front_new source ON t.id = source.id
          |WHEN NOT MATCHED THEN INSERT (id, nums) VALUES (source.id, ARRAY[1, 2])""".stripMargin,
        Map("t" -> dir))
      val got = read(dir).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(got == Map(1L -> Seq(0), 5L -> Seq(1, 2)))
    }
  }
}
