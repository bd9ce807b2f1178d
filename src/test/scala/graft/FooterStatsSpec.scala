package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter}

/** What each table format records about a data file's columns, folded
  * from the file's Parquet footer over several row groups: Delta's
  * `stats` JSON and Iceberg's Appendix-D bounds and null counts, down
  * to the rendered bytes. Strings order by UTF-8 bytes (code points),
  * as Parquet and Spark order them, both in the recorded bounds and in
  * the readers' pruning. */
class FooterStatsSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DateType), StructField("b", BooleanType),
    StructField("s", StringType), StructField("u", StringType),
    StructField("x", DoubleType), StructField("m", DecimalType(10, 2)),
    StructField("t", TimestampType), StructField("n", StringType)))

  private val T0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** 200 rows, 100 per row group. The second group holds the smaller
    * long, int and date values, so each bound comes from a different
    * group; `u` holds U+FFFD in the first group and U+1F600 in the
    * second; `x` holds a NaN in the first group, whose chunk statistics
    * Parquet then reads back without min and max; `n` is null
    * throughout the first group. */
  private def row(r: Int): Row = {
    val g1 = r >= 100
    val signed = if (g1) -r else r
    val ts = new Timestamp(T0 + r * 1000L)
    ts.setNanos(r * 1000)
    Row(signed.toLong, signed * 3, Date.valueOf(
        java.time.LocalDate.ofEpochDay(19000L + signed)), !g1,
      if (g1 && r % 50 == 0) null else if (g1) f"a$r%03d" else f"m$r%03d",
      if (!g1) (if (r % 3 == 0) "\uFFFD" else s"x$r")
      else if (r == 150) "\uD83D\uDE00" else s"y$r",
      if (r == 10) Double.NaN else if (g1) -r * 0.25 else r * 0.5,
      new java.math.BigDecimal(r).movePointLeft(2),
      ts, if (!g1 || r % 10 == 0) null else s"n$r")
  }

  private def frame: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((0 until 200).map(row), 1), schema)

  /** `body` with 100-row row groups and micros timestamps. */
  private def smallRowGroups[T](body: => T): T = {
    val keys = Seq("parquet.block.size" -> "1",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rowGroups(path: String): Int = {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path),
      spark.sparkContext.hadoopConfiguration))
    try rdr.getRowGroups.size finally rdr.close()
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-fstats-$tag").toString + "/t"

  test("delta: stats JSON folds row groups; nullCount covers every column") {
    val dir = tmp("delta")
    smallRowGroups(DeltaLogWriter.write(frame, dir))
    val files = DeltaLogReader.snapshot(spark, dir).files
    assert(files.size == 1)
    assert(rowGroups(s"$dir/${files.head.path}") == 2)
    // the decimal `m` and the NaN-holding `x` have no bounds but do
    // have null counts
    val expected =
      """{"numRecords":200,""" +
      """"minValues":{"l":-199,"i":-597,"d":"2021-06-23","b":false,""" +
      """"s":"a101","u":"x1","t":"2024-01-01T00:00:00.000Z",""" +
      """"n":"n101"},""" +
      """"maxValues":{"l":99,"i":297,"d":"2022-04-17","b":true,""" +
      """"s":"m099","u":"SMILE",""" +
      """"t":"2024-01-01T00:03:19.000Z","n":"n199"},""" +
      """"nullCount":{"l":0,"i":0,"d":0,"b":0,"s":2,"u":0,"x":0,"m":0,""" +
      """"t":0,"n":110}}"""
    assert(files.head.stats.contains(expected.replace("SMILE", "\uD83D\uDE00")),
      files.head.stats)
    assert(DeltaLogReader.readWhere(spark, dir, col("x") === 20.0).count() == 1)
  }

  private def le(n: Int)(fill: ByteBuffer => Unit): Seq[Byte] = {
    val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    fill(bb); bb.array().toSeq
  }
  private def long(v: Long) = le(8)(_.putLong(v))
  private def int(v: Int) = le(4)(_.putInt(v))
  private def str(v: String) = v.getBytes("UTF-8").toSeq
  private def bool(v: Boolean) = Seq[Byte](if (v) 1 else 0)
  private def micros(r: Int) = long((T0 + r * 1000L) * 1000L + r)

  test("iceberg: bounds fold row groups by field id; null counts for every column") {
    val dir = tmp("iceberg")
    smallRowGroups(IcebergWriter.write(frame, dir))
    val files = IcebergReader.snapshot(spark, dir).files
    assert(files.size == 1)
    val f = files.head
    assert(rowGroups(f.path) == 2)
    assert(f.recordCount == 200)
    // field ids are positional: l=1 … n=10
    assert(f.lowerBounds.map { case (k, v) => k -> v.toSeq } == Map(
      1 -> long(-199), 2 -> int(-597), 3 -> int(19000 - 199), 4 -> bool(false),
      5 -> str("a101"), 6 -> str("x1"), 9 -> micros(0),
      10 -> str("n101")))
    assert(f.upperBounds.map { case (k, v) => k -> v.toSeq } == Map(
      1 -> long(99), 2 -> int(297), 3 -> int(19000 + 99), 4 -> bool(true),
      5 -> str("m099"), 6 -> str("\uD83D\uDE00"),
      9 -> micros(199), 10 -> str("n199")))
    assert(f.nullCounts == Map(1 -> 0L, 2 -> 0L, 3 -> 0L, 4 -> 0L, 5 -> 2L,
      6 -> 0L, 7 -> 0L, 8 -> 0L, 9 -> 0L, 10 -> 110L))
    assert(IcebergReader.readWhere(spark, dir, col("x") === 20.0).count() == 1)
  }

  /** One file holding "x", U+FFFD and U+1F600: min "x", max U+1F600 in
    * code point order. UTF-16 order puts U+1F600 below U+FFFD, and a
    * reader comparing that way prunes the file for a predicate that
    * matches its rows. */
  private def stringOrder(write: (DataFrame, String) => Unit,
      readWhere: (String, org.apache.spark.sql.Column) => DataFrame): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmp("order")
    write(Seq("x", "\uFFFD", "\uD83D\uDE00").toDF("v").coalesce(1), dir)
    def got(c: org.apache.spark.sql.Column): Set[String] =
      readWhere(dir, c).as[String].collect().toSet
    assert(got(col("v") === "\uFFFD") == Set("\uFFFD"))
    assert(got(col("v") >= "\uFFFD") == Set("\uFFFD", "\uD83D\uDE00"))
    assert(got(col("v").startsWith("\uFFFD")) == Set("\uFFFD"))
    assert(got(col("v").startsWith("\uD83D\uDE00")) == Set("\uD83D\uDE00"))
  }

  test("delta: string predicates prune in code point order") {
    stringOrder((df, dir) => DeltaLogWriter.write(df, dir),
      (dir, c) => DeltaLogReader.readWhere(spark, dir, c))
  }

  test("iceberg: string predicates prune in code point order") {
    stringOrder((df, dir) => IcebergWriter.write(df, dir),
      (dir, c) => IcebergReader.readWhere(spark, dir, c))
  }
}
