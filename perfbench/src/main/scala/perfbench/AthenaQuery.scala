package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

import graft.catalog.Catalog
import graft.io.DatasetWriter
import graft.sql.SqlEngine

/** Athena-style reads: Trino SQL through `SqlEngine.readSqlQuery` with the
  * result cache on, over a star schema written as a hive-partitioned,
  * Athena-bucketed Parquet dataset and registered in the catalog.
  *
  * Each op is one query, drawn by seed from eight templates with seeded
  * parameters; one request in four repeats one of the eight most recent
  * texts (a cache hit). The template pool holds several hundred distinct
  * texts, more than the 100 entries the query cache keeps. */
final class AthenaQuery(h: Harness, input: String, seed: Long) extends Workload {
  import AthenaQuery._
  private val spark = h.spark
  private val tr = h.tr
  private val rng = new java.util.Random(seed * 7919L + 17)
  private val recent = mutable.ArrayBuffer.empty[String]
  /** Engine text → DuckDB text of every text drawn. */
  private val oracleOf = mutable.HashMap.empty[String, String]
  /** First occurrence of each measured text, in order. */
  private val distinct = mutable.LinkedHashMap.empty[String, String]
  private val lastFrame = mutable.HashMap.empty[String, DataFrame]
  private var hits = 0
  private var partitionCounts = Map.empty[String, Long]

  def fixture(root: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    Catalog.createDatabase(spark, Db)
    Layout.foreach { case (t, parts, bucketCol) =>
      val df = spark.read.parquet(s"$input/$t.parquet")
      val loc = s"$root/$t"
      DatasetWriter.toParquet(df, loc, DatasetWriter.Overwrite,
        partitionCols = parts.toSeq,
        bucketing = bucketCol.map(c => DatasetWriter.BucketingInfo(Seq(c), 4)))
      val types = df.schema.fields.map(f =>
        f.name -> graft.types.AthenaTypes.toAthena(f.dataType)).toSeq
      Catalog.createParquetTable(spark, s"$Db.$t", loc,
        columns = types.filterNot(c => parts.contains(c._1)),
        partitionCols = types.filter(c => parts.contains(c._1)))
      parts.foreach { p =>
        val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val values = fs.listStatus(new Path(loc)).toSeq.map(_.getPath.getName)
          .filter(_.startsWith(s"$p=")).map(n => ExternalCatalogUtils.unescapePathName(
            n.stripPrefix(s"$p="))).sorted
        Catalog.addPartitions(spark, s"$Db.$t", values.map(v => Map(p -> v)))
        partitionCounts += t -> values.size.toLong
      }
    }
    tr.partitionsPresent = t => partitionCounts.getOrElse(t, 0L)
  }

  /** Next request text: a recent repeat with probability 1/4, else a
    * fresh draw from the template pool. */
  private def nextText(): String =
    if (recent.nonEmpty && rng.nextInt(4) == 0) recent(rng.nextInt(recent.size))
    else {
      val t = Templates(rng.nextInt(Templates.size))
      val (text, duck) = t.render(rng, s"$Db.")
      oracleOf(text) = duck
      recent += text
      if (recent.size > 8) recent.remove(0)
      text
    }

  private def query(text: String): Unit = h.op("query") {
    val df = tr.span("sql", "readSqlQuery") {
      SqlEngine.readSqlQuery(spark, text, useCache = true)
    }
    val hit = lastFrame.get(text).exists(_ eq df)
    lastFrame(text) = df
    if (h.record) {
      if (hit) hits += 1
      distinct.getOrElseUpdate(text, s"q${distinct.size}")
    }
    tr.count("sql.cache_lookups", 1)
    if (hit) tr.count("sql.cache_hits", 1)
    h.materialize(df)
    if (tr.on && !hit) tr.listener.recordPlanning(df.queryExecution)
  }

  def warmup(): Unit = {
    // every template once, on texts the measured loop will not draw
    Templates.foreach(t => query(t.render(new java.util.Random(-1 - seed), s"$Db.")._1))
    lastFrame.clear()
  }

  def step(): Unit = query(nextText())

  def headlineKind: String = "query"

  def commitSamples: Seq[Double] = h.samplesOf("query")

  def namedMetrics(): Unit = {
    val q = h.samplesOf("query")
    val (tail, p, n) = Stats.tail(q)
    h.named ++= Seq(
      "query_p50_s" -> (Stats.median(q), "s"),
      "query_tail_s" -> (tail, "s"),
      "queries_per_s" -> (q.size / q.sum, "1/s"),
      "query_tail_percentile" -> (p, "%"),
      "query_samples" -> (n.toDouble, "count"),
      "cache_hits" -> (hits.toDouble, "count"),
      "distinct_texts" -> (distinct.size.toDouble, "count"),
      "cache_capacity" -> (100.0, "count"))
  }

  override def traceGauges(): Unit = {
    val read = tr.counters.getOrElse("io.partitions_read", 0.0)
    val all = tr.counters.getOrElse("io.partitions_present", 0.0)
    tr.counters("io.read_partitions_ratio") = if (all > 0) read / all else 0.0
  }

  /** Each distinct measured text's result, written in parallel (4
    * threads) so the check does not dominate the run. */
  def checkOutputs(checkDir: String): Map[String, String] = {
    val byText = distinct.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = byText.map { case (text, name) =>
        pool.submit(new Runnable {
          def run(): Unit = SqlEngine.readSqlQuery(spark, text, useCache = true)
            .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    byText.map { case (text, name) => name -> oracleOf(text) }.toMap
  }

  override def checkFacts: Map[String, Any] = Map(
    "distinct_texts" -> distinct.size, "cache_hits" -> hits)
}

object AthenaQuery {
  val Db = "perfbench"

  /** (table, partition column, bucket column) of the written dataset. */
  val Layout: Seq[(String, Option[String], Option[String])] = Seq(
    ("lineitem", Some("l_returnflag"), Some("l_orderkey")),
    ("orders", Some("o_orderpriority"), Some("o_orderkey")),
    ("customer", None, None), ("part", None, None), ("supplier", None, None),
    ("nation", None, None), ("region", None, None))

  /** One query shape: Trino text for the engine, and the DuckDB text
    * of the same query for the oracle. Placeholders: `{db}` (table
    * prefix) and `{0}`, `{1}`, … (seeded parameters). */
  final case class Template(name: String, trino: String, duck: String,
      params: Seq[Seq[String]]) {
    /** (engine text, DuckDB text) for one seeded parameter draw. */
    def render(rng: java.util.Random, db: String): (String, String) = {
      val vals = params.map(p => p(rng.nextInt(p.size)))
      def fill(s: String) = vals.zipWithIndex.foldLeft(s) { case (acc, (v, i)) =>
        acc.replace(s"{$i}", v)
      }
      (fill(trino).replace("{db}", db), fill(duck))
    }
  }

  private val dates = (1992 to 1998).flatMap(y => Seq("01-01", "03-15", "06-30", "09-17")
    .map(md => s"$y-$md"))
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val years = (1992 to 1998).map(_.toString)
  private val rev = "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
    "(1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)"

  val Templates: Seq[Template] = Seq(
    // q1: pricing summary, scan + hash aggregate
    Template("pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  $rev AS sum_disc_price, count(*) AS count_order
         |FROM {db}lineitem WHERE l_shipdate <= DATE '{0}'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  $rev AS sum_disc_price, count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= DATE '{0}'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
      Seq(dates)),
    // q3: shipping priority, three-way join + top 10
    Template("shipping_priority",
      s"""SELECT l.l_orderkey, $rev AS revenue, year(o.o_orderdate) AS order_year
         |FROM {db}customer c JOIN {db}orders o ON c.c_custkey = o.o_custkey
         |JOIN {db}lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE c.c_mktsegment = '{0}' AND o.o_orderdate < DATE '{1}'
         |  AND l.l_shipdate > DATE '{1}'
         |GROUP BY l.l_orderkey, o.o_orderdate
         |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin,
      s"""SELECT l.l_orderkey, $rev AS revenue, year(o.o_orderdate) AS order_year
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |WHERE c.c_mktsegment = '{0}' AND o.o_orderdate < DATE '{1}'
         |  AND l.l_shipdate > DATE '{1}'
         |GROUP BY l.l_orderkey, o.o_orderdate
         |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin,
      Seq(segments, dates)),
    // q5: local supplier volume, six-way join
    Template("local_supplier",
      s"""SELECT n.n_name, $rev AS revenue
         |FROM {db}customer c JOIN {db}orders o ON c.c_custkey = o.o_custkey
         |JOIN {db}lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN {db}supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |JOIN {db}nation n ON s.s_nationkey = n.n_nationkey
         |JOIN {db}region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = '{0}' AND year(o.o_orderdate) = {1}
         |GROUP BY n.n_name""".stripMargin,
      s"""SELECT n.n_name, $rev AS revenue
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |WHERE r.r_name = '{0}' AND year(o.o_orderdate) = {1}
         |GROUP BY n.n_name""".stripMargin,
      Seq(regions, years)),
    // q7: per-key window rank
    Template("window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM {db}orders WHERE o_custkey BETWEEN {0} AND {0} + 150) t
        |WHERE rn <= 3""".stripMargin,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey BETWEEN {0} AND {0} + 150) t
        |WHERE rn <= 3""".stripMargin,
      Seq((0 until 40).map(i => (1 + i * 70).toString))),
    // q9: rollup
    Template("rollup",
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        |FROM {db}orders WHERE year(o_orderdate) = {0}
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = {0}
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
      Seq(years)),
    // trino_read_sql: Trino-only syntax (1-based array subscript, date_diff)
    Template("trino_read_sql",
      """SELECT l.l_returnflag AS flag,
        |  ARRAY ['low', 'high'][CASE WHEN l.l_quantity > {0} THEN 2 ELSE 1 END] AS qty_band,
        |  count(*) AS cnt,
        |  sum(date_diff('day', o.o_orderdate, l.l_shipdate)) AS lag_days
        |FROM {db}lineitem l JOIN {db}orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '{1}'
        |GROUP BY 1, 2""".stripMargin,
      """SELECT l.l_returnflag AS flag,
        |  (ARRAY['low','high'])[CASE WHEN l.l_quantity > {0} THEN 2 ELSE 1 END] AS qty_band,
        |  count(*) AS cnt,
        |  CAST(sum(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS lag_days
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '{1}'
        |GROUP BY 1, 2""".stripMargin,
      Seq((5 to 45 by 5).map(_.toString), priorities)),
    // partition-pruned filter on the partition column
    Template("partition_filter",
      """SELECT l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM {db}lineitem
        |WHERE l_returnflag = '{0}' AND l_partkey BETWEEN {1} AND {1} + 200
        |GROUP BY l_linestatus""".stripMargin,
      """SELECT l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_returnflag = '{0}' AND l_partkey BETWEEN {1} AND {1} + 200
        |GROUP BY l_linestatus""".stripMargin,
      Seq(Seq("A", "N", "R"), (0 until 20).map(i => (1 + i * 190).toString))),
    // top-k by brand
    Template("top_k",
      """SELECT p.p_partkey, p.p_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross
        |FROM {db}lineitem l JOIN {db}part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = '{0}'
        |GROUP BY p.p_partkey, p.p_name
        |ORDER BY gross DESC, p.p_partkey LIMIT {1}""".stripMargin,
      """SELECT p.p_partkey, p.p_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = '{0}'
        |GROUP BY p.p_partkey, p.p_name
        |ORDER BY gross DESC, p.p_partkey LIMIT {1}""".stripMargin,
      Seq(for (a <- 1 to 5; b <- 1 to 5) yield s"Brand#$a$b", Seq("5", "10", "20"))))
}
