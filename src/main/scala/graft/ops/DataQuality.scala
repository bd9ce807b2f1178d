package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality rule engine — the Glue Data Quality / DQDL surface of the
  * reference (`data_quality/_create.py:40-371`): declarative rules
  * compiled to aggregate expressions, evaluated in ONE pass over the
  * table (a single Aggregate node computes every rule's metric — no
  * per-rule scans), verdicts returned as a DataFrame.
  */
object DataQuality {

  /** A compiled rule: name, metric expression (aggregate), pass predicate
    * over the metric value. */
  final case class Rule(name: String, metric: Column, passed: Column => Column)

  /** DQDL-ish rule constructors (RowCount, Completeness, Uniqueness,
    * ColumnValues between — `data_quality/_create.py:27-37` renders these
    * as `Rules = [ ... ]` docs; here they compile straight to Catalyst). */
  object Rules {
    def rowCount(min: Long): Rule =
      Rule("row_count", count(lit(1)).cast("double"), _ >= min.toDouble)
    def completeness(c: String, minRatio: Double): Rule =
      Rule(s"completeness_$c",
        count(col(c)).cast("double") / count(lit(1)).cast("double"),
        _ >= minRatio)
    def uniqueness(c: String, minRatio: Double): Rule =
      Rule(s"uniqueness_$c",
        countDistinct(col(c)).cast("double") / count(lit(1)).cast("double"),
        _ >= minRatio)
    def minValue(c: String, bound: Double): Rule =
      Rule(s"min_$c", min(col(c)).cast("double"), _ >= bound)
    def maxValue(c: String, bound: Double): Rule =
      Rule(s"max_$c", max(col(c)).cast("double"), _ <= bound)
    /** `IsComplete "c"` — every value non-null. */
    def isComplete(c: String): Rule =
      Rule(s"is_complete_$c",
        count(col(c)).cast("double") / count(lit(1)).cast("double"),
        _ >= 1.0)
    /** `ColumnValues "c" in [...]` — metric is the conforming fraction
      * (nulls fail, DQDL's default NullBehavior); passes at 1.0. */
    def valuesInSet(c: String, allowed: Seq[String]): Rule =
      Rule(s"in_set_$c",
        avg(when(col(c).isin(allowed: _*), 1.0).otherwise(0.0)),
        _ >= 1.0)
    /** `ColumnValues "c" matches "regex"` — unanchored match, like the
      * Glue evaluator. */
    def valuesMatch(c: String, regex: String): Rule =
      Rule(s"matches_$c",
        avg(when(col(c).rlike(regex), 1.0).otherwise(0.0)),
        _ >= 1.0)

    /** Comparator → pass predicate over a double metric (the DQDL
      * comparison operators Glue's grammar admits). */
    private[DataQuality] def cmp(op: String, bound: Double)
        : Column => Column = op match {
      case ">" => _ > bound
      case ">=" => _ >= bound
      case "<" => _ < bound
      case "<=" => _ <= bound
      case "=" => _ === bound
      case other =>
        throw new IllegalArgumentException(s"unsupported comparator: $other")
    }

    // ---- aggregate rule types (`data_quality/_create.py:27-37` renders
    // ---- arbitrary DQDL; Glue's grammar carries all of these) -------------

    /** `Mean "c" > x` — decimal(28,10)-summed mean (order-independent,
      * so the DuckDB oracle is bit-exact; the VectorIndex centroid
      * trick). Exact-decimal domain: |v| < 10^18; beyond that the
      * ANSI cast overflows loudly rather than silently degrading. */
    def meanRule(c: String, op: String, bound: Double): Rule =
      Rule(s"mean_$c",
        sum(col(c).cast("decimal(28,10)")).cast("double") /
          count(col(c)).cast("double"),
        cmp(op, bound))

    /** `StandardDeviation "c" < x` — POPULATION stddev from two exact
      * decimal sums (Σx at 10 dp, Σx² from 6-dp squares: (18,6)×(18,6)
      * = decimal(37,12), still under the 38-digit cap in both engines),
      * final arithmetic in double. Exact-decimal domain: |v| < 10^12
      * (the squared term); larger values overflow the ANSI cast loudly
      * — a column of values past 10^12 needs a double-based rule, not
      * a silent wrong answer. The metric is rounded to 6 dp (the DSIR
      * recipe): the exact decimal sums are equal on both engines, but
      * DuckDB's wide-decimal→double conversion is not always correctly
      * rounded, so the unrounded sqrt can differ by one ulp at larger
      * scales (seen at sf0.1, never sf0.01). */
    def stddevRule(c: String, op: String, bound: Double): Rule = {
      val n = count(col(c)).cast("double")
      val s = sum(col(c).cast("decimal(28,10)")).cast("double")
      val v6 = col(c).cast("decimal(18,6)")
      val sq = sum(v6 * v6).cast("double")
      Rule(s"stddev_$c",
        round(sqrt(greatest(lit(0.0), sq / n - (s / n) * (s / n))), 6),
        cmp(op, bound))
    }

    /** `Sum "c" > x` — exact decimal sum cast to double
      * (domain |v| < 10^18, like [[meanRule]]). */
    def sumRule(c: String, op: String, bound: Double): Rule =
      Rule(s"sum_$c",
        sum(col(c).cast("decimal(28,10)")).cast("double"),
        cmp(op, bound))

    /** `ColumnLength "c" <= n` — per-value check like ColumnValues:
      * metric is the conforming fraction (nulls fail), passes at 1.0. */
    def columnLength(c: String, op: String, bound: Int): Rule = {
      val len = length(col(c))
      val ok = op match {
        case ">" => len > bound
        case ">=" => len >= bound
        case "<" => len < bound
        case "<=" => len <= bound
        case "=" => len === bound
        case other =>
          throw new IllegalArgumentException(s"unsupported comparator: $other")
      }
      Rule(s"length_$c", avg(when(ok, 1.0).otherwise(0.0)), _ >= 1.0)
    }

    /** `DistinctValuesCount "c" > n` — exact distinct count. */
    def distinctValuesCount(c: String, op: String, bound: Double): Rule =
      Rule(s"distinct_count_$c",
        countDistinct(col(c)).cast("double"), cmp(op, bound))
  }

  /** Evaluate a ruleset in one aggregate pass; explode to one row per
    * rule with (rule, metric, passed). */
  def evaluate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val metricCols = rules.map(r => r.metric.as(r.name))
    val one = df.agg(metricCols.head, metricCols.tail: _*)
    val asRows = rules.map { r =>
      struct(lit(r.name).as("rule"), col(r.name).as("metric"),
        r.passed(col(r.name)).as("passed"))
    }
    one.select(explode(array(asRows: _*)).as("r"))
      .select(col("r.rule"), col("r.metric"), col("r.passed"))
  }

  /** Profiling-driven rule suggestion —
    * `data_quality.create_recommendation_ruleset`
    * (`data_quality/_create.py:193-282`): one statistics pass over the
    * table proposes a ruleset (row count floor, completeness of
    * near-complete columns, uniqueness of key-like columns, observed
    * numeric bounds).
    */
  def recommendRuleset(df: DataFrame): Seq[Rule] = {
    val numericCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        => f.name
    }.toSeq
    val statCols =
      Seq(count(lit(1)).cast("double").as("__n")) ++
        df.columns.toSeq.map(c =>
          count(col(c)).cast("double").as(s"__nn_$c")) ++
        df.columns.toSeq.map(c =>
          approx_count_distinct(col(c)).cast("double").as(s"__nd_$c")) ++
        numericCols.flatMap(c => Seq(
          min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c")))
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    val n = stats.getAs[Double]("__n")
    val rowRule = Rules.rowCount(math.max(1L, (n * 0.9).toLong))
    val completeness = df.columns.toSeq
      .filter(c => stats.getAs[Double](s"__nn_$c") / n >= 0.99)
      .map(c => Rules.completeness(c, 0.99))
    val uniqueness = df.columns.toSeq
      .filter(c => stats.getAs[Double](s"__nd_$c") / n >= 0.95)
      .map(c => Rules.uniqueness(c, 0.9))
    val bounds = numericCols.flatMap(c => Seq(
      Rules.minValue(c, stats.getAs[Double](s"__min_$c")),
      Rules.maxValue(c, stats.getAs[Double](s"__max_$c"))))
    Seq(rowRule) ++ completeness ++ uniqueness ++ bounds
  }

  /** Parse a DQDL-ish ruleset document (`data_quality/_create.py:27-37`
    * renders `Rules = [ RowCount > 100, Completeness "c" > 0.9, … ]`)
    * into compiled rules. Supported: RowCount, Completeness, Uniqueness,
    * IsComplete, ColumnValues min/max comparisons, `ColumnValues … in
    * [...]` set rules, `ColumnValues … matches "regex"`, and the rest
    * of the rule types Glue's DQDL grammar carries that are single-pass
    * aggregates: Mean, StandardDeviation, Sum,
    * ColumnLength, DistinctValuesCount with the full comparator set.
    * Mean/Sum/StandardDeviation use exact-decimal sums for
    * order-independent metrics: their domain is |v| < 10^18
    * (10^12 for StandardDeviation's squared term); values beyond
    * that overflow the ANSI cast loudly.
    */
  def parseRuleset(dqdl: String): Seq[Rule] = {
    val body = dqdl.replaceAll("(?s).*Rules\\s*=\\s*\\[", "")
      .replaceAll("(?s)\\]\\s*$", "").trim
    if (body.isEmpty) return Nil
    splitRules(body).map { r =>
      val RowCountP = """RowCount\s*(>=|>)\s*([0-9.]+)""".r
      val ColRuleP = """(Completeness|Uniqueness)\s*"([^"]+)"\s*(>=|>)\s*([0-9.]+)""".r
      val IsCompleteP = """IsComplete\s*"([^"]+)"""".r
      val ValuesP = """ColumnValues\s*"([^"]+)"\s*(<=|>=)\s*([0-9.-]+)""".r
      val InSetP = """(?s)ColumnValues\s*"([^"]+)"\s+in\s+\[(.*)\]""".r
      val MatchesP = """ColumnValues\s*"([^"]+)"\s+matches\s+"(.*)"""".r
      val AggP = ("""(Mean|StandardDeviation|Sum|DistinctValuesCount)""" +
        """\s*"([^"]+)"\s*(<=|>=|<|>|=)\s*(-?[0-9.eE]+)""").r
      val LengthP =
        """ColumnLength\s*"([^"]+)"\s*(<=|>=|<|>|=)\s*([0-9]+)""".r
      r match {
        case RowCountP(_, v) => Rules.rowCount(v.toDouble.toLong)
        case ColRuleP("Completeness", c, _, v) => Rules.completeness(c, v.toDouble)
        case ColRuleP("Uniqueness", c, _, v) => Rules.uniqueness(c, v.toDouble)
        case IsCompleteP(c) => Rules.isComplete(c)
        case AggP("Mean", c, op, v) => Rules.meanRule(c, op, v.toDouble)
        case AggP("StandardDeviation", c, op, v) =>
          Rules.stddevRule(c, op, v.toDouble)
        case AggP("Sum", c, op, v) => Rules.sumRule(c, op, v.toDouble)
        case AggP("DistinctValuesCount", c, op, v) =>
          Rules.distinctValuesCount(c, op, v.toDouble)
        case LengthP(c, op, v) => Rules.columnLength(c, op, v.toInt)
        case InSetP(c, vals) => Rules.valuesInSet(c,
          vals.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
        case MatchesP(c, re) => Rules.valuesMatch(c, re)
        case ValuesP(c, ">=", v) => Rules.minValue(c, v.toDouble)
        case ValuesP(c, "<=", v) => Rules.maxValue(c, v.toDouble)
        case other =>
          throw new IllegalArgumentException(s"unsupported DQDL rule: $other")
      }
    }
  }

  /** Split the rule list on commas OUTSIDE brackets and quotes — an
    * in-set rule's `["F", "O"]` carries commas of its own. */
  private def splitRules(body: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inQuote = false
    body.foreach {
      case '"' => inQuote = !inQuote; cur += '"'
      case '[' if !inQuote => depth += 1; cur += '['
      case ']' if !inQuote => depth -= 1; cur += ']'
      case ',' if !inQuote && depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Ruleset registry — `create_ruleset` / `update_ruleset` /
    * `get_ruleset` / `list_rulesets` (`data_quality/_create.py`,
    * `_get.py`, `_list.py`): named DQDL documents in a small keyed
    * dataset. Documents are validated by parsing at write time, so a
    * registered ruleset is always evaluable. */
  final class RulesetRegistry(spark: SparkSession, path: String) {
    import org.apache.spark.sql.Row
    private val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("dqdl",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("updated_ms",
        org.apache.spark.sql.types.LongType)))

    def createRuleset(name: String, dqdl: String): Unit = put(name, dqdl,
      failIfExists = true)

    def updateRuleset(name: String, dqdl: String): Unit = put(name, dqdl,
      failIfExists = false)

    private def put(name: String, dqdl: String, failIfExists: Boolean): Unit = {
      parseRuleset(dqdl) // validate before storing
      val exists = graft.io.DatasetReader.datasetExists(spark, path) &&
        getRuleset(name).isDefined
      if (exists && failIfExists)
        throw new IllegalArgumentException(s"ruleset exists: $name")
      val row = spark.createDataFrame(
        java.util.List.of(Row(name, dqdl, System.currentTimeMillis())), schema)
      if (!graft.io.DatasetReader.datasetExists(spark, path))
        graft.io.DatasetWriter.toParquet(row, path,
          mode = graft.io.DatasetWriter.Overwrite)
      else graft.table.MergeOps.upsert(spark, path, row, keys = Seq("name"))
    }

    def getRuleset(name: String): Option[String] =
      if (!graft.io.DatasetReader.datasetExists(spark, path)) None
      else spark.read.parquet(path).filter(col("name") === name)
        .select("dqdl").collect().headOption.map(_.getString(0))

    def listRulesets(): Seq[String] =
      if (!graft.io.DatasetReader.datasetExists(spark, path)) Nil
      else spark.read.parquet(path).select("name")
        .collect().map(_.getString(0)).toSeq.sorted

    /** Evaluate a registered ruleset against a DataFrame. */
    def evaluateRuleset(name: String, df: DataFrame): DataFrame =
      evaluate(df, parseRuleset(getRuleset(name).getOrElse(
        throw new IllegalArgumentException(s"no such ruleset: $name"))))
  }

  /** The declared ruleset evaluated over lineitem for the oracle gate. */
  def lineitemRuleset(s: SparkSession, dir: String): DataFrame =
    evaluate(Tables.lineitem(s, dir), Seq(
      Rules.rowCount(1000L),
      Rules.completeness("l_shipdate", 1.0),
      Rules.uniqueness("l_orderkey", 0.05),
      Rules.minValue("l_quantity", 1.0),
      Rules.maxValue("l_discount", 0.5)))

  /** Second oracled ruleset, built THROUGH the DQDL parser — exercises
    * IsComplete, an in-set rule (commas inside brackets), a regex rule,
    * and a bound, over `orders`. */
  def ordersRuleset(s: SparkSession, dir: String): DataFrame =
    evaluate(Tables.orders(s, dir), parseRuleset(
      """Rules = [
        |  RowCount > 100,
        |  IsComplete "o_orderkey",
        |  ColumnValues "o_orderstatus" in ["F", "O", "P"],
        |  ColumnValues "o_orderpriority" matches "^[1-5]-[A-Z]+",
        |  ColumnValues "o_totalprice" >= 0
        |]""".stripMargin))

  def ordersRulesetOracle: String =
    """WITH m AS (
      |  SELECT cast(count(*) as double) AS row_count,
      |    cast(count(o_orderkey) as double) / cast(count(*) as double)
      |      AS is_complete_o_orderkey,
      |    avg(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1.0 ELSE 0.0 END)
      |      AS in_set_o_orderstatus,
      |    avg(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+')
      |        THEN 1.0 ELSE 0.0 END) AS matches_o_orderpriority,
      |    cast(min(o_totalprice) as double) AS min_o_totalprice
      |  FROM orders)
      |SELECT 'row_count' AS rule, row_count AS metric,
      |  row_count >= 100.0 AS passed FROM m
      |UNION ALL SELECT 'is_complete_o_orderkey', is_complete_o_orderkey,
      |  is_complete_o_orderkey >= 1.0 FROM m
      |UNION ALL SELECT 'in_set_o_orderstatus', in_set_o_orderstatus,
      |  in_set_o_orderstatus >= 1.0 FROM m
      |UNION ALL SELECT 'matches_o_orderpriority', matches_o_orderpriority,
      |  matches_o_orderpriority >= 1.0 FROM m
      |UNION ALL SELECT 'min_o_totalprice', min_o_totalprice,
      |  min_o_totalprice >= 0.0 FROM m""".stripMargin

  /** Third oracled ruleset — exercises the aggregate DQDL
    * dialect (Mean / StandardDeviation / Sum / ColumnLength /
    * DistinctValuesCount), parsed from DQDL text, over `events`. All
    * metrics are exact-decimal formulations so the DuckDB twin is
    * bit-exact under any row order. */
  def eventsRuleset(s: SparkSession, dir: String): DataFrame =
    evaluate(Tables.events(s, dir), parseRuleset(
      """Rules = [
        |  Mean "value" > 0,
        |  StandardDeviation "value" < 1000000,
        |  Sum "value" > 100,
        |  ColumnLength "event_type" <= 32,
        |  DistinctValuesCount "event_type" < 1000,
        |  DistinctValuesCount "user_id" > 10
        |]""".stripMargin))

  def eventsRulesetOracle: String =
    """WITH b AS (
      |  SELECT cast(count("value") as double) AS n,
      |    cast(sum(cast("value" AS DECIMAL(28,10))) as double) AS s,
      |    cast(sum(cast("value" AS DECIMAL(18,6)) *
      |             cast("value" AS DECIMAL(18,6))) as double) AS sq,
      |    avg(CASE WHEN length(event_type) <= 32 THEN 1.0 ELSE 0.0 END)
      |      AS len_ok,
      |    cast(count(DISTINCT event_type) as double) AS nd_et,
      |    cast(count(DISTINCT user_id) as double) AS nd_uid
      |  FROM events),
      |m AS (
      |  SELECT s / n AS mean_value,
      |    round(sqrt(greatest(0.0, sq / n - (s / n) * (s / n))), 6)
      |      AS stddev_value,
      |    s AS sum_value, len_ok AS length_event_type,
      |    nd_et AS distinct_count_event_type,
      |    nd_uid AS distinct_count_user_id
      |  FROM b)
      |SELECT 'mean_value' AS rule, mean_value AS metric,
      |  mean_value > 0.0 AS passed FROM m
      |UNION ALL SELECT 'stddev_value', stddev_value,
      |  stddev_value < 1000000.0 FROM m
      |UNION ALL SELECT 'sum_value', sum_value, sum_value > 100.0 FROM m
      |UNION ALL SELECT 'length_event_type', length_event_type,
      |  length_event_type >= 1.0 FROM m
      |UNION ALL SELECT 'distinct_count_event_type',
      |  distinct_count_event_type, distinct_count_event_type < 1000.0 FROM m
      |UNION ALL SELECT 'distinct_count_user_id', distinct_count_user_id,
      |  distinct_count_user_id > 10.0 FROM m""".stripMargin

  def lineitemRulesetOracle: String =
    """WITH m AS (
      |  SELECT cast(count(*) as double) AS row_count,
      |    cast(count(l_shipdate) as double) / cast(count(*) as double) AS completeness_l_shipdate,
      |    cast(count(DISTINCT l_orderkey) as double) / cast(count(*) as double) AS uniqueness_l_orderkey,
      |    cast(min(l_quantity) as double) AS min_l_quantity,
      |    cast(max(l_discount) as double) AS max_l_discount
      |  FROM lineitem)
      |SELECT 'row_count' AS rule, row_count AS metric, row_count >= 1000.0 AS passed FROM m
      |UNION ALL SELECT 'completeness_l_shipdate', completeness_l_shipdate, completeness_l_shipdate >= 1.0 FROM m
      |UNION ALL SELECT 'uniqueness_l_orderkey', uniqueness_l_orderkey, uniqueness_l_orderkey >= 0.05 FROM m
      |UNION ALL SELECT 'min_l_quantity', min_l_quantity, min_l_quantity >= 1.0 FROM m
      |UNION ALL SELECT 'max_l_discount', max_l_discount, max_l_discount <= 0.5 FROM m""".stripMargin
}
