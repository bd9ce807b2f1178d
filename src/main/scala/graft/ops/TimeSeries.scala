package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-series operators over the `events` table — the Timestream-shaped
  * capability of the reference (`timestream/_read.py:130-171`,
  * `timestream/_write.py:223-387`) re-expressed as Spark windowed
  * aggregation. Batch versions here; the same plans run under Structured
  * Streaming with a watermark (see `graft.streaming.EventStream`).
  *
  * Scale notes: tumbling windows aggregate with map-side partials on the
  * (bucket, key) composite — one shuffle; sessionization is the classic
  * gaps-and-islands plan — one shuffle on user_id, per-partition sort, all
  * window functions evaluated in a single pass.
  */
object TimeSeries {

  /** Tumbling 1-hour windows per event type: the `window()` aggregate.
    * Output bucket rendered as a formatted string (timezone-proof for the
    * differential oracle).
    */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"), col("n_users"))

  def tumblingOracle: String =
    """SELECT strftime(time_bucket(INTERVAL '1 hour', cast(ts as timestamp)),
      |                '%Y-%m-%d %H:%M:%S') AS bucket,
      |  event_type, count(*) AS n,
      |  cast(sum(cast(value as decimal(10,2))) as double) AS sum_value,
      |  cast(count(DISTINCT user_id) as bigint) AS n_users
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** Sliding windows (1 h window, 15 min slide): each event lands in four
    * buckets. Oracled through the window decomposition: a 1h/15min
    * sliding window over an event at time t is exactly the four 15-min-
    * aligned starts `floor15(t) - k*15min, k ∈ 0..3`, which DuckDB
    * expresses as a generate-series expansion over `time_bucket`.
    */
  def sliding(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(10,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))

  def slidingOracle: String =
    """SELECT strftime(time_bucket(INTERVAL '15 minutes', cast(ts as timestamp))
      |                  - to_minutes(15 * k), '%Y-%m-%d %H:%M:%S') AS bucket,
      |  event_type, count(*) AS n,
      |  cast(sum(cast(value as decimal(10,2))) as double) AS sum_value
      |FROM events, range(0, 4) t(k)
      |GROUP BY 1, 2""".stripMargin

  /** Sessionization with a 30-minute inactivity gap: gaps-and-islands via
    * lag + running count — the batch equivalent of
    * `session_window(ts, "30 minutes")`, but differentially testable.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        max(col("duration_us")).as("max_session_us"))
  }

  def sessionizeOracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_us(cast(ts as timestamp)) AS us,
      |    CASE WHEN lag(epoch_us(cast(ts as timestamp)), 1) OVER w IS NULL
      |           OR epoch_us(cast(ts as timestamp))
      |              - lag(epoch_us(cast(ts as timestamp)), 1) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id)),
      |sessions AS (
      |  SELECT user_id, us,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |    max(us) - min(us) AS duration_us
      |  FROM sessions GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |  max(n_events) AS max_session_events,
      |  max(duration_us) AS max_session_us
      |FROM per_session GROUP BY user_id""".stripMargin

  /** Time-series dataset write — `timestream.write`
    * (`timestream/_write.py:223-387`): a time column, dimension columns
    * and measure columns land in a day-partitioned dataset; version-based
    * upsert (same (dims, time) key, greatest version wins) delegates to
    * [[graft.table.MergeOps.versionedUpsert]].
    */
  def write(
      df: DataFrame,
      path: String,
      timeCol: String,
      dimensionCols: Seq[String],
      measureCols: Seq[String],
      versionCol: Option[String] = None): Unit = {
    val projected = df.select(
      (Seq(col(timeCol).cast("timestamp").as(timeCol)) ++
        dimensionCols.map(col) ++ measureCols.map(col) ++
        versionCol.map(col).toSeq): _*)
      .withColumn("__day", date_format(col(timeCol), "yyyy-MM-dd"))
    versionCol match {
      case Some(v) if graft.io.DatasetReader.datasetExists(df.sparkSession, path) =>
        // partition discovery reads `__day` back typed (a date): the
        // source's day takes that type, so the upsert's partition tuples
        // compare and the rewritten rows stay in their day directories
        val dayType = df.sparkSession.read.parquet(path).schema("__day").dataType
        graft.table.MergeOps.versionedUpsert(df.sparkSession, path,
          projected.withColumn("__day", col("__day").cast(dayType)),
          keys = dimensionCols :+ timeCol, precombine = v,
          partitionCols = Seq("__day"))
      case _ =>
        graft.io.DatasetWriter.toParquet(projected, path,
          mode = graft.io.DatasetWriter.Append, partitionCols = Seq("__day"))
    }
  }

  /** `timestream.batch_load` (`timestream/_write.py:438-654`): CSV files
    * → the Timestream data model (time column, dimension columns, typed
    * measure columns), with per-row validation. Clean rows land in the
    * day-partitioned dataset via [[write]]; rows whose time fails to
    * parse, whose measures are non-numeric, or whose dimensions are NULL
    * are captured — with a reason — in the rejected-records output, the
    * batch-load report the reference materializes to S3. One pass,
    * split by a validity predicate; both sinks stream, nothing collects.
    * Returns (loaded, rejected) counts. */
  def batchLoad(
      spark: SparkSession,
      csvPath: String,
      targetPath: String,
      rejectsPath: String,
      timeCol: String,
      dimensionCols: Seq[String],
      measureCols: Seq[String]): (Long, Long) = {
    val raw = graft.io.DatasetReader.readCsv(spark, csvPath,
      schema = None, header = true,
      options = Map("inferSchema" -> "false"))
    // try_* variants: malformed input yields NULL (a reject), not an
    // ANSI cast error that would fail the whole load
    val parsedTime = try_to_timestamp(col(timeCol))
    val measureBad = measureCols.map(m =>
      when(col(m).isNotNull && expr(s"try_cast(`$m` as double)").isNull,
        concat(lit(s"unparseable measure $m: "), col(m))))
    val dimBad = dimensionCols.map(d =>
      when(col(d).isNull, lit(s"null dimension $d")))
    val timeBad = Seq(
      when(col(timeCol).isNull || parsedTime.isNull,
        concat(lit(s"unparseable time $timeCol: "),
          coalesce(col(timeCol), lit("NULL")))))
    val reason = coalesce((timeBad ++ dimBad ++ measureBad): _*)
    val flagged = raw.withColumn("__reject_reason", reason)
    val rejects = flagged.filter(col("__reject_reason").isNotNull)
      .withColumnRenamed("__reject_reason", "reject_reason")
    graft.io.DatasetWriter.toCsv(rejects, rejectsPath,
      mode = graft.io.DatasetWriter.Overwrite)
    val clean = flagged.filter(col("__reject_reason").isNull)
      .select((Seq(parsedTime.as(timeCol)) ++ dimensionCols.map(col) ++
        measureCols.map(c => expr(s"try_cast(`$c` as double)").as(c))): _*)
    write(clean, targetPath, timeCol, dimensionCols, measureCols)
    val loaded = spark.read.parquet(targetPath).count()
    val rejected = spark.read.option("header", "true").csv(rejectsPath).count()
    (loaded, rejected)
  }

  /** `timestream.unload_to_files` (`timestream/_read.py:177-338`): query
    * results exported as files under `path`, optionally hive-partitioned
    * by `partitionedBy`, parquet or CSV — the reference's UNLOAD call
    * shape over the generic [[graft.sql.SqlEngine.unload]]. Partitioned
    * export is the standard shuffle-free dynamic write: each task writes
    * the partition dirs it holds, no global sort, no driver staging. */
  def unloadToFiles(
      spark: SparkSession,
      sql: String,
      path: String,
      format: String = "parquet",
      partitionedBy: Seq[String] = Nil,
      compression: String = "snappy"): Unit =
    graft.sql.SqlEngine.unload(spark, sql, path, format, partitionedBy,
      compression,
      options = if (format == "csv") Map("header" -> "true") else Map.empty)

  /** `timestream.unload` (`timestream/_read.py:341-434`): UNLOAD + read
    * the exported files back as a DataFrame. */
  def unload(
      spark: SparkSession,
      sql: String,
      path: String,
      format: String = "parquet",
      partitionedBy: Seq[String] = Nil,
      compression: String = "snappy"): DataFrame = {
    unloadToFiles(spark, sql, path, format, partitionedBy, compression)
    val r = spark.read.format(format)
    (if (format == "csv") r.option("header", "true").option("inferSchema", "true")
     else r).load(path)
  }

  /** Top-k entities by activity — the "hottest devices" query shape. */
  def topUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(10,2)")).cast("double").as("total_value"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)

  def topUsersOracle: String =
    """SELECT user_id, count(*) AS n_events,
      |  cast(sum(cast(value as decimal(10,2))) as double) AS total_value
      |FROM events GROUP BY user_id
      |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin

  /** Ordered conversion funnel (view → click → purchase, strictly
    * later at each step) — the sequential-event query funnels engines
    * sell: each stage is one filtered aggregate joined to the previous
    * stage's per-user first-completion time, so the work narrows as the
    * funnel does and every join key is user_id (co-partitioned through
    * all three shuffles). Exact timestamp comparisons — bit-exact
    * counts vs DuckDB. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  def funnelOracle: String =
    """WITH v AS (
      |  SELECT user_id, min(cast(ts as timestamp)) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(cast(e.ts as timestamp)) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND cast(e.ts as timestamp) > v.t_view
      |  GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(cast(e.ts as timestamp)) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND cast(e.ts as timestamp) > c.t_click
      |  GROUP BY 1
      |)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  /** Cohort retention — the product-analytics staple: users grouped by
    * their FIRST-activity week, each later week's active share of the
    * cohort counted. Two hash aggregations (first week per user,
    * distinct user-weeks) joined on user — the smaller firsts side
    * broadcast-eligible at any realistic cohort cardinality — then one
    * rollup; all integer arithmetic, bit-exact across engines. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val weeks = Tables.events(s, dir).select(col("user_id"),
      floor(datediff(col("ts").cast("date"), lit("2024-01-01")) / 7)
        .as("week"))
    val activity = weeks.distinct()
    val firsts = activity.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    activity.join(firsts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  def cohortRetentionOracle: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id,
      |    cast(floor(datediff('day', DATE '2024-01-01',
      |      cast(ts as date)) / 7) as bigint) AS week
      |  FROM events
      |), firsts AS (
      |  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY 1
      |)
      |SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
      |  cast(count(DISTINCT a.user_id) as bigint) AS n_users
      |FROM activity a JOIN firsts f ON a.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Timestream's `CREATE_TIME_SERIES` + `INTERPOLATE_LINEAR` shape
    * (`timestream/_read.py` row decode feeds exactly this query family):
    * resample each event_type to a regular 15-minute grid between its
    * first and last bucket, averaging present buckets and LINEARLY
    * interpolating the missing ones from their flanking observations
    * (~half the grid at this data's density, so the interpolation path
    * is genuinely exercised).
    *
    * Plan shape at scale: one shuffle for the bucket aggregate (map-side
    * partials), the per-series grid generated by `sequence()` on
    * executors (output-sized, never a driver loop), and BOTH flanking
    * neighbors found by a single window pass per direction over the
    * series — no self-join of grid against observations. Bit-exact
    * across engines because the bucket average divides an exact decimal
    * sum and the interpolation arithmetic is the same IEEE expression
    * on both sides. */
  def interpolate(s: SparkSession, dir: String): DataFrame = {
    // the bucket aggregate feeds TWO branches — the per-series grid
    // bounds and the left-join probe — and each recompute is a full
    // events scan + window-bucket aggregation. Persist the bucket-level
    // rows once (r17; narrow (event_type, b, v) rows, aggregate-sized —
    // the narrow-cache case, not the rejected text-cache one) under the
    // [[graft.ops.Dedup.releaseCaches]] per-query lifecycle.
    val bucketed = Tables.events(s, dir)
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg((sum(col("value").cast("decimal(10,2)")).cast("double") /
        count(lit(1)).cast("double")).as("v"))
      .select(col("event_type"), col("w.start").as("b"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.ops.Dedup.registerCache(bucketed)
    val grid = bucketed.groupBy(col("event_type"))
      .agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, interval 15 minutes)")).as("b"))
    val joined = grid.join(bucketed, Seq("event_type", "b"), "left")
    val wPrev = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("b")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    joined
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pb",
        last(when(col("v").isNotNull, col("b")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nb",
        first(when(col("v").isNotNull, col("b")), ignoreNulls = true)
          .over(wNext))
      .select(col("event_type"),
        date_format(col("b"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((unix_timestamp(col("b")) - unix_timestamp(col("pb")))
              .cast("double") /
             (unix_timestamp(col("nb")) - unix_timestamp(col("pb")))
              .cast("double"))).as("value"),
        when(col("v").isNotNull, 0L).otherwise(1L).as("interpolated"))
  }

  /** Rolling z-score anomaly detection — the monitoring query every
    * time-series store runs (Timestream's anomaly CloudWatch recipes):
    * per event_type, each hourly bucket's value compares against the
    * trailing 24-bucket window's mean/σ; |v−μ| > 2σ flags. The fp trap
    * here is REAL: windowed doubles sum in engine-specific orders
    * (Spark incremental frames vs DuckDB segment trees), so the test
    * is formulated entirely in EXACT decimal arithmetic —
    * `(n·v−s)² > 4·(n·ss−s²)` over decimal sums — which both engines
    * evaluate bit-identically. One shuffle (bucket aggregate) + one
    * window pass per series. */
  /** Exponentially-weighted moving aggregate (the smoothing form of
    * Timestream's `interpolate`/window family): per-series hourly
    * buckets, each smoothed over its trailing 12 observed buckets with
    * DYADIC weights 2^(11-d) (newest heaviest — the α=1/2 EWMA kernel,
    * truncated). Weights are INTEGERS and values exact decimals, so the
    * weighted sum is bit-exact in any engine and any evaluation order —
    * the float-free formulation of a smoothing pass (windowed doubles
    * sum in engine-specific orders; see [[anomaly]]). Emitted as
    * numerator + weight total so consumers divide at the precision they
    * want; warmup rows (fewer than 12 trailing buckets) carry their
    * actual weight total. Shape: one bucket aggregation, then a BANDED
    * self-join (equi on the series key + an 11-hour range) — per-series
    * linear in buckets with a ×12 constant, no window sort. */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("vdec"))
      .select(col("event_type"), col("w.start").as("b"), col("vdec"))
    val contrib = hourly.select(col("event_type").as("et2"),
      col("b").as("b2"), col("vdec").as("v2"))
    hourly.join(contrib,
        col("event_type") === col("et2") &&
          col("b2") <= col("b") &&
          col("b2") >= col("b") - expr("interval 11 hours"))
      .withColumn("d",
        ((unix_timestamp(col("b")) - unix_timestamp(col("b2"))) / 3600L)
          .cast("int"))
      .withColumn("wgt", expr("shiftleft(1L, 11 - d)"))
      .groupBy(col("event_type"), col("b"))
      .agg(
        sum((col("v2") * col("wgt")).cast("decimal(30,2)"))
          .cast("decimal(30,2)").cast("double").as("wsum"),
        sum(col("wgt")).as("wtot"))
      .select(col("event_type"),
        date_format(col("b"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("wsum"), col("wtot"))
  }

  def ewmaOracle: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |    time_bucket(INTERVAL '1 hour', cast(ts as timestamp)) AS b,
      |    cast(sum(cast(value as decimal(18,2))) as decimal(18,2)) AS vdec
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT a.event_type, strftime(a.b, '%Y-%m-%d %H:%M:%S') AS bucket,
      |  cast(cast(sum(cast(c.vdec *
      |      (1::BIGINT << (11 - cast(date_diff('hour', c.b, a.b) as int)))
      |    as decimal(30,2))) as decimal(30,2)) as double) AS wsum,
      |  cast(sum(1::BIGINT <<
      |    (11 - cast(date_diff('hour', c.b, a.b) as int))) as bigint)
      |    AS wtot
      |FROM hourly a JOIN hourly c
      |  ON a.event_type = c.event_type
      | AND c.b <= a.b AND c.b >= a.b - INTERVAL 11 HOUR
      |GROUP BY 1, a.b""".stripMargin

  def anomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("vdec"))
      .select(col("event_type"), col("w.start").as("b"), col("vdec"))
    val wTrail = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("n", count(lit(1)).over(wTrail))
      .withColumn("s", sum(col("vdec")).over(wTrail))
      .withColumn("ss",
        sum((col("vdec") * col("vdec")).cast("decimal(30,4)")).over(wTrail))
      .select(col("event_type"),
        date_format(col("b"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("vdec").cast("double").as("value"),
        when(col("n") === 24 &&
          ((col("n") * col("vdec") - col("s")) *
            (col("n") * col("vdec") - col("s"))).cast("decimal(38,4)") >
          (lit(4) * (col("n") * col("ss") -
            (col("s") * col("s")).cast("decimal(30,4)")))
            .cast("decimal(38,4)"), 1L).otherwise(0L).as("is_anomaly"))
  }

  def anomalyOracle: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |    time_bucket(INTERVAL '1 hour', cast(ts as timestamp)) AS b,
      |    cast(sum(cast(value as decimal(18,2))) as decimal(18,2)) AS vdec
      |  FROM events GROUP BY 1, 2
      |), stats AS (
      |  SELECT event_type, b, vdec,
      |    count(*) OVER w AS n,
      |    cast(sum(vdec) OVER w as decimal(18,2)) AS s,
      |    cast(sum(cast(vdec * vdec as decimal(30,4))) OVER w
      |      as decimal(30,4)) AS ss
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY b
      |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
      |  cast(vdec as double) AS value,
      |  CAST(CASE WHEN n = 24 AND
      |    cast((n * vdec - s) * (n * vdec - s) as decimal(38,4)) >
      |    cast(4 * (n * ss - cast(s * s as decimal(30,4)))
      |      as decimal(38,4))
      |  THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
      |FROM stats""".stripMargin

  def interpolateOracle: String =
    """WITH bucketed AS (
      |  SELECT event_type,
      |    time_bucket(INTERVAL '15 minutes', cast(ts as timestamp)) AS b,
      |    cast(sum(cast(value as decimal(10,2))) as double)
      |      / cast(count(*) as double) AS v
      |  FROM events GROUP BY 1, 2
      |), grid AS (
      |  SELECT event_type,
      |    unnest(generate_series(min(b), max(b), INTERVAL '15 minutes')) AS b
      |  FROM bucketed GROUP BY event_type
      |), joined AS (
      |  SELECT g.event_type, g.b, x.v
      |  FROM grid g LEFT JOIN bucketed x
      |    ON g.event_type = x.event_type AND g.b = x.b
      |), flanked AS (
      |  SELECT event_type, b, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      |  FROM joined
      |)
      |SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
      |  CASE WHEN v IS NOT NULL THEN v
      |       ELSE pv + (nv - pv) *
      |         (cast(epoch(b) - epoch(pb) as double)
      |          / cast(epoch(nb) - epoch(pb) as double)) END AS value,
      |  CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS BIGINT)
      |    AS interpolated
      |FROM flanked""".stripMargin
}
