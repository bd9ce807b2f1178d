package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

import graft.catalog.Catalog
import graft.io.{DatasetWriter, DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter}
import graft.sql.SqlEngine

/** The write path. Each op is one cycle:
  *  1. append a seeded lineitem batch to the partitioned, bucketed
  *     dataset with `DatasetWriter.toParquet`, then register its
  *     partitions with `Catalog.addPartitions`;
  *  2. apply a seeded orders change set (updates, new keys, deletes) as
  *     the reference's generated `MERGE INTO` statements through
  *     `SqlEngine.executeSql`, once on a Delta and once on an Iceberg
  *     table;
  *  3. read a filtered slice of each table's current snapshot.
  * After every `MaintenanceEvery` cycles a separate maintenance op runs a
  * SQL `DELETE` on both tables, a Delta vacuum and an Iceberg snapshot
  * expiry. */
final class LakeMerge(h: Harness, input: String, seed: Long) extends Workload {
  import LakeMerge._
  private val spark = h.spark
  private val tr = h.tr
  private var root = ""
  private var cycle = 0
  private var rowsAppended = 0L
  private var appendSeconds = 0.0
  private val maintenance = mutable.ArrayBuffer.empty[Int]
  private val rng = new java.util.Random(seed * 31L + 5)
  // trace-only state between cycles
  private var deltaFiles = Map.empty[String, Long]
  private var icebergFiles = Map.empty[String, Long]
  private var datasetFiles = Set.empty[String]
  private var changedRows = 0L

  private def ds = s"$root/dataset_lineitem"
  private def delta = s"$root/delta_orders"
  private def iceberg = s"$root/iceberg_orders"
  private def tables = Map("delta_orders" -> delta, "iceberg_orders" -> iceberg)
  private def fs: FileSystem = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def fixture(r: String): Unit = {
    root = r
    cycle = 0
    maintenance.clear()
    spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    Catalog.createDatabase(spark, Db)
    val li = spark.read.parquet(s"$input/lineitem.parquet")
    DatasetWriter.toParquet(li, ds, DatasetWriter.Overwrite,
      partitionCols = Seq("l_returnflag"), bucketing = Some(Bucketing))
    val types = li.schema.fields.map(f =>
      f.name -> graft.types.AthenaTypes.toAthena(f.dataType)).toSeq
    Catalog.createParquetTable(spark, Table, ds,
      columns = types.filterNot(_._1 == "l_returnflag"),
      partitionCols = types.filter(_._1 == "l_returnflag"))
    addPartitions()
    tr.partitionsPresent = t => if (t == "lineitem") partitionValues().size.toLong else 0L
    val orders = spark.read.parquet(s"$input/orders.parquet").repartition(4)
    DeltaLogWriter.write(orders, delta, "overwrite")
    IcebergWriter.write(orders, iceberg, "overwrite")
    if (tr.on) {
      deltaFiles = deltaState()
      icebergFiles = icebergState()
      datasetFiles = datasetState().keySet
    }
  }

  private def partitionValues(): Seq[String] =
    fs.listStatus(new Path(ds)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("l_returnflag="))
      .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix("l_returnflag=")))
      .sorted

  private def addPartitions(): Unit =
    Catalog.addPartitions(spark, Table, partitionValues().map(v => Map("l_returnflag" -> v)))

  private def mergeUpsert(t: String, cols: Seq[String]): String =
    s"""MERGE INTO "$t" target
       |USING "chg_u" source
       |ON (target."o_orderkey" = source."o_orderkey")
       |WHEN MATCHED THEN
       |    UPDATE SET ${cols.map(c => s""""$c" = source."$c"""").mkString(", ")}
       |WHEN NOT MATCHED THEN
       |    INSERT (${cols.map(c => s""""$c"""").mkString(", ")})
       |    VALUES (${cols.map(c => s"""source."$c"""").mkString(", ")})""".stripMargin

  private var lastRead: Option[org.apache.spark.sql.DataFrame] = None
  private var lastFlag = "A"

  private def readSql(flag: String): String =
    s"""SELECT l_linestatus, count(*) AS cnt,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
       |    (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
       |FROM $Table WHERE l_returnflag = '$flag'
       |GROUP BY l_linestatus""".stripMargin

  private def mergeDelete(t: String): String =
    s"""MERGE INTO "$t" target
       |USING "chg_d" source
       |ON target."o_orderkey" = source."o_orderkey"
       |WHEN MATCHED THEN
       |    DELETE""".stripMargin

  private def cycleOp(): Unit = {
    cycle += 1
    val c = cycle
    val batch = spark.read.parquet(f"$input/batches/b${inputOf(c)}%03d.parquet")
    val changes = spark.read.parquet(f"$input/changes/c${inputOf(c)}%03d.parquet")
    val cols = changes.columns.filterNot(_ == "op").toSeq
    changes.where(col("op") === "U").drop("op").createOrReplaceTempView("chg_u")
    changes.where(col("op") === "D").drop("op").createOrReplaceTempView("chg_d")
    val lo = rng.nextInt(OrdersRows - 3000)
    val flag = Flags(rng.nextInt(Flags.size))
    lastFlag = flag
    h.op("cycle") {
      val t0 = System.nanoTime()
      h.step("dataset_append", "io.dataset") {
        h.call("io.dataset", "toParquet", "io.dataset_write_s") {
          DatasetWriter.toParquet(batch, ds, DatasetWriter.Append,
            partitionCols = Seq("l_returnflag"), bucketing = Some(Bucketing))
        }
        h.call("catalog", "addPartitions", "catalog.add_partitions_s")(addPartitions())
      }
      appendSeconds += (System.nanoTime() - t0) / 1e9
      for ((kind, t) <- Seq("delta_merge" -> "delta_orders", "iceberg_merge" -> "iceberg_orders"))
        h.step(kind, "sql") {
          SqlEngine.executeSql(spark, mergeUpsert(t, cols), tables = tables)
          SqlEngine.executeSql(spark, mergeDelete(t), tables = tables)
        }
      // a dashboard read of the dataset through the catalog, issued twice
      // with no write between: a miss, then a cache hit
      h.step("catalog_read", "sql") {
        for (_ <- 1 to 2) {
          val df = tr.span("sql", "readSqlQuery") {
            SqlEngine.readSqlQuery(spark, readSql(flag), useCache = true)
          }
          tr.count("sql.cache_lookups", 1)
          if (lastRead.exists(_ eq df)) tr.count("sql.cache_hits", 1)
          lastRead = Some(df)
          h.materialize(df)
          if (tr.on) tr.listener.recordPlanning(df.queryExecution)
        }
      }
      val slice = col("o_custkey").between(lo, lo + 3000)
      h.step("table_read", "io.delta") {
        h.call("io.delta", "snapshot", "io.delta.snapshot_s")(DeltaLogReader.snapshot(spark, delta))
        h.materialize(DeltaLogReader.read(spark, delta).where(slice))
      }
      h.step("table_read", "io.iceberg") {
        h.call("io.iceberg", "tableInfo", "io.iceberg.metadata_s")(IcebergReader.tableInfo(spark, iceberg))
        h.materialize(IcebergReader.read(spark, iceberg).where(slice))
      }
    }
    if (h.record) rowsAppended += BatchRows
    else appendSeconds = 0.0
    if (tr.on) traceCycle(changes.count())
  }

  // ---- trace-only bookkeeping between cycles ----------------------------

  private def deltaState(): Map[String, Long] =
    DeltaLogReader.snapshot(spark, delta).files.map(f => f.path -> f.size).toMap

  private def icebergState(): Map[String, Long] =
    IcebergReader.snapshot(spark, iceberg).files.map(f => f.path -> f.sizeBytes).toMap

  private def datasetState(): Map[String, Long] = {
    val it = fs.listFiles(new Path(ds), true)
    val out = mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out(f.getPath.toString) = f.getLen
    }
    out.toMap
  }

  /** Bytes per live row of a table, from its file sizes and row counts. */
  private def bytesPerRow(files: Map[String, Long], rows: Long): Double =
    if (rows > 0) files.values.sum.toDouble / rows else 0.0

  private def traceCycle(changed: Long): Unit = {
    val d = deltaState(); val i = icebergState(); val dsNow = datasetState()
    tr.count("io.delta.files_added", (d.keySet -- deltaFiles.keySet).size)
    tr.count("io.delta.files_removed", (deltaFiles.keySet -- d.keySet).size)
    tr.count("io.delta.bytes_added", (d -- deltaFiles.keySet).values.sum)
    tr.count("io.iceberg.files_added", (i.keySet -- icebergFiles.keySet).size)
    tr.count("io.iceberg.bytes_added", (i -- icebergFiles.keySet).values.sum)
    if (h.record) changedRows += changed
    val added = dsNow.keySet -- datasetFiles
    tr.count("io.dataset_files", added.size)
    tr.count("io.dataset_bytes_mb", added.toSeq.map(dsNow).sum / (1024.0 * 1024.0))
    tr.count("io.dataset_partitions_touched",
      added.map(p => new Path(p).getParent.toString).size)
    deltaFiles = d; icebergFiles = i; datasetFiles = dsNow.keySet
  }

  override def traceGauges(): Unit = {
    val read = tr.counters.getOrElse("io.partitions_read", 0.0)
    val present = tr.counters.getOrElse("io.partitions_present", 0.0)
    tr.counters("io.read_partitions_ratio") = if (present > 0) read / present else 0.0
    val log = new Path(delta, "_delta_log")
    val names = fs.listStatus(log).map(_.getPath.getName)
    val ckpts = names.filter(_.contains(".checkpoint.")).map(_.take(20).toLong)
    val latest = DeltaLogReader.latestVersion(spark, delta)
    tr.counters("io.delta.checkpoints") = ckpts.distinct.length
    tr.counters("io.delta.log_tail") = latest - (if (ckpts.isEmpty) 0L else ckpts.max)
    val meta = fs.listStatus(new Path(iceberg, "metadata")).map(_.getPath.getName)
    tr.counters("io.iceberg.manifests") =
      meta.count(n => n.endsWith(".avro") && !n.startsWith("snap-"))
    val isnap = IcebergReader.snapshot(spark, iceberg)
    tr.counters("io.iceberg.delete_files") = isnap.deleteFiles.size + isnap.dvFiles.size
    tr.counters("catalog.partitions") = Catalog.getPartitions(spark, Table).count()
    // bytes a cycle's DML writes per byte of the rows its change set names
    val dRows = DeltaLogReader.read(spark, delta).count()
    val iRows = isnap.files.map(_.recordCount).sum
    def amp(fmt: String, files: Map[String, Long], rows: Long) = {
      val changedBytes = changedRows * bytesPerRow(files, rows)
      val added = tr.counters.getOrElse(s"io.$fmt.bytes_added", 0.0)
      if (changedBytes > 0) added / changedBytes else 0.0
    }
    tr.counters("io.delta.rewrite_amp") = amp("delta", deltaFiles, dRows)
    tr.counters("io.iceberg.rewrite_amp") = amp("iceberg", icebergFiles, iRows)
  }

  /** SQL `DELETE` on both tables, Delta vacuum and Iceberg snapshot
    * expiry, as an op of its own so cycle latencies stay comparable. */
  private def maintenanceOp(): Unit = {
    val c = cycle
    maintenance += c
    h.op("maintenance") {
      for (t <- Seq("delta_orders", "iceberg_orders"))
        h.step("sql_delete", "sql") {
          SqlEngine.executeSql(spark,
            s"DELETE FROM $t WHERE o_orderkey % $DeleteModulus = ${c % DeleteModulus}",
            tables = tables)
        }
      h.call("io.delta", "vacuum", "io.delta.vacuum_s")(
        DeltaLogWriter.vacuum(spark, delta, retentionMs = 0L))
      h.call("io.iceberg", "expireSnapshots", "io.iceberg.expire_s")(
        IcebergWriter.expireSnapshots(spark, iceberg, retentionMs = 0L, retainLast = 1))
    }
    if (tr.on) traceCycle(0L)
  }

  def warmup(): Unit = cycleOp()

  def step(): Unit = {
    cycleOp()
    if (cycle % MaintenanceEvery == 0) maintenanceOp()
  }

  def headlineKind: String = "cycle"

  def commitSamples: Seq[Double] = h.samplesOf("delta_merge") ++ h.samplesOf("iceberg_merge")

  private def bytesUnder(p: String): Long = fs.getContentSummary(new Path(p)).getLength

  private var liveBytes = 0L

  def namedMetrics(): Unit = {
    def p50(k: String) = Stats.median(h.samplesOf(k))
    def tail(k: String) = Stats.tail(h.samplesOf(k))
    h.named ++= Seq(
      "dataset_write_rows_per_s" -> (rowsAppended / appendSeconds, "rows/s"),
      "delta_merge_p50_s" -> (p50("delta_merge"), "s"),
      "delta_merge_tail_s" -> (tail("delta_merge")._1, "s"),
      "iceberg_merge_p50_s" -> (p50("iceberg_merge"), "s"),
      "iceberg_merge_tail_s" -> (tail("iceberg_merge")._1, "s"),
      "merge_tail_percentile" -> (tail("delta_merge")._2, "%"),
      "merge_samples" -> (tail("delta_merge")._3.toDouble, "count"),
      "table_read_p50_s" -> (p50("table_read"), "s"),
      "catalog_read_p50_s" -> (p50("catalog_read"), "s"),
      "cycles_measured" -> (h.samplesOf("cycle").size.toDouble, "count"))
  }

  def checkOutputs(checkDir: String): Map[String, String] = {
    val expected = new Path(checkDir).getParent.toString + "/expected"
    def out(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val p = s"$checkDir/$name"
      df.coalesce(1).write.mode("overwrite").parquet(p)
      bytesUnder(p)
    }
    val stored = bytesUnder(ds) + bytesUnder(delta) + bytesUnder(iceberg)
    liveBytes = bytesUnder(ds) +
      out(DeltaLogReader.read(spark, delta), "delta_final") +
      out(IcebergReader.read(spark, iceberg), "iceberg_final")
    h.named("bytes_stored_per_user_byte") = (stored.toDouble / liveBytes, "ratio")
    out(spark.read.parquet(ds).groupBy("l_returnflag", "l_linenumber")
      .agg(org.apache.spark.sql.functions.expr("count(*) AS n"),
        org.apache.spark.sql.functions.expr("sum(l_orderkey) AS keys"),
        org.apache.spark.sql.functions.expr(
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS price")),
      "dataset_rows")
    out(SqlEngine.readSqlQuery(spark, readSql(lastFlag), useCache = true), "catalog_read")
    val batches = (Seq(s"'$input/lineitem.parquet'") ++
      (1 to cycle).map(c => f"'$input/batches/b${inputOf(c)}%03d.parquet'"))
      .mkString("[", ", ", "]")
    Map(
      "catalog_read" -> readSql(lastFlag).replace(Table, s"read_parquet($batches)"),
      "delta_final" -> s"SELECT * FROM read_parquet('$expected/orders.parquet')",
      "iceberg_final" -> s"SELECT * FROM read_parquet('$expected/orders.parquet')",
      "dataset_rows" ->
        s"""SELECT l_returnflag, l_linenumber, count(*) AS n,
           |  CAST(sum(l_orderkey) AS BIGINT) AS keys,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS price
           |FROM read_parquet($batches) GROUP BY 1, 2""".stripMargin)
  }

  override def checkFacts: Map[String, Any] = Map(
    "cycles" -> cycle,
    "maintenance_cycles" -> maintenance.toSeq,
    "delete_modulus" -> DeleteModulus,
    "input_cycles" -> InputCycles,
    "dataset_root" -> ds,
    "catalog_partitions" -> Catalog.getPartitions(spark, Table).collect().map(_.getString(0)).toSeq)
}

object LakeMerge {
  val Db = "perfbench_lake"
  val Table = s"$Db.lineitem"
  val Bucketing = DatasetWriter.BucketingInfo(Seq("l_orderkey"), 4)
  val MaintenanceEvery = 1
  val DeleteModulus = 101
  // sizes the generator writes (perfbench/gen.py); cycle c uses input set
  // inputOf(c), starting over after the last one
  val InputCycles = 12
  def inputOf(c: Int): Int = (c - 1) % InputCycles + 1
  val BatchRows = 60000L
  val OrdersRows = 30000
  val Flags = Seq("A", "N", "R")
}
