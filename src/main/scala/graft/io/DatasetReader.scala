package graft.io

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dataset read surface of the reference (`s3.read_parquet` family,
  * `s3/_read_parquet.py:330-588`; text readers `s3/_read_text.py`):
  * path/prefix/dataset reads with column projection, partition pruning,
  * schema validation and metadata inference.
  *
  * Pruning model: a `partitionFilter` expressed as a `Column` predicate
  * on hive partition columns is pushed into Catalyst, which prunes
  * directories before listing file contents (PruneFileSourcePartitions) —
  * the declarative equivalent of the reference's callback
  * (`s3/_read.py:90-95`). The callback variant is also provided for API
  * parity: it prunes paths at listing time, before Spark ever sees them
  * (useful when the callback is opaque code, the reference's model).
  */
object DatasetReader {

  /** Dataset parquet read: base-path partition discovery + optional
    * declarative partition filter + column projection. */
  def readParquet(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      partitionFilter: Option[Column] = None,
      schema: Option[StructType] = None,
      mergeSchema: Boolean = false,
      options: Map[String, String] = Map.empty): DataFrame = {
    // file-level predicates from the reference's listing filters map to
    // read options: suffix/glob → pathGlobFilter, last-modified bounds →
    // modifiedAfter / modifiedBefore (`s3/_list.py:116-181`)
    val r0 = spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema.toString)
      .options(options)
    val r = schema.map(r0.schema).getOrElse(r0)
    val df0 = r.parquet(path)
    val df1 = partitionFilter.map(df0.filter).getOrElse(df0)
    if (columns.nonEmpty) df1.select(columns.map(col): _*) else df1
  }

  /** Callback-style partition pruning (`partition_filter` in the
    * reference): list hive partition directories, apply the predicate to
    * the `Map(partitionCol -> stringValue)` of each, and read only the
    * surviving prefixes. */
  def readParquetPartitionFilter(
      spark: SparkSession,
      path: String,
      filter: Map[String, String] => Boolean): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def leaves(dir: Path, parts: Map[String, String])
        : Seq[(Path, Map[String, String])] = {
      val children = fs.listStatus(dir).filter(_.isDirectory)
        .filter(_.getPath.getName.contains("="))
      if (children.isEmpty) Seq(dir -> parts)
      else children.toSeq.flatMap { c =>
        val Array(k, v) = c.getPath.getName.split("=", 2)
        leaves(c.getPath, parts + (k -> v))
      }
    }
    val selected = leaves(root, Map.empty).filter { case (_, parts) =>
      parts.isEmpty || filter(parts)
    }.map(_._1.toString)
    require(selected.nonEmpty, "partition_filter pruned every partition")
    spark.read.option("basePath", path).parquet(selected: _*)
  }

  /** CSV read with schema inference or explicit schema (pandas-kwargs
    * analogue is the options map). */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None, header: Boolean = true,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.options(options)
      .option("header", header.toString)
    schema.map(r.schema).getOrElse(r.option("inferSchema", "true")).csv(path)
  }

  /** JSON / JSON-lines (`lines=False` → multiLine). */
  def readJson(spark: SparkSession, path: String, lines: Boolean = true,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.options(options)
      .option("multiLine", (!lines).toString)
    schema.map(r.schema).getOrElse(r).json(path)
  }

  /** Fixed-width files: `spark.read.text` + substring projection — the
    * thin custom source the survey prescribes for `s3.read_fwf`
    * (`s3/_read_text.py:321-475`). Widths are (name, start0, length). */
  def readFwf(spark: SparkSession, path: String,
      fields: Seq[(String, Int, Int)]): DataFrame = {
    val text = spark.read.text(path)
    text.select(fields.map { case (name, start, len) =>
      trim(substring(col("value"), start + 1, len)).as(name)
    }: _*)
  }

  /** Schema + partition-column inference from footers — the
    * `read_parquet_metadata` / `read_orc_metadata` trio
    * (`s3/_read_parquet.py:765-871`, `s3/_read_orc.py`). Returns
    * (dataSchema, partitionSchema). */
  def readMetadata(spark: SparkSession, path: String,
      format: String = "parquet"): (StructType, StructType) = {
    def load(p: String) = format match {
      case "parquet" => spark.read.option("basePath", path).parquet(p)
      case "orc" => spark.read.option("basePath", path).orc(p)
      case other => throw new IllegalArgumentException(s"format: $other")
    }
    val full = load(path).schema
    val sample = (format match {
      case "parquet" => spark.read.parquet(firstLeafFile(spark, path))
      case _ => spark.read.orc(firstLeafFile(spark, path))
    }).schema
    val dataCols = sample.fieldNames.toSet
    (StructType(full.fields.filter(f => dataCols.contains(f.name))),
      StructType(full.fields.filterNot(f => dataCols.contains(f.name))))
  }

  def readParquetMetadata(spark: SparkSession, path: String)
      : (StructType, StructType) = readMetadata(spark, path, "parquet")

  private def firstLeafFile(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) return f.getPath.toString
    }
    throw new IllegalArgumentException(s"no data files under $path")
  }

  /** File-metadata listing as a DataFrame (`s3.list_objects` /
    * `describe_objects` — `s3/_list.py:313-401`).
    *
    * Scale: the driver only lists the root's immediate children (bounded
    * by the branching factor); each subtree is listed recursively on
    * executors, so a 10^8-object prefix never materializes as a driver
    * `Seq`. Result stays a distributed DataFrame end to end.
    */
  def listObjects(spark: SparkSession, path: String,
      suffix: Option[String] = None): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children =
      if (fs.getFileStatus(root).isFile) Array(fs.getFileStatus(root))
      else fs.listStatus(root)
    val topFiles = children.filter(_.isFile)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toSeq
    val dirs = children.filter(_.isDirectory).map(_.getPath.toString).toSeq
    // ship the session's hadoop conf (s3a credentials, endpoints, fs impls)
    // into the executor-side listings — a bare `new Configuration()` only
    // sees classpath defaults
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val subtree =
      if (dirs.isEmpty) spark.emptyDataset[(String, Long, Long)]
      else spark.createDataset(dirs)
        .repartition(math.min(dirs.size, 64))
        .flatMap { d =>
          val p = new Path(d)
          val dfs = p.getFileSystem(confBc.value.value)
          val it = dfs.listFiles(p, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        }
    spark.createDataset(topFiles).unionByName(subtree)
      .toDF("path", "size_bytes", "modified_ms")
      .filter(suffix.map(sfx => col("path").endsWith(sfx)).getOrElse(lit(true)))
  }

  /** `s3.list_directories` (`s3/_list.py:403-461`): immediate child
    * "prefixes" of a path, as the reference's trailing-slash strings. */
  def listDirectories(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.toString + "/").toSeq.sorted
  }

  /** `s3.list_buckets` analogue: top-level entries of a storage root —
    * the closest filesystem notion of a bucket listing. */
  def listBuckets(spark: SparkSession, storageRoot: String): Seq[String] =
    listDirectories(spark, storageRoot)
      .map(p => new Path(p.stripSuffix("/")).getName).sorted

  /** Raised when `validate_schema=True` finds files whose schemas
    * disagree (`s3/_read.py:309-321` InvalidSchemaConvergence). */
  final class InvalidSchemaConvergence(message: String)
    extends RuntimeException(message)

  /** Strict per-file schema validation: every data file's footer must
    * carry the SAME schema (names AND types; silent union via
    * `mergeSchema` is exactly what this mode exists to reject). The file
    * listing AND the footer reads stay distributed end to end — only the
    * DISTINCT schemas (with one example file each) come back to the
    * driver, so a 10^8-file dataset validates without a driver-side file
    * list. Returns the converged schema. */
  def validateSchema(spark: SparkSession, path: String): StructType = {
    import spark.implicits._
    val files = listObjects(spark, path, suffix = Some(".parquet"))
      .select("path").as[String]
      .filter((p: String) => {
        val n = p.substring(p.lastIndexOf('/') + 1)
        !n.startsWith("_") && !n.startsWith(".")
      })
    val example = files.take(1)
    require(example.nonEmpty, s"no parquet files under $path")
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val perSchema = files
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { f =>
          val rdr = TableFiles.openFooter(new Path(f), conf)
          try (rdr.getFooter.getFileMetaData.getSchema.toString, f)
          finally rdr.close()
        }
      }
      .toDF("schema", "file")
      .groupBy(col("schema")).agg(min(col("file")).as("file"))
      .collect()
    if (perSchema.length > 1)
      throw new InvalidSchemaConvergence(
        "schemas do not converge across the dataset:\n" +
          perSchema.map(r => s"  ${r.getString(1)}:\n    " +
            r.getString(0).replace("\n", " ")).mkString("\n"))
    spark.read.parquet(example.head).schema
  }

  /** Dataset read with the strict schema gate up front
    * (`read_parquet(validate_schema=True)`). */
  def readParquetValidated(
      spark: SparkSession,
      path: String,
      columns: Seq[String] = Nil,
      partitionFilter: Option[Column] = None): DataFrame = {
    validateSchema(spark, path)
    readParquet(spark, path, columns, partitionFilter)
  }

  /** Dtype-override cast-on-read — `cast_pandas_with_athena_types`
    * (`_data_types.py:745-817`): apply Athena-named target types to the
    * read DataFrame (string→date/timestamp/decimal coercions and friends).
    * Unknown columns are an error, matching the reference's strictness. */
  def castWithAthenaTypes(df: DataFrame,
      dtype: Map[String, String]): DataFrame = {
    val present = df.columns.toSet
    val missing = dtype.keys.filterNot(present)
    require(missing.isEmpty, s"dtype override for absent columns: $missing")
    dtype.foldLeft(df) { case (d, (name, athenaType)) =>
      d.withColumn(name,
        col(name).cast(graft.types.AthenaTypes.fromAthena(athenaType)))
    }
  }

  /** Chunked scan (`chunked=True` — `s3/_read_parquet.py:217-282`): an
    * iterator of row batches for memory-bounded driver-side consumption.
    * `toLocalIterator` streams one partition at a time; for chunked
    * *distributed* processing use the DataFrame directly (every operator
    * is already batch-streamed through the executors).
    */
  def readParquetChunked(spark: SparkSession, path: String,
      chunkRows: Int = 65536)
      : Iterator[Seq[org.apache.spark.sql.Row]] =
    spark.read.parquet(path).toLocalIterator().asScala.grouped(chunkRows)
      .map(_.toSeq)

  /** `s3.does_object_exist` analogue. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Bucket-pruned read of an Athena-layout bucketed dataset (written by
    * [[DatasetWriter]] with `BucketingInfo`): compute the bucket id of the
    * probe key with the same hash and open ONLY the `…_bucket-NNNNN`
    * files for that bucket — a point lookup touches 1/numBuckets of the
    * data with zero shuffle. The filter is still applied (hash prunes
    * files, not rows).
    */
  def readBucketed(
      spark: SparkSession,
      path: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      keyValues: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    def toLiteral(v: Any): Literal = v match {
      case s: String =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
          StringType)
      case l: Long => Literal(l, LongType)
      case i: Int => Literal(i, IntegerType)
      case b: Boolean => Literal(b, BooleanType)
      case other => throw new IllegalArgumentException(
        s"unsupported bucket key type: $other")
    }
    val hash = graft.expr.AthenaBucketHash(keyValues.map(toLiteral))
      .eval(null).asInstanceOf[Long]
    val bucket = (hash % numBuckets).toInt
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val wanted = f"_bucket-$bucket%05d"
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.contains(wanted)) files += f.toString
    }
    require(files.nonEmpty, s"no files for bucket $bucket under $path")
    val df = spark.read.option("basePath", path).parquet(files.toSeq: _*)
    bucketCols.zip(keyValues).foldLeft(df) { case (d, (c, v)) =>
      d.filter(col(c) === lit(v))
    }
  }

  /** Poll-until waiters (`s3.wait_objects_exist` / `wait_objects_not_exist`,
    * `s3/_wait.py:81-189`). Returns true when the condition held within
    * the timeout. */
  def waitObjects(spark: SparkSession, paths: Seq[String],
      exist: Boolean, timeoutMs: Long = 30000, pollMs: Long = 100): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      val ok = paths.forall(p => exists(spark, p) == exist)
      if (ok) return true
      Thread.sleep(pollMs)
    }
    false
  }

  /** A dataset exists when its prefix holds at least one data file (an
    * empty prefix is not a readable dataset). */
  def datasetExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) return true
    }
    false
  }
}
