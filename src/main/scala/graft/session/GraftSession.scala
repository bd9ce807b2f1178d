package graft.session

import org.apache.spark.sql.SparkSession

/** Engine session factory — the `EngineSession` of the survey skeleton
  * (§7.1) carrying the reference's global config surface
  * (`_config.py` keys) mapped to their Spark equivalents:
  *
  * | reference config            | Spark setting |
  * |---|---|
  * | `s3_block_size`             | `fs.s3a.block.size` / readahead |
  * | `max_cache_seconds/size`    | [[graft.sql.SqlEngine.QueryCache]] |
  * | `concurrent_partitioning`   | inherent (tasks) |
  * | `use_threads`               | executor/core counts |
  * | `chunksize`                 | `maxRecordsPerFile` / chunked readers |
  * | memory_format (pandas/modin)| n/a — always distributed |
  *
  * The builder applies the engine defaults every operator in this library
  * assumes: AQE (with skew-join splitting), sensible local shuffle
  * parallelism, UTC session time, Kryo-free defaults, and a local file
  * system that sets and reads permissions without forking processes
  * ([[graft.io.NioLocalFileSystem]]).
  */
object GraftSession {

  def builder(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft"): SparkSession.Builder = {
    val cores = master match {
      case s if s.startsWith("local[") && !s.contains("*") =>
        s.stripPrefix("local[").stripSuffix("]").toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.NioLocalFs].getName)
      .withExtensions(new graft.plans.GraftExtensions)
  }

  /** Fully-initialized session: extensions installed, custom functions
    * registered. */
  def getOrCreate(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]")
      : SparkSession = {
    val spark = builder(master).getOrCreate()
    graft.expr.AthenaBucketHash.register(spark)
    graft.plans.TopKPerKey.install(spark)
    spark
  }
}
