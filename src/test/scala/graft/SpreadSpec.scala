package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup
import graft.session.Jobs

/** [[Jobs.spread]]: a batch frame that arrives in fewer partitions than
  * the session's default parallelism is round-robined over it, and
  * every other frame passes through as it is. */
class SpreadSpec extends AnyFunSuite {
  import TestSpark._

  private def cores = spark.sparkContext.defaultParallelism
  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size

  test("minhashLsh derives signatures in one task per core from a one-file corpus") {
    val docs = Tables.documents(spark, sf)
    assert(docs.rdd.getNumPartitions < cores, "the corpus must be one file")
    // (tasks, reads or writes the persisted signature table) per stage
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.numTasks ->
          e.stageInfo.rddInfos.exists(_.storageLevel == StorageLevel.DISK_ONLY))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.minhashLsh(spark, sf).count()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Dedup.releaseCaches()
    }
    import scala.jdk.CollectionConverters._
    val sigStages = stages.asScala.toSeq.filter(_._2).map(_._1)
    assert(sigStages.nonEmpty, "no stage touched the persisted signatures")
    assert(sigStages.forall(_ >= cores),
      s"signature stages ran ${sigStages.mkString(", ")} tasks on $cores cores")
  }

  test("a one-partition batch frame is spread over every core") {
    val one = Tables.documents(spark, sf)
    val spread = Jobs.spread(one)
    assert(spread.rdd.getNumPartitions == cores)
    assert(exchanges(spread) == exchanges(one) + 1)
    assert(spread.except(one).isEmpty && one.except(spread).isEmpty)
  }

  test("a frame with enough partitions gains no Exchange") {
    val wide = spark.range(0, 100, 1, cores).toDF("doc_id")
      .withColumn("text", concat(lit("w"), col("doc_id").cast("string")))
    assert(Jobs.spread(wide) eq wide)
    assert(exchanges(Jobs.spread(wide)) == 0)
    // already shuffled: its partition count is the exchange's
    val shuffled = Tables.documents(spark, sf).repartition(cores)
    assert(Jobs.spread(shuffled) eq shuffled)
  }

  test("a streaming frame passes through unchanged") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    docs.limit(10).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
    assert(stream.isStreaming)
    assert(Jobs.spread(stream) eq stream)
  }
}
