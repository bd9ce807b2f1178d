package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-behavior probe: replicates the documents/embeddings tables N×
  * (with id offsets + text perturbation so content is distinct) into a
  * temp dir and times the heavy operators on the inflated corpus. Used
  * to check that operator cost curves stay near-linear where the design
  * says they should — evidence for the 100 TB story, run per round.
  * Usage: runMain graft.ScaleProbe [factor] [sfDir]
  *
  * [[Bench.wanted]]'s `SPARK_GRAFT_ONLY`/`SPARK_GRAFT_SKIP` entry-name
  * prefixes select the entries that run; fixtures only those entries
  * read are then built untimed ahead of them.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = graft.session.Scratch.dir("graft-scale")
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    // replicate with distinct ids and a replica-tag token so exact
    // fingerprints differ while near-dup structure is preserved
    val rep = spark.range(factor.toLong).crossJoin(docs)
      .withColumn("doc_id", col("doc_id") + col("id") * 1000000L)
      .withColumn("text", concat(col("text"), lit(" rep"), col("id")))
      .drop("id")
    rep.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    lazy val embeddings: Unit = {
      val emb = Tables.embeddings(spark, sfDir)
      spark.range(factor.toLong).crossJoin(emb)
        .withColumn("vec_id",
          when(col("vec_id") === 0 && col("id") =!= 0,
            col("vec_id") + col("id") * 1000000L + 500000L)
            .otherwise(col("vec_id") + col("id") * 1000000L))
        .drop("id")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    /** Times `body` when `name` is wanted, after the untimed `prep`. */
    def time(name: String, prep: => Unit = ())(body: => Long): Unit =
      if (Bench.wanted(name)) {
        prep
        val t0 = System.nanoTime()
        val n = body
        println(f"$name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($n rows)")
      }

    println(s"corpus: ${nDocs * factor} docs (${factor}x $sfDir)")
    time("dedup_minhash_lsh")(ops.Dedup.minhashLsh(spark, dir).count())
    ops.Dedup.releaseCaches()
    time("minhash_keep")(ops.Dedup.minhashDedupKeep(spark, dir).count())
    time("minhash_fast")(ops.Dedup.minhashLshFast(spark, dir).count())
    time("simhash")(ops.Dedup.simhash(spark, dir).count())
    time("fingerprint")(ops.Text.fingerprint(spark, dir).count())
    time("vec_near_dup", embeddings)(
      ops.Vectors.embeddingNearDup(spark, dir).count())
    time("vec_knn_exact", embeddings)(ops.Vectors.knnExact(spark, dir).count())
    time("vec_knn_lsh", embeddings)(ops.Vectors.knnLsh(spark, dir).count())
    time("token_stats")(ops.Text.tokenStats(spark, dir).count())

    // round-2 scale paths: persisted index build/probe and staged DML
    val idxDir = s"$dir/lsh_index"
    lazy val lshIndex: Long = {
      ops.VectorIndex.putLsh(Tables.embeddings(spark, dir), idxDir)
      spark.read.parquet(ops.VectorIndex.indexRoot(spark, idxDir)).count()
    }
    time("lsh_index_build", embeddings)(lshIndex)
    lazy val qvec = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toArray
    time("lsh_index_probe", { embeddings; lshIndex; qvec })(
      ops.VectorIndex.searchLsh(spark, idxDir, qvec).count())

    val mergeTarget = s"$dir/merge_target"
    lazy val mergeSrc = spark.read.parquet(s"$dir/documents.parquet")
      .sample(0.01, seed = 7)
      .withColumn("text", concat(col("text"), lit(" upd")))
      .localCheckpoint(true)
    time("staged_upsert", {
      spark.read.parquet(s"$dir/documents.parquet").write.parquet(mergeTarget)
      mergeSrc
    })(table.MergeOps.upsert(spark, mergeTarget, mergeSrc, Seq("doc_id")))

    val txnDir = s"$dir/txn_table"
    time("txn_merge", {
      table.TxnLog.create(spark.read.parquet(s"$dir/documents.parquet"), txnDir)
      mergeSrc
    })(
      table.TxnLog.merge(spark, txnDir, mergeSrc, Seq("doc_id")).version.toLong)

    // round-4 scale paths: curation ops (broadcast decontamination, pure
    // map-side sampling) and the real-format table logs
    time("decontaminate")(ops.Decontaminate.contamination(spark, dir).count())
    time("strat_sample")(ops.Sampling.stratifiedSample(spark, dir).count())
    val deltaDir = s"$dir/delta_table"
    lazy val deltaTable: Long =
      io.DeltaLogWriter.write(
        spark.read.parquet(s"$dir/documents.parquet"), deltaDir,
        partitionBy = Seq("lang")).numFiles.toLong
    time("delta_write")(deltaTable)
    time("delta_merge", { deltaTable; mergeSrc })(
      io.DeltaLogWriter.merge(spark, deltaDir, mergeSrc,
        Seq("doc_id")).numFiles.toLong)
    val icebergDir = s"$dir/iceberg_table"
    lazy val icebergTable: Long =
      io.IcebergWriter.write(
        spark.read.parquet(s"$dir/documents.parquet"), icebergDir,
        partitionBy = Seq("lang")).numFiles.toLong
    time("iceberg_write")(icebergTable)
    time("iceberg_merge", { icebergTable; mergeSrc })(
      io.IcebergWriter.merge(spark, icebergDir, mergeSrc,
        Seq("doc_id")).numFiles.toLong)
    spark.stop()
  }
}
