package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.io.DeltaLogReader
import graft.ops.{Curation, Dedup}
import graft.streaming.EventStream
import graft.table.TxnLog

/** Bulk curation. The corpus (`documents.parquet`, perturbed by seed with
  * a fixed share of near- and exact duplicates) is indexed with
  * `Dedup.buildDedupIndex` on its first 90% during set-up. Each loop
  * iteration runs two ops:
  *  - `batch`: `Curation.gopherGate` over the corpus, then
  *    `Dedup.minhashLsh`, then `Dedup.releaseCaches()`;
  *  - `stream`: the held-out 10% (three parquet files) fed through
  *    `EventStream.ingestDedupIncremental` one file per micro-batch into
  *    a fresh table, checkpoint and stream-index layer. */
final class CurateDedup(h: Harness, input: String) extends Workload {
  private val spark = h.spark
  private val tr = h.tr
  private var root = ""
  private var streams = 0
  private var corpusDocs = 0L
  private var lastTable = ""
  private var indexBuildS = 0.0

  private def idx = s"$root/index"
  private def heldOut = s"$input/heldout"
  private def docs = spark.read.parquet(s"$input/documents.parquet")

  def fixture(r: String): Unit = {
    root = r
    val t0 = System.nanoTime()
    Dedup.buildDedupIndex(spark.read.parquet(s"$input/corpus90.parquet"), idx)
    indexBuildS = (System.nanoTime() - t0) / 1e9
  }

  private def batchOp(): Unit = h.op("batch") {
    val kept = h.call("ops", "gopherGate", "ops.gate_s") {
      h.materialize(Curation.gopherGate(docs))
    }
    val pairs = h.call("ops", "minhashLsh", "ops.dedup_s") {
      h.materialize(Dedup.minhashLsh(spark, input))
    }
    tr.count("ops.kept_docs", kept)
    tr.count("ops.dup_pairs", pairs)
    if (tr.on) tr.count("ops.persisted_after", spark.sparkContext.getPersistentRDDs.size)
    Dedup.releaseCaches()
  }

  private def streamOp(): Unit = {
    streams += 1
    val dir = s"$root/stream$streams"
    val schema = spark.read.parquet(heldOut).schema
    h.op("stream") {
      val q = tr.span("streaming", "ingestDedupIncremental") {
        val q = EventStream.ingestDedupIncremental(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(heldOut),
          s"$dir/table", s"$dir/checkpoint", appId = "perfbench",
          indexPath = idx, streamIndexPath = s"$dir/stream_index")
        q.awaitTermination()
        q
      }
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        def sec(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        h.sample("stream_batch", sec("triggerExecution"))
        tr.count("streaming.batches", 1)
        tr.count("streaming.add_batch_s", sec("addBatch"))
        tr.count("streaming.planning_s", sec("queryPlanning"))
        tr.count("streaming.wal_commit_s", sec("walCommit"))
        tr.count("streaming.commit_s", sec("commitOffsets"))
        tr.count("streaming.latest_offset_s", sec("latestOffset"))
      }
    }
    if (tr.on) {
      tr.count("streaming.admitted_rows", DeltaLogReader.read(spark, s"$dir/table").count())
      val t0 = System.nanoTime()
      Dedup.readDedupIndex(spark, idx)
      tr.counters("table.index_read_s") = (System.nanoTime() - t0) / 1e9
    }
    // the previous op's output is no longer needed; the last one is checked
    if (lastTable.nonEmpty) delete(new Path(lastTable).getParent.toString)
    lastTable = s"$dir/table"
  }

  private def delete(p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  def warmup(): Unit = { batchOp(); streamOp() }

  def step(): Unit = {
    batchOp()
    if (h.record) corpusDocs += CorpusDocs
    streamOp()
  }

  def headlineKind: String = "batch"

  def commitSamples: Seq[Double] = h.samplesOf("stream_batch")

  def namedMetrics(): Unit = {
    val sb = h.samplesOf("stream_batch")
    h.named ++= Seq(
      "dedup_docs_per_s" -> (corpusDocs / h.samplesOf("batch").sum, "docs/s"),
      "stream_batch_p50_s" -> (Stats.median(sb), "s"),
      "stream_batch_tail_s" -> (Stats.tail(sb)._1, "s"),
      "stream_batch_samples" -> (sb.size.toDouble, "count"),
      "stream_op_p50_s" -> (Stats.median(h.samplesOf("stream")), "s"))
  }

  override def traceGauges(): Unit = {
    tr.counters("ops.index_build_s") = indexBuildS
    val subs = Seq(s"$idx/hashes", s"$idx/bands")
    tr.counters("table.index_versions") = subs.map(TxnLog.history(spark, _).size).sum
    tr.counters("table.index_files") = subs.map { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }.sum
  }

  /** The batch dedup result against its DuckDB oracle, and the last
    * stream op's admitted set against the same files run through the
    * batch daily loop (probe, admit novel, append to the index) one file
    * at a time. */
  def checkOutputs(checkDir: String): Map[String, String] = {
    Dedup.minhashLsh(spark, input).coalesce(1).write.mode("overwrite")
      .parquet(s"$checkDir/dedup_minhash_lsh")
    Dedup.releaseCaches()
    DeltaLogReader.read(spark, lastTable).select("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/stream_admitted")
    // the measured ops never change the base index (no folds), so it is
    // the reference loop's starting index
    val refIdx = idx
    val files = new Path(heldOut).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(heldOut)).map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
    val reference = s"${new Path(checkDir).getParent}/reference_admitted"
    files.foreach { f =>
      val batch = Dedup.dedupBatch(spark.read.parquet(f).select("doc_id", "text"))
      val novel = Dedup.incrementalProbe(spark, batch, refIdx)
        .where(col("verdict") === "novel").select("doc_id")
      val admitted = batch.join(novel, "doc_id").localCheckpoint()
      Dedup.updateDedupIndex(admitted, refIdx)
      admitted.write.mode("append").parquet(reference)
    }
    Map(
      "dedup_minhash_lsh" -> Dedup.minhashLshOracle,
      "stream_admitted" -> s"SELECT doc_id, text FROM read_parquet('$reference/*.parquet')")
  }

  override def checkFacts: Map[String, Any] = Map("streams" -> streams)

  private val CorpusDocs = 3000L
}
