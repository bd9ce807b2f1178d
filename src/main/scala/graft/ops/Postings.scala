package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Persisted inverted index for full-text search — the structure behind
  * the reference's OpenSearch indexes (`opensearch/_write.py:169-243`
  * index mappings; `opensearch/_read.py:65-155` search). [[Search]] scores
  * by scanning the corpus per query; that is correct but reads the whole
  * text column every time. At corpus scale the index is built ONCE as a
  * `(token, doc_id, tf)` postings table hash-partitioned by token, and a
  * match query reads only the partitions holding its terms — per-query
  * I/O is proportional to the query's term postings, not the corpus.
  *
  * Layout: `indexPath/tok_bucket=N/…` parquet, one row per (token, doc);
  * `_postings_meta` sidecar records the bucket count and analyzed column
  * so queries compute the same partition routing. The analyzer matches
  * [[Search.compileQueryDsl]]'s `match` semantics: whitespace tokens,
  * lowercase.
  *
  * Scale: build is one explode + one hash aggregate (map-side partials);
  * the shuffle key is (token, doc) so skewed stop-word tokens spread over
  * doc subkeys. Queries prune on the `tok_bucket` partition column —
  * directory-level pruning, no file listing outside the term buckets.
  */
object Postings {

  final case class Meta(nBuckets: Int, textCol: String, idCol: String,
      carryCols: Seq[String], nDocs: Long = 0L, sumDlen: Long = 0L,
      foldedUpto: Long = 0L)

  private val MetaFile = "_postings_meta"

  /** Executor-side bucket routing for the build. */
  private def bucketCol(token: Column, nBuckets: Int): Column =
    pmod(xxhash64(token), lit(nBuckets.toLong)).cast("int")

  /** Driver-side routing for query terms — the same xxhash64 the build
    * used, evaluated on a literal. */
  def bucketOf(token: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    val h = XxHash64(Seq(Literal(UTF8String.fromString(token), StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    java.lang.Math.floorMod(h, nBuckets.toLong).toInt
  }

  /** Build (or rebuild) the postings table. `carryCols` are doc-level
    * attributes denormalized into the postings so common queries never
    * touch the corpus (the reference stores whole documents in the index;
    * carrying only the projected attributes is the columnar version). */
  def build(
      docs: DataFrame,
      indexPath: String,
      nBuckets: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id",
      carryCols: Seq[String] = Seq("lang")): Long = {
    val spark = docs.sparkSession
    // postings, doc-length norms, and the meta sidecar are only correct
    // as a UNIT (a rebuild changing nBuckets re-routes every term; the
    // corpus stats normalize BM25) — the whole tree publishes as one
    // snapshot, so a query concurrent with a rebuild reads one
    // generation
    graft.table.SnapshotTree.publish(spark, indexPath) { t =>
      writeTree(docs, t,
        Meta(nBuckets, textCol, idCol, carryCols))
    }
    val t = graft.table.SnapshotTree.root(spark, indexPath)
    spark.read.option("basePath", t).parquet(t).count()
  }

  /** One self-contained postings tree (postings partitioned by
    * tok_bucket + `_doclens` norms + meta with EXACT integer corpus
    * stats) under `t` — the unit [[build]] publishes whole and the
    * incremental loop appends as layers. */
  private def writeTree(docs: DataFrame, t: String, meta: Meta): Unit = {
    val spark = docs.sparkSession
    val keyCols = (meta.idCol +: meta.carryCols).map(col)
    val postings = docs
      .select((col(meta.textCol) +: keyCols): _*)
      .withColumn("token", explode(split(lower(col(meta.textCol)), " ")))
      .filter(col("token") =!= "")
      .groupBy((col("token") +: keyCols): _*)
      .agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("tok_bucket", bucketCol(col("token"), meta.nBuckets))
    postings
      .repartition(col("tok_bucket"))
      .write.partitionBy("tok_bucket").mode("overwrite").parquet(t)
    // doc-length norms (Lucene stores these per doc at index time):
    // the BM25 length normalization needs |d| and corpus totals,
    // which a term-bucket probe cannot derive — one extra doc-level
    // aggregate at build, one tiny sidecar table, exact-integer
    // corpus stats in meta
    val doclens = docs
      .select(col(meta.idCol),
        size(filter(split(lower(col(meta.textCol)), " "),
          tk => tk =!= "")).cast("long").as("dlen"))
    doclens.write.mode("overwrite").parquet(s"$t/_doclens")
    val stats = spark.read.parquet(s"$t/_doclens")
      .agg(count(lit(1)), sum(col("dlen"))).head
    writeMeta(spark, t, meta.copy(nDocs = stats.getLong(0),
      sumDlen = if (stats.isNullAt(1)) 0L else stats.getLong(1)))
  }

  // ---- incremental maintenance --------------------------------------

  /** Append one ingest batch as a LAYER tree — the postings index's
    * daily/streaming loop (mirrors the dedup index's
    * [[Dedup.updateDedupIndex]] / [[Dedup.writeStreamIndexBatch]]
    * pattern): instead of rebuilding the whole tree per corpus change
    * (O(corpus)), each batch pays ONE batch-sized tree build and an
    * atomic manifest append; queries union the layers with exactly-
    * merged document frequencies and corpus stats ([[layerInfo]] —
    * integer sums, so an incremental index answers bit-identically to
    * a one-shot rebuild), and [[fold]] periodically consolidates.
    * Replay handling is [[graft.table.SnapshotTree.appendLayer]]'s:
    * returns false on a skipped replay. Layer routing (nBuckets) and
    * analyzed columns inherit the base geometry — uniform by
    * construction.
    *
    * CONTRACT: batch doc ids must be DISJOINT from every already-
    * indexed layer (the streaming-ingest invariant — each doc is
    * ingested once). A violated contract double-counts the doc's df
    * contribution (one per layer holding it) and duplicates its corpus
    * stats, silently drifting BM25 from the one-shot rebuild this
    * method promises to equal. `assertDisjoint = true` enforces it
    * with an anti-join over the layers' doc-level `_doclens` tables
    * (doc-scale, not postings-scale — cheap relative to the batch
    * build; on where ingest ids aren't monotone by construction). */
  def appendBatch(docs: DataFrame, indexPath: String,
      batchId: Long, assertDisjoint: Boolean = false): Boolean = {
    val spark = docs.sparkSession
    graft.table.SnapshotTree.appendLayer(spark, indexPath, batchId)(
        readMeta(spark, _).foldedUpto) { (roots, t) =>
      val base = readMeta(spark, roots.head)
      if (assertDisjoint) {
        val dup = roots
          .map(rt => spark.read.parquet(s"$rt/_doclens").select(col(base.idCol)))
          .reduce(_.unionByName(_))
          .join(docs.select(col(base.idCol)).distinct(), base.idCol)
          .limit(3).collect().map(_.get(0))
        require(dup.isEmpty,
          s"appendBatch batch $batchId re-ingests already-indexed docs " +
            s"(e.g. ${dup.mkString(", ")}): layered df/corpus stats would " +
            "double-count and BM25 would drift from a rebuild")
      }
      writeTree(docs, t,
        Meta(base.nBuckets, base.textCol, base.idCol, base.carryCols))
    }
  }

  /** Test hook: invoked by [[fold]] after the merged tree is staged,
    * before its manifest publishes — the window where a concurrent
    * [[appendBatch]] forces the optimistic-commit retry. */
  private[graft] var foldBarrier: () => Unit = () => ()

  /** Fold the accumulated layers into ONE consolidated tree — the
    * maintenance closure of the incremental loop (the dedup index's
    * [[Dedup.foldStreamIndex]], for postings): layer postings rows are
    * disjoint by the ingest contract (docs are layer-partitioned), so
    * the merge is a union + one repartition to one file per term
    * bucket, doclens union, corpus stats summed exactly. Publication,
    * retry and the replay watermark are
    * [[graft.table.SnapshotTree.foldLayers]]'s. Returns the number of
    * layers folded (0 = nothing to do). */
  def fold(spark: SparkSession, indexPath: String,
      keepVersions: Int = 2): Int =
    graft.table.SnapshotTree.foldLayers(spark, indexPath, keepVersions)(
        readMeta(spark, _).foldedUpto, () => foldBarrier()) { (roots, upto, t) =>
      val merged = mergedMeta(indexPath, roots.map(readMeta(spark, _)))
      roots.map(rt => spark.read.option("basePath", rt).parquet(rt))
        .reduce(_.unionByName(_))
        .repartition(col("tok_bucket"))
        .write.partitionBy("tok_bucket").mode("overwrite").parquet(t)
      roots.map(rt => spark.read.parquet(s"$rt/_doclens"))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$t/_doclens")
      writeMeta(spark, t, merged.copy(foldedUpto = upto))
    }

  /** The layers' metas as one: geometry must be uniform, corpus stats
    * sum exactly (integers), the head's watermark stays. */
  private def mergedMeta(indexPath: String, metas: Seq[Meta]): Meta = {
    require(metas.map(m =>
        (m.nBuckets, m.textCol, m.idCol, m.carryCols)).distinct.size == 1,
      s"postings layers at $indexPath disagree on geometry")
    metas.head.copy(nDocs = metas.map(_.nDocs).sum,
      sumDlen = metas.map(_.sumDlen).sum)
  }

  /** All layer roots of the current snapshot plus their merged meta, so
    * BM25 over an incremental index derives the identical avgdl/IDF a
    * one-shot rebuild would. ONE resolution per query — every layer
    * read under it is one consistent generation. */
  private def layerInfo(spark: SparkSession,
      indexPath: String): (Seq[String], Meta) = {
    val roots = graft.table.SnapshotTree.roots(spark, indexPath)
    (roots, mergedMeta(indexPath, roots.map(readMeta(spark, _))))
  }

  /** Weighted multi-term match over the postings: reads ONLY the term
    * buckets, aggregates one row per document with a `tf_<term>` column
    * per query term, scores, and returns the top-k. Result shape matches
    * [[Search.matchQuery]] so the two plans are interchangeable. */
  def matchQuery(
      spark: SparkSession,
      indexPath: String,
      weights: Seq[(String, Int)],
      k: Int = 20): DataFrame = {
    // one snapshot resolution: routing (meta.nBuckets) and every
    // layer's bucket dirs come from the same generation even if a
    // rebuild/fold publishes mid-query. Each layer scans its OWN term
    // buckets (pruning per branch), then the branches union — a doc
    // lives in exactly one layer, so the per-doc aggregate is exact.
    val (roots, meta) = layerInfo(spark, indexPath)
    val terms = weights.map(_._1)
    val buckets = terms.map(bucketOf(_, meta.nBuckets)).distinct
    val keyCols = (meta.idCol +: meta.carryCols).map(col)
    val scored = roots.map(t =>
        spark.read.option("basePath", t).parquet(t)
          .filter(col("tok_bucket").isin(buckets.map(Int.box): _*) &&
            col("token").isin(terms.map(s => s: Any): _*)))
      .reduce(_.unionByName(_))
      .groupBy(keyCols: _*)
      .agg(
        sum(when(col("token") === terms.head, col("tf")).otherwise(0))
          .cast("int").as(s"tf_${terms.head}"),
        terms.tail.map(t =>
          sum(when(col("token") === t, col("tf")).otherwise(0))
            .cast("int").as(s"tf_$t")): _*)
    val score = weights.map { case (t, w) => col(s"tf_$t") * lit(w) }
      .reduce(_ + _)
    scored
      .withColumn("score", score)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(meta.idCol))
      .limit(k)
      .select((keyCols ++ terms.map(t => col(s"tf_$t")) :+ col("score")): _*)
  }

  private def writeMeta(spark: SparkSession, indexPath: String,
      meta: Meta): Unit = {
    val p = new Path(indexPath, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (Seq(s"nBuckets=${meta.nBuckets}", s"textCol=${meta.textCol}",
        s"idCol=${meta.idCol}", s"carryCols=${meta.carryCols.mkString(",")}",
        s"nDocs=${meta.nDocs}", s"sumDlen=${meta.sumDlen}",
        s"foldedUpto=${meta.foldedUpto}")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  def readMeta(spark: SparkSession, indexPath: String): Meta = {
    val p = new Path(indexPath, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val kv = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); a -> b }.toMap
    Meta(kv("nBuckets").toInt, kv("textCol"), kv("idCol"),
      kv("carryCols").split(",").toSeq.filter(_.nonEmpty),
      kv.getOrElse("nDocs", "0").toLong, kv.getOrElse("sumDlen", "0").toLong,
      kv.getOrElse("foldedUpto", "0").toLong)
  }

  /** One inverted index per corpus directory, built on first use and
    * reused for every subsequent query against the same corpus — the
    * build is the fixture cost an indexed search system pays once at
    * ingest, never per query. Harnesses may call this eagerly so the
    * first timed query doesn't absorb the build. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def indexFor(s: SparkSession, dir: String): String =
    indexCache.computeIfAbsent(dir, _ => {
      val tmp = graft.session.Scratch.dir("graft-postings") + "/idx"
      build(graft.Tables.documents(s, dir), tmp, nBuckets = 16)
      tmp
    })

  /** BM25 ranked retrieval over the persisted index — the scoring
    * OpenSearch/Lucene actually rank with (`opensearch/_read.py`'s
    * `search` returns `_score`-ordered hits), not the linear tf weights
    * of [[matchQuery]]. Per query: the term buckets are read (I/O
    * bounded by the query's postings), per-term document frequencies
    * come from the same restricted scan (a per-term count — metadata-
    * scale), IDFs become literals in the plan, and the per-doc score
    * joins the build-time `_doclens` norms for length normalization.
    * Corpus stats (N, Σ|d|) are exact integers from the meta sidecar,
    * so both engines derive the identical average length; per-term
    * contributions are summed in FIXED column order and the score
    * rounds to 4 decimals, keeping the DuckDB differential hash stable
    * against last-ulp `ln` differences. */
  def bm25Query(spark: SparkSession, indexPath: String,
      terms: Seq[String], k: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // one snapshot resolution: meta stats, every layer's postings, and
    // _doclens norms are one generation under a concurrent rebuild or
    // fold. An incremental (layered) index merges EXACTLY: per-term df
    // counts (token, doc) rows across the layer union (docs are
    // layer-disjoint) and the meta corpus stats are integer sums, so
    // IDF/avgdl are bit-identical to a one-shot rebuild's.
    val (roots, meta) = layerInfo(spark, indexPath)
    require(meta.nDocs > 0,
      s"index at $indexPath predates doc-length norms; rebuild it")
    val buckets = terms.map(bucketOf(_, meta.nBuckets)).distinct
    val post = roots.map(t =>
        spark.read.option("basePath", t).parquet(t)
          .filter(col("tok_bucket").isin(buckets.map(Int.box): _*) &&
            col("token").isin(terms.map(s => s: Any): _*)))
      .reduce(_.unionByName(_))
    val dfMap: Map[String, Long] = post.groupBy(col("token"))
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byDoc = post.groupBy(col(meta.idCol))
      .agg(
        sum(when(col("token") === terms.head, col("tf")).otherwise(0))
          .cast("int").as(s"tf_${terms.head}"),
        terms.tail.map(t =>
          sum(when(col("token") === t, col("tf")).otherwise(0))
            .cast("int").as(s"tf_$t")): _*)
    val dlens = roots.map(t => spark.read.parquet(s"$t/_doclens"))
      .reduce(_.unionByName(_))
    val avgdl = meta.sumDlen.toDouble / meta.nDocs.toDouble
    val scored = byDoc.join(dlens, Seq(meta.idCol))
    val contributions = terms.map { t =>
      val df = dfMap.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (meta.nDocs.toDouble - df + 0.5) / (df + 0.5))
      lit(idf) * (col(s"tf_$t").cast("double") * lit(k1 + 1.0)) /
        (col(s"tf_$t").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) *
            col("dlen").cast("double") / lit(avgdl)))
    }
    // byDoc already holds only docs with ≥1 matching term, which is the
    // oracle's membership condition — no post-rounding score filter (a
    // tiny score rounding to 0.0 must stay IN on both sides)
    scored
      .withColumn("score", round(contributions.reduce(_ + _), 4))
      .orderBy(col("score").desc, col(meta.idCol))
      .limit(k)
      .select((col(meta.idCol) +: terms.map(t => col(s"tf_$t")) :+
        col("score")): _*)
  }

  /** Oracle-gated BM25 probe against the per-corpus index. */
  def searchBm25Query(s: SparkSession, dir: String): DataFrame = {
    val idx = indexFor(s, dir)
    bm25Query(s, idx, Seq("spark", "join", "stream"), k = 20)
  }

  /** One INCREMENTAL per-corpus index: 90% of the corpus at build
    * time, the held-out 10% appended as a batch layer (un-folded, so
    * queries exercise the layer-union path). */
  private val incrIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def incrIndexFor(s: SparkSession, dir: String): String =
    incrIndexCache.computeIfAbsent(dir, _ => {
      val tmp = graft.session.Scratch.dir("graft-postings-incr") + "/idx"
      val docs = graft.Tables.documents(s, dir)
      build(docs.filter(col("doc_id") % 10 =!= 7), tmp, nBuckets = 16)
      appendBatch(docs.filter(col("doc_id") % 10 === 7), tmp, batchId = 1L)
      tmp
    })

  /** Oracle-gated INCREMENTAL BM25 probe ([[appendBatch]]/[[fold]]):
    * the query unions the base tree with the appended batch layer,
    * document frequencies count across the union and corpus stats sum
    * exactly — so the answer is value-identical to one-shot indexing
    * of the full corpus, which is exactly what the DuckDB twin
    * ([[searchBm25Oracle]], recomputed from the raw corpus) asserts. */
  def searchBm25IncrementalQuery(s: SparkSession, dir: String): DataFrame =
    bm25Query(s, incrIndexFor(s, dir), Seq("spark", "join", "stream"),
      k = 20)

  /** The oracle recomputes BM25 from the raw corpus: identical analyzer
    * (single-space split, lowercase, drop empties), exact-integer tf /
    * df / doc lengths, the same Lucene IDF form, contributions summed
    * in the same fixed term order, rounded to the same 4 decimals. */
  def searchBm25Oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |  FROM documents
      |), toks2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
      |tf AS (
      |  SELECT doc_id,
      |    cast(sum(CASE WHEN token = 'spark' THEN 1 ELSE 0 END) as int) AS tf_spark,
      |    cast(sum(CASE WHEN token = 'join' THEN 1 ELSE 0 END) as int) AS tf_join,
      |    cast(sum(CASE WHEN token = 'stream' THEN 1 ELSE 0 END) as int) AS tf_stream,
      |    cast(count(*) as double) AS dlen
      |  FROM toks2 GROUP BY doc_id
      |), stats AS (
      |  SELECT cast(count(*) as double) AS n,
      |    cast(sum(dlen) as double) / cast(count(*) as double) AS avgdl,
      |    cast(sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) as double) AS df_spark,
      |    cast(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) as double) AS df_join,
      |    cast(sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) as double) AS df_stream
      |  FROM tf
      |)
      |SELECT doc_id, tf_spark, tf_join, tf_stream,
      |  round(
      |    ln(1 + (s.n - s.df_spark + 0.5) / (s.df_spark + 0.5))
      |      * (cast(tf_spark as double) * 2.2)
      |      / (cast(tf_spark as double) + 1.2 * (0.25 + 0.75 * dlen / s.avgdl))
      |    + ln(1 + (s.n - s.df_join + 0.5) / (s.df_join + 0.5))
      |      * (cast(tf_join as double) * 2.2)
      |      / (cast(tf_join as double) + 1.2 * (0.25 + 0.75 * dlen / s.avgdl))
      |    + ln(1 + (s.n - s.df_stream + 0.5) / (s.df_stream + 0.5))
      |      * (cast(tf_stream as double) * 2.2)
      |      / (cast(tf_stream as double) + 1.2 * (0.25 + 0.75 * dlen / s.avgdl))
      |  , 4) AS score
      |FROM tf CROSS JOIN stats s
      |WHERE tf_spark + tf_join + tf_stream > 0
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Oracle-gated query: a weighted match probed against the persisted
    * per-corpus index ([[indexFor]] — built once, outside any query
    * timing). Returns the same rows [[Search.matchQuery]] answers by
    * scanning — on a whitespace-token corpus the two are value-identical,
    * so this shares its DuckDB oracle. Column order matches the scan
    * variant. */
  def searchPostingsQuery(s: SparkSession, dir: String): DataFrame = {
    val idx = indexFor(s, dir)
    matchQuery(s, idx, Seq("spark" -> 3, "join" -> 2, "stream" -> 1), k = 20)
      .select(col("doc_id"), col("lang"), col("tf_spark"), col("tf_join"),
        col("tf_stream"), col("score"))
  }
}
