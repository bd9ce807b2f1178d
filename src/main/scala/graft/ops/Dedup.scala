package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.session.Jobs

/** Near-duplicate detection for training-data pipelines: character-n-gram
  * Jaccard, MinHash + LSH banding, and SimHash. These are the extension
  * operators the builder brief requires beyond the reference surface
  * (anchored on the reference's vector/document models,
  * `s3/_vectors/_read.py:249-344`).
  *
  * Scale design: the naive all-pairs Jaccard is quadratic — it exists as
  * the small-scope oracle-checked baseline (pairs restricted to a bounded
  * source set). The scale path is MinHash → LSH bands: per-document
  * signatures are a linear scan; candidate generation is an equi-join on
  * (band, bandKey) — a plain shuffle join, no cross product; candidate
  * pairs are DEDUPED ACROSS BANDS FIRST and only then pay the signature
  * comparison (one estimate per unique pair, not per banded collision).
  * Band width r trades recall for candidate count: collision probability
  * is s^r for similarity s, so near-identical corpora (like this synthetic
  * one) still bound their candidate sets.
  *
  * THE 100 TB OPERATIONAL LOOP (rounds 12–13; each step's cost follows
  * the batch or the index, never the historic corpus):
  *  1. [[buildDedupIndex]] — once, linear in the corpus;
  *  2. per increment: [[dedupBatch]] (within-batch exact) →
  *     [[incrementalProbe]] (batch broadcast on both joins; one
  *     streamed index pass) → admit `novel` → [[updateDedupIndex]]
  *     (batch-cost append, row-identical to a full rebuild);
  *  3. at maintenance cadence: [[compactDedupIndex]] (layout-only
  *     file-count control, linear in the index) and
  *     [[vacuumDedupIndex]] (snapshot GC) — both SAFE under live
  *     probes since round 14: the index sub-tables are
  *     [[graft.table.TxnLog]] snapshot tables, so probes pin a
  *     version and maintenance publishes the next one.
  * Measured flat across 100× index growth: probe 2.4/1.2/2.0 s,
  * update 1.1/0.6/0.6 s (BASELINE.md round-13 tables; re-measured
  * through the versioned reads round 14).
  */
object Dedup {

  /** Signature tables persisted by [[lshPairs]] for the duration of one
    * query's action. The persist is load-bearing (the signatures feed
    * four plan branches), but the blocks must not outlive the query — a
    * benchmark sweep that runs six dedup queries first would otherwise
    * carry their DISK_ONLY blocks through every later query. Harnesses
    * call [[releaseCaches]] after each action completes. */
  private val liveCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every signature table registered since the last release.
    * Cheap no-op when nothing is registered; non-blocking eviction. */
  def releaseCaches(): Unit = {
    var df = liveCaches.poll()
    while (df != null) { df.unpersist(false); df = liveCaches.poll() }
  }

  /** Register an externally persisted table for the same
    * release-after-action lifecycle (used by [[Vectors.semDedup]]'s
    * assignment table — same multi-branch reuse shape as the LSH
    * signatures). */
  private[graft] def registerCache(df: DataFrame): Unit = liveCaches.add(df)

  /** EXACT full-document dedup — the stage every pipeline runs FIRST
    * (identical crawls are the bulk of web duplication; removing them
    * before any fuzzy stage keeps the minhash/LSH tables small). One
    * hash-partitioned aggregation on the content hash: keep the
    * minimum doc_id per identical-text group, count the copies. md5
    * here keeps the DuckDB oracle bit-exact (a production run uses
    * xxhash64 — 4× cheaper, same plan). Scale shape: ONE map-side
    * hash + ONE partial-aggregable groupBy — the cheapest possible
    * dedup; no joins, no per-pair work, linear to any corpus size. */
  def exactDocDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("h"), col("keep_doc_id"), col("n_copies"))

  def exactDocDedupOracle: String =
    """SELECT md5(text) AS h, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Distinct character 3-gram shingles per document. */
  private def shingles = array_distinct(
    expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))"))

  /** Sources included in the exact-Jaccard baseline (bounded verify
    * scope; the minhash operators cover the full corpus). */
  private val jaccardSources =
    Seq("src0", "src1", "src2", "src3", "src4")

  /** Exact n-gram Jaccard similarity for all pairs within a bounded
    * source set (the "verify" stage of an LSH pipeline, run exact).
    * Intersections via equi-join on the exploded shingle — the same
    * shuffle-join shape LSH candidate verification uses at scale.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val src = jaccardSources.map(x => s"'$x'").mkString(",")
    // the exploded shingle table feeds THREE branches (both self-join
    // sides + the per-doc sizes) and each recompute re-runs the
    // per-character explode over the filtered corpus — persist the
    // narrow (doc_id, source, 3-char gram) rows once (r17; the winnow
    // exploded-fingerprint persist class, DISK_ONLY per the
    // corpus-proportional convention, [[releaseCaches]] lifecycle)
    val sh = Tables.documents(s, dir)
      .filter(col("source").isin(jaccardSources: _*))
      .select(col("doc_id"), col("source"), explode(shingles).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    registerCache(sh)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val common = a.join(b,
        col("a.g") === col("b.g") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"),
        (col("c").cast("double") /
          (col("s1.n") + col("s2.n") - col("c")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.6)
  }

  def ngramJaccardOracle: String = {
    val src = jaccardSources.map(x => s"'$x'").mkString(",")
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, source, g FROM (
       |    SELECT doc_id, source,
       |      unnest(list_transform(generate_series(1, length(text)-2),
       |                            i -> substring(text, i, 3))) AS g
       |    FROM documents WHERE source IN ($src)) t),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b
       |    ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  cast(c as double) / cast(s1.n + s2.n - c as double) AS jaccard
       |FROM common
       |JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE cast(c as double) / cast(s1.n + s2.n - c as double) >= 0.6""".stripMargin
  }

  // ---- MinHash-LSH core ---------------------------------------------------
  // Every MinHash/SimHash operator below and [[Decontaminate.checkFuzzy]]
  // is composed from these pure frame transforms, so the band geometry,
  // the candidate join and the index group keys are each defined once.

  /** MinHash components / LSH geometry of the md5 (oracle) family:
    * 12 components in 3 bands of 4 rows. */
  private[ops] val K = 12
  private[ops] val BANDS = 3
  private[ops] val ROWS = K / BANDS

  /** Components and bands of the xxhash64 (production) family. */
  private val FastK = 32
  private val FastBands = 4

  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("__toks", array_distinct(split(col("text"), " ")))

  /** md5-family MinHash signature over `__toks`: K per-seed minima of
    * md5(seed || ':' || token), compared lexicographically — engine-
    * portable, which is what makes this family differentially
    * testable. [[graft.expr.MinHashSigsMd5]] is one fused loop that
    * hex-encodes only the K winners and is bit-identical to the SQL
    * form `transform(sequence(0,K-1), i -> array_min(transform(__toks,
    * t -> md5(concat(cast(i as string), ':', t)))))` (MinHashSigsSpec).
    * Tokens are hoisted into `__toks` ([[withToks]]) so a document is
    * tokenized once, not once per component. */
  private def minhashSig: Column =
    GraftBridge.column(graft.expr.MinHashSigsMd5(GraftBridge.expr(col("__toks")), K))

  /** (doc_id, sig): md5-family signatures of a (doc_id, text) frame. */
  private[ops] def md5Sigs(docs: DataFrame): DataFrame =
    withToks(docs).select(col("doc_id"), minhashSig.as("sig"))

  /** (doc_id, h, sig): content hash and md5-family signature — the
    * derivation [[buildDedupIndex]], [[updateDedupIndex]] and the probe
    * batch share. */
  private def sigOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), md5(col("text")).as("h"),
      array_distinct(split(col("text"), " ")).as("__toks"))
    .select(col("doc_id"), col("h"), minhashSig.as("sig"))

  /** (doc_id, sig): xxhash64-family signatures, FastK components
    * ([[graft.expr.MinHashSigs]], bit-identical to its HOF form). */
  private def fastSigs(docs: DataFrame): DataFrame =
    withToks(docs).select(col("doc_id"), GraftBridge.column(
      graft.expr.MinHashSigs(GraftBridge.expr(col("__toks")), FastK)).as("sig"))

  /** md5 band-key array over a signature column named `sig`. */
  private[ops] def md5BandKeys: Column = expr(
    s"""transform(sequence(0, ${BANDS - 1}),
       |  b -> md5(concat_ws('|', slice(sig, b * $ROWS + 1, $ROWS))))""".stripMargin)

  /** xxhash64 band-key array over a FastK-component `sig`. */
  private def fastBandKeys: Column = {
    val rows = FastK / FastBands
    expr(s"""transform(sequence(0, ${FastBands - 1}),
            |  b -> xxhash64(slice(sig, b * $rows + 1, $rows)))""".stripMargin)
  }

  /** One row per (document, band): the `keep` columns of `sig` plus
    * `band` (position) and `bkey` (that band's key from `bandKeys`). */
  private[ops] def bandRows(sig: DataFrame, bandKeys: Column,
      keep: Column*): DataFrame =
    sig.select(keep :+ posexplode(bandKeys): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  /** The (band, bkey) buckets of `banded` with more than `cap` members,
    * with their `n_members`. The list is usually metadata-sized (mega-
    * buckets are few), and its aggregation shuffles one map-side-
    * combined partial row per bucket per partition, not every banded
    * row. Callers join it back without a broadcast hint: on a
    * pathological corpus where every bucket overflows it is corpus-
    * proportional, and AQE picks broadcast from the runtime size when
    * it fits instead of an unconditional driver-side collect. */
  private def overCap(banded: DataFrame, cap: Int): DataFrame =
    banded.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n_members"))
      .where(col("n_members") > cap)

  /** Band rows sharing a bucket, as aliases `a` and `b` with
    * `a.doc_id < b.doc_id` — each unordered pair once per shared band. */
  private def bandSelfJoin(banded: DataFrame): DataFrame = {
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** Deduped (d1, d2) pairs sharing at least one band. With `maxBucket`
    * set, rows of buckets over the cap are excluded from enumeration
    * (the skew guard, see [[minhashLshCapped]]). `sig` is read once
    * per plan branch, so callers persist it. */
  private def lshCandidatePairs(sig: DataFrame, bandKeys: Column,
      maxBucket: Option[Int] = None): DataFrame = {
    val banded0 = bandRows(sig, bandKeys, col("doc_id"))
    val banded = maxBucket match {
      case Some(cap) => banded0.join(
        overCap(banded0, cap).select(col("band"), col("bkey")),
        Seq("band", "bkey"), "left_anti")
      case None => banded0
    }
    bandSelfJoin(banded)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** (d1, d2) pairs with both signatures attached as `sig1`, `sig2`. */
  private def withPairSigs(pairs: DataFrame, sig: DataFrame): DataFrame = {
    val s1 = sig.select(col("doc_id").as("d1"), col("sig").as("sig1"))
    val s2 = sig.select(col("doc_id").as("d2"), col("sig").as("sig2"))
    pairs.join(s1, "d1").join(s2, "d2")
  }

  /** Number of positions where two signatures agree — the native
    * codegen'd kernel, one fused loop per pair. */
  private[ops] def matchCount(a: Column, b: Column): Column =
    GraftBridge.column(graft.expr.ArrayMatchCount(
      GraftBridge.expr(a), GraftBridge.expr(b)))

  /** Estimated Jaccard similarity: the agreeing fraction of `k`
    * signature components. */
  private def agreement(a: Column, b: Column, k: Int = K): Column =
    matchCount(a, b).cast("double") / lit(k.toDouble)

  /** Candidate pairs deduped across bands first, then ONE signature
    * comparison per unique pair (`estimate` over `sig1`, `sig2`, output
    * as `est_jaccard`). The signatures feed four plan branches (two join
    * sides, two lookup sides), so they are persisted once. DISK_ONLY,
    * not localCheckpoint: at scale the table is a large fraction of the
    * corpus, so it must not pin block-manager memory, and lineage stays
    * intact so a lost executor recomputes its slice. */
  private def lshPairs(sig0: DataFrame, bandKeys: Column, estimate: Column,
      maxBucket: Option[Int] = None): DataFrame = {
    val sig = sig0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    liveCaches.add(sig)
    withPairSigs(lshCandidatePairs(sig, bandKeys, maxBucket), sig)
      .select(col("d1"), col("d2"), estimate.as("est_jaccard"))
  }

  /** The index's group-key reduction: the minimum doc_id per `keys`
    * group ([[HashGroup]] for the hash sub-table, [[BandGroup]] for
    * the band sub-table). */
  private def minDocPer(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col("doc_id")).as("doc_id"))

  private val HashGroup = Seq("h")
  private val BandGroup = Seq("band", "bkey", "sig")

  /** The (hashes, bands) index rows of a [[sigOf]] frame. */
  private def indexGroups(sig: DataFrame): (DataFrame, DataFrame) =
    (minDocPer(sig, HashGroup),
      minDocPer(bandRows(sig, md5BandKeys, col("doc_id"), col("sig")),
        BandGroup))

  /** `skey`: the md5 of the full signature — the cluster key of the
    * linear keep-one treatments. */
  private def withSigKey(sig: DataFrame): DataFrame =
    sig.withColumn("skey", md5(concat_ws("|", col("sig"))))

  /** MinHash + LSH candidate pairs with estimated Jaccard (matching
    * component fraction). One linear pass for signatures, an equi-join on
    * (band, bandKey) for candidates.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    // the signature is the operator's CPU-bound stage, and a one-file
    // corpus would run it as one task: spread it over every core
    lshPairs(md5Sigs(Jobs.spread(Tables.documents(s, dir))), md5BandKeys,
      agreement(col("sig1"), col("sig2")))

  def minhashLshOracle: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM sig, range(0, $BANDS) AS u(b))
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  cast(len(list_filter(generate_series(1, $K),
       |       i -> a.sig[i] = b.sig[i])) as double) / ${K}.0 AS est_jaccard
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  /** Pair enumeration with a SKEW GUARD: LSH buckets whose membership
    * exceeds `maxBucket` are excluded from candidate generation, and
    * [[lshBucketOverflow]] reports them LOUDLY instead of silently
    * enumerating (or silently dropping) their pairs.
    *
    * Why this exists at 100 TB: candidate-join cost is Σ mᵢ² over
    * bucket sizes mᵢ. One boilerplate bucket (empty pages, cookie
    * banners, licence headers) of 10⁶ members is 10¹² pairs — a single
    * straggler task that no amount of executors parallelizes, because
    * it is one join key. Production dedup pipelines cap the bucket and
    * surface the overflow for a different treatment (the cluster-keep
    * path [[minhashDedupKeep]] handles a mega-cluster in one groupBy
    * row, and [[ccDedup]] folds it into one component): the cap turns
    * the worst case from quadratic-in-the-hottest-key into
    * cap²·buckets, while the report keeps the omission observable —
    * nothing is dropped without an audit row. Spark's AQE skew-join
    * splitting does NOT help here: it rebalances partition bytes, but a
    * self-join on one hot key still materializes m² output rows.
    *
    * The guard itself is shuffle-free for the banded rows: the
    * over-cap bucket list (= the audit report, metadata-sized by
    * nature) comes from a map-side-combined aggregation ([[overCap]])
    * and returns as an anti-join. Of three formulations measured at
    * sf1 (10×, idle) — per-side window 34.2 s, DISK_ONLY-persisted
    * window 15.9 s, anti-join 16.9 s — the anti-join ties the persisted
    * window on wall clock and writes no 3×-corpus temp table to
    * executor disk. */
  def minhashLshCapped(s: SparkSession, dir: String,
      maxBucket: Int = 16): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    lshPairs(md5Sigs(Tables.documents(s, dir)), md5BandKeys,
      agreement(col("sig1"), col("sig2")), Some(maxBucket))
  }

  def minhashLshCappedOracle: String = minhashLshCappedOracle(16)

  private[graft] def minhashLshCappedOracle(cap: Int): String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM sig, range(0, $BANDS) AS u(b)),
       |kept AS (
       |  SELECT * FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $cap)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  cast(len(list_filter(generate_series(1, $K),
       |       i -> a.sig[i] = b.sig[i])) as double) / ${K}.0 AS est_jaccard
       |FROM kept a JOIN kept b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  /** The audit side of the skew guard: one row per (band, bkey) bucket
    * the cap excluded, with its membership count — the mega-clusters a
    * pipeline routes to cluster-level treatment instead of pair
    * enumeration. */
  def lshBucketOverflow(s: SparkSession, dir: String,
      maxBucket: Int = 16): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    overCap(bandRows(md5Sigs(Tables.documents(s, dir)), md5BandKeys,
      col("doc_id")), maxBucket)
  }

  /** The COMPOSED skew-guarded dedup: the routing that
    * [[minhashLshCapped]] leaves to its caller, as one keep/drop report
    * where every document is handled by exactly one route:
    *
    *  - docs appearing in ANY over-cap LSH bucket (boilerplate-class:
    *    empty pages, licence headers) take the CLUSTER route — a
    *    linear full-signature groupBy keeps the min doc_id per
    *    identical signature ([[minhashDedupKeep]]'s treatment),
    *    because pair-enumerating a mega-bucket is quadratic in ONE
    *    join key that no executor count parallelizes;
    *  - every other doc takes the PAIR route — under-cap bucket
    *    enumeration, est ≥ `minEst` against a smaller doc_id drops it
    *    (keeper = the smallest such partner), the keep-first rule.
    *
    * Output: (doc_id, keep, keeper, route). The routes are DISJOINT by
    * construction (over-cap membership removes a doc from enumeration
    * entirely, not just its over-cap banded rows), which is what makes
    * the report's semantics — and the DuckDB twin — unambiguous.
    *
    * Scale shape: the over-cap bucket list is metadata-sized on real
    * corpora (AQE broadcasts it at runtime; no unconditional hint, so
    * a pathological all-overflow corpus degrades to a shuffle join
    * instead of a driver OOM); cluster-route cost is one linear groupBy over the
    * mega-bucket membership; pair-route cost is bounded by
    * cap²·buckets, so the operator keeps the capped path's ~linear
    * floor where uncapped enumeration took 385 s at sf1 (BASELINE.md). */
  def minhashDedupRouted(s: SparkSession, dir: String,
      maxBucket: Int = 16, minEst: Double = 0.5): DataFrame =
    minhashDedupRoutedOn(Tables.documents(s, dir), maxBucket, minEst)

  /** [[minhashDedupRouted]] over an arbitrary (doc_id, text) frame —
    * the composition hook: [[Curation.curatePipelineV3]] runs the
    * routed treatment INSIDE the curation plan, on the quality-gated
    * perplexity-selected survivors, instead of beside it. */
  def minhashDedupRoutedOn(docs: DataFrame,
      maxBucket: Int = 16, minEst: Double = 0.5): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    // the signature table feeds the banded rows, both pair-join sides,
    // and both route reports — same persist rationale as lshPairs
    val sig = md5Sigs(docs)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    liveCaches.add(sig)
    val banded = bandRows(sig, md5BandKeys, col("doc_id"), col("sig"))
    val over = overCap(banded, maxBucket).select(col("band"), col("bkey"))
    // mega-bucket membership (may be corpus-scale on boilerplate-heavy
    // data — never broadcast; the joins below hash on doc_id). `over`
    // itself carries no hint either: its size is corpus-proportional in
    // the worst case (every bucket overflowing), so AQE decides
    // broadcast-vs-shuffle from the aggregated runtime size.
    val clusterDocs = banded.join(over, Seq("band", "bkey"))
      .select(col("doc_id")).distinct()
    val csig = withSigKey(sig.join(clusterDocs, Seq("doc_id")))
    val ckeep = csig.groupBy(col("skey")).agg(min(col("doc_id")).as("__k"))
    val clusterReport = csig.join(ckeep, Seq("skey"))
      .select(col("doc_id"),
        (col("doc_id") === col("__k")).as("keep"),
        when(col("doc_id") =!= col("__k"), col("__k")).as("keeper"),
        lit("cluster").as("route"))
    val pbanded = banded
      .join(over, Seq("band", "bkey"), "left_anti")
      .join(clusterDocs, Seq("doc_id"), "left_anti")
    val dropped = bandSelfJoin(pbanded)
      .where(agreement(col("a.sig"), col("b.sig")) >= minEst)
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(min(col("a.doc_id")).as("__k"))
    val pairReport = sig.join(clusterDocs, Seq("doc_id"), "left_anti")
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("__k").isNull.as("keep"),
        col("__k").as("keeper"),
        lit("pairs").as("route"))
    clusterReport.unionByName(pairReport)
  }

  def minhashDedupRoutedOracle: String = minhashDedupRoutedOracle(16, 0.5)

  private[graft] def minhashDedupRoutedOracle(cap: Int,
      minEst: Double): String =
    s"""WITH ${routedSqlCtes("documents", "", cap, minEst)}
       |SELECT doc_id, keep, keeper, route FROM rep""".stripMargin

  /** The routed-dedup oracle as a CTE block over an arbitrary source
    * relation `src` (prefix `px` keeps names collision-free inside a
    * larger pipeline oracle — [[Curation.curatePipelineV3Oracle]]).
    * Ends with `${px}rep(doc_id, keep, keeper, route)` — one row per
    * source doc, routes disjoint. */
  private[graft] def routedSqlCtes(src: String, px: String = "",
      cap: Int = 16, minEst: Double = 0.5): String =
    s"""${px}sig AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM $src),
       |${px}banded AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM ${px}sig, range(0, $BANDS) AS u(b)),
       |${px}over_b AS (
       |  SELECT band, bkey FROM ${px}banded GROUP BY 1, 2
       |  HAVING count(*) > $cap),
       |${px}cdocs AS (
       |  SELECT DISTINCT doc_id FROM ${px}banded b
       |  WHERE EXISTS (SELECT 1 FROM ${px}over_b o
       |                WHERE o.band = b.band AND o.bkey = b.bkey)),
       |${px}csig AS (
       |  SELECT s.doc_id, md5(array_to_string(s.sig, '|')) AS skey
       |  FROM ${px}sig s JOIN ${px}cdocs c ON s.doc_id = c.doc_id),
       |${px}ckeep AS (SELECT skey, min(doc_id) AS k FROM ${px}csig GROUP BY 1),
       |${px}cluster_report AS (
       |  SELECT c.doc_id, c.doc_id = k.k AS keep,
       |    CASE WHEN c.doc_id <> k.k THEN k.k END AS keeper,
       |    'cluster' AS route
       |  FROM ${px}csig c JOIN ${px}ckeep k ON c.skey = k.skey),
       |${px}pbanded AS (
       |  SELECT * FROM ${px}banded b
       |  WHERE NOT EXISTS (SELECT 1 FROM ${px}over_b o
       |                    WHERE o.band = b.band AND o.bkey = b.bkey)
       |    AND NOT EXISTS (SELECT 1 FROM ${px}cdocs c
       |                    WHERE c.doc_id = b.doc_id)),
       |${px}dropped AS (
       |  SELECT d2 AS doc_id, min(d1) AS k FROM (
       |    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |      cast(len(list_filter(generate_series(1, $K),
       |           i -> a.sig[i] = b.sig[i])) as double) / ${K}.0 AS est
       |    FROM ${px}pbanded a JOIN ${px}pbanded b
       |      ON a.band = b.band AND a.bkey = b.bkey
       |        AND a.doc_id < b.doc_id) p
       |  WHERE est >= $minEst GROUP BY 1),
       |${px}pair_report AS (
       |  SELECT s.doc_id, d.k IS NULL AS keep, d.k AS keeper,
       |    'pairs' AS route
       |  FROM ${px}sig s LEFT JOIN ${px}dropped d ON s.doc_id = d.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM ${px}cdocs c
       |                    WHERE c.doc_id = s.doc_id)),
       |${px}rep AS (
       |  SELECT * FROM ${px}cluster_report
       |  UNION ALL SELECT * FROM ${px}pair_report)""".stripMargin

  /** Linear-cost MinHash dedup: cluster by the FULL signature and keep
    * one representative per cluster. This — not pair enumeration — is
    * the operator a dup-dense 100 TB corpus needs: the 10× ScaleProbe
    * shows candidate-pair output growing ~quadratically on replicated
    * data (243M pairs from 50k docs) while signature clustering stays a
    * single linear groupBy. Pair enumeration ([[minhashLsh]]) remains the
    * right tool for *reporting* near-dup relationships at moderate
    * density; this is the right tool for *removing* them.
    */
  def minhashDedupKeep(s: SparkSession, dir: String): DataFrame =
    withSigKey(md5Sigs(Tables.documents(s, dir)))
      .groupBy(col("skey"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_members"))

  def minhashDedupKeepOracle: String =
    s"""SELECT md5(array_to_string(sig, '|')) AS skey,
       |  min(doc_id) AS keeper, count(*) AS n_members
       |FROM (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents) t
       |GROUP BY 1""".stripMargin

  // ---- Incremental dedup against a persisted corpus index ----------------

  /** Persist a dedup index for a corpus, in two sub-tables:
    *  - `hashes`: one row per DISTINCT content hash with the minimum
    *    doc_id carrying it;
    *  - `bands` (`partitionBy(band)`): one row per distinct
    *    (band, bandKey, signature) with the minimum doc_id in that
    *    signature group.
    * This is the operational shape 100 TB dedup actually runs in — the
    * corpus is indexed ONCE, and each daily increment probes the index;
    * nothing ever re-shuffles the historic corpus. The build-time
    * signature-group reduction is LOSSLESS for probe semantics (exact =
    * min doc_id per hash; near = argmax agreement with min-doc_id
    * tie-break, and agreement is a function of the signature alone, so
    * each group's min doc_id is exactly its tie-break winner) and is
    * what keeps probes flat on dup-dense corpora: bucket occupancy is
    * the number of DISTINCT signatures, which duplication does not
    * grow. Text never enters the index — its size is O(distinct sigs).
    *
    * Each sub-table is a [[graft.table.TxnLog]] snapshot table: a
    * probe resolves the current manifest ONCE at plan time and reads an
    * immutable set of data directories, so maintenance
    * ([[compactDedupIndex]], [[foldStreamIndex]]) running concurrently
    * publishes a NEW version without ever moving the files a running
    * probe holds. Old versions stay readable until [[vacuumDedupIndex]]
    * reclaims them; schedule vacuum with a retention covering the
    * longest-running probe, exactly like any table-format VACUUM. */
  def buildDedupIndex(docs: DataFrame, indexPath: String): Unit =
    writeIndexTables(sigOf(docs), indexPath, overwrite = true)

  private def writeIndexTables(sig0: DataFrame, indexPath: String,
      overwrite: Boolean): Unit = {
    import graft.table.TxnLog
    // the signature table feeds BOTH sub-table writes — without the
    // persist each write re-runs the 12-hash MinHash family over the
    // corpus. Narrow rows (doc_id, h, sig) with the raw text already
    // projected away, so this is the lshPairs persist case (accepted),
    // not the rejected text-cache case; DISK_ONLY for the same
    // never-pin-block-memory rationale.
    val sig = sig0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val (hashes, bands) = indexGroups(sig)
      if (overwrite) {
        TxnLog.overwrite(hashes, s"$indexPath/hashes")
        TxnLog.overwrite(bands, s"$indexPath/bands", Seq("band"))
      } else {
        TxnLog.append(hashes, s"$indexPath/hashes")
        TxnLog.append(bands, s"$indexPath/bands", Seq("band"))
      }
    } finally sig.unpersist()
  }

  /** The index's (hashes, bands) frames at the CURRENT snapshot of each
    * sub-table — the one read path every probe and spec goes through.
    * Directory resolution happens HERE (manifest parse), so the
    * returned frames are pinned: maintenance publishing a new version
    * after this call does not move the files these plans read. */
  def readDedupIndex(spark: SparkSession,
      indexPath: String): (DataFrame, DataFrame) = {
    import graft.table.TxnLog
    (TxnLog.read(spark, s"$indexPath/hashes"),
      TxnLog.read(spark, s"$indexPath/bands"))
  }

  /** Reclaim index versions older than the newest `keepVersions` of
    * each sub-table (data dirs + manifests) — the GC step of the
    * snapshot model. Retention is the concurrency contract: a probe
    * pinned at an old version keeps reading it until vacuum drops it,
    * so keep ≥ 2 versions when probes and maintenance overlap (the
    * default), and schedule vacuum with a horizon covering the
    * longest-running probe. Returns directories removed. */
  def vacuumDedupIndex(spark: SparkSession, indexPath: String,
      keepVersions: Int = 2): Int = {
    import graft.table.TxnLog
    TxnLog.vacuum(spark, s"$indexPath/hashes", keepVersions) +
      TxnLog.vacuum(spark, s"$indexPath/bands", keepVersions)
  }

  /** Append a probed batch's ADMITTED (verdict `novel`) documents into
    * a persisted [[buildDedupIndex]] index — the write-back step of
    * the daily loop, so no day re-indexes the corpus.
    *
    * Cost follows the BATCH, never the index: no existence scan is
    * needed because a novel doc's keys are provably disjoint from the
    * index — an identical content hash would have made the verdict
    * `exact`, and an identical (band, bandKey, signature) group
    * requires an identical FULL signature (the signature is part of
    * the group key), which scores agreement 1.0 ≥ any sane `minEst` →
    * `near`. The only work is a batch-local group dedup (two admitted
    * docs may share a hash or signature group; a full rebuild keeps
    * the min doc_id per group, and so does this), then a blind
    * partitioned append. With day-over-day increasing doc_ids (the
    * ingest contract), the updated index is ROW-IDENTICAL to a fresh
    * rebuild over corpus ∪ admitted — spec'd (DailyDedupLoopSpec) and
    * oracled (`dedup_daily_loop`).
    *
    * PRECONDITION (the composed loop's earlier stages): `admitted`
    * must be within-batch exact-deduped ([[dedupBatch]]) and carry
    * only [[incrementalProbe]]-`novel` docs from THIS index. Feeding
    * `near`/`exact` docs would append duplicate group keys the probe
    * does not expect.
    */
  def updateDedupIndex(admitted: DataFrame, indexPath: String): Unit =
    writeIndexTables(sigOf(admitted), indexPath, overwrite = false)

  // ---- Streaming index layer (micro-batch cadence daily loop) -----------

  /** Write one micro-batch's admitted docs as a REPLAY-IDEMPOTENT
    * stream-index layer: each batch owns the directory pair
    * `hashes/batch_id=<id>` / `bands/batch_id=<id>` and a replay
    * OVERWRITES it with the identical rows (admitted is deterministic
    * given the probe exclusion — see [[streamIndexFrames]]), so a
    * crash at any point between the index write and the table commit
    * re-converges on restart. Lives in its own root (not the base
    * index) so the base layout keeps its partition scheme. */
  private[graft] def writeStreamIndexBatch(admitted: DataFrame,
      streamPath: String, batchId: Long): Unit = {
    // the two writes each evaluate sigOf — deliberately NOT pinned: a
    // per-batch localCheckpoint of the batch-scale signature rows
    // measured +0.9 s per micro-batch, more than re-hashing a batch
    // whose upstream is already checkpointed. The CORPUS-scale build
    // path persists instead (writeIndexTables).
    val (hashes, bands) = indexGroups(sigOf(admitted))
    hashes.write.mode("overwrite")
      .parquet(s"$streamPath/hashes/batch_id=$batchId")
    bands.write.mode("overwrite").partitionBy("band")
      .parquet(s"$streamPath/bands/batch_id=$batchId")
  }

  /** The stream layer's (hashes, bands) frames RESTRICTED to batches
    * BEFORE `beforeBatch` — the probe-time exclusion that makes the
    * micro-batch loop deterministic under replay: a crashed attempt
    * may have written its own `batch_id=<id>` layer already, and
    * probing against it would flip this batch's own docs to `exact`.
    * Partition pruning makes the exclusion a planning-time cut, not a
    * scan. Empty frames when the layer doesn't exist yet. */
  private[graft] def streamIndexFrames(spark: SparkSession,
      streamPath: String, beforeBatch: Long): (DataFrame, DataFrame) = {
    // the schema is EXPLICIT, never inferred: a batch that admitted
    // zero docs leaves an empty batch_id=<id> directory (no part
    // files), and inference over it throws UNABLE_TO_INFER_SCHEMA —
    // caught by the bench's first dup-dense run
    def layer(sub: String, schema: String): DataFrame = {
      val ddl = org.apache.spark.sql.types.StructType.fromDDL(schema)
      val p = new org.apache.hadoop.fs.Path(s"$streamPath/$sub")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p))
        spark.read.schema(ddl).parquet(p.toString)
          .where(col("batch_id") < beforeBatch).drop("batch_id")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(ddl.dropRight(1)))
    }
    (layer("hashes", "h STRING, doc_id BIGINT, batch_id BIGINT"),
      layer("bands", "bkey STRING, sig ARRAY<STRING>, doc_id BIGINT, " +
        "band INT, batch_id BIGINT"))
  }

  /** Test hook: invoked between a maintenance rewrite's snapshot pin
    * and its publish attempt — lets specs interleave a concurrent
    * [[updateDedupIndex]] to drive the CommitConflict retry path
    * deterministically (the lost-update gate). */
  private[graft] var maintenanceBarrier: () => Unit = () => ()

  /** Test hook: invoked by [[foldStreamIndex]] between the two
    * sub-table rewrites — the kill-DURING-fold injection point. */
  private[graft] var foldBarrier: () => Unit = () => ()

  /** Rewrite one index sub-table through the TxnLog's optimistic
    * maintenance commit ([[graft.table.TxnLog.pinned]]): compute the
    * replacement FROM the pinned snapshot and publish with
    * `expectedVersion` — a concurrent daily append landing in between
    * makes the rewrite re-read and retry, so the append is never
    * silently dropped (the losing attempt's data files are
    * unreferenced and reclaimed by [[vacuumDedupIndex]]). */
  private def rewriteIndexSub(spark: SparkSession, table: String,
      partCols: Seq[String])(
      transform: (DataFrame, graft.table.TxnLog.Snapshot) => DataFrame)
      : Unit = {
    import graft.table.TxnLog
    TxnLog.pinned(spark, table, "index rewrite") { snap =>
      val out = transform(
        TxnLog.read(spark, table, asOfVersion = Some(snap.version)), snap)
      maintenanceBarrier()
      TxnLog.rewrite(out, table, partCols, expectedVersion = snap.version)
    }.getOrElse(throw new IllegalArgumentException(
      s"no index sub-table at $table"))
  }

  /** Total bytes of the data directories a snapshot references
    * (metadata-scale: one content summary per directory). */
  private def snapshotBytes(spark: SparkSession, table: String,
      snap: graft.table.TxnLog.Snapshot): Long = {
    import org.apache.hadoop.fs.Path
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(root)
    snap.dataDirs
      .map(d => fs.getContentSummary(new Path(q, d)).getLength).sum
  }

  /** Periodic maintenance for an index that has accumulated
    * [[updateDedupIndex]] appends: every daily append adds one file
    * per band partition (plus one to `hashes`), and at daily cadence
    * the FILE count — not the row count — becomes the probe's
    * scan-planning cost (365 appends = ~1100 band files for three
    * bands). Rewrites each sub-table coalesced (~128 MB targets for
    * `hashes`; one file per band via a band-keyed repartition) —
    * content is row-identical by construction (group keys are unique
    * under the update invariant, so this is pure layout). Linear in
    * the INDEX (not the corpus), run at maintenance cadence.
    *
    * SAFE under a concurrently running probe: the rewrite
    * publishes a new TxnLog version; a probe pinned at the old version
    * keeps its files until [[vacuumDedupIndex]] drops them. A
    * concurrent [[updateDedupIndex]] is never lost: the publish
    * carries the pinned version as `expectedVersion`, so an interposed
    * append conflicts the commit and the rewrite retries against the
    * post-append snapshot (spec'd in DedupIndexSnapshotSpec). */
  def compactDedupIndex(spark: SparkSession, indexPath: String): Unit = {
    rewriteIndexSub(spark, s"$indexPath/hashes", Nil) { (df, snap) =>
      val bytes = snapshotBytes(spark, s"$indexPath/hashes", snap)
      val target = 128L << 20
      val files = math.max(1L, (bytes + target - 1) / target).toInt
      df.repartition(files)
    }
    rewriteIndexSub(spark, s"$indexPath/bands", Seq("band"))((df, _) =>
      df.repartition(col("band")))
  }

  /** Fold a streaming ingest's accumulated per-batch index layers
    * ([[writeStreamIndexBatch]]) with `batch_id < uptoBatch` into the
    * BASE index — the maintenance closure of the micro-batch loop:
    * without it the stream layer grows one directory pair per batch
    * forever, and the probe's union pays the file-listing cost.
    *
    * RE-RUN IDEMPOTENT under any crash: the rewrite reads
    * base ∪ layers and dedups on the group keys (min doc_id — a no-op
    * on the disjoint-keys invariant, an exact dedup when a previous
    * fold crashed between publish and layer delete), publishes as a
    * new TxnLog version (same optimistic commit as
    * [[compactDedupIndex]]), then deletes the folded layers. A crash
    * at any point re-converges on re-run (kill-during-fold spec'd in
    * StreamDedupIndexSpec via [[foldBarrier]]). SAFE under a
    * concurrently running probe — the probe's pinned version outlives
    * the fold until [[vacuumDedupIndex]]; a concurrent base-index
    * append conflicts the publish and the fold retries. Linear in the
    * index. */
  def foldStreamIndex(spark: SparkSession, indexPath: String,
      streamPath: String, uptoBatch: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // nothing below the fold line on either sub-table → no-op. This is
    // what makes a scheduled in-loop fold (ingestDedupIncremental's
    // foldEvery) cheap on replays and idle boundaries: without it every
    // crossing pays a full index rewrite even when the layers were
    // already folded. Safe because the leftover-layer crash window
    // (publish done, delete not) always HAS a layer below the line.
    val hasLayers = Seq("hashes", "bands").exists { sub =>
      val p = new Path(s"$streamPath/$sub")
      fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        n.startsWith("batch_id=") &&
          scala.util.Try(n.stripPrefix("batch_id=").toLong)
            .toOption.exists(_ < uptoBatch)
      }
    }
    if (!hasLayers) return
    val (sh, sb) = streamIndexFrames(spark, streamPath, uptoBatch)
    rewriteIndexSub(spark, s"$indexPath/hashes", Nil)((df, _) =>
      minDocPer(df.unionByName(sh), HashGroup))
    foldBarrier()
    rewriteIndexSub(spark, s"$indexPath/bands", Seq("band"))((df, _) =>
      minDocPer(df.unionByName(sb), BandGroup).repartition(col("band")))
    // folded layers go last: a crash before this point re-folds the
    // same rows and the group-key dedup absorbs them. Non-layer names
    // (stray staging/temp dirs) are skipped, not thrown on — a
    // maintenance abort AFTER the rewrites published would strand the
    // layers as permanently re-folded noise.
    Seq("hashes", "bands").foreach { sub =>
      val p = new Path(s"$streamPath/$sub")
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val id = st.getPath.getName match {
          case n if n.startsWith("batch_id=") =>
            scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
          case _ => None
        }
        if (id.exists(_ < uptoBatch)) fs.delete(st.getPath, true)
      }
    }
  }

  /** Within-batch exact dedup — stage 1 of the daily loop (the
    * batch-local [[exactDocDedup]]): keep the minimum-doc_id row per
    * identical text. [[incrementalProbe]] compares batch-vs-index
    * only, so identical NEW docs arriving in one batch must collapse
    * here or both land `novel`. */
  def dedupBatch(batch: DataFrame): DataFrame =
    batch
      .groupBy(md5(col("text")).as("__h"))
      .agg(min(struct(col("doc_id"), col("text"))).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.text").as("text"))

  /** Probe a NEW batch of documents against a [[buildDedupIndex]] index.
    * Verdict per batch document:
    *  - `exact`  — an indexed document has the same content hash
    *               (match = min such corpus doc_id);
    *  - `near`   — shares an LSH band with an indexed document and the
    *               signature agreement ≥ `minEst` (match = the corpus
    *               doc with the highest agreement, ties to the smaller
    *               doc_id);
    *  - `novel`  — neither.
    *
    * Scale shape: the batch (a daily increment — small relative to the
    * corpus by definition) is BROADCAST on both probe joins, so the
    * index side streams its parquet scan with zero shuffle: probe cost
    * is one pass over the index regardless of history size, and the
    * per-band layout keeps each scan task's collision set local. The
    * only shuffled rows are the matched candidates (output-sized). */
  def incrementalProbe(spark: SparkSession, batch: DataFrame,
      indexPath: String, minEst: Double = 0.5): DataFrame = {
    val (hashes, bands) = readDedupIndex(spark, indexPath)
    probeFrames(spark, batch, hashes, bands, minEst)
  }

  /** [[incrementalProbe]] against explicit index frames — the streaming
    * ingest unions the base index with its per-batch stream layer
    * before probing ([[streamIndexFrames]]); semantics identical. */
  private[graft] def probeFrames(spark: SparkSession, batch: DataFrame,
      hashes: DataFrame, bands: DataFrame,
      minEst: Double): DataFrame = {
    // bsig feeds three plan branches; a DISK_ONLY persist was measured
    // and REJECTED (A/B at 10×: 21.2–24.4 s persisted vs 22.9 s
    // recomputed — inside run noise; the columnar cache build of the
    // text-derived signatures costs what the recompute costs, the
    // same outcome as the segment-dedup text-cache A/B)
    val bsig = sigOf(batch).select(col("doc_id").as("b_id"),
      col("h").as("bh"), col("sig").as("bsig"))
    // exact: stream the hash table once, broadcast the batch's hashes
    // (hash rows are unique post-build, so the join needs no re-agg)
    val exact = hashes
      .join(broadcast(bsig.select(col("bh")).distinct()), col("h") === col("bh"))
      .select(col("bh"), col("doc_id").as("exact_match"))
    // near: broadcast the batch's banded keys; one candidate row per
    // (batch doc, signature group, band) collision, deduped per pair
    val bbandKeys = bandRows(bsig.withColumnRenamed("bsig", "sig"),
      md5BandKeys, col("b_id"), col("sig").as("bsig"))
    val best = bands
      .join(broadcast(bbandKeys), Seq("band", "bkey"))
      .groupBy(col("b_id"), col("doc_id"))
      .agg(max(agreement(col("bsig"), col("sig"))).as("est"))
      .groupBy(col("b_id"))
      .agg(max(struct(col("est"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("b_id").as("n_id"), (-col("m.nid")).as("near_match"),
        col("m.est").as("near_est"))
    bsig
      .join(exact, Seq("bh"), "left")
      .join(best, col("b_id") === col("n_id"), "left")
      .select(col("b_id").as("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_est") >= minEst, lit("near"))
          .otherwise(lit("novel")).as("verdict"),
        when(col("exact_match").isNotNull, col("exact_match"))
          .when(col("near_est") >= minEst, col("near_match"))
          .as("match_doc_id"),
        when(col("exact_match").isNull && col("near_est") >= minEst,
          col("near_est")).as("est_jaccard"))
  }

  /** Oracled entry: split `documents` deterministically into a 90%
    * corpus (indexed to a temp dir through the REAL persisted-parquet
    * path) and a composed probe batch exercising every verdict:
    *  - held-out docs (`doc_id % 10 = 7`) — the corpus is dup-dense, so
    *    these mostly land `near`;
    *  - REPLAYED corpus pages (`doc_id % 25 = 3`, re-keyed +1e6, text
    *    unchanged) — the re-crawled-identical-page case → `exact`;
    *  - MUTATED pages (`doc_id % 10 = 4`, re-keyed +2e6, every token
    *    salted with the source doc_id) — disjoint vocabulary → `novel`.
    * The DuckDB twin computes the identical split/derivation/hashes/
    * banding/argmax in SQL — the parquet round-trip must be
    * value-transparent for the row to stay green. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tmp = graft.session.Scratch.dir("graft-incr") + "/idx"
    buildDedupIndex(docs.filter(col("doc_id") % 10 =!= 7), tmp)
    val batch = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 25 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", expr(
            """transform(split(text, ' '),
              |  t -> concat(t, '_', cast(doc_id as string)))""".stripMargin))
            .as("text")))
    incrementalProbe(s, batch, tmp)
  }

  def incrementalDedupOracle: String =
    s"""WITH batchd AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 3
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |    array_to_string(list_transform(string_split(text, ' '),
       |      t -> concat(t, '_', cast(doc_id as varchar))), ' ')
       |  FROM documents WHERE doc_id % 10 = 4),
       |csig AS (
       |  SELECT doc_id, md5(text) AS h,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents WHERE doc_id % 10 <> 7),
       |bsig AS (
       |  SELECT doc_id, md5(text) AS h,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM batchd),
       |ex AS (
       |  SELECT b.doc_id AS b_id, min(c.doc_id) AS exact_match
       |  FROM bsig b JOIN csig c ON b.h = c.h GROUP BY 1),
       |cband AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM csig, range(0, $BANDS) AS u(b)),
       |bband AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM bsig, range(0, $BANDS) AS u(b)),
       |cand AS (
       |  SELECT bb.doc_id AS b_id, cb.doc_id AS c_id,
       |    max(cast(len(list_filter(generate_series(1, $K),
       |        i -> bb.sig[i] = cb.sig[i])) as double) / ${K}.0) AS est
       |  FROM bband bb JOIN cband cb
       |    ON bb.band = cb.band AND bb.bkey = cb.bkey
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT b_id, c_id, est FROM (
       |    SELECT b_id, c_id, est, row_number() OVER (
       |      PARTITION BY b_id ORDER BY est DESC, c_id ASC) AS rn
       |    FROM cand) z WHERE rn = 1)
       |SELECT b.doc_id,
       |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact'
       |       WHEN best.est >= 0.5 THEN 'near'
       |       ELSE 'novel' END AS verdict,
       |  CASE WHEN ex.exact_match IS NOT NULL THEN ex.exact_match
       |       WHEN best.est >= 0.5 THEN best.c_id END AS match_doc_id,
       |  CASE WHEN ex.exact_match IS NULL AND best.est >= 0.5
       |       THEN best.est END AS est_jaccard
       |FROM bsig b
       |LEFT JOIN ex ON ex.b_id = b.doc_id
       |LEFT JOIN best ON best.b_id = b.doc_id""".stripMargin

  /** Oracled entry for the COMPOSED daily loop — the operational shape
    * the round-12 verdict asked for (build → probe day 1 → admit novel
    * → [[updateDedupIndex]] → probe day 2), exercising every stage
    * contract:
    *  - day-1 batch = half the held-out docs (near/novel mix) plus
    *    replayed corpus pages (+1e6, → `exact`), first collapsed by
    *    [[dedupBatch]] (within-batch identical texts);
    *  - novel docs are written back through the REAL persisted append
    *    path;
    *  - day-2 batch = the other half of the held-out docs (their near
    *    matches may now be DAY-1 ADMITTED docs — the update is visible
    *    to fuzzy matching) plus replays of the admitted docs (+3e6 —
    *    must come back `exact` against the day-1 append).
    * The DuckDB twin recomputes both days from the raw table, with
    * day-2 verdicts against corpus ∪ day-1-novel — i.e. the oracle IS
    * the full-rebuild equivalence the update claims. Day-1 results are
    * frozen via localCheckpoint before the append: the probe reads the
    * index lazily, and day 1 must not observe day 1's own write-back. */
  def dailyDedupLoop(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idx = graft.session.Scratch.dir("graft-daily") + "/idx"
    buildDedupIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val b1 = dedupBatch(
      docs.filter(col("doc_id") % 20 === 7)
        .select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 25 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))))
    val out1 = incrementalProbe(s, b1, idx).localCheckpoint()
    // admitted feeds BOTH index sub-table writes and the day-2 batch -
    // checkpoint it once instead of recomputing the batch dedup + join
    // three times
    val admitted = b1.join(
      out1.filter(col("verdict") === "novel").select(col("doc_id")),
      Seq("doc_id")).localCheckpoint()
    updateDedupIndex(admitted, idx)
    // maintenance compaction + vacuum run ON the oracled path: both
    // must be invisible to the day-2 probe (layout/GC-only), so the
    // DuckDB twin — which never sees the index files — gates that
    // invariant too. keepVersions=1 is safe here because no probe is
    // in flight; the concurrent-probe retention contract is spec'd in
    // DedupIndexSnapshotSpec
    compactDedupIndex(s, idx)
    vacuumDedupIndex(s, idx, keepVersions = 1)
    val b2 = dedupBatch(
      docs.filter(col("doc_id") % 20 === 17)
        .select(col("doc_id"), col("text"))
        .unionAll(admitted.select((col("doc_id") + 3000000L).as("doc_id"),
          col("text"))))
    val out2 = incrementalProbe(s, b2, idx)
    out1.withColumn("day", lit(1)).unionAll(out2.withColumn("day", lit(2)))
      .select(col("day"), col("doc_id"), col("verdict"),
        col("match_doc_id"), col("est_jaccard"))
  }

  def dailyDedupLoopOracle: String = {
    // one verdict block per day, instantiated over (bsigN, csigN) —
    // the same hash/band/argmax math as incrementalDedupOracle
    def day(n: Int): String =
      s"""ex$n AS (
         |  SELECT b.doc_id AS b_id, min(c.doc_id) AS exact_match
         |  FROM bsig$n b JOIN csig$n c ON b.h = c.h GROUP BY 1),
         |cband$n AS (
         |  SELECT doc_id, sig, b AS band,
         |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
         |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
         |  FROM csig$n, range(0, $BANDS) AS u(b)),
         |bband$n AS (
         |  SELECT doc_id, sig, b AS band,
         |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
         |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
         |  FROM bsig$n, range(0, $BANDS) AS u(b)),
         |cand$n AS (
         |  SELECT bb.doc_id AS b_id, cb.doc_id AS c_id,
         |    max(cast(len(list_filter(generate_series(1, $K),
         |        i -> bb.sig[i] = cb.sig[i])) as double) / ${K}.0) AS est
         |  FROM bband$n bb JOIN cband$n cb
         |    ON bb.band = cb.band AND bb.bkey = cb.bkey
         |  GROUP BY 1, 2),
         |best$n AS (
         |  SELECT b_id, c_id, est FROM (
         |    SELECT b_id, c_id, est, row_number() OVER (
         |      PARTITION BY b_id ORDER BY est DESC, c_id ASC) AS rn
         |    FROM cand$n) z WHERE rn = 1),
         |out$n AS (
         |  SELECT b.doc_id,
         |    CASE WHEN ex.exact_match IS NOT NULL THEN 'exact'
         |         WHEN best.est >= 0.5 THEN 'near'
         |         ELSE 'novel' END AS verdict,
         |    CASE WHEN ex.exact_match IS NOT NULL THEN ex.exact_match
         |         WHEN best.est >= 0.5 THEN best.c_id END AS match_doc_id,
         |    CASE WHEN ex.exact_match IS NULL AND best.est >= 0.5
         |         THEN best.est END AS est_jaccard
         |  FROM bsig$n b
         |  LEFT JOIN ex$n ex ON ex.b_id = b.doc_id
         |  LEFT JOIN best$n best ON best.b_id = b.doc_id)""".stripMargin
    val sigList = s"""list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t)))))"""
      .stripMargin
    s"""WITH b1raw AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 7
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 3),
       |b1 AS (
       |  SELECT min(doc_id) AS doc_id, min(text) AS text
       |  FROM b1raw GROUP BY md5(text)),
       |csig1 AS MATERIALIZED (
       |  SELECT doc_id, md5(text) AS h,
       |    $sigList AS sig
       |  FROM documents WHERE doc_id % 10 <> 7),
       |bsig1 AS MATERIALIZED (
       |  SELECT doc_id, text, md5(text) AS h,
       |    $sigList AS sig
       |  FROM b1),
       |${day(1)},
       |adm AS MATERIALIZED (
       |  SELECT b.doc_id, b.text, b.h, b.sig
       |  FROM bsig1 b JOIN out1 o
       |    ON o.doc_id = b.doc_id AND o.verdict = 'novel'),
       |csig2 AS (
       |  SELECT doc_id, h, sig FROM csig1
       |  UNION ALL SELECT doc_id, h, sig FROM adm),
       |b2raw AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 17
       |  UNION ALL
       |  SELECT doc_id + 3000000, text FROM adm),
       |b2 AS (
       |  SELECT min(doc_id) AS doc_id, min(text) AS text
       |  FROM b2raw GROUP BY md5(text)),
       |bsig2 AS MATERIALIZED (
       |  SELECT doc_id, md5(text) AS h,
       |    $sigList AS sig
       |  FROM b2),
       |${day(2)}
       |SELECT 1 AS day, doc_id, verdict, match_doc_id, est_jaccard FROM out1
       |UNION ALL
       |SELECT 2 AS day, doc_id, verdict, match_doc_id, est_jaccard FROM out2"""
      .stripMargin
  }

  /** Production MinHash: same pipeline with xxhash64 (codegen'd long
    * hashing, no string churn), 32 components in 4 bands of 8. No SQL
    * oracle (hash family is Spark-specific); spec-tested instead.
    */
  def minhashLshFast(s: SparkSession, dir: String): DataFrame =
    lshPairs(fastSigs(Tables.documents(s, dir)), fastBandKeys,
      agreement(col("sig1"), col("sig2"), FastK))

  /** Pairs of documents with IDENTICAL distinct-token sets — the
    * provable-recall subset for any token-set hash family: identical
    * sets give identical minhash/simhash signatures, so every such pair
    * MUST surface as an LSH candidate in every band. Being pure set
    * algebra, the pair list is exactly SQL-computable, which turns the
    * Spark-specific xxhash64 pipelines into differentially testable
    * operators: their candidate output joined to this set must equal
    * this set — a missing pair means a broken signature, banding, or
    * candidate join. */
  private def tokenSetPairs(s: SparkSession, dir: String): DataFrame = {
    // both self-join sides re-ran the tokenize + sort + md5 key pass —
    // persist the narrow (doc_id, 32-char key) rows once (r17;
    // MEMORY_AND_DISK, doc-count-scale, [[releaseCaches]] lifecycle)
    val keyed = Tables.documents(s, dir).select(col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
        .as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(keyed)
    val a = keyed.as("a"); val b = keyed.as("b")
    a.join(b, col("a.tk") === col("b.tk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
  }

  def identicalTokenSetPairsOracle: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
      |        ' ')) AS tk
      |  FROM documents)
      |SELECT a.doc_id AS d1, b.doc_id AS d2
      |FROM k a JOIN k b ON a.tk = b.tk AND a.doc_id < b.doc_id""".stripMargin

  /** Oracle-gated recall check of the production minhash: xxhash64-LSH
    * candidates restricted to identical-token-set pairs = ALL such pairs
    * iff the pipeline is correct (see [[tokenSetPairs]]).
    *
    * The recall property quantifies over the candidate pair SET, so
    * this enumerates candidates only ([[lshCandidatePairs]]): the
    * signature re-joins of [[minhashLshFast]] exist only to compute an
    * estimate this entry never observes. */
  def minhashFastVerified(s: SparkSession, dir: String): DataFrame = {
    // one task per core for the signatures, as in minhashLsh
    val sig = fastSigs(Jobs.spread(Tables.documents(s, dir)))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    liveCaches.add(sig)
    lshCandidatePairs(sig, fastBandKeys)
      .join(tokenSetPairs(s, dir), Seq("d1", "d2"))
      .select(col("d1"), col("d2"))
  }

  /** Same provable-recall gate for the simhash pipeline: identical token
    * sets vote identical bits → hamming 0 → always within threshold. */
  def simhashVerified(s: SparkSession, dir: String): DataFrame =
    simhash(s, dir).select(col("d1"), col("d2"))
      .join(tokenSetPairs(s, dir), Seq("d1", "d2"))
      .select(col("d1"), col("d2"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS local fingerprinting algorithm): hash every character k-gram,
    * keep the minimum hash of each sliding window of `w` consecutive
    * k-grams, dedup — a guarantee-bearing subset of the k-gram hashes
    * (every match of length ≥ w+k-1 shares a fingerprint). The md5 hash
    * family keeps it engine-portable for the differential oracle.
    *
    * Scale: fingerprinting is a linear map; the pair stage is the same
    * bounded-scope exploded-fingerprint equi-join as [[ngramJaccard]] —
    * at corpus scale fingerprints become the posting-list table and the
    * join keys on (fingerprint) directly.
    */
  private val WK = 4 // k-gram length
  private val WW = 5 // window size

  /** Per-k-gram hashes materialized ONCE (`__kh[i]` = hash of the gram at
    * i), then each window takes the min of a slice — inlining the md5
    * inside the window lambda would recompute every gram's hash WW times. */
  private def winnowFp = expr(
    s"""array_distinct(transform(
       |  sequence(1, greatest(size(__kh) - ${WW - 1}, 1)),
       |  j -> array_min(slice(__kh, j, $WW))))""".stripMargin)

  private def withKgramHashes(df: DataFrame): DataFrame =
    df.withColumn("__kh", expr(
      s"""transform(sequence(1, greatest(length(text) - ${WK - 1}, 1)),
         |  i -> md5(substring(text, i, $WK)))""".stripMargin))

  /** Pairs sharing ≥45 winnowed fingerprints within the bounded source
    * scope (thresholds from the measured shared-count distribution:
    * p90 = 44 on this corpus). */
  def winnowDedup(s: SparkSession, dir: String): DataFrame = {
    // both self-join sides re-ran the per-character md5 k-gram pass
    // (length(text) digests per document — the most hash-dense map in
    // the repo) — persist the NARROW exploded fingerprint rows once
    // (doc_id, source, f; no text), the lshPairs signature-persist
    // case. DISK_ONLY: corpus-proportional rows must not pin
    // block-manager memory.
    val fp = withKgramHashes(Tables.documents(s, dir)
        .filter(col("source").isin(jaccardSources: _*)))
      .select(col("doc_id"), col("source"), explode(winnowFp).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    liveCaches.add(fp)
    val a = fp.as("a"); val b = fp.as("b")
    a.join(b,
        col("a.f") === col("b.f") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 45)
  }

  def winnowDedupOracle: String = {
    val src = jaccardSources.map(x => s"'$x'").mkString(",")
    s"""WITH fp AS (
       |  SELECT doc_id, source, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(greatest(length(text)-${WK - 1},1)
       |                                -${WW - 1}, 1)),
       |    j -> list_min(list_transform(generate_series(j, j+${WW - 1}),
       |           i -> md5(substring(text, i, $WK))))))) AS f
       |  FROM documents WHERE source IN ($src))
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
       |FROM fp a JOIN fp b
       |  ON a.f = b.f AND a.source = b.source AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= 45""".stripMargin
  }

  /** SimHash near-dup detection: 64-bit signature from token-hash bit
    * votes, LSH on four 16-bit bands, pairs deduped before the exact
    * Hamming check. All bit arithmetic on longs inside codegen.
    * Spark-only (xxhash64 family); spec-tested.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // bit votes in ONE fused pass per document (native `simhash64`
    // expression, bit-identical to the explode + 64-SUM groupBy form it
    // replaced and spec-pinned against it) — the signature is now a pure
    // codegen'd map over the scan: zero exchanges before banding, where
    // the aggregation form paid a full shuffle on doc_id
    graft.expr.SimHash64.register(s)
    // the signature frame feeds FOUR branches (both banded self-join
    // sides + the s1/s2 hamming lookups) and each recompute re-runs the
    // tokenize + 64-bit voting pass over the corpus — persist the
    // narrow (doc_id, long) rows once (MEMORY_AND_DISK: doc-count-scale
    // narrow rows; [[releaseCaches]] lifecycle)
    val sig = withToks(Tables.documents(s, dir))
      .select(col("doc_id"),
        call_function("simhash64", col("__toks")).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(sig)
    val bandKeys = expr(
      "transform(sequence(0, 3), b -> shiftright(sig, b * 16) & 65535L)")
    withPairSigs(lshCandidatePairs(sig, bandKeys), sig)
      .select(col("d1"), col("d2"),
        expr("bit_count(sig1 ^ sig2)").as("hamming"))
      .filter(col("hamming") <= 16)
  }

  // ---- connected-component dedup -----------------------------------------

  /** Distributed connected components by alternating large-star /
    * small-star contractions (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the missing piece between pair
    * ENUMERATION ([[minhashLsh]]) and cluster REMOVAL: signature-key
    * clustering ([[minhashDedupKeep]]) only merges docs whose FULL
    * signatures collide, so a chain A~B~C where A and C differ never
    * folds into one group. CC over the verified candidate edges is the
    * transitive closure a production fuzzy-dedup pass keeps one document
    * per.
    *
    * Shape at scale: each round is two self-contained
    * groupBy-min + broadcast-free equi-joins over the edge list (no
    * adjacency materialization, no driver-side graph), converging in
    * O(log n) rounds on any input; every round `localCheckpoint`s so
    * lineage stays O(1) instead of O(rounds). Skewed components are the
    * algorithm's own worst case (the root of a giant component becomes a
    * high-degree star center) — that hot key is exactly what the paper's
    * alternation bounds, and AQE's skew-join splitting handles the
    * residual at cluster scale.
    *
    * `edges0`: two numeric columns (endpoints). Returns every edge
    * endpoint labeled with its component's minimum node id:
    * (`node`, `component`).
    */
  def connectedComponents(edges0: DataFrame, maxRounds: Int = 25)
      : DataFrame = {
    val cols = edges0.columns
    require(cols.length == 2, s"edge frame needs 2 columns, got $cols")
    var edges = edges0
      .select(greatest(col(cols(0)), col(cols(1))).as("u"),
        least(col(cols(0)), col(cols(1))).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint()

    // CANONICAL-FORM invariant (r16): every edge frame in this loop
    // carries (bigger, smaller) rows — the seed is (greatest, least),
    // largeStar emits (v, m) with v > u ≥ m, and smallStar emits
    // (v, m) / (u, m) with m the strict group minimum. Both stars
    // exploit it: the undirected doubling is built only where the
    // aggregation genuinely needs both directions, so largeStar's
    // join probe shuffles |E| rows instead of filtering 2|E| (guide
    // §2.3: shuffle fewer bytes), and smallStar skips the doubling
    // entirely (its "strictly smaller neighbors of u" IS the
    // canonical frame).
    def nbrs(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // large-star: every neighbor LARGER than u links to
    // min(N(u) ∪ {u}) — emitted (bigger, smaller) by construction.
    // The neighbors-larger-than-u set of a canonical frame is exactly
    // its reversal.
    def largeStar(e: DataFrame): DataFrame = {
      val m = nbrs(e).groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      e.select(col("v").as("u"), col("u").as("v")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: u and its strictly-smaller neighbors all link to the
    // smallest of them (each undirected edge grouped once, under its
    // larger endpoint); a canonical frame IS that neighbor list
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(m, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v")))
    }

    // fixpoint detection: the canonical edge set is stable under both
    // stars exactly when every node points directly at its component
    // min. Cheap order-insensitive fingerprint first (count + DECIMAL
    // sum of row hashes — longs would overflow under ANSI), then an
    // EXACT set-difference confirmation so a hash collision can never
    // end the loop early with wrong labels.
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }

    var fp = fingerprint(edges)
    var round = 0
    // empty ⟺ the fingerprint's count is 0 — no separate isEmpty job
    var done = fp._1 == 0L
    while (!done && round < maxRounds) {
      val next = smallStar(largeStar(edges)).distinct().localCheckpoint()
      val nfp = fingerprint(next)
      done = nfp._1 == fp._1 && nfp._2.compareTo(fp._2) == 0 &&
        next.exceptAll(edges).isEmpty
      edges.unpersist(false)
      fp = nfp
      edges = next
      round += 1
    }
    require(done, s"connected components did not converge in $maxRounds rounds")
    // the O(log n) claim's observable: the sf-scale harness records the
    // measured round count beside wall time (BASELINE.md CC triples)
    lastCcRounds = round
    System.err.println(s"[cc] converged in $round rounds")
    edges.select(col("u").as("node"), col("v").as("component"))
  }

  /** Rounds the most recent [[connectedComponents]] call took to
    * converge (large-star/small-star iterations). */
  @volatile var lastCcRounds: Int = 0

  /** CC fuzzy dedup over the corpus: md5-family MinHash LSH candidates,
    * kept as edges when ≥ 8 of the 12 signature components agree (an
    * INTEGER threshold — differentially portable, no float boundary),
    * then transitive closure. Output: one row per document with the
    * component it belongs to (component = min doc_id; singletons label
    * themselves). Downstream keep-one dedup is `WHERE doc_id = component`.
    */
  def ccDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // exact-dedup first, fuzzy on uniques: docs with IDENTICAL full
    // signatures share every band key and every agreement count, so
    // running LSH + CC on one representative per signature produces
    // bit-identical labels while shrinking the (quadratic-in-dup-density)
    // candidate join by the corpus's duplication factor — on a dup-dense
    // corpus this is the difference between joining reps and joining
    // everything. Representative = min doc_id of the signature group,
    // so the component min over reps IS the component min over docs.
    val sigAll = withSigKey(md5Sigs(docs))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    liveCaches.add(sigAll)
    val reps = sigAll.groupBy("skey").agg(min(col("doc_id")).as("rep"))
    val sig = sigAll.join(reps.select(col("rep").as("doc_id")), "doc_id")
      .select(col("doc_id"), col("sig"))
    // lshPairs names its estimate column est_jaccard; here the estimate
    // IS the raw agreement count, so the threshold is the integer 8
    val edges = lshPairs(sig, md5BandKeys, matchCount(col("sig1"), col("sig2")))
      .where(col("est_jaccard") >= 8)
      .select(col("d1"), col("d2"))
    val labels = connectedComponents(edges)
    sigAll.select(col("doc_id"), col("skey"))
      .join(reps, "skey")
      .join(labels.withColumnRenamed("node", "rep"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("component"))
  }

  /** Label-propagation steps for the oracle's transitive closure —
    * UNROLLED, not recursive: the old `WITH RECURSIVE walk` enumerated
    * every (node, reachable-label) pair, which explodes combinatorially
    * on dup-dense components (the sf0.1 DuckDB timeout that kept the CC
    * pair out of the 10× gate). Each step is linear work instead:
    *
    *   l_k(v) = min( l_{k-1}(v),                    — keep
    *                 min_{u ∈ N(v)} l_{k-1}(u),     — neighbor min
    *                 l_{k-1}(l_{k-1}(v)) )          — pointer jump
    *
    * The pointer-jump term makes distance-to-root shrink geometrically
    * (≥ halving per step once propagation reaches the root's frontier),
    * so `steps` = 10 converges for any component of diameter ≤ 512
    * (≤ 2^(steps−1)); size `steps` up from that bound for a wider
    * corpus — 512 is orders beyond the dup-cluster diameters here (the Spark
    * side's large-star/small-star observably converges in 4-5 rounds).
    * Verified at both gate scales: a non-converged chain would
    * hash-mismatch the Spark labels and fail the gate loudly. */
  private def ccLabelCtes(steps: Int): String =
    (1 to steps).map { i =>
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at
      // every reference, so 10 chained steps each referencing und and
      // l_{k-1} 3× would otherwise expand into an exponential tree of
      // parquet scans (observed as "Too many open files" at sf0.01)
      s""",
         |l$i AS MATERIALIZED (
         |  SELECT t.node, min(t.lab) AS lab FROM (
         |    SELECT node, lab FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.u, p.lab FROM l${i - 1} p JOIN und e ON p.node = e.v
         |    UNION ALL
         |    SELECT a.node, b.lab
         |    FROM l${i - 1} a JOIN l${i - 1} b ON a.lab = b.node
         |  ) t GROUP BY t.node)""".stripMargin
    }.mkString

  private val ccSteps = 10

  /** The signature → banding → candidate → edge → transitive-closure
    * CTE chain shared by [[ccDedupOracle]] and [[ccBestKeepOracle]]. */
  private def ccWalkCtes: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(0, ${K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, sig, b AS band,
       |    md5(concat_ws('|', sig[b * $ROWS + 1], sig[b * $ROWS + 2],
       |                       sig[b * $ROWS + 3], sig[b * $ROWS + 4])) AS bkey
       |  FROM sig, range(0, $BANDS) AS u(b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |edges AS (
       |  SELECT p.d1, p.d2
       |  FROM pairs p JOIN sig s1 ON s1.doc_id = p.d1
       |               JOIN sig s2 ON s2.doc_id = p.d2
       |  WHERE len(list_filter(generate_series(1, $K),
       |        i -> s1.sig[i] = s2.sig[i])) >= 8),
       |und AS MATERIALIZED (
       |  SELECT d1 AS u, d2 AS v FROM edges
       |  UNION SELECT d2, d1 FROM edges),
       |l0 AS MATERIALIZED (
       |  SELECT doc_id AS node, doc_id AS lab FROM documents)""".stripMargin +
      ccLabelCtes(ccSteps)

  def ccDedupOracle: String =
    s"""$ccWalkCtes
       |SELECT node AS doc_id, lab AS component FROM l$ccSteps""".stripMargin

  /** QUALITY-AWARE representative selection over the fuzzy-dup
    * components: per connected component keep the HIGHEST-quality
    * document (the [[Text.qualityScore]] formula; ties to the lowest
    * doc_id) instead of the arbitrary lowest id — what a production
    * dedup pass actually ships to training (SemDeDup §4 and the
    * RefinedWeb pipeline both select representatives, not survivors
    * by id). Cost on top of [[ccDedup]]: one map-side quality
    * projection and one partial-aggregable per-component argmax —
    * no extra joins over the corpus. */
  def ccBestKeep(s: SparkSession, dir: String): DataFrame = {
    val labels = ccDedup(s, dir)
    val q = Tables.documents(s, dir)
      .select(col("doc_id"), Text.qualityCol.as("quality"))
    labels.join(q, "doc_id")
      .groupBy(col("component"))
      .agg(min(struct((-col("quality")).as("nq"), col("doc_id"))).as("b"))
      .select(col("b.doc_id").as("doc_id"), col("component"))
  }

  def ccBestKeepOracle: String = {
    s"""$ccWalkCtes,
       |comp AS (
       |  SELECT node AS doc_id, lab AS component FROM l$ccSteps),
       |q AS (
       |  SELECT doc_id,
       |    ${Text.qualitySql} AS quality
       |  FROM documents)
       |SELECT doc_id, component FROM (
       |  SELECT comp.doc_id, comp.component,
       |    row_number() OVER (PARTITION BY comp.component
       |      ORDER BY q.quality DESC, comp.doc_id) AS rk
       |  FROM comp JOIN q ON comp.doc_id = q.doc_id) z
       |WHERE rk = 1""".stripMargin
  }

  /** EXACT SEGMENT dedup — the RefinedWeb/MassiveText "exact line
    * dedup" pass (Penedo et al. 2023, arXiv:2306.01116 §3.3; Rae et
    * al. 2021 repetition removal; Lee et al. 2021, arXiv:2107.06499
    * fixed-granularity exact substring dedup): any SEGMENT (here a
    * non-overlapping `segTokens`-token window — the corpus has no
    * newlines, so the window plays the line) that appears verbatim in
    * at least `minDocs` distinct documents is boilerplate and is cut
    * from EVERY document; each document is reassembled from its
    * surviving segments in order. Documents whose every segment is
    * boilerplate drop out entirely.
    *
    * Scale shape — all linear, no pair joins: one explode (corpus
    * tokens), one count aggregation keyed by segment text (map-side
    * partial combine takes the duplicate mass out before the shuffle),
    * one anti-join back on the segment key (plain shuffle join — the
    * frequent-segment set is NOT collected or broadcast, so a 100 TB
    * corpus with terabytes of boilerplate works unchanged), one per-doc
    * reassembly aggregation. */
  def exactSegmentDedup(s: SparkSession, dir: String,
      segTokens: Int = 8, minDocs: Int = 2): DataFrame =
    segmentDedupPass(Tables.documents(s, dir), segTokens, minDocs)

  /** The segment pass over an explicit (doc_id, text) frame — the one
    * definition [[exactSegmentDedup]] and
    * [[graft.ops.Curation.curatePipeline]] share. */
  private[ops] def segmentDedupPass(docs: DataFrame,
      segTokens: Int, minDocs: Int): DataFrame = {
    // NOT persisted: segs feeds two branches (frequency aggregate +
    // anti-join probe), but each recompute pipelines the explode
    // straight into its consumer inside one codegen stage — measured
    // 100× A/B showed CACHING the ~16×-row exploded text (columnar
    // build + rescan) costs more than the second explode it saves
    // (curate_pipeline 126 s recompute vs 175 s cached). Callers with
    // an EXPENSIVE upstream persist their input instead
    // ([[graft.ops.Curation.curatePipeline]]).
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(size(toks) / $segTokens.0d) as int) - 1),
           |  i -> array_join(slice(toks, i * $segTokens + 1, $segTokens),
           |                  ' '))""".stripMargin)))
      .withColumnRenamed("col", "seg")
    val frequent = segs.groupBy(col("seg"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("seg"))
    segs.join(frequent, Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("seg"))))
        .as("ps"))
      .select(col("doc_id"),
        expr("array_join(transform(ps, x -> x.seg), ' ')").as("text"))
  }

  /** The segment-pass CTE chain over a `(doc_id, text)` relation
    * `src` — the one SQL text [[exactSegmentDedupOracle]] and
    * [[graft.ops.Curation.curatePipelineOracle]] splice in (defines
    * CTEs st/segs/freq/kept). */
  private[ops] def segmentSqlCtes(src: String): String =
    s"""st AS (SELECT doc_id, str_split(text, ' ') AS toks FROM $src),
       |segs AS (
       |  SELECT doc_id, s.pos AS pos, s.seg AS seg FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(
       |        range(cast(ceil(len(toks) / 8.0) as int)),
       |        k -> struct_pack(
       |          pos := k,
       |          seg := array_to_string(toks[(k*8+1):(k*8+8)], ' ')))) AS s
       |    FROM st) z),
       |freq AS (
       |  SELECT seg FROM segs GROUP BY seg
       |  HAVING count(DISTINCT doc_id) >= 2),
       |kept AS (
       |  SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM freq))""".stripMargin

  def exactSegmentDedupOracle: String =
    s"""WITH ${segmentSqlCtes("documents")}
       |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
       |FROM kept GROUP BY doc_id""".stripMargin

  /** EXACT SUBSTRING dedup at ANY alignment — the sliding-window form
    * of Lee et al. 2021 (arXiv:2107.06499 §4.1 "ExactSubstr"): a token
    * whose position is covered by ANY `k`-token window that appears
    * verbatim in at least `minDocs` distinct documents is removed, and
    * each document is reassembled from its surviving tokens in order.
    * Unlike [[exactSegmentDedup]]'s fixed non-overlapping grid, the
    * windows here slide one token at a time, so a duplicated passage is
    * cut wherever it starts — this is exactly the coverage set of the
    * paper's suffix-array algorithm for duplicated substrings of length
    * >= k (any such substring is a union of duplicated k-windows),
    * computed with data-parallel joins instead of a global suffix
    * array.
    *
    * Scale shape — linear, no pair joins, and every shuffle row is
    * WINDOW-level (never position-level): the window scan is O(n·k)
    * hashing map-side (a production run swaps the md5 slice hash for a
    * rolling hash to make it O(n); md5 here keeps the DuckDB oracle
    * bit-exact), the window-frequency aggregation gets map-side partial
    * combine, the duplicated-window set joins BACK by shuffle equi-join
    * on the hash (never collected or broadcast — terabytes of
    * duplicated text work unchanged), and the duplicated-window starts
    * collapse into MERGED per-doc coverage intervals (keyed window +
    * groupBy over the dup-start rows) so the position-coverage test
    * and the reassembly are map-side array ops against the original
    * token array — O(intervals) per token, and a fully-duplicated
    * document carries ONE interval, so no doc degenerates into a
    * quadratic straggler task. The rejected formulation — explode
    * every covered position and anti-join tokens on (doc, pos) —
    * shuffles k× the dup-window mass in POSITION rows then
    * re-aggregates the whole corpus text; measured 276 s vs 149 s at
    * 100× data on the dup-saturated ScaleUp corpus (isolated forced
    * runs, identical output checksums).
    *
    * `wins` feeds two branches (the frequency aggregate and the
    * join-back), so it is persisted for the duration of the action —
    * the measured A/B at 100× (149 s MEMORY_AND_DISK / 160 s DISK_ONLY
    * / 183 s recompute) says re-hashing every window costs more than
    * spilling the narrow (doc_id, i, h) rows, the opposite verdict
    * from the exploded-TEXT cache that [[segmentDedupPass]] rejects.
    * Harnesses release the blocks via [[releaseCaches]]. */
  def substrDedup(s: SparkSession, dir: String,
      k: Int = 8, minDocs: Int = 2): DataFrame =
    substrDedupPass(Tables.documents(s, dir), k, minDocs)

  /** The sliding-window pass over an explicit (doc_id, text) frame —
    * shared by [[substrDedup]] and
    * [[graft.ops.Curation.curatePipelineModern]]'s final stage. */
  private[graft] def substrDedupPass(docs: DataFrame,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = docs
      .select(col("doc_id"), Curation.words.as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("n"))
    // sliding k-token windows, keyed by the md5 of their joined text
    // (CASE guard: Spark's sequence(1, 0) is a DESCENDING range)
    val wins = base
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) >= $k
           |  THEN transform(sequence(1, size(toks) - $k + 1),
           |         i -> md5(array_join(slice(toks, i, $k), ' ')))
           |  ELSE array() END""".stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(wins)
    val dup = wins.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    // MERGED coverage intervals per doc, built relationally: runs of
    // dup-window starts whose coverage overlaps (next start within k
    // of the previous) collapse into one [a, b] interval via a keyed
    // window + groupBy. A fully-duplicated document carries ONE
    // interval instead of n-k+1 start positions, so the per-token
    // coverage test below is O(intervals), never O(starts) — the
    // start-array formulation was quadratic for a long dup-saturated
    // doc (n tokens × ~n starts in one task)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    val intervals = wins.join(dup, Seq("h"))
      .select(col("doc_id"), col("i"))
      .withColumn("pi", lag(col("i"), 1).over(win))
      .withColumn("nr",
        when(col("pi").isNull || col("i") > col("pi") + k, 1).otherwise(0))
      .withColumn("run", sum(col("nr")).over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col("doc_id"), col("run"))
      .agg(min(col("i")).as("a"), (max(col("i")) + k - 1).as("b"))
    val starts = intervals.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("a"), col("b")))).as("iv"))
    base.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n"), expr(
        """filter(toks, (t, p0) -> NOT exists(
          |  coalesce(iv, array()),
          |  r -> r.a <= p0 + 1 AND p0 + 1 <= r.b))""".stripMargin)
        .as("keep"))
      .select(col("doc_id"),
        expr("array_join(keep, ' ')").as("text"),
        (col("n") - size(col("keep"))).as("n_removed"))
  }

  /** The DuckDB CTE chain of the substring pass, rooted at relation
    * `src`, every CTE name prefixed with `px` so the chain nests inside
    * a larger oracle without collisions; `${px}res` is the final
    * (doc_id, text, n_removed) relation. */
  private[graft] def substrSqlCtes(src: String, px: String = "",
      k: Int = 8, minDocs: Int = 2): String =
    s"""${px}tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
       |  FROM $src),
       |${px}base AS (
       |  SELECT doc_id, toks, cast(len(toks) as bigint) AS n FROM ${px}tk),
       |${px}w AS (
       |  SELECT doc_id, s.i AS i, s.h AS h FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(
       |        generate_series(1, cast(len(toks) as int) - ${k - 1}),
       |        i -> struct_pack(i := i,
       |          h := md5(array_to_string(toks[i:(i + ${k - 1})], ' '))))) AS s
       |    FROM ${px}base WHERE len(toks) >= $k) z),
       |${px}dup AS (
       |  SELECT h FROM ${px}w GROUP BY h
       |  HAVING count(DISTINCT doc_id) >= $minDocs),
       |${px}cov AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT doc_id, unnest(list_transform(range($k), d -> i + d)) AS p
       |    FROM ${px}w WHERE h IN (SELECT h FROM ${px}dup)) z),
       |${px}tp AS (
       |  SELECT doc_id, s.p AS p, s.t AS t FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(
       |        generate_series(1, cast(len(toks) as int)),
       |        i -> struct_pack(p := cast(i as bigint), t := toks[i]))) AS s
       |    FROM ${px}base WHERE len(toks) >= 1) z),
       |${px}kept AS (
       |  SELECT ${px}tp.* FROM ${px}tp
       |  WHERE NOT EXISTS (SELECT 1 FROM ${px}cov
       |                    WHERE ${px}cov.doc_id = ${px}tp.doc_id
       |                      AND ${px}cov.p = ${px}tp.p)),
       |${px}ka AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS text,
       |    count(*) AS nk
       |  FROM ${px}kept GROUP BY doc_id),
       |${px}res AS (
       |  SELECT b.doc_id, coalesce(ka.text, '') AS text,
       |    b.n - coalesce(ka.nk, 0) AS n_removed
       |  FROM ${px}base b LEFT JOIN ${px}ka ka ON b.doc_id = ka.doc_id)"""
      .stripMargin

  def substrDedupOracle: String =
    s"""WITH ${substrSqlCtes("documents")}
       |SELECT doc_id, text, n_removed FROM res""".stripMargin
}
