package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Test-set decontamination — the training-pipeline operator that flags
  * corpus documents overlapping an evaluation/benchmark set (the
  * standard n-gram-collision check run before any pretraining job; an
  * LLM-pipeline extension beyond the reference surface, anchored on its
  * document model, `opensearch/_write.py:432-488`).
  *
  * Method: token 8-grams (the de-facto contamination window), distinct
  * per document; a corpus document is contaminated if it shares any
  * 8-gram with any benchmark document.
  *
  * Scale: benchmark sets are eval suites — thousands of documents, not
  * billions — so the distinct benchmark-gram set is BROADCAST and the
  * check is one map-side hash-join over the corpus gram stream: no
  * shuffle of corpus data at all, linear in corpus size, embarrassingly
  * parallel at 100 TB. (If the benchmark ever outgrew broadcast range,
  * the same plan degrades gracefully to a shuffle equi-join on the
  * gram.)
  */
object Decontaminate {

  /** Distinct token `n`-grams per document. Empty for docs shorter than
    * n tokens (the CASE guard keeps Spark's `sequence` from running
    * backwards — `sequence(1,0)` is a DESCENDING range, not empty).
    * Tokenization hoisted to its own column: `split` inside the position
    * lambda would re-split the document once per gram. */
  private def grams(df: DataFrame, n: Int): DataFrame =
    df.withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(__toks) >= $n THEN
           |  array_distinct(transform(
           |    sequence(1, size(__toks) - ${n - 1}),
           |    i -> concat_ws(' ', slice(__toks, i, $n))))
           |ELSE array() END""".stripMargin)).as("g"))

  /** Contamination report against an explicit benchmark DataFrame
    * (both need `doc_id` and `text`): flagged corpus docs with their
    * shared-gram counts. Default window 8 (the usual pretraining
    * strictness); smaller windows flag more aggressively. */
  def check(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame =
    grams(corpus, n)
      .join(broadcast(grams(benchmark, n).select(col("g")).distinct()), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))

  /** Oracle-gated instance: `src0` documents stand in for the eval set,
    * the rest of the corpus is screened against them. Window 4 here —
    * the synthetic corpus shares few long spans across sources, and the
    * shorter window keeps the differential gate dense (49 flagged docs
    * at sf0.01 vs 2 with window 8). */
  val OracleN = 4

  def contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    check(docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), n = OracleN)
  }

  // ---- Fuzzy (MinHash) decontamination -----------------------------------

  /** NEAR-duplicate contamination: exact n-gram collision misses an
    * eval item that was lightly paraphrased or reformatted into the
    * crawl (the common leak mode — whitespace, punctuation, or a few
    * token edits). This check flags corpus documents whose MinHash
    * signature agrees with ANY benchmark document's on at least
    * `minAgree` of the [[Dedup.K]] components — the SAME md5 signature
    * family and LSH banding as the dedup operators, so a pipeline's
    * dedup and decontamination thresholds are directly comparable.
    *
    * Scale shape (identical to [[check]]): the benchmark side is an
    * eval suite — thousands of docs — so its banded signatures are
    * BROADCAST; candidate generation is a map-side join on
    * (band, bkey); the only shuffle is the candidate-level groupBy,
    * which is bounded by true near-collisions, never corpus-sized.
    * The corpus is scanned once, linearly.
    *
    * Output, one row per flagged corpus doc (all ties deterministic):
    * `n_bench_hits` distinct benchmark docs at ≥ minAgree, `best_agree`
    * the max agreement, `bench_id` the smallest benchmark doc achieving
    * it. */
  def checkFuzzy(s: SparkSession, corpus: DataFrame, benchmark: DataFrame,
      minAgree: Int = 8): DataFrame = {
    require(minAgree >= 1 && minAgree <= Dedup.K,
      s"minAgree must be in [1, ${Dedup.K}], got $minAgree")
    // The benchmark side collapses to ONE representative per full
    // signature (the ccDedup trick): agreement is a function of the
    // signatures alone, so bench docs sharing a signature contribute
    // identical candidate rows — keeping group size `bn` and min-id
    // `bench_rep` recovers the doc-level report exactly (hits = Σ bn
    // over matched groups; min bench id at best agreement = min rep,
    // reps being group minima) while candidate volume stops scaling
    // with benchmark dup density (10× replicated data: 253 s per-doc vs
    // 57 s grouped, value-identical; BASELINE.md).
    val bgroups = Dedup.md5Sigs(benchmark)
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("bench_rep"), count(lit(1)).as("bn"))
    val bbanded = Dedup.bandRows(bgroups.withColumn("bsig", col("sig")),
      Dedup.md5BandKeys, col("bench_rep"), col("bn"), col("bsig"))
    val cbanded = Dedup.bandRows(
      Dedup.md5Sigs(corpus).withColumn("csig", col("sig")),
      Dedup.md5BandKeys, col("doc_id"), col("csig"))
    val cand = cbanded
      .join(broadcast(bbanded), Seq("band", "bkey"))
      .select(col("doc_id"), col("bench_rep"), col("bn"),
        Dedup.matchCount(col("csig"), col("bsig")).as("agree"))
      .where(col("agree") >= minAgree)
      .distinct() // a pair can collide in several bands
    cand.groupBy(col("doc_id"))
      .agg(sum(col("bn")).as("n_bench_hits"),
        max(col("agree")).as("best_agree"),
        max(struct(col("agree"), (-col("bench_rep")).as("nb")))
          .getField("nb").as("neg_bench"))
      .select(col("doc_id"), col("n_bench_hits"),
        col("best_agree").cast("long").as("best_agree"),
        (-col("neg_bench")).as("bench_id"))
  }

  /** Oracle-gated instance, mirroring [[contamination]]: src0 is the
    * benchmark, the rest of the corpus is screened. */
  val OracleMinAgree = 8

  def contaminationFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    checkFuzzy(s, docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), minAgree = OracleMinAgree)
  }

  def contaminationFuzzyOracle: String =
    s"""WITH sig AS (
       |  SELECT doc_id, source,
       |    list_transform(generate_series(0, ${Dedup.K - 1}),
       |      i -> list_min(list_transform(list_distinct(string_split(text, ' ')),
       |                    t -> md5(concat(cast(i as string), ':', t))))) AS sig
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, source, sig, b AS band,
       |    md5(concat_ws('|', sig[b * ${Dedup.ROWS} + 1],
       |                       sig[b * ${Dedup.ROWS} + 2],
       |                       sig[b * ${Dedup.ROWS} + 3],
       |                       sig[b * ${Dedup.ROWS} + 4])) AS bkey
       |  FROM sig, range(0, ${Dedup.BANDS}) AS u(b)),
       |cand AS (
       |  SELECT DISTINCT c.doc_id, b.doc_id AS bench_id,
       |    len(list_filter(generate_series(1, ${Dedup.K}),
       |        i -> c.sig[i] = b.sig[i])) AS agree
       |  FROM (SELECT * FROM banded WHERE source <> 'src0') c
       |  JOIN (SELECT * FROM banded WHERE source = 'src0') b
       |    ON c.band = b.band AND c.bkey = b.bkey
       |  WHERE len(list_filter(generate_series(1, ${Dedup.K}),
       |        i -> c.sig[i] = b.sig[i])) >= $OracleMinAgree)
       |SELECT doc_id, count(*) AS n_bench_hits,
       |       CAST(max(agree) AS BIGINT) AS best_agree,
       |       CAST(first(bench_id ORDER BY agree DESC, bench_id) AS BIGINT)
       |         AS bench_id
       |FROM cand GROUP BY 1""".stripMargin

  def contaminationOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, source,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, greatest(len(t) - ${OracleN - 1}, 0)),
       |      i -> array_to_string(t[i:i+${OracleN - 1}], ' ')))) AS g
       |  FROM toks)
       |SELECT c.doc_id, count(*) AS n_shared_grams
       |FROM (SELECT doc_id, g FROM g WHERE source <> 'src0') c
       |JOIN (SELECT DISTINCT g FROM g WHERE source = 'src0') b USING (g)
       |GROUP BY 1""".stripMargin
}
