package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Tables

/** Corpus-curation operators a pretraining-data pipeline runs between raw
  * ingestion and training-set export: repetition filtering, PII scrubbing,
  * and token-budget sharding. Extension surface beyond the reference
  * (builder brief) — the reference's closest analogue is its document
  * indexing model (`opensearch/_write.py:432-488`); the filters follow the
  * published Gopher/Dolma data-quality recipes.
  *
  * Scale notes (100 TB): repetition is two hash-partitioned aggregations
  * (gram counts, then per-doc rollup) — no per-document state ever
  * exceeds one gram group; PII scrubbing is a pure codegen'd map;
  * sharding is a bucketed prefix-sum — the only global structure is one
  * row per bucket (bounded, driver-side), never a single-partition
  * window over the data.
  */
object Curation {

  private val tokens = split(col("text"), " ")

  /** Non-empty whitespace tokens of the `text` column — THE tokenizer
    * shared by every token-counting operator ([[gopherRules]],
    * [[perplexityBuckets]], [[Dedup.substrDedup]]); its DuckDB twin is
    * `list_filter(string_split(text, ' '), t -> length(t) > 0)`, and
    * its Spark form the `toks` field of the native
    * [[graft.expr.GopherStats]] kernel (equal to
    * `filter(split(text, ' '), t -> length(t) > 0)`, whose lambda runs
    * interpreted). One definition, so a tokenization tweak cannot
    * silently diverge the operators from each other. */
  private[ops] def words: Column =
    native(graft.expr.GopherStats(_, Nil, 0, 0)).getField("toks")

  /** A native [[graft.expr]] kernel over the `text` column. */
  private def native(k: org.apache.spark.sql.catalyst.expressions.Expression
      => org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftBridge.column(
      k(org.apache.spark.sql.GraftBridge.expr(col("text"))))

  /** The CCNet head/tail mean-log-prob cutoffs — ONE definition (r17,
    * advice fix): [[perplexityBucketsOn]]'s defaults,
    * [[pplSelectedDocIds]]'s tail gate and [[pplSqlCtes]]'s oracle CTEs
    * must agree to the digit, or the proven keep-set ⟺
    * `ppl_bucket != 'tail'` equivalence silently breaks. */
  private[ops] val PplHeadCutoff = new java.math.BigDecimal("-3.390000")
  private[ops] val PplTailCutoff = new java.math.BigDecimal("-3.430000")

  // ---------------------------------------------------------------- //
  // Gopher quality rules (word-level set)                            //
  // ---------------------------------------------------------------- //

  /** The Gopher quality-filter rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", arXiv:2112.11446 §A1.1): per-document word count in
    * [minWords, maxWords], mean word length in [3, 10], symbol-to-word
    * ratio (# and …) ≤ 0.1, ≥80% of words containing an alphabetic
    * character, and ≥2 distinct words from the 8-stop-word probe list
    * (the, be, to, of, and, that, have, with). The paper's line-shaped
    * rules (bullet/ellipsis line starts, duplicate-line fraction) need
    * line structure this corpus does not carry — its documents are
    * single-line — and the repeated-n-gram family is
    * [[repetitionScore]]; the two operators compose into the full
    * Gopher gate.
    *
    * Exactness: every statistic is an exact integer (token counts,
    * summed lengths, symbol counts) and every threshold an exact
    * cross-multiplied integer comparison (mean length in [3,10] is
    * `3·n ≤ Σlen ≤ 10·n`) — no float ever materializes, so rows hash
    * bit-for-bit against DuckDB.
    *
    * Scale shape (100 TB): ONE linear scan, zero shuffles — the whole
    * plan is scan → codegen'd per-doc array ops → project. Every rule
    * is a map-side lambda over the token array; nothing aggregates
    * across documents, so the operator parallelizes embarrassingly and
    * the filter composes into any downstream pipeline stage without a
    * stage boundary. */
  def gopherRules(s: SparkSession, dir: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopWords: Seq[String] = GopherStopWords): DataFrame =
    gopherRulesOn(Tables.documents(s, dir), minWords, maxWords, stopWords)

  /** Rae et al. 2021 §A1.1's stop-word probe list — ENGLISH-specific
    * by construction (the paper's own caveat). A corpus in another
    * language, or a synthetic one, must pass its own probe list or the
    * rule degenerates to keep-nothing. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The function words the synthetic test corpus actually carries —
    * the probe list the oracled entries use (measured: the paper list
    * matches ZERO of its documents; this one splits the corpus
    * 317/183 at sf0.01). */
  val CorpusStopWords: Seq[String] = Seq("the", "a")

  private def sqlList(ws: Seq[String]): String = {
    // interpolated into BOTH Spark expr() and DuckDB SQL, whose escape
    // conventions differ — reject quotes loudly instead of silently
    // producing different (or broken) queries per engine
    require(ws.nonEmpty && ws.forall(w => !w.contains("'") && w.nonEmpty),
      s"stop words must be non-empty and quote-free, got $ws")
    ws.map(w => s"'$w'").mkString(", ")
  }

  /** The per-doc statistic columns the rules read, and the `keep`
    * verdict, as one struct column: ONE native pass
    * ([[graft.expr.GopherStats]]) computes the tokens, every statistic
    * and the verdict, shared by the stats view and the filtering gate.
    * Its reference is the interpreted chain `toks = words`,
    * `size(toks)`, `aggregate(toks, 0L, (a, t) -> a + length(t))`,
    * `size(filter(toks, t -> t rlike '[A-Za-z]'))`,
    * `size(array_intersect(array_distinct(toks), array(stops)))` and the
    * `length(text) - length(replace(text, s, ''))` symbol counts ('#',
    * the ASCII '...', AND the single-char U+2026 ellipsis — the common
    * form in real web text) that [[gopherSqlCtes]] still spells out for
    * DuckDB; CurationSpec pins the two equal. */
  private def gopherStats(stopWords: Seq[String], minWords: Int,
      maxWords: Int): Column = {
    sqlList(stopWords) // same stop-word contract as the oracle's
    native(graft.expr.GopherStats(_, stopWords, minWords, maxWords))
  }

  private val GopherStruct = "__gopher"

  /** The rule set over an explicit (doc_id, text) frame — the
    * [[Dedup.segmentDedupPass]] pattern, shared by [[gopherRules]] and
    * the boundary-probe specs. */
  private[graft] def gopherRulesOn(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      stopWords: Seq[String] = GopherStopWords): DataFrame =
    docs.select(col("doc_id"),
        gopherStats(stopWords, minWords, maxWords).as(GopherStruct))
      .select(col("doc_id") +: graft.expr.GopherStatsImpl.Fields.tail.map(f =>
        col(s"$GopherStruct.$f").as(f)): _*)

  /** The same rules as a FILTER: input rows that pass, original
    * columns untouched — the map-side gate
    * [[curatePipelineModern]] fuses into its scan. Public (r16): the
    * gate a caller plugs into streaming ingestion
    * ([[graft.streaming.EventStream.curationIngestV3]]'s `gate`). The
    * filter reads the kernel's `keep` field, so the whole gate is one
    * codegen'd scan → filter with one kernel call per row. */
  def gopherGate(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      stopWords: Seq[String] = GopherStopWords): DataFrame = {
    // withColumn REPLACES a same-named input column, which the final
    // select would then hand back in place of the input's own data
    require(!docs.columns.contains(GopherStruct),
      s"gopherGate input must not carry a $GopherStruct column")
    val orig = docs.columns.map(col).toSeq
    docs.withColumn(GopherStruct, gopherStats(stopWords, minWords, maxWords))
      .filter(col(s"$GopherStruct.keep"))
      .select(orig: _*)
  }

  /** DuckDB CTE chain of the rule statistics, rooted at `src`, CTE
    * names prefixed with `px`; `${px}gst` carries the stats + `keep`. */
  private[graft] def gopherSqlCtes(src: String, px: String = "",
      stopWords: Seq[String] = GopherStopWords,
      minWords: Int = 50, maxWords: Int = 100000): String =
    s"""${px}gtk AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
       |  FROM $src),
       |${px}gst AS (
       |  SELECT doc_id,
       |    cast(len(toks) as bigint) AS n_words,
       |    cast(coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
       |      as bigint) AS sum_word_len,
       |    cast(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
       |      as bigint) AS n_alpha_words,
       |    cast(len(list_intersect(list_distinct(toks),
       |      [${sqlList(stopWords)}])) as bigint)
       |      AS n_stopwords,
       |    cast((length(text) - length(replace(text, '#', ''))) +
       |      (length(text) - length(replace(text, '...', ''))) // 3 +
       |      (length(text) - length(replace(text, '…', '')))
       |      as bigint) AS n_symbols
       |  FROM ${px}gtk),
       |${px}gkeep AS (
       |  SELECT *,
       |    (n_words BETWEEN $minWords AND $maxWords
       |      AND 3 * n_words <= sum_word_len
       |      AND sum_word_len <= 10 * n_words
       |      AND 10 * n_symbols <= n_words
       |      AND 10 * n_alpha_words >= 8 * n_words
       |      AND n_stopwords >= 2) AS keep
       |  FROM ${px}gst)""".stripMargin

  def gopherRulesOracle(stopWords: Seq[String],
      minWords: Int = 50, maxWords: Int = 100000): String =
    s"""WITH ${gopherSqlCtes("documents", "", stopWords, minWords, maxWords)}
       |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords,
       |  n_symbols, keep
       |FROM gkeep""".stripMargin

  // ---------------------------------------------------------------- //
  // Gopher LINE rules (round 12)                                     //
  // ---------------------------------------------------------------- //

  /** Rae et al. 2021 §A1.1's LINE-shaped rules — the two the word-level
    * gate above couldn't carry because the corpus has no line structure:
    * drop a document when more than 90% of its lines start with a
    * bullet, or more than 30% end with an ellipsis. Zero shuffles, like
    * [[gopherRules]]: every statistic is a codegen'd array op over the
    * per-doc `lines` array, thresholds cross-multiplied integers.
    *
    * Input: (doc_id, lines ARRAY<STRING>). Bullets are `- ` or `• `
    * prefixes; ellipses `...` or `…` suffixes (the forms the paper and
    * real web text carry). */
  private[graft] def gopherLineRulesOn(docLines: DataFrame): DataFrame =
    docLines
      .withColumn("n_lines", size(col("lines")).cast("bigint"))
      .withColumn("n_bullet",
        expr("""cast(size(filter(lines, l ->
               |  startswith(l, '- ') or startswith(l, '• '))) as bigint)"""
          .stripMargin))
      .withColumn("n_ellipsis",
        expr("""cast(size(filter(lines, l ->
               |  endswith(l, '...') or endswith(l, '…'))) as bigint)"""
          .stripMargin))
      .select(col("doc_id"), col("n_lines"), col("n_bullet"),
        col("n_ellipsis"),
        (lit(10) * col("n_bullet") <= lit(9) * col("n_lines") &&
          lit(10) * col("n_ellipsis") <= lit(3) * col("n_lines"))
          .as("keep"))

  /** Oracled entry: the corpus is a word stream with no newlines, so a
    * LINE-STRUCTURED corpus is DERIVED deterministically on both
    * engines — 8-token lines, ~25% given a `- ` bullet prefix and ~25%
    * a `...` suffix by md5-prefix draws keyed on (doc_id, line index).
    * The derivation is part of the oracle contract (identical SQL-level
    * formula in [[gopherLineRulesOracle]]); the rules then run on real
    * line structure. */
  /** A deterministic per-line decoration draw for the DERIVED
    * line-structured corpus: when the first md5 hex char of
    * `salt:doc_id:lineIndex` is `< bound`, `text` is glued to the line
    * (before it when `isPrefix`, after otherwise, in declaration
    * order). ONE definition renders both the Spark expression and the
    * DuckDB CTE below, so a derivation tweak (line width, draw scheme)
    * cannot silently diverge an operator from its oracle — the same
    * reason `words` is shared. */
  private final case class LineDraw(salt: String, bound: String,
      text: String, isPrefix: Boolean)

  private val GopherLineDraws = Seq(
    LineDraw("bl", "4", "- ", isPrefix = true),
    LineDraw("el", "4", "...", isPrefix = false))

  private val C4LineDraws = Seq(
    LineDraw("c4li", "1", "lorem ipsum ", isPrefix = true),
    LineDraw("c4js", "2", " javascript", isPrefix = false),
    LineDraw("c4br", "1", " {", isPrefix = false),
    LineDraw("c4pd", "8", ".", isPrefix = false))

  /** Spark side of the 8-token line derivation (over columns
    * `doc_id`, `toks`). */
  private def derivedLinesExpr(draws: Seq[LineDraw]): String = {
    def piece(d: LineDraw) =
      s"""case when substring(md5(concat('${d.salt}:',
         |        cast(doc_id as string), ':', cast(i as string))), 1, 1)
         |      < '${d.bound}' then '${d.text}' else '' end""".stripMargin
    val parts = draws.filter(_.isPrefix).map(piece) ++
      Seq("array_join(slice(toks, i * 8 + 1, 8), ' ')") ++
      draws.filterNot(_.isPrefix).map(piece)
    s"""case when size(toks) = 0 then array()
       |else transform(
       |  sequence(0, cast(ceil(size(toks) / 8.0) as int) - 1), i ->
       |  concat(
       |    ${parts.mkString(",\n    ")}))
       |end""".stripMargin
  }

  /** DuckDB twin of [[derivedLinesExpr]]: `tk` + `ln` CTE bodies
    * producing (doc_id, lines). */
  private def derivedLinesSqlCtes(draws: Seq[LineDraw]): String = {
    // single-line pieces: this value is interpolated into callers'
    // stripMargin strings, so a line starting with the second '|' of a
    // '||' would be margin-stripped twice and lose the operator
    def piece(d: LineDraw) =
      s"CASE WHEN substring(md5('${d.salt}:' || cast(doc_id as varchar)" +
        s" || ':' || cast(i as varchar)), 1, 1) < '${d.bound}'" +
        s" THEN '${d.text}' ELSE '' END"
    val parts = draws.filter(_.isPrefix).map(piece) ++
      Seq("array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ')") ++
      draws.filterNot(_.isPrefix).map(piece)
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks
       |  FROM documents),
       |ln AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN []
       |    ELSE list_transform(
       |      range(0, cast(ceil(len(toks) / 8.0) as int)), i ->
       |      concat(
       |        ${parts.mkString(",\n        ")}))
       |    END AS lines
       |  FROM tk)""".stripMargin
  }

  private def derivedLines(s: SparkSession, dir: String,
      draws: Seq[LineDraw]): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", words)
      .withColumn("lines", expr(derivedLinesExpr(draws)))
      .select(col("doc_id"), col("lines"))

  def gopherLineRules(s: SparkSession, dir: String): DataFrame =
    gopherLineRulesOn(derivedLines(s, dir, GopherLineDraws))

  def gopherLineRulesOracle: String =
    s"""WITH ${derivedLinesSqlCtes(GopherLineDraws)},
      |st AS (
      |  SELECT doc_id,
      |    cast(len(lines) as bigint) AS n_lines,
      |    cast(len(list_filter(lines, l ->
      |      l LIKE '- %' OR l LIKE '• %')) as bigint) AS n_bullet,
      |    cast(len(list_filter(lines, l ->
      |      l LIKE '%...' OR l LIKE '%…')) as bigint) AS n_ellipsis
      |  FROM ln)
      |SELECT doc_id, n_lines, n_bullet, n_ellipsis,
      |  (10 * n_bullet <= 9 * n_lines AND 10 * n_ellipsis <= 3 * n_lines)
      |    AS keep
      |FROM st""".stripMargin

  // ---- C4 heuristic cleaning (Raffel et al. 2020, §2.2) — round 12 ----

  /** The C4 line/page rules over a line-structured corpus
    * (doc_id, lines ARRAY<STRING>):
    *  - a line is RETAINED iff it ends in a terminal punctuation mark
    *    (`.` `!` `?` `"`), has ≥ 5 words, and does not mention
    *    "javascript" (case-insensitive);
    *  - the PAGE is kept iff ≥ 3 lines were retained, no line contains
    *    the phrase "lorem ipsum", and no line contains a curly brace.
    * (The paper's bad-word page filter is the same any-line containment
    * shape as the lorem-ipsum rule; its list is an input in production
    * and is represented here by the two phrase rules.)
    * Zero shuffles: every statistic is a per-row array fold. */
  // the three C4 page statistics as expression strings over a `lines`
  // column — shared by the oracled stats table ([[c4RulesOn]]) and the
  // per-row streaming gate ([[c4PageKeepExpr]]), so the two cannot
  // drift
  private val C4KeptExpr =
    """cast(size(filter(lines, l ->
      |  (endswith(l, '.') or endswith(l, '!') or
      |   endswith(l, '?') or endswith(l, '"')) and
      |  size(filter(split(l, ' '), w -> length(w) > 0)) >= 5 and
      |  not contains(lower(l), 'javascript'))) as bigint)""".stripMargin
  private val C4LoremExpr =
    "exists(lines, l -> contains(lower(l), 'lorem ipsum'))"
  private val C4BraceExpr =
    "exists(lines, l -> contains(l, '{') or contains(l, '}'))"

  /** The C4 page verdict as ONE per-row expression over a `lines`
    * column — the form that composes into a streaming micro-batch as a
    * codegen'd filter (no join, no aggregation); same lambdas as the
    * oracled [[c4RulesOn]] stats. */
  private[graft] def c4PageKeepExpr: org.apache.spark.sql.Column =
    expr(C4KeptExpr) >= 3 && !expr(C4LoremExpr) && !expr(C4BraceExpr)

  private[graft] def c4RulesOn(docLines: DataFrame): DataFrame =
    docLines
      .withColumn("n_lines", size(col("lines")).cast("bigint"))
      .withColumn("n_kept", expr(C4KeptExpr))
      .withColumn("has_lorem", expr(C4LoremExpr))
      .withColumn("has_brace", expr(C4BraceExpr))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("has_lorem"), col("has_brace"),
        (col("n_kept") >= 3 && !col("has_lorem") && !col("has_brace"))
          .as("keep"))

  /** Oracled entry: like [[gopherLineRules]], the corpus is a word
    * stream, so the line structure is DERIVED deterministically on both
    * engines via the shared [[derivedLines]] builder — 8-token lines
    * with independent md5-prefix draws keyed on (doc_id, line index):
    * ~50% get a terminal `.`, ~12.5% an appended "javascript" token,
    * ~6% a "lorem ipsum" prefix, ~6% an appended `{`
    * ([[C4LineDraws]]). The draws make every C4 rule live on synthetic
    * text; the derivation is part of the oracle contract. */
  def c4Rules(s: SparkSession, dir: String): DataFrame =
    c4RulesOn(derivedLines(s, dir, C4LineDraws))

  def c4RulesOracle: String =
    s"""WITH ${derivedLinesSqlCtes(C4LineDraws)},
      |st AS (
      |  SELECT doc_id,
      |    cast(len(lines) as bigint) AS n_lines,
      |    cast(len(list_filter(lines, l ->
      |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
      |      AND len(list_filter(string_split(l, ' '),
      |            w -> length(w) > 0)) >= 5
      |      AND NOT contains(lower(l), 'javascript'))) as bigint) AS n_kept,
      |    len(list_filter(lines, l ->
      |      contains(lower(l), 'lorem ipsum'))) > 0 AS has_lorem,
      |    len(list_filter(lines, l ->
      |      contains(l, '{') OR contains(l, '}'))) > 0 AS has_brace
      |  FROM ln)
      |SELECT doc_id, n_lines, n_kept, has_lorem, has_brace,
      |  (n_kept >= 3 AND NOT has_lorem AND NOT has_brace) AS keep
      |FROM st""".stripMargin

  /** Per-document bigram repetition: the fraction of bigram occurrences
    * taken by the single most frequent bigram (`top_2gram_frac`) and the
    * fraction that are repeats of an already-seen bigram
    * (`dup_2gram_frac`). High values flag boilerplate/spam documents the
    * Gopher rules drop. Shape: explode bigrams → count per (doc, gram) →
    * roll up per doc; both aggregations are hash-partitioned with
    * map-side partials, so a pathological 1 GB document costs its own
    * gram groups and nothing else.
    *
    * `sequence(1, 0)` in Spark is a DESCENDING range (unlike DuckDB's
    * empty `generate_series(1, 0)`), so the bigram builder is guarded
    * with CASE for single-token documents.
    */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(s, dir)
      .withColumn("toks", tokens)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode(expr(
          """CASE WHEN size(toks) >= 2
            |  THEN transform(sequence(1, size(toks) - 1),
            |         i -> concat(element_at(toks, i), ' ',
            |                     element_at(toks, i + 1)))
            |  ELSE array() END""".stripMargin)).as("gram"))
    grams.groupBy(col("doc_id"), col("n_tokens"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).as("sumc"),
        count(lit(1)).as("uniqc"))
      .select(col("doc_id"), col("n_tokens"),
        (col("maxc").cast("double") / col("sumc").cast("double"))
          .as("top_2gram_frac"),
        ((col("sumc") - col("uniqc")).cast("double") /
          col("sumc").cast("double")).as("dup_2gram_frac"))
  }

  def repetitionScoreOracle: String =
    """SELECT doc_id, n_tokens,
      |  cast(max(c) as double) / cast(sum(c) as double) AS top_2gram_frac,
      |  cast(sum(c) - count(*) as double) / cast(sum(c) as double)
      |    AS dup_2gram_frac
      |FROM (
      |  SELECT doc_id, n_tokens, gram, count(*) AS c
      |  FROM (
      |    SELECT doc_id, cast(len(toks) as int) AS n_tokens,
      |      unnest(list_transform(generate_series(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i + 1])) AS gram
      |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |          FROM documents) d) g
      |  GROUP BY doc_id, n_tokens, gram) pc
      |GROUP BY doc_id, n_tokens""".stripMargin

  /** The synthetic corpus carries no WITHIN-document n-gram repeats, so
    * the oracled entry derives them deterministically (the line-corpus
    * pattern): ~25% of docs (md5 draw on doc_id) get a fixed 10-token
    * phrase appended TWICE — every n ≤ 10 window inside the phrase then
    * occurs twice, making all six dup rules live; the other 75% keep
    * exercising the zero-dup path. The derivation is part of the
    * oracle contract. */
  private val RepPhrase: String = {
    val p = (0 to 9).map(i => s"p$i").mkString(" ")
    s" $p $p"
  }

  def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherRepetitionOn(Tables.documents(s, dir)
      .withColumn("text", expr(
        s"""concat(text, case when substring(md5(concat('rep:',
           |    cast(doc_id as string))), 1, 1) < '4'
           |  then '$RepPhrase' else '' end)""".stripMargin)))

  /** (doc_id, toks, den): the repetition rules' tokens and their total
    * character length, from the native Gopher kernel. */
  private[graft] def repetitionTokens(docs: DataFrame): DataFrame =
    docs
      .withColumn(GopherStruct,
        native(graft.expr.GopherStats(_, Nil, 0, Int.MaxValue)))
      .select(col("doc_id"), col(s"$GopherStruct.toks").as("toks"),
        col(s"$GopherStruct.sum_word_len").as("den"))

  /** The COMPLETE Gopher repetition table (Rae et al. 2021, Table A1)
    * over (doc_id, text), with paper-exact character fractions:
    *  - `top_{2,3,4}gram_char_frac`: the fraction of the document's
    *    token characters contained in occurrences of the single most
    *    frequent n-gram (count ties broken by the longer gram —
    *    deterministic on both engines via struct-max);
    *  - `dup_{5..10}gram_char_frac`: the fraction of token characters
    *    covered by n-grams occurring more than once in the document,
    *    each character counted ONCE (the paper's "taking care not to
    *    count characters multiple times") — covered token POSITIONS
    *    are deduplicated before summing their character lengths;
    *  - `keep`: all nine paper thresholds (0.20/0.18/0.16 tops,
    *    0.15→0.10 dups) as cross-multiplied exact-integer comparisons.
    *
    * Scale shape: ONE corpus scan explodes one window per position and
    * [[gramCounts]] counts occurrences per (doc, n, gram) with map-side
    * partials; everything downstream (top argmax, duplicated-coverage
    * positions, the per-doc rollup) re-aggregates that table or the position-length table — no
    * second pass over text, no per-pair work, and a pathological
    * document costs only its own gram groups. The fractions are
    * int/int divisions of exact numerators and denominators, so the
    * doubles are bit-equal cross-engine. */
  private[graft] def gopherRepetitionOn(docs: DataFrame): DataFrame = {
    val base = repetitionTokens(docs)
    // `counts` feeds BOTH the top (n ≤ 4) and dup-coverage (n ≥ 5)
    // paths. The branch filters push through the aggregation, so the
    // subplans differ and Spark reuses no exchange: the gram table is
    // computed once per branch. A DISK_ONLY persist of it was measured
    // and rejected (cold-cache sf0.1 7.5 s vs 5.8–6.1 s recomputed,
    // sf1 51.3 s vs 42.5–61.8 s): the columnar cache write of gram
    // strings and position arrays costs what the second computation
    // costs. Join-back formulations without position arrays (25.9 /
    // 239 s at sf0.1 / sf1) and md5-keyed windows (17.3 / 140 s) were
    // slower still. The per-gram `ps` position array is bounded by one
    // gram's occurrences within ONE document — per-doc skew, never
    // corpus-sized.
    val counts = gramCounts(base)
      .withColumn("glen",
        (length(col("g")) - (col("n") - lit(1))).cast("long"))
    val tops = counts.filter(col("n") <= 4)
      .groupBy(col("doc_id"), col("n"))
      .agg(max(struct(col("cnt"), col("glen"))).as("m"))
      .select(col("doc_id"), col("n"),
        (col("m.cnt") * col("m.glen")).as("num"))
    val lens = base
      .select(col("doc_id"),
        posexplode(expr("transform(toks, t -> length(t))")))
      .select(col("doc_id"), (col("pos") + 1).as("p"),
        col("col").cast("long").as("tlen"))
    val cover = counts.filter(col("n") >= 5 && col("cnt") >= 2)
      .select(col("doc_id"), col("n"), explode(col("ps")).as("i"))
      .select(col("doc_id"), col("n"),
        explode(expr("sequence(i, i + n - 1)")).as("p"))
      .distinct()
    val dups = cover.join(lens, Seq("doc_id", "p"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("tlen")).as("num"))
    val nums = tops.unionByName(dups)
    val aggCols = (2 to 10).map(n =>
      sum(when(col("n") === n, col("num"))).as(s"num_$n"))
    val perDoc = nums.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val joined = base.select(col("doc_id"), col("den"))
      .join(perDoc, Seq("doc_id"), "left")
    def frac(n: Int) =
      when(col("den") === 0, lit(0.0))
        .otherwise(coalesce(col(s"num_$n"), lit(0L)).cast("double") /
          col("den").cast("double"))
    def ok(n: Int) =
      coalesce(col(s"num_$n"), lit(0L)) * 100 <=
        lit(GopherRepThresholds(n)) * col("den")
    val outCols = Seq(col("doc_id")) ++
      (2 to 4).map(n => frac(n).as(s"top_${n}gram_char_frac")) ++
      (5 to 10).map(n => frac(n).as(s"dup_${n}gram_char_frac")) ++
      Seq((2 to 10).map(ok).reduce(_ && _).as("keep"))
    joined.select(outCols: _*)
  }

  /** (doc_id, n, g, cnt, ps): every distinct n-gram g (n in 2..10) of
    * each document of [[repetitionTokens]], with its occurrence count
    * and start positions.
    *
    * Explodes ONE up-to-10-token window per position (~len rows, where
    * a per-n explode makes ~9·len), aggregates the windows, then
    * derives each n-gram as a length-n PREFIX of the aggregated window
    * groups: the first shuffle carries ~9× fewer rows and ~5× fewer
    * bytes, the second one count+positions row per distinct window.
    * Against the per-n explode (CurationSpec keeps it as the reference
    * this table must equal) it measured 1.7× faster at sf0.1, 2.3× at
    * sf1 and 3.8× at sf10: on a dup-dense corpus distinct windows grow
    * sublinearly while occurrences grow linearly (BASELINE.md). */
  private[graft] def gramCounts(base: DataFrame): DataFrame = {
    // A window at position i carries min(10, len-i+1) tokens, so
    // its length-n prefixes for n ≤ that are exactly the n-grams
    // starting at i — per-position windows of length 1 carry no
    // n ≥ 2 gram and are skipped.
    val wins = base.select(col("doc_id"),
        posexplode(expr(
          """CASE WHEN size(toks) < 2
            |  THEN cast(array() as array<string>)
            |  ELSE transform(sequence(1, size(toks) - 1),
            |         i -> concat_ws(' ', slice(toks, i, 10))) END"""
            .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("w"))
    // the window-group table feeds BOTH downstream branches (tops
    // and dup-coverage recompute the counts each — no exchange reuse),
    // and each recompute would re-run the wins explode + the FIRST
    // shuffle (every window occurrence). Persisted once: rows are
    // DISTINCT windows — on a dup-dense corpus far fewer than
    // occurrences — unlike the rejected persist of the counts
    // themselves (9 prefix rows per window). DISK_ONLY per the
    // corpus-proportional convention; [[Dedup.releaseCaches]]
    // lifecycle. Measured (idle, min-of-N): sf0.1 6.08 -> 4.73 s,
    // sf1 47.2 -> 41.9 s.
    val wgroups = wins
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("wcnt"), collect_list(col("i")).as("wps"))
      .withColumn("wtoks", split(col("w"), " "))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    Dedup.registerCache(wgroups)
    wgroups.select(col("doc_id"), col("wcnt"), col("wps"),
        explode(expr(
          """transform(sequence(2, size(wtoks)), n ->
            |  named_struct('n', n,
            |    'g', concat_ws(' ', slice(wtoks, 1, n))))"""
            .stripMargin)).as("x"))
      .groupBy(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(sum(col("wcnt")).as("cnt"),
        flatten(collect_list(col("wps"))).as("ps"))
  }

  /** Paper thresholds × 100 (Rae et al. 2021, Table A1), indexed by n. */
  private val GopherRepThresholds: Map[Int, Int] = Map(
    2 -> 20, 3 -> 18, 4 -> 16,
    5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)

  def gopherRepetitionOracle: String = {
    val fracs = ((2 to 4).map(n => n -> s"top_${n}gram_char_frac") ++
      (5 to 10).map(n => n -> s"dup_${n}gram_char_frac")).map {
      case (n, name) =>
        s"""CASE WHEN den = 0 THEN 0.0
           |    ELSE cast(coalesce(num_$n, 0) as double) / cast(den as double)
           |  END AS $name""".stripMargin
    }
    val keep = (2 to 10)
      .map(n => s"coalesce(num_$n, 0) * 100 <= ${GopherRepThresholds(n)} * den")
      .mkString("(", "\n    AND ", ") AS keep")
    val sums = (2 to 10)
      .map(n => s"sum(CASE WHEN n = $n THEN num END) AS num_$n")
      .mkString(",\n    ")
    s"""WITH derived AS (
       |  SELECT doc_id,
       |    concat(text, CASE WHEN substring(md5('rep:' ||
       |        cast(doc_id as varchar)), 1, 1) < '4'
       |      THEN '$RepPhrase' ELSE '' END) AS text
       |  FROM documents),
       |base AS (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS toks,
       |    cast(coalesce(list_sum(list_transform(
       |      list_filter(string_split(text, ' '), t -> length(t) > 0),
       |      t -> length(t))), 0) as bigint) AS den
       |  FROM derived),
       |grams AS (
       |  SELECT doc_id, s.n AS n, s.i AS i, s.g AS g FROM (
       |    SELECT doc_id,
       |      unnest(flatten(list_transform(range(2, 11), n ->
       |        CASE WHEN len(toks) < n THEN []
       |        ELSE list_transform(range(1, cast(len(toks) as int) - n + 2),
       |          i -> {'n': n, 'i': i,
       |                'g': array_to_string(toks[i : i + n - 1], ' ')})
       |        END))) AS s
       |    FROM base) z),
       |counts AS (
       |  SELECT doc_id, n, g, count(*) AS cnt, list(i) AS ps,
       |    cast(length(g) - (n - 1) as bigint) AS glen
       |  FROM grams GROUP BY doc_id, n, g),
       |tops AS (
       |  SELECT doc_id, n, max({'c': cnt, 'l': glen}) AS m
       |  FROM counts WHERE n <= 4 GROUP BY doc_id, n),
       |lens AS (
       |  SELECT doc_id, s.p AS p, s.l AS l FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(
       |        generate_series(1, cast(len(toks) as int)),
       |        i -> {'p': i, 'l': cast(length(toks[i]) as bigint)})) AS s
       |    FROM base WHERE len(toks) >= 1) z),
       |cover AS (
       |  SELECT DISTINCT doc_id, n, p FROM (
       |    SELECT doc_id, n,
       |      unnest(flatten(list_transform(ps,
       |        i -> list_transform(range(0, n), d -> i + d)))) AS p
       |    FROM counts WHERE n >= 5 AND cnt >= 2) z),
       |dups AS (
       |  SELECT c.doc_id, c.n, cast(sum(l.l) as bigint) AS num
       |  FROM cover c JOIN lens l ON c.doc_id = l.doc_id AND c.p = l.p
       |  GROUP BY 1, 2),
       |nums AS (
       |  SELECT doc_id, n, cast(m.c * m.l as bigint) AS num FROM tops
       |  UNION ALL SELECT doc_id, n, num FROM dups),
       |perdoc AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM nums GROUP BY doc_id)
       |SELECT b.doc_id,
       |  ${fracs.mkString(",\n  ")},
       |  $keep
       |FROM (SELECT doc_id, den FROM base) b
       |LEFT JOIN perdoc USING (doc_id)""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // PII scrubbing                                                    //
  // ---------------------------------------------------------------- //

  /** Redaction patterns: (name, regex, replacement). The regex subset is
    * portable between Java regex and RE2 (character classes, bounded
    * repetition, `\b`) so the scrub differentially tests against DuckDB.
    * `entity` is a corpus-matching stand-in pattern (the synthetic corpus
    * carries no real PII) that proves the machinery end-to-end — swap in
    * real NER/gazetteer patterns in production.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("entity", "\\bspark\\b", "<ENT>"))

  /** Scrub the configured patterns out of `text` (applied in declaration
    * order) and count matches of each against the original text. Pure
    * projection — single scan, codegen'd `regexp_replace`/`regexp_count`,
    * no shuffle, trivially linear at any scale. */
  def piiScrub(s: SparkSession, dir: String,
               patterns: Seq[(String, String, String)] = piiPatterns)
      : DataFrame = {
    val base = Tables.documents(s, dir)
    val clean = patterns.foldLeft(col("text")) {
      case (c, (_, re, rep)) => regexp_replace(c, lit(re), lit(rep))
    }
    val counts = patterns.map { case (name, re, _) =>
      regexp_count(col("text"), lit(re)).cast("int").as(s"n_$name")
    }
    val total = patterns.map { case (name, _, _) => col(s"n_$name") }
      .reduce(_ + _).as("n_redactions")
    base.select(
      (col("doc_id") +: clean.as("clean_text") +: counts) :+ total: _*)
  }

  /** DuckDB single-quoted literals keep backslashes as-is, so the Java
    * regexes embed unchanged (the portable subset shares RE2 syntax). */
  def piiScrubOracle: String = {
    val clean = piiPatterns.foldLeft("text") {
      case (c, (_, re, rep)) => s"regexp_replace($c, '$re', '$rep', 'g')"
    }
    val counts = piiPatterns.map { case (name, re, _) =>
      s"cast(len(regexp_extract_all(text, '$re')) as int) AS n_$name"
    }
    val total = piiPatterns.map { case (name, _, _) => s"n_$name" }
      .mkString(" + ")
    s"""SELECT doc_id, clean_text, ${piiPatterns.map("n_" + _._1).mkString(", ")},
       |  $total AS n_redactions
       |FROM (
       |  SELECT doc_id, $clean AS clean_text,
       |    ${counts.mkString(",\n    ")}
       |  FROM documents) t""".stripMargin
  }

  // ---------------------------------------------------------------- //
  // Data mixing                                                      //
  // ---------------------------------------------------------------- //

  /** Re-weight the corpus toward a UNIFORM per-source token share — the
    * "data mixing" step every pretraining pipeline runs between
    * curation and export: measure the actual token distribution, derive
    * a per-source keep-rate `min(1, target_share / actual_share)`
    * (downsample-only), and keep rows by [[Sampling.keepPredicate]]'s
    * deterministic md5 threshold. Unlike [[Sampling.stratified]]'s
    * static rates, the rates here CLOSE THE LOOP from the measured
    * distribution to the sampling decision.
    *
    * Scale: one hash aggregation over sources (metadata-sized result),
    * broadcast back; the keep decision itself stays a codegen'd
    * map-side filter over the corpus scan. Deterministic across
    * re-runs, retries, and layouts. */
  def mixToUniform(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(tokens).cast("bigint").as("n"))
    val tot = tok.groupBy(col("source")).agg(sum(col("n")).as("src_n"))
    val g = tok.agg(sum(col("n")).as("all_n"),
      countDistinct(col("source")).as("n_src"))
    // weight arithmetic in one fixed order so the doubles are
    // bit-identical to the oracle's
    val w = tot.crossJoin(broadcast(g)).select(col("source"),
      least(lit(1.0),
        col("all_n").cast("double") / col("n_src") / col("src_n")).as("w"))
    tok.join(broadcast(w), "source")
      .filter(Sampling.keepPredicate(col("doc_id"), col("source"), col("w")))
      .select(col("doc_id"), col("source"))
  }

  def mixToUniformOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, source,
      |    cast(len(string_split(text, ' ')) as bigint) AS n
      |  FROM documents),
      |tot AS (SELECT source, sum(n) AS src_n FROM tok GROUP BY source),
      |g AS (SELECT sum(n) AS all_n, count(DISTINCT source) AS n_src
      |      FROM tok),
      |w AS (SELECT source,
      |        least(1.0, cast(all_n as double) / n_src / src_n) AS w
      |      FROM tot, g)
      |SELECT t.doc_id, t.source FROM tok t JOIN w ON t.source = w.source
      |WHERE substring(md5(t.source || ':' || cast(t.doc_id as varchar)), 1, 8)
      |  < lpad(lower(hex(cast(floor(
      |      least(greatest(w.w, 0.0), 0.9999999997) * 4294967296.0)
      |    as bigint))), 8, '0')""".stripMargin

  // ---------------------------------------------------------------- //
  // Token-budget sharding                                            //
  // ---------------------------------------------------------------- //

  /** Tokens per output shard for the test-scale corpus. */
  val shardBudget = 512L

  /** Assign each document to a training shard so consecutive documents
    * (in a deterministic md5-shuffled order) fill ~`budget` tokens per
    * shard — the export step that turns a curated corpus into
    * fixed-size training files.
    *
    * The global running sum is computed WITHOUT a single-partition
    * window: documents bucket by the first two hex chars of their sort
    * key (buckets are contiguous ranges of the global order), the
    * within-bucket cumulative sum runs as an ordinary partitioned
    * window, and the 16^`prefixLen` bucket totals — metadata, not
    * data — come to the driver for an exact prefix-sum that re-enters
    * as a broadcast join. At 100 TB, widen the bucket prefix at the
    * call site (`prefixLen = 4` → 65 536 buckets) and nothing else
    * changes — shard assignment is invariant to the bucket width
    * because the buckets are contiguous ranges of the same global
    * md5 order.
    */
  def tokenShards(s: SparkSession, dir: String,
                  budget: Long = shardBudget,
                  prefixLen: Int = 2): DataFrame = {
    // cap 4: the bucket-total collect below is 16^prefixLen rows, and
    // the "driver-side metadata" claim only holds while that stays
    // metadata-sized — 65 536 rows at 4; 16^8 would be a 4.3-billion-row
    // driver pull. 65 536 contiguous buckets already suffice at 100 TB
    // (≈1.6 GB/bucket per PB of tokens).
    require(prefixLen >= 1 && prefixLen <= 4,
      s"prefixLen must be in [1, 4], got $prefixLen")
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      size(tokens).cast("bigint").as("n_tokens"),
      md5(col("doc_id").cast("string")).as("okey"))
      .withColumn("bkt", substring(col("okey"), 1, prefixLen))

    val w = Window.partitionBy(col("bkt")).orderBy(col("okey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("cum_in_bkt", sum(col("n_tokens")).over(w))

    // 16^prefixLen bucket totals -> exact prefix offsets (bounded,
    // driver-side metadata)
    val totals = base.groupBy(col("bkt"))
      .agg(sum(col("n_tokens")).as("bkt_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, n) =>
      val r = Row(b, acc); acc += n; r
    }.toSeq
    val offDf = s.createDataFrame(
      s.sparkContext.parallelize(offsets, 1),
      StructType(Seq(StructField("bkt", StringType, nullable = false),
        StructField("bkt_off", LongType, nullable = false))))

    local.join(broadcast(offDf), "bkt")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(bkt_off + cum_in_bkt - n_tokens) div $budget")
          .as("shard_id"))
  }

  def tokenShardsOracle: String =
    s"""SELECT doc_id, n_tokens,
       |  cast((sum(n_tokens) OVER (ORDER BY okey
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   - n_tokens) // $shardBudget as bigint) AS shard_id
       |FROM (
       |  SELECT doc_id,
       |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
       |    md5(cast(doc_id as varchar)) AS okey
       |  FROM documents) d""".stripMargin

  val packCapacity = 1024L
  private val packShards = 8L

  /** GPT-style sequence packing — concat-and-chunk, the dominant
    * pretraining practice: within each shard, documents concatenate in
    * deterministic order and the token stream splits into fixed-
    * capacity training sequences; a document straddling a boundary
    * contributes a span to each sequence it crosses. Output: one row
    * per (document, sequence) span with the in-document start offset
    * and span length — exactly what a loader needs to materialize
    * sequence tensors (and mask cross-document attention).
    *
    * Plan shape at scale: documents hash into independent shards, each
    * shard's offsets come from ONE window prefix-sum (no global
    * ordering, no driver loop), and the span explosion is `sequence()`
    * per row — output-sized. All arithmetic is exact integers, so the
    * DuckDB oracle matches bit-for-bit. */
  def packChunks(s: SparkSession, dir: String,
      capacity: Long = packCapacity): DataFrame = {
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      size(tokens).cast("bigint").as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(packShards)))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("cum_end", sum(col("n_tokens")).over(w))
      .withColumn("cum_before", col("cum_end") - col("n_tokens"))
      .filter(col("n_tokens") > 0)
    cum
      .withColumn("seq_id", explode(expr(
        s"sequence(cum_before div $capacity, (cum_end - 1) div $capacity)")))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (greatest(col("cum_before"), col("seq_id") * lit(capacity)) -
          col("cum_before")).as("doc_start"),
        (least(col("cum_end"), (col("seq_id") + 1) * lit(capacity)) -
          greatest(col("cum_before"), col("seq_id") * lit(capacity)))
          .as("n_in_seq"))
  }

  def packChunksOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
       |    doc_id % $packShards AS shard
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |    cast(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      as bigint) AS cum_end
       |  FROM d
       |), e AS (
       |  SELECT doc_id, shard, n_tokens, cum_end,
       |    cum_end - n_tokens AS cum_before
       |  FROM c WHERE n_tokens > 0
       |)
       |SELECT shard, t.seq AS seq_id, doc_id,
       |  greatest(cum_before, t.seq * $packCapacity) - cum_before
       |    AS doc_start,
       |  least(cum_end, (t.seq + 1) * $packCapacity)
       |    - greatest(cum_before, t.seq * $packCapacity) AS n_in_seq
       |FROM e, unnest(generate_series(cum_before // $packCapacity,
       |  (cum_end - 1) // $packCapacity)) AS t(seq)""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * score each document by how much its HASHED token-feature
    * distribution looks like a TARGET corpus (here: the `lang = 'en'`
    * slice) relative to the raw pool — the per-doc log importance
    * weight Σ_features c·ln((target_b+1)/(raw_b+1)) that importance
    * resampling then samples by.
    *
    * Exactness recipe (the [[graft.ops.Postings]] bm25 pattern): the
    * 256 hashed-bucket log-ratios are the ONLY float computation,
    * rounded to 6 decimals and cast to exact decimal; every per-doc
    * contribution and sum after that is decimal arithmetic —
    * order-independent, so Spark's partial aggregation and DuckDB's
    * sequential fold agree bit-for-bit.
    *
    * Scale shape: two 256-row feature aggregations (broadcast back),
    * one (doc, bucket) count aggregation, a broadcast join, one final
    * per-doc sum — no quadratic stage, no driver data. Buckets are
    * md5-prefix strings, identical in every engine. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bucketed = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("b", substring(md5(col("tok")), 1, 2))
    val raw = bucketed.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = bucketed.filter(col("lang") === "en")
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val w = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
          (col("cr") + 1).cast("double")), 6)
          .cast("decimal(12,6)").as("w"))
    val perDoc = bucketed.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
    perDoc.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum((col("c") * col("w")).cast("decimal(30,6)"))
        .cast("decimal(30,6)").cast("double").as("dsir_logweight"))
  }

  def dsirWeightsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, t AS tok FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      |    FROM documents)
      |  WHERE length(t) > 0),
      |bk AS (SELECT doc_id, lang, substring(md5(tok), 1, 2) AS b
      |       FROM toks),
      |raw AS (SELECT b, count(*) AS cr FROM bk GROUP BY 1),
      |tgt AS (SELECT b, count(*) AS ct FROM bk WHERE lang = 'en'
      |        GROUP BY 1),
      |w AS (SELECT raw.b,
      |  cast(round(ln((coalesce(ct, 0) + 1)::DOUBLE / (cr + 1)::DOUBLE),
      |    6) as decimal(12,6)) AS w
      |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      |pd AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2)
      |SELECT pd.doc_id,
      |  cast(cast(sum(cast(pd.c * w.w as decimal(30,6)))
      |    as decimal(30,6)) as double) AS dsir_logweight
      |FROM pd JOIN w ON pd.b = w.b
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------- //
  // CCNet-style perplexity bucketing                                 //
  // ---------------------------------------------------------------- //

  /** CCNet's language-model quality gate (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * arXiv:1911.00359): score every document's perplexity under an LM
    * trained on a trusted target corpus, then split the pool into
    * head / middle / tail buckets — head feeds pretraining, tail is
    * dropped. The LM here is a Laplace-smoothed bigram over whitespace
    * tokens (a deliberately simple, fully-differential stand-in for
    * CCNet's 5-gram KenLM; the pipeline shape — train counts, score
    * every doc, threshold on mean token log-prob — is the real one),
    * trained on the `lang = 'en'` slice with a `<s>` start sentinel.
    *
    * Exactness recipe (the [[dsirWeights]] / Postings-bm25 pattern):
    * the per-bigram-type log-probs are the ONLY float computation,
    * rounded to 6 decimals and cast to exact decimal; every per-doc
    * contribution, sum, and threshold comparison after that is decimal
    * arithmetic — order-independent under partial aggregation, and the
    * head/tail cutoffs compare `lp_sum >= cutoff * n_tokens` as exact
    * cross-multiplied decimals, so no division or `exp` ever runs.
    *
    * Scale shape (100 TB): ONE linear scan. The corpus is tokenized and
    * exploded exactly once, into the per-doc bigram count table `pd`
    * ((doc_id, lang, prev, cur) → k) — every other input the pipeline
    * needs is an algebraic projection of `pd`: train bigram counts are
    * `sum(k)` over its `lang='en'` slice, prev-counts are the bigram
    * counts re-aggregated by prev, vocabulary size is a distinct-count
    * over the same slice, and the scored TYPE set is `pd`'s distinct
    * (prev, cur). The first formulation re-derived each of those from
    * the raw token stream — five tokenize+explode scans of the corpus,
    * three of them shuffling TOKEN-level rows; this one shuffles
    * token-level rows exactly once (into `pd`). Measured idle forced
    * runs: 6.3→6.1 s at sf0.1, 18.4→12.7 s at 10×, ~101→80 s at 100× —
    * the repeated token-level aggregations were the scaling term, so
    * the win grows with data.
    * `pd` feeds three branches, so it is persisted for the action
    * (MEMORY_AND_DISK, [[graft.ops.Dedup.releaseCaches]] lifecycle) —
    * it is the narrow post-aggregation table, k× smaller than the
    * token stream it replaces. The bigram weight table joins by
    * SHUFFLE equi-join on (prev, cur) — at real-corpus vocabulary it
    * is many GB and must NOT be broadcast or collected (KenLM holds it
    * in RAM per node; the join is the distributed form of that
    * lookup). Only the 1-row vocabulary size broadcasts. No quadratic
    * stage, no driver data.
    */
  def perplexityBuckets(s: SparkSession, dir: String,
      headAvgLp: java.math.BigDecimal = PplHeadCutoff,
      tailAvgLp: java.math.BigDecimal = PplTailCutoff)
      : DataFrame =
    perplexityBucketsOn(Tables.documents(s, dir), headAvgLp, tailAvgLp)

  /** The LM train+score pass over an explicit (doc_id, lang, text)
    * frame — shared by [[perplexityBuckets]] and
    * [[curatePipelineModern]]'s selection stage. */
  private[graft] def perplexityBucketsOn(docs: DataFrame,
      headAvgLp: java.math.BigDecimal = PplHeadCutoff,
      tailAvgLp: java.math.BigDecimal = PplTailCutoff)
      : DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"), words.as("a"))
      .select(col("doc_id"), col("lang"),
        size(col("a")).cast("bigint").as("n"),
        expr("concat(array('<s>'), a)").as("b"))
    // one scored event per token: (prev, cur) with the sentinel first
    val events = base.filter(col("n") >= 1)
      .select(col("doc_id"), col("lang"), col("n"),
        explode(expr(
          """transform(sequence(1, cast(n as int)),
            |  i -> array(element_at(b, i), element_at(b, i + 1)))"""
            .stripMargin)).as("g"))
      .select(col("doc_id"), col("lang"), col("n"),
        element_at(col("g"), 1).as("p"), element_at(col("g"), 2).as("c"))
    // the ONE corpus-scan product: per-doc bigram counts. Everything
    // below is an algebraic re-aggregation of this table.
    val pd = events.groupBy("doc_id", "lang", "p", "c")
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(pd)
    // ONE fused doc-level aggregate produces lps AND (lang, n) — the
    // weight join preserves every pd row (pplTypeWeights enumerates
    // every (p, c) type of pd, so the inner join is total), lang is
    // single-valued per doc and n = sum(k) (the pplSelectedDocIds
    // algebra). The round-16 form ended in a left-outer SMJ against a
    // re-tokenized `base` just to re-attach (lang, n); that join and
    // its corpus tokenize pass are gone (r17) — only the n == 0 /
    // null-text docs, which pd cannot see and which are 'tail' by
    // definition, union in from the cheap character scan
    // ([[pplEmptyDocs]]).
    pd.join(pplTypeWeights(pd), Seq("p", "c"))
      .groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), sum(col("k")).as("n"),
        sum((col("k") * col("w")).cast("decimal(30,6)"))
          .cast("decimal(30,6)").as("lps"))
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        col("lps").cast("double").as("lp_sum"),
        // n >= 1 on every pd doc, so the n == 0 arm of the round-16
        // chain is provably dead here; the empty/null docs take the
        // union branch below
        when(col("lps") >= lit(headAvgLp).cast("decimal(12,6)") * col("n"),
            "head")
          .when(col("lps") >= lit(tailAvgLp).cast("decimal(12,6)") * col("n"),
            "middle")
          .otherwise("tail").as("ppl_bucket"))
      .unionByName(pplEmptyDocs(docs)
        .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
          lit(null).cast("double").as("lp_sum"),
          lit("tail").as("ppl_bucket")))
  }

  // ---------------------------------------------------------------- //
  // Pinned-model CCNet selection (round 16)                          //
  // ---------------------------------------------------------------- //

  /** Tokenize + per-doc bigram counts of an explicit frame — the two
    * frames every perplexity path starts from ([[perplexityBucketsOn]]
    * trains and scores on the same corpus; the pinned path below
    * trains once and scores batches). `base` = (doc_id, lang, n, b);
    * `pd` = (doc_id, lang, p, c, k) — the ONE corpus-scan product. */
  private def pplBaseAndCounts(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val base = docs
      .select(col("doc_id"), col("lang"), words.as("a"))
      .select(col("doc_id"), col("lang"),
        size(col("a")).cast("bigint").as("n"),
        expr("concat(array('<s>'), a)").as("b"))
    val pd = base.filter(col("n") >= 1)
      .select(col("doc_id"), col("lang"), col("n"),
        explode(expr(
          """transform(sequence(1, cast(n as int)),
            |  i -> array(element_at(b, i), element_at(b, i + 1)))"""
            .stripMargin)).as("g"))
      .select(col("doc_id"), col("lang"), col("n"),
        element_at(col("g"), 1).as("p"), element_at(col("g"), 2).as("c"))
      .groupBy("doc_id", "lang", "p", "c")
      .agg(count(lit(1)).as("k"))
    (base, pd)
  }

  /** The documents the per-doc bigram table `pd` CANNOT see — n == 0
    * (all-spaces text) and n null (null text) — as (doc_id, lang, n),
    * from a character-level scan instead of a tokenize pass (r17): the
    * tokenizer splits on single spaces ([[words]]), so `n == 0` ⟺
    * text is non-null and `translate` strips it to empty, and `n` is
    * null ⟺ text is null (split/filter/size all propagate null).
    * Both document classes are 'tail' with a null lp_sum in every
    * scorer, so the scorers union this frame below their fused
    * doc-level aggregate — the final "attach (lang, n) back to the
    * scores" join of the round-16 form, which re-ran the tokenizer
    * over the whole corpus just to recover (lang, n), is gone: for
    * n >= 1 docs `lang` rides the lps aggregation (single-valued per
    * doc) and `n = sum(k)` (every token contributes exactly one (p, c)
    * event — the [[pplSelectedDocIds]] algebra, gated by the same
    * oracles). */
  private def pplEmptyDocs(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNull ||
        length(translate(col("text"), " ", "")) === 0)
      .select(col("doc_id"), col("lang"),
        when(col("text").isNotNull, lit(0L)).as("n"))

  /** Bigram-weight formula shared by the in-line and pinned scorers:
    * Laplace ln((cbg+1)/(cpr+vsz)) rounded to 6 decimals and cast to
    * exact decimal — the ONLY float computation in the pipeline. */
  private def pplWeightCol: org.apache.spark.sql.Column =
    round(log((coalesce(col("cbg"), lit(0L)) + 1).cast("double") /
      (coalesce(col("cpr"), lit(0L)) + col("vsz")).cast("double")), 6)
      .cast("decimal(12,6)")

  /** Bigram-TYPE weight table (p, c, w) from the per-doc count table
    * `pd` — the in-line (train == score pool) form. One fused
    * aggregation replaces the round-15 four-branch derivation
    * (`pd.distinct` types + en-slice `tr` + `pr` + two equi-joins,
    * which re-aggregated the persisted `pd` four times and shuffled
    * type rows three more): a conditional sum produces every type's
    * en-count in the SAME pass that enumerates the types (`cbg` null ⟺
    * the type never occurs in the train slice — exactly the round-15
    * left-join-miss), the prefix count is a window sum over the
    * type table partitioned by `p` (null-skipping sum = the old
    * en-only `pr` aggregate; no join back), and the vocabulary size is
    * a 1-row broadcast as before. The type table persists
    * MEMORY_AND_DISK for its two readers (the window chain + the
    * vocabulary aggregate) — it is model-sized (bigram TYPES, the
    * KenLM-table analogue), never corpus-sized, and the
    * [[Dedup.releaseCaches]] lifecycle frees it with `pd`. Measured
    * idle sf0.1: curate_ppl_bucket 4.6 -> see
    * OPTIMIZATION_r16.md; arithmetic unchanged (same
    * [[pplWeightCol]] inputs), so every oracled consumer stays
    * bit-identical. */
  private def pplTypeWeights(pd: DataFrame): DataFrame = {
    val tpc = pd.groupBy("p", "c")
      .agg(sum(when(col("lang") === "en", col("k"))).as("cbg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(tpc)
    val v = tpc.agg(
      (countDistinct(when(col("cbg").isNotNull, col("c"))) + 1).as("vsz"))
    tpc
      .withColumn("cpr", sum(col("cbg")).over(Window.partitionBy("p")))
      .crossJoin(broadcast(v))
      .select(col("p"), col("c"), pplWeightCol.as("w"))
  }

  /** The doc_ids [[perplexityBucketsOn]] would keep under
    * `ppl_bucket != 'tail'` — the selection stage of
    * [[curatePipelineModern]] / [[curatePipelineV3]], derived from the
    * per-doc bigram table ALONE. `not tail` ⟺ `n >= 1 AND
    * lps >= tailAvgLp * n`, and both terms are projections of `pd`:
    * every token contributes exactly one (p, c) event, so
    * `sum(k) == n` per doc, and docs with `n == 0` have no `pd` rows
    * at all (they are 'tail' and correctly absent). The round-15 form
    * computed the full bucket frame and filtered it, which re-ran the
    * upstream scan + quality gate a second time just to re-attach
    * (lang, n) columns the filter then threw away. Same comparison
    * expression (decimal(30,6) sum vs decimal(12,6) cutoff x bigint n),
    * so the kept set is bit-identical — gated by the unchanged
    * stitched pipeline oracles. */
  private def pplSelectedDocIds(docs: DataFrame,
      tailAvgLp: java.math.BigDecimal = PplTailCutoff)
      : DataFrame = {
    val (_, pd0) = pplBaseAndCounts(docs)
    val pd = pd0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(pd)
    // the kept set is one bigint per surviving doc — persisted so a
    // caller that references the survivor frame twice
    // (substrDedupPass's two base passes in curatePipelineModern) pays
    // the weight join + doc aggregation once, not per reference, and
    // so the selection join keeps in-memory size statistics (measured:
    // an unpersisted keep costs v2 ~2 s of recompute; a
    // lineage-truncated keep costs v2 ~3.5 s of join-strategy
    // pessimism — the persist is the v2 sweet spot; v3 truncates on
    // top, see curatePipelineV3)
    val keep = pd.join(pplTypeWeights(pd), Seq("p", "c"))
      .groupBy("doc_id")
      .agg(sum((col("k") * col("w")).cast("decimal(30,6)"))
        .cast("decimal(30,6)").as("lps"),
        sum(col("k")).as("n"))
      .filter(col("lps") >= lit(tailAvgLp).cast("decimal(12,6)") * col("n"))
      .select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(keep)
    keep
  }

  /** Train and PIN the CCNet selection model (Wenzek et al. 2020 run a
    * FIXED KenLM with fixed head/middle/tail cutoffs — the stateful
    * half of the selection, frozen at train time so scoring becomes a
    * pure per-document function). Persisted as ONE snapshot tree
    * ([[graft.table.SnapshotTree]] — a re-pin is an atomic whole-model
    * swap under concurrent scorers):
    *
    *  - `tr/` (p, c, cbg) and `pr/` (p, cpr): the bigram/prefix counts
    *    of the training corpus's `lang = 'en'` slice, hash-partitioned
    *    by `pb = xxhash64(p) mod nBuckets` — a batch scorer prunes to
    *    ITS tokens' buckets, the postings-probe shape, so per-batch
    *    I/O follows the batch, not the model;
    *  - `_ppl_meta`: vocabulary size, bucket count, and the PINNED
    *    head/tail cutoffs — the corpus TERCILES of the training pool's
    *    per-doc mean token log-prob (order statistics at ceil(N/3) and
    *    ceil(2N/3) of the rank-desc list, ties to the lower doc_id:
    *    deterministic, DuckDB-reproducible), each a 6-decimal value.
    *
    * Scale shape: training is [[perplexityBucketsOn]]'s one
    * token-level shuffle over the TRAINING corpus, paid once per pin;
    * the tercile derivation adds one doc-level ranking. Re-pinning at
    * fold cadence re-runs it on the grown historic corpus. */
  def trainPplModel(docs: DataFrame, modelPath: String,
      nBuckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    val (_, pd0) = pplBaseAndCounts(docs)
    val pd = pd0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(pd)
    // r16: the round-15 form re-aggregated pd into the en-slice type
    // table once per consumer (vocabulary head, both model writes, the
    // weight join's two sides) — five type-level aggregations plus two
    // joins. One fused conditional aggregate ([[pplTypeWeights]]'s
    // shape) persisted MEMORY_AND_DISK feeds them all: cbg null ⟺ the
    // type never occurs in the train slice (the old left-join miss),
    // the prefix count is a null-skipping window sum, and the written
    // tr/pr relations are the non-null slice and its re-aggregation —
    // row-identical to the round-15 artifacts, so scorePplPinned and
    // the DuckDB twin are untouched.
    val tpc = pd.groupBy("p", "c")
      .agg(sum(when(col("lang") === "en", col("k"))).as("cbg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(tpc)
    val trainTypes = tpc.filter(col("cbg").isNotNull)
      .select(col("p"), col("c"), col("cbg"))
    val pr = trainTypes.groupBy("p").agg(sum(col("cbg")).as("cpr"))
    val v = tpc.agg(
      (countDistinct(when(col("cbg").isNotNull, col("c"))) + 1).as("vsz"))
    // score the TRAINING pool under its own weights to derive the
    // tercile cutoffs (the same arithmetic scorePplPinned replays)
    val w = tpc
      .withColumn("cpr", sum(col("cbg")).over(Window.partitionBy("p")))
      .crossJoin(broadcast(v))
      .select(col("p"), col("c"), pplWeightCol.as("w"))
    // the per-doc token count rides the SAME aggregation as the score
    // (`sum(k) == n`, the [[pplEmptyDocs]] algebra; n == 0 docs have no
    // pd rows and never scored here anyway), so the round-16 form's
    // re-tokenized `base` join is gone — one tokenize pass in the
    // whole train job (r17)
    val avg6 = pd
      .join(w, Seq("p", "c"))
      .groupBy("doc_id")
      .agg(sum((col("k") * col("w")).cast("decimal(30,6)"))
        .cast("decimal(30,6)").as("lps"), sum(col("k")).as("n"))
      .select(col("doc_id"),
        round(col("lps").cast("double") / col("n").cast("double"), 6)
          .cast("decimal(12,6)").as("avg6"))
    // tercile order statistics: a doc-level rank — ONE reducer over N
    // doc rows (corpus-stats scale, not token scale; a 100 TB pin
    // could swap approx quantiles here at the cost of the exact
    // DuckDB differential). r16: ONE action derives every scalar the
    // meta file needs — the doc count rides the same single-partition
    // window as the rank (so the tercile indices are expressions, not
    // a prior count() job), and the vocabulary size crosses in as the
    // 1-row broadcast — where the round-15 form ran three jobs
    // (vocabulary head, doc count, rank filter), each re-running the
    // weight join behind it.
    val rankW = Window.orderBy(col("avg6").desc, col("doc_id"))
    val metaRows = avg6
      .withColumn("rk", row_number().over(rankW))
      .withColumn("cnt", count(lit(1)).over(rankW.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rk") === ceil(col("cnt") / 3.0) ||
        col("rk") === ceil(col("cnt") * 2 / 3.0))
      .crossJoin(broadcast(v))
      .select(col("rk"), col("avg6"), col("cnt"), col("vsz"))
      .collect()
    require(metaRows.nonEmpty, "trainPplModel: empty training corpus")
    val nDocs = metaRows.head.getLong(2)
    val vsz = metaRows.head.getLong(3)
    val k1 = math.ceil(nDocs / 3.0).toLong
    val k2 = math.ceil(2.0 * nDocs / 3.0).toLong
    val cuts = metaRows
      .map(r => r.getInt(0).toLong -> r.getDecimal(1).toPlainString).toMap
    val headCut = cuts(k1)
    val tailCut = cuts.getOrElse(k2, headCut)
    graft.table.SnapshotTree.publish(spark, modelPath) { t =>
      val pb = pmod(xxhash64(col("p")), lit(nBuckets.toLong)).cast("int")
      // tr and pr are independent projections of the cached type
      // table — write them as two concurrent jobs so the small pr write
      // back-fills the tr write's task tail; both finish before publish
      // can abort and clean up the snapshot
      graft.session.Jobs.concurrently(
        trainTypes.withColumn("pb", pb).repartition(col("pb"))
          .write.partitionBy("pb").mode("overwrite").parquet(s"$t/tr"),
        pr.withColumn("pb", pb).repartition(col("pb"))
          .write.partitionBy("pb").mode("overwrite").parquet(s"$t/pr"))
      val p = new org.apache.hadoop.fs.Path(t, "_ppl_meta")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(
        (s"vsz=$vsz\nnBuckets=$nBuckets\nheadCut=$headCut\n" +
          s"tailCut=$tailCut\ntrainedDocs=$nDocs\n").getBytes("UTF-8"))
      finally out.close()
    }
    pd.unpersist(); tpc.unpersist()
  }

  final case class PplModelMeta(vsz: Long, nBuckets: Int,
      headCut: java.math.BigDecimal, tailCut: java.math.BigDecimal,
      trainedDocs: Long)

  def readPplModelMeta(spark: SparkSession, root: String): PplModelMeta = {
    val p = new org.apache.hadoop.fs.Path(root, "_ppl_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val kv = text.linesIterator.filter(_.contains("="))
      .map { l => val Array(a, b) = l.split("=", 2); a -> b }.toMap
    PplModelMeta(kv("vsz").toLong, kv("nBuckets").toInt,
      new java.math.BigDecimal(kv("headCut")),
      new java.math.BigDecimal(kv("tailCut")), kv("trainedDocs").toLong)
  }

  /** Score documents under a PINNED model — the stream-safe CCNet
    * selection: a pure per-document function of (text, model), so the
    * same call gates a corpus batch or a micro-batch identically
    * (StreamCurationV3Spec pins it across a re-pin boundary). ONE
    * snapshot resolution per call; the model scan prunes to the
    * batch's token buckets (collected driver-side — ≤ nBuckets ints),
    * joins the batch counts by (p, c) with the BATCH side broadcast,
    * and unseen bigrams back off to ln(1/(cpr+V)) exactly as training
    * arithmetic does. Output shape = [[perplexityBucketsOn]]:
    * (doc_id, lang, n_tokens, lp_sum, ppl_bucket) — buckets from the
    * pinned tercile cutoffs, compared on the 6-decimal per-doc mean. */
  def scorePplPinned(docs: DataFrame, modelPath: String): DataFrame = {
    val spark = docs.sparkSession
    val root = graft.table.SnapshotTree.root(spark, modelPath)
    val meta = readPplModelMeta(spark, root)
    val (_, pd0) = pplBaseAndCounts(docs)
    val pd = pd0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.registerCache(pd)
    val pbOf = pmod(xxhash64(col("p")), lit(meta.nBuckets.toLong))
      .cast("int")
    val buckets = pd.select(pbOf.as("pb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    def pruned(sub: String) =
      spark.read.option("basePath", s"$root/$sub").parquet(s"$root/$sub")
        .filter(col("pb").isin(buckets.map(Int.box): _*)).drop("pb")
    val types = pd.select("p", "c").distinct()
    val w = types
      .join(pruned("tr"), Seq("p", "c"), "left")
      .join(pruned("pr"), Seq("p"), "left")
      .withColumn("vsz", lit(meta.vsz))
      .select(col("p"), col("c"), pplWeightCol.as("w"))
    val avg6 = round(col("lps").cast("double") / col("n").cast("double"), 6)
      .cast("decimal(12,6)")
    // ONE fused doc-level aggregate produces lps AND (lang, n) — `w`
    // has exactly one row per batch (p, c) type (left joins off the
    // batch's own distinct types), so the inner join preserves every
    // pd row; lang is single-valued per doc and n = sum(k). The
    // round-16 form ended in a left-outer join against a re-tokenized
    // `base` just to re-attach (lang, n) — that join and its tokenize
    // pass over the batch are gone (r17); the n == 0 / null-text docs,
    // 'tail' by definition, union in from the cheap character scan
    // ([[pplEmptyDocs]]).
    pd.join(w, Seq("p", "c"))
      .groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), sum(col("k")).as("n"),
        sum((col("k") * col("w")).cast("decimal(30,6)"))
          .cast("decimal(30,6)").as("lps"))
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        col("lps").cast("double").as("lp_sum"),
        when(avg6 >= lit(meta.headCut).cast("decimal(12,6)"), "head")
          .when(avg6 >= lit(meta.tailCut).cast("decimal(12,6)"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .unionByName(pplEmptyDocs(docs)
        .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
          lit(null).cast("double").as("lp_sum"),
          lit("tail").as("ppl_bucket")))
  }

  /** DuckDB CTE chain of the bigram-LM bucketing, rooted at `src`, CTE
    * names prefixed with `px`; `${px}pout` is the final
    * (doc_id, lang, n_tokens, lp_sum, ppl_bucket) relation. */
  private[graft] def pplSqlCtes(src: String, px: String = "",
      headAvgLp: String = PplHeadCutoff.toPlainString,
      tailAvgLp: String = PplTailCutoff.toPlainString): String =
    s"""${px}ptk AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS a
       |  FROM $src),
       |${px}pbase AS (
       |  SELECT doc_id, lang, cast(len(a) as bigint) AS n,
       |         list_prepend('<s>', a) AS b FROM ${px}ptk),
       |${px}pe AS (
       |  SELECT doc_id, lang, n, g[1] AS p, g[2] AS c
       |  FROM (SELECT doc_id, lang, n,
       |          unnest(list_transform(generate_series(1, cast(n as int)),
       |            i -> [b[i], b[i + 1]])) AS g
       |        FROM ${px}pbase WHERE n >= 1)),
       |${px}ptr AS (SELECT p, c, count(*) AS cbg FROM ${px}pe
       |             WHERE lang = 'en' GROUP BY 1, 2),
       |${px}ppr AS (SELECT p, count(*) AS cpr FROM ${px}pe
       |             WHERE lang = 'en' GROUP BY 1),
       |${px}pv  AS (SELECT count(DISTINCT c) + 1 AS vsz FROM ${px}pe
       |             WHERE lang = 'en'),
       |${px}pty AS (SELECT DISTINCT p, c FROM ${px}pe),
       |${px}pw  AS (SELECT ty.p, ty.c,
       |         cast(round(ln((coalesce(cbg, 0) + 1)::DOUBLE /
       |                       (coalesce(cpr, 0) + vsz)::DOUBLE), 6)
       |              as decimal(12,6)) AS w
       |       FROM ${px}pty ty CROSS JOIN ${px}pv
       |       LEFT JOIN ${px}ptr tr ON ty.p = tr.p AND ty.c = tr.c
       |       LEFT JOIN ${px}ppr pr ON ty.p = pr.p),
       |${px}ppd AS (SELECT doc_id, p, c, count(*) AS k FROM ${px}pe
       |             GROUP BY 1, 2, 3),
       |${px}plp AS (SELECT pd.doc_id,
       |         cast(sum(cast(pd.k * w.w as decimal(30,6)))
       |              as decimal(30,6)) AS lps
       |       FROM ${px}ppd pd JOIN ${px}pw w
       |         ON pd.p = w.p AND pd.c = w.c GROUP BY 1),
       |${px}pout AS (
       |  SELECT b.doc_id, b.lang, b.n AS n_tokens,
       |    cast(lps as double) AS lp_sum,
       |    CASE WHEN b.n = 0 THEN 'tail'
       |         WHEN lps >= cast($headAvgLp as decimal(12,6)) * b.n
       |           THEN 'head'
       |         WHEN lps >= cast($tailAvgLp as decimal(12,6)) * b.n
       |           THEN 'middle'
       |         ELSE 'tail' END AS ppl_bucket
       |  FROM ${px}pbase b LEFT JOIN ${px}plp lp ON b.doc_id = lp.doc_id)"""
      .stripMargin

  def perplexityBucketsOracle: String =
    s"""WITH ${pplSqlCtes("documents")}
       |SELECT doc_id, lang, n_tokens, lp_sum, ppl_bucket FROM pout"""
      .stripMargin

  /** DuckDB CTE chain of the PINNED-model scorer: train the bigram LM
    * and the tercile cutoffs on `trainSrc`, score `scoreSrc` under
    * them — the recomputed twin of [[trainPplModel]] +
    * [[scorePplPinned]]. Same arithmetic as [[pplSqlCtes]] (6-decimal
    * weights, decimal sums); cutoffs are the rank-desc order
    * statistics at ceil(N/3) / ceil(2N/3). `${px}pout` is the final
    * (doc_id, lang, n_tokens, lp_sum, ppl_bucket) relation. */
  private[graft] def pplPinnedSqlCtes(scoreSrc: String, trainSrc: String,
      px: String = ""): String =
    s"""${px}ttk AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS a
       |  FROM $trainSrc),
       |${px}tbase AS (
       |  SELECT doc_id, lang, cast(len(a) as bigint) AS n,
       |         list_prepend('<s>', a) AS b FROM ${px}ttk),
       |${px}te AS (
       |  SELECT doc_id, lang, n, g[1] AS p, g[2] AS c
       |  FROM (SELECT doc_id, lang, n,
       |          unnest(list_transform(generate_series(1, cast(n as int)),
       |            i -> [b[i], b[i + 1]])) AS g
       |        FROM ${px}tbase WHERE n >= 1)),
       |${px}ttr AS (SELECT p, c, count(*) AS cbg FROM ${px}te
       |             WHERE lang = 'en' GROUP BY 1, 2),
       |${px}tpr AS (SELECT p, count(*) AS cpr FROM ${px}te
       |             WHERE lang = 'en' GROUP BY 1),
       |${px}tv  AS (SELECT count(DISTINCT c) + 1 AS vsz FROM ${px}te
       |             WHERE lang = 'en'),
       |${px}tty AS (SELECT DISTINCT p, c FROM ${px}te),
       |${px}tw  AS (SELECT ty.p, ty.c,
       |         cast(round(ln((coalesce(cbg, 0) + 1)::DOUBLE /
       |                       (coalesce(cpr, 0) + vsz)::DOUBLE), 6)
       |              as decimal(12,6)) AS w
       |       FROM ${px}tty ty CROSS JOIN ${px}tv
       |       LEFT JOIN ${px}ttr tr ON ty.p = tr.p AND ty.c = tr.c
       |       LEFT JOIN ${px}tpr pr ON ty.p = pr.p),
       |${px}tpd AS (SELECT doc_id, p, c, count(*) AS k FROM ${px}te
       |             GROUP BY 1, 2, 3),
       |${px}tlp AS (SELECT pd.doc_id,
       |         cast(sum(cast(pd.k * w.w as decimal(30,6)))
       |              as decimal(30,6)) AS lps
       |       FROM ${px}tpd pd JOIN ${px}tw w
       |         ON pd.p = w.p AND pd.c = w.c GROUP BY 1),
       |${px}tavg AS (
       |  SELECT b.doc_id,
       |    cast(round(cast(lps as double) / cast(b.n as double), 6)
       |         as decimal(12,6)) AS avg6
       |  FROM ${px}tbase b JOIN ${px}tlp lp ON b.doc_id = lp.doc_id
       |  WHERE b.n >= 1),
       |${px}trk AS (
       |  SELECT avg6, row_number() OVER (ORDER BY avg6 DESC, doc_id)
       |    AS rk FROM ${px}tavg),
       |${px}tcut AS (
       |  SELECT
       |    (SELECT avg6 FROM ${px}trk
       |     WHERE rk = cast(ceil((SELECT count(*) FROM ${px}tavg) / 3.0)
       |                     as bigint)) AS headcut,
       |    (SELECT avg6 FROM ${px}trk
       |     WHERE rk = cast(ceil(2.0 * (SELECT count(*) FROM ${px}tavg)
       |                          / 3.0) as bigint)) AS tailcut),
       |${px}stk AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS a
       |  FROM $scoreSrc),
       |${px}sbase AS (
       |  SELECT doc_id, lang, cast(len(a) as bigint) AS n,
       |         list_prepend('<s>', a) AS b FROM ${px}stk),
       |${px}se AS (
       |  SELECT doc_id, lang, n, g[1] AS p, g[2] AS c
       |  FROM (SELECT doc_id, lang, n,
       |          unnest(list_transform(generate_series(1, cast(n as int)),
       |            i -> [b[i], b[i + 1]])) AS g
       |        FROM ${px}sbase WHERE n >= 1)),
       |${px}spd AS (SELECT doc_id, p, c, count(*) AS k FROM ${px}se
       |             GROUP BY 1, 2, 3),
       |${px}sty AS (SELECT DISTINCT p, c FROM ${px}se),
       |${px}sw  AS (SELECT ty.p, ty.c,
       |         cast(round(ln((coalesce(cbg, 0) + 1)::DOUBLE /
       |                       (coalesce(cpr, 0) + vsz)::DOUBLE), 6)
       |              as decimal(12,6)) AS w
       |       FROM ${px}sty ty CROSS JOIN ${px}tv
       |       LEFT JOIN ${px}ttr tr ON ty.p = tr.p AND ty.c = tr.c
       |       LEFT JOIN ${px}tpr pr ON ty.p = pr.p),
       |${px}slp AS (SELECT pd.doc_id,
       |         cast(sum(cast(pd.k * w.w as decimal(30,6)))
       |              as decimal(30,6)) AS lps
       |       FROM ${px}spd pd JOIN ${px}sw w
       |         ON pd.p = w.p AND pd.c = w.c GROUP BY 1),
       |${px}pout AS (
       |  SELECT b.doc_id, b.lang, b.n AS n_tokens,
       |    cast(lps as double) AS lp_sum,
       |    CASE WHEN b.n = 0 THEN 'tail'
       |         WHEN cast(round(cast(lps as double) / cast(b.n as double),
       |                         6) as decimal(12,6)) >= headcut
       |           THEN 'head'
       |         WHEN cast(round(cast(lps as double) / cast(b.n as double),
       |                         6) as decimal(12,6)) >= tailcut
       |           THEN 'middle'
       |         ELSE 'tail' END AS ppl_bucket
       |  FROM ${px}sbase b LEFT JOIN ${px}slp lp ON b.doc_id = lp.doc_id
       |  CROSS JOIN ${px}tcut)""".stripMargin

  /** One pinned model per corpus dir (train slice: doc_id % 10 != 7),
    * built once per JVM — the fixture the oracle probes against. */
  private val pplModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def pplModelFor(s: SparkSession, dir: String): String =
    pplModelCache.computeIfAbsent(dir, _ => {
      val tmp = graft.session.Scratch.dir("graft-pplmodel") + "/m"
      trainPplModel(Tables.documents(s, dir)
        .filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("lang"), col("text")), tmp)
      tmp
    })

  /** Oracle-gated pinned-model selection: the model (LM counts +
    * tercile cutoffs) trains on the 90% historic slice, then EVERY
    * document scores under it — including the held-out 10% the model
    * never saw, the streaming-batch situation. The DuckDB twin
    * recomputes train + cutoffs + scoring from the raw corpus. */
  def curatePplPinned(s: SparkSession, dir: String): DataFrame =
    scorePplPinned(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")),
      pplModelFor(s, dir))

  def curatePplPinnedOracle: String =
    s"""WITH ppltrain AS (
       |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 7),
       |${pplPinnedSqlCtes("documents", "ppltrain")}
       |SELECT doc_id, lang, n_tokens, lp_sum, ppl_bucket FROM pout"""
      .stripMargin

  // ---------------------------------------------------------------- //
  // End-to-end curation pipeline                                     //
  // ---------------------------------------------------------------- //

  /** The COMPOSED curation pipeline — the RefinedWeb/CCNet shape a
    * production pretraining run actually executes, as ONE declarative
    * DataFrame plan Catalyst optimizes end-to-end (the scrub, the
    * quality expressions and the filters fuse into the same
    * whole-stage-codegen'd scan; only the dedup/decontamination
    * aggregations shuffle):
    *
    *   1. PII scrub ([[piiPatterns]]) — map-side projection;
    *   2. quality gate (the [[Text.qualityScore]] formula over the
    *      SCRUBBED text, `>= minQuality`) — map-side filter;
    *   3. test-set decontamination (drop any doc sharing a `contamN`-
    *      token gram with the benchmark stand-in, `source = src0`, as
    *      in [[Decontaminate.contamination]]) — broadcast gram
    *      semi-join, no corpus shuffle;
    *   4. exact-segment boilerplate removal
    *      ([[Dedup.exactSegmentDedup]]'s pass, applied to the
    *      survivors) — linear count + anti-join.
    *
    * Output: (doc_id, text, n_tokens) of the curated corpus. Every
    * stage's arithmetic is the hash-exact form its standalone oracle
    * already proves, so the WHOLE pipeline differentially tests
    * against DuckDB as one query. */
  def curatePipeline(s: SparkSession, dir: String,
      minQuality: Double = 0.55, contamN: Int = 4,
      segTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    val cleanCol = piiPatterns.foldLeft(col("text")) {
      case (c, (_, re, rep)) => regexp_replace(c, lit(re), lit(rep))
    }
    val scrubbed = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), cleanCol.as("text"))
    val qual = scrubbed.filter(Text.qualityCol >= minQuality)
    // decontamination: benchmark = src0 docs (scrubbed + quality-gated
    // the same way), corpus = the rest
    val contaminated = Decontaminate.check(
      qual.filter(col("source") =!= "src0"),
      qual.filter(col("source") === "src0"), n = contamN)
      .select(col("doc_id"))
    // deliberately NOT persisted: the segment pass consumes survivors
    // twice, but both recomputes are streamed codegen (regex scrub →
    // quality filter → broadcast gram anti-join) and a 100× A/B showed
    // every caching variant LOSES to recompute here — exploded segs
    // cached 175 s, survivors cached 188 s, plain recompute 126 s:
    // columnar cache *build* of corpus text costs more than a second
    // streamed pass. (Contrast semDedup, where the recomputed branch
    // is an n×k·d argmax, not a stream — there the persist wins 10×.)
    val survivors = qual.filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
    // exact-segment boilerplate removal over the survivors (the shared
    // pass of Dedup.exactSegmentDedup)
    Dedup.segmentDedupPass(survivors.select(col("doc_id"), col("text")),
        segTokens, minDocs)
      .withColumn("n_tokens", size(split(col("text"), " ")))
  }

  def curatePipelineOracle: String = {
    val clean = piiPatterns.foldLeft("text") {
      case (c, (_, re, rep)) => s"regexp_replace($c, '$re', '$rep', 'g')"
    }
    s"""WITH scrub AS (
       |  SELECT doc_id, source, $clean AS text FROM documents),
       |qual AS (
       |  SELECT doc_id, source, text FROM scrub
       |  WHERE ${Text.qualitySql}
       |    >= 0.55),
       |toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
       |         FROM qual),
       |g AS (
       |  SELECT doc_id, source,
       |    unnest(list_distinct(list_transform(
       |      generate_series(1, greatest(len(t) - 3, 0)),
       |      i -> array_to_string(t[i:i+3], ' ')))) AS g
       |  FROM toks),
       |contaminated AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM (SELECT doc_id, g FROM g WHERE source <> 'src0') c
       |  JOIN (SELECT DISTINCT g FROM g WHERE source = 'src0') b USING (g)),
       |survivors AS (
       |  SELECT doc_id, text FROM qual
       |  WHERE source <> 'src0'
       |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |${graft.ops.Dedup.segmentSqlCtes("survivors")}
       |SELECT doc_id, text,
       |  cast(len(string_split(text, ' ')) as int) AS n_tokens
       |FROM (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
       |  FROM kept GROUP BY doc_id) f""".stripMargin
  }

  /** The MODERN pretraining-curation recipe (the FineWeb/CCNet/Lee
    * et al. ordering), composed from this round's operators as ONE
    * declarative plan:
    *
    *   1. Gopher word-level quality gate ([[gopherGate]]) — a pure
    *      map-side filter that FUSES into the scan (no stage boundary,
    *      no join: the rules are per-doc lambdas);
    *   2. CCNet perplexity selection ([[perplexityBucketsOn]] over the
    *      gated survivors, `ppl_bucket != 'tail'`) — the bigram LM
    *      trains on the gated `lang='en'` slice, one token-level
    *      shuffle, doc-id semi-join back;
    *   3. exact-substring dedup ([[Dedup.substrDedupPass]]) over what
    *      remains — window-level shuffles only.
    *
    * Stage order matters and is the published one: quality gates run
    * BEFORE dedup so boilerplate-heavy spam never pollutes the
    * window-frequency table, and the LM trains on quality-gated text.
    * Every stage's arithmetic is the hash-exact form its standalone
    * oracle proves, so the whole pipeline differentially gates against
    * DuckDB as one query (`curate_pipeline_v2`).
    *
    * Scale shape (100 TB): stage 1 is free (fused into the scan);
    * stage 2 adds the documented single token-level shuffle plus a
    * doc-level semi-join; stage 3 is the substring pass's window-level
    * traffic. The gated frame feeds stages 2 and 3 — both recomputes
    * are scan + codegen'd filter, the shape the measured
    * cache-vs-recompute A/Bs say to stream, not cache. */
  def curatePipelineModern(s: SparkSession, dir: String,
      minWords: Int = 50, maxWords: Int = 100000,
      k: Int = 8, minDocs: Int = 2,
      stopWords: Seq[String] = GopherStopWords): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val gated = gopherGate(docs, minWords, maxWords, stopWords)
    // r16: the keep set derives from the bigram table alone
    // ([[pplSelectedDocIds]]) — the round-15 form filtered the full
    // bucket frame, whose final join re-ran the scan + gate once more
    val keep = pplSelectedDocIds(gated)
    val survivors = gated.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
    Dedup.substrDedupPass(survivors, k, minDocs)
  }

  /** The pipeline oracle takes the SAME knobs as
    * [[curatePipelineModern]] — the CTE generators interpolate them, so
    * a non-default Spark-side call cannot silently diverge from the SQL
    * it is gated against. */
  def curatePipelineModernOracle(stopWords: Seq[String],
      minWords: Int = 50, maxWords: Int = 100000,
      k: Int = 8, minDocs: Int = 2): String =
    s"""WITH ${gopherSqlCtes("documents", "g", stopWords, minWords, maxWords)},
       |gated AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN ggkeep USING (doc_id)
       |  WHERE ggkeep.keep),
       |${pplSqlCtes("gated", "p")},
       |keepdocs AS (
       |  SELECT doc_id FROM ppout WHERE ppl_bucket <> 'tail'),
       |surv AS (
       |  SELECT g.doc_id, g.text FROM gated g
       |  JOIN keepdocs USING (doc_id)),
       |${Dedup.substrSqlCtes("surv", "s", k, minDocs)}
       |SELECT doc_id, text, n_removed FROM sres""".stripMargin

  /** The PRODUCTION pretraining recipe (round 15 — what RefinedWeb and
    * Dolma actually run): fuzzy dedup INSIDE the pipeline, between
    * selection and exact-substring cleanup, not beside it:
    *
    *   1. Gopher word-level quality gate ([[gopherGate]]) — fused into
    *      the scan, zero stage boundary;
    *   2. CCNet perplexity selection (`ppl_bucket != 'tail'`);
    *   3. ROUTED fuzzy dedup ([[Dedup.minhashDedupRoutedOn]]) over the
    *      selected survivors — over-cap LSH buckets (boilerplate mass)
    *      take the linear cluster route, the rest pair-enumerate under
    *      the cap; only `keep = true` docs continue;
    *   4. exact-substring dedup ([[Dedup.substrDedupPass]]) removes
    *      repeated segments WITHIN the fuzzy-unique survivors.
    *
    * Running the routed treatment on gated+selected text (not the raw
    * corpus) is the point of the composition: the quality gate has
    * already removed the junk mass that inflates LSH buckets, so the
    * skew guard sees the corpus the pair-enumeration bound was sized
    * for, and the substring pass's window-frequency table is built
    * from fuzzy-unique docs only — each stage shrinks the next stage's
    * shuffle mass. One declarative plan; every stage's arithmetic is
    * its standalone oracle's, so the whole recipe gates against DuckDB
    * as one query (`curate_pipeline_v3`). */
  def curatePipelineV3(s: SparkSession, dir: String,
      minWords: Int = 50, maxWords: Int = 100000,
      cap: Int = 16, minEst: Double = 0.5,
      k: Int = 8, minDocs: Int = 2,
      stopWords: Seq[String] = GopherStopWords): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    // r16: the keep set derives from the bigram table alone
    // ([[pplSelectedDocIds]]), deleting the round-15 plan's third
    // gate+scan pass (the bucket frame's final join back to `base`).
    // The remaining two gate evaluations (the bigram build and the
    // survivor join) stay STREAMED: a DISK_ONLY persist of `gated` was
    // measured (this round, restricted idle sweeps) at 31.8 s vs
    // 26.0 s streamed at sf0.1 — the columnar cache build of corpus
    // TEXT costs more than one extra scan+gate, the same verdict as
    // every text-cache A/B this repo has recorded.
    // localCheckpoint on the METADATA-scale keep set (one bigint per
    // survivor): `selected` is referenced through every downstream
    // branch (the routed signature table, its cluster/pair routes,
    // both substring base passes), and each reference re-expands the
    // full perplexity lineage inside the plan tree — the round-15
    // formatted plan was 1.7 MB / 1154 Exchange nodes, and the
    // optimizer walks that tree per action (guide §3.3's "very large
    // plans" case). Truncating at the narrowest frame cuts it out of
    // every consumer while the corpus-scale frames (gated text,
    // signatures, windows) keep lineage for executor-loss recompute.
    // Measured idle sf0.1 restricted sweeps: 19–23 s persisted-only,
    // 13.0 s truncated.
    val gated = gopherGate(docs, minWords, maxWords, stopWords)
    val keep = pplSelectedDocIds(gated).localCheckpoint()
    // `selected` feeds the routed signature table AND the
    // fuzzy-survivor join — each recomputation re-runs the scan, the
    // gate, and the perplexity chain (its token-level shuffle is the
    // expensive part). Materialized ONCE (DISK_ONLY, the lshPairs
    // rationale: never pin block-manager memory, keep lineage for
    // executor-loss recompute) under the [[Dedup.releaseCaches]]
    // lifecycle. Measured idle, best of 2: sf0.1 streamed 15.6 s vs
    // persisted 11.4 s (1.4×), sf1 38.5 s vs 19.0 s (2.0×) — unlike
    // the plain text-cache A/Bs this repo has rejected, the avoided
    // recompute here carries the perplexity shuffle, which costs more
    // than writing the selected rows once.
    val selected = gated.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    Dedup.registerCache(selected)
    // same truncation as `keep` above: the fuzzy-survivor id set is
    // metadata-scale, and substrDedupPass references its input frame
    // twice — without the checkpoint each reference re-expands the
    // whole routed-dedup subtree (banded rows, both routes) in the
    // final plan
    val fuzzyKeep = Dedup.minhashDedupRoutedOn(selected, cap, minEst)
      .filter(col("keep")).select(col("doc_id"))
      .localCheckpoint()
    Dedup.substrDedupPass(selected.join(fuzzyKeep, Seq("doc_id")),
      k, minDocs)
  }

  /** Stitched oracle for [[curatePipelineV3]] — the same CTE
    * generators every stage's standalone oracle uses, chained on one
    * relation, same knobs interpolation contract as
    * [[curatePipelineModernOracle]]. */
  def curatePipelineV3Oracle(stopWords: Seq[String],
      minWords: Int = 50, maxWords: Int = 100000,
      cap: Int = 16, minEst: Double = 0.5,
      k: Int = 8, minDocs: Int = 2): String =
    s"""WITH ${gopherSqlCtes("documents", "g", stopWords, minWords, maxWords)},
       |gated AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN ggkeep USING (doc_id)
       |  WHERE ggkeep.keep),
       |${pplSqlCtes("gated", "p")},
       |keepdocs AS (
       |  SELECT doc_id FROM ppout WHERE ppl_bucket <> 'tail'),
       |sel AS (
       |  SELECT g.doc_id, g.text FROM gated g
       |  JOIN keepdocs USING (doc_id)),
       |${Dedup.routedSqlCtes("sel", "r", cap, minEst)},
       |surv AS (
       |  SELECT s.doc_id, s.text FROM sel s
       |  JOIN rrep r ON s.doc_id = r.doc_id AND r.keep),
       |${Dedup.substrSqlCtes("surv", "s", k, minDocs)}
       |SELECT doc_id, text, n_removed FROM sres""".stripMargin

  /** The FULL stateless curation rule set as one batch transform
    * (round 15) — every gate that needs no cross-document state:
    *
    *   1. Gopher word-level rules ([[gopherGate]]) — per-row filter;
    *   2. C4 line/page rules ([[c4PageKeepExpr]] over `split(text,
    *      '\n')`) — per-row filter, fused with (1) in one codegen'd
    *      map;
    *   3. Gopher repetition thresholds ([[gopherRepetitionOn]]'s
    *      `keep`) — per-DOCUMENT n-gram aggregation (every grouping
    *      key carries doc_id), joined back as a semi-join.
    *
    * Cheap gates run first so the n-gram tables are built only from
    * docs that already passed the per-row rules. Nothing here holds
    * state across inputs, which is what lets the same function run
    * unchanged over a corpus AND inside a streaming micro-batch
    * ([[graft.streaming.EventStream.curationIngestFull]]) — batch and
    * stream results are identical by construction
    * (StreamCurationFullSpec). */
  def fullStatelessGate(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      stopWords: Seq[String] = GopherStopWords): DataFrame = {
    val wordGated = gopherGate(docs, minWords, maxWords, stopWords)
    val orig = docs.columns.map(col).toSeq
    val c4Gated = wordGated
      .withColumn("lines", split(col("text"), "\n"))
      .filter(c4PageKeepExpr)
      .select(orig: _*)
    val repKeep = gopherRepetitionOn(
        c4Gated.select(col("doc_id"), col("text")))
      .filter(col("keep")).select(col("doc_id"))
    c4Gated.join(repKeep, Seq("doc_id"))
  }
}
