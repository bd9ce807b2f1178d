package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Curation

/** Curation-operator semantics and plan shape: Gopher-style repetition
  * metrics, PII scrubbing, and token-budget sharding. The DuckDB oracle
  * gates values end-to-end; these specs pin the properties the oracle
  * can't see — determinism, shard-budget invariants, plan shape. */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  private val sf = "/root/testdata/sf0.001"

  test("gopher rules: exact stats, rule boundaries, zero-shuffle plan") {
    val docs = Tables.documents(spark, sf).count()
    val g = Curation.gopherRules(spark, sf).cache()
    try {
      assert(g.count() == docs)
      // invariants: alpha words never exceed words; mean-length rule is
      // the exact cross-multiplied comparison
      assert(g.filter(col("n_alpha_words") > col("n_words")).count() == 0)
      val kept = g.filter(col("keep"))
      assert(kept.filter(col("n_words") < 50).count() == 0)
      assert(kept.filter(lit(3) * col("n_words") > col("sum_word_len"))
        .count() == 0)
      // hand-built boundary docs through the OPERATOR itself — each
      // verdict asserted, with the failing statistic named
      import spark.implicits._
      val probe = Seq(
        // 49 words incl 2 stop words: fails ONLY the min-word-count rule
        (1L, Seq.fill(24)("the and").mkString(" ") + " word"),
        // symbol-heavy: fails the symbol-ratio rule (and, with only 2
        // alphabetic words in 62, the alpha-fraction rule)
        (2L, "the and " + Seq.fill(60)("####").mkString(" ")),
        // 120 clean words, zero stop words: fails ONLY the stop-word rule
        (3L, Seq.fill(60)("alpha beta").mkString(" ")),
        // 60 clean words with stop words and a '…': one unicode
        // ellipsis is counted but 10*1 <= 60 keeps the ratio rule green
        (4L, "the and that … " + Seq.fill(56)("clean").mkString(" "))
      ).toDF("doc_id", "text")
      val verdicts = Curation.gopherRulesOn(probe).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_words"), r.getAs[Long]("n_stopwords"),
            r.getAs[Long]("n_symbols"), r.getAs[Boolean]("keep")))
        .toMap
      assert(verdicts(1L)._1 == 49 && !verdicts(1L)._4)
      assert(verdicts(2L)._3 == 240 && !verdicts(2L)._4)
      assert(verdicts(3L)._2 == 0 && !verdicts(3L)._4)
      assert(verdicts(4L)._3 == 1 && verdicts(4L)._4,
        s"doc 4 should pass every rule: ${verdicts(4L)}")
      // plan shape: no Exchange anywhere — the gate is map-side only
      // (a FRESH frame: the cached one above would hide the shape)
      val plan = Curation.gopherRules(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"gopherRules must not shuffle:\n$plan")
    } finally { g.unpersist() }
  }

  test("gopher line rules: exact counts, rule boundaries, zero-shuffle plan") {
    import spark.implicits._
    // hand-built line arrays through the core operator
    val probe = Seq(
      // 10 lines, 9 bullets: 10*9 <= 9*10 — AT the bullet boundary, kept
      (1L, Seq.fill(9)("- bulleted line") ++ Seq("prose line")),
      // 10 lines, all bullets: over the 90% bound
      (2L, Seq.fill(10)("- bulleted line")),
      // 10 lines, 3 ellipses: AT the 30% bound (ASCII and unicode), kept
      (3L, Seq("tail...", "tail…", "tail...") ++ Seq.fill(7)("clean")),
      // 10 lines, 4 ellipses: over
      (4L, Seq.fill(4)("trailing...") ++ Seq.fill(6)("clean")),
      // '• ' bullets count too; '-x' without the space does not
      (5L, Seq("• dotted", "-not a bullet", "clean")),
      // empty doc: 0 lines keeps (0 <= 0 on both rules)
      (6L, Seq.empty[String])
    ).toDF("doc_id", "lines")
    val v = Curation.gopherLineRulesOn(probe).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_bullet"),
          r.getAs[Long]("n_ellipsis"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(v(1L) == ((10L, 9L, 0L, true)))
    assert(v(2L) == ((10L, 10L, 0L, false)))
    assert(v(3L) == ((10L, 0L, 3L, true)))
    assert(v(4L) == ((10L, 0L, 4L, false)))
    assert(v(5L) == ((3L, 1L, 0L, true)))
    assert(v(6L) == ((0L, 0L, 0L, true)))
    // the oracled derivation: every doc labeled, derivation is
    // deterministic, and the plan has no Exchange (map-side only)
    val g = Curation.gopherLineRules(spark, sf)
    assert(g.count() == Tables.documents(spark, sf).count())
    val again = Curation.gopherLineRules(spark, sf)
    assert(g.except(again).count() == 0 && again.except(g).count() == 0)
    val plan = Curation.gopherLineRules(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gopherLineRules must not shuffle:\n$plan")
  }

  test("repetition: fractions bounded, degenerate doc handled, no doc lost") {
    val docs = Tables.documents(spark, sf).count()
    val rep = Curation.repetitionScore(spark, sf).cache()
    try {
      // every multi-token doc present exactly once
      assert(rep.count() == docs)
      assert(rep.select(countDistinct(col("doc_id"))).head().getLong(0) == docs)
      val bad = rep.filter(
        col("top_2gram_frac") < 0 || col("top_2gram_frac") > 1 ||
          col("dup_2gram_frac") < 0 || col("dup_2gram_frac") > 1 ||
          col("top_2gram_frac") * col("n_tokens") < 1).count()
      assert(bad == 0)
      // a fully-repetitive document scores at the ceiling
      import spark.implicits._
      val one = Seq((1L, "a a a a a a")).toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")))
      one.createOrReplaceTempView("__rep_probe")
      val g = one.withColumn("toks", split(col("text"), " "))
      assert(g.select(size(col("toks"))).head().getInt(0) == 6)
    } finally rep.unpersist()
  }

  test("gopher repetition table: exact char fractions on hand-built docs") {
    import spark.implicits._
    val docs = Seq(
      // "ab cd ab cd ab": top 2-gram "ab cd" occurs 2x of 4 bigrams;
      // chars: den = 10; top2 num = 2 * 4 = 8; no 5-grams possible
      (1L, "ab cd ab cd ab"),
      // the 5-token phrase repeated: every 5-gram window in the overlap
      // is duplicated; covered positions are counted ONCE — the whole
      // doc is covered, dup5 = 1.0
      (2L, "q w e r t q w e r t"),
      // no repetition at all, long enough that no single n-gram's
      // share trips a top-n threshold: dup fractions 0, keep true
      (3L, (1 to 60).map(i => s"w$i").mkString(" ")),
      // empty doc: den 0, fractions 0.0, keep true (vacuous)
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Curation.gopherRepetitionOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(math.abs(d1.getAs[Double]("top_2gram_char_frac") - 0.8) < 1e-12)
    assert(d1.getAs[Double]("dup_5gram_char_frac") == 0.0)
    assert(!d1.getAs[Boolean]("keep")) // 0.8 > 0.20 threshold
    val d2 = out(2L)
    // all 10 single-char tokens covered once => 10/10
    assert(d2.getAs[Double]("dup_5gram_char_frac") == 1.0)
    // no 6..10-gram repeats ("q w e r t q" occurs once)
    assert(d2.getAs[Double]("dup_6gram_char_frac") == 0.0)
    assert(!d2.getAs[Boolean]("keep"))
    val d3 = out(3L)
    assert((5 to 10).forall(n =>
      d3.getAs[Double](s"dup_${n}gram_char_frac") == 0.0))
    assert(d3.getAs[Boolean]("keep"))
    val d4 = out(4L)
    assert(d4.getAs[Double]("top_2gram_char_frac") == 0.0)
    assert(d4.getAs[Boolean]("keep"))
  }

  test("ppl buckets: no doc lost, en heads the head bucket, thresholds order") {
    val out = Curation.perplexityBuckets(spark, sf).cache()
    try {
      val docs = Tables.documents(spark, sf).count()
      assert(out.count() == docs) // left join: every doc gets a bucket
      assert(out.filter(col("ppl_bucket").isNull).count() == 0)
      // the LM is trained on the en slice, so en must dominate head and
      // be the MINORITY of tail (the CCNet separation the filter exists
      // to produce)
      val headEn = out.filter(col("ppl_bucket") === "head")
      assert(headEn.filter(col("lang") === "en").count() * 2 >
        headEn.count())
      val tail = out.filter(col("ppl_bucket") === "tail")
      assert(tail.filter(col("lang") === "en").count() * 2 <
        tail.count())
      // bucket boundaries respect the mean-logprob ordering: every head
      // doc's avg lp strictly above every tail doc's
      val minHead = headEn.agg(min(col("lp_sum") / col("n_tokens")))
        .head().getDouble(0)
      val maxTail = tail.agg(max(col("lp_sum") / col("n_tokens")))
        .head().getDouble(0)
      assert(minHead > maxTail)
      // deterministic: a re-run bucketizes identically
      val again = Curation.perplexityBuckets(spark, sf)
        .select("doc_id", "ppl_bucket")
      assert(out.select("doc_id", "ppl_bucket").except(again).count() == 0)
    } finally {
      out.unpersist()
      // the operator's own persisted bigram table (one per invocation)
      graft.ops.Dedup.releaseCaches()
    }
  }

  test("pii scrub: patterns removed, counts match, non-matching text intact") {
    val out = Curation.piiScrub(spark, sf).cache()
    try {
      // nothing the patterns target survives in the clean text
      assert(out.filter(col("clean_text").rlike("\\bspark\\b")).count() == 0)
      assert(out.filter(col("clean_text").contains("@")).count() == 0)
      // counts are consistent: n_redactions is the per-pattern sum and
      // every replaced token shows up as a marker
      val bad = out.filter(
        col("n_redactions") =!= col("n_email") + col("n_ip") + col("n_entity"))
      assert(bad.count() == 0)
      val markers = out.select(
        sum(expr("regexp_count(clean_text, '<ENT>')")).as("m"),
        sum(col("n_entity")).as("n")).head()
      assert(markers.getLong(0) == markers.getLong(1))
      // pure map: no exchange in the plan
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"))
    } finally out.unpersist()
  }

  test("mix to uniform: big sources downweighted, deterministic, no upsample") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n", size(split(col("text"), " ")).cast("bigint"))
    val srcTokens = docs.groupBy("source").agg(sum("n").as("src_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Curation.mixToUniform(spark, sf).cache()
    try {
      // downsample-only: no source keeps more docs than it has
      val keptBySrc = kept.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val docsBySrc = docs.groupBy("source").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(keptBySrc.forall { case (s, n) => n <= docsBySrc(s) })
      // the biggest source is cut harder than the smallest
      val big = srcTokens.maxBy(_._2)._1
      val small = srcTokens.minBy(_._2)._1
      val keepRate = (s: String) =>
        keptBySrc.getOrElse(s, 0L).toDouble / docsBySrc(s)
      assert(keepRate(big) <= keepRate(small))
      // deterministic across runs
      val again = Curation.mixToUniform(spark, sf)
      assert(kept.except(again).count() == 0 &&
        again.except(kept).count() == 0)
    } finally kept.unpersist()
  }

  test("token shards: budget respected, contiguous, deterministic") {
    val budget = 64L
    val out = Curation.tokenShards(spark, sf, budget).cache()
    try {
      val docs = Tables.documents(spark, sf).count()
      assert(out.count() == docs)
      // shard ids start at 0 and strictly increase; a gap can only come
      // from one document spanning several whole budgets
      val byShard = out.groupBy("shard_id")
        .agg(sum("n_tokens").as("toks")).orderBy("shard_id")
        .collect()
      assert(byShard.head.getLong(0) == 0L)
      val ids = byShard.map(_.getLong(0))
      val maxDocTok = out.select(max("n_tokens")).head().getLong(0)
      assert(ids.zip(ids.tail).forall { case (a, b) =>
        b > a && (b - a - 1) * budget <= maxDocTok
      })
      val totalTok = out.select(sum("n_tokens")).head().getLong(0)
      assert(ids.last <= totalTok / budget)
      // a shard only exceeds the budget by the overflow of its last doc:
      // strictly less than budget + max doc size
      val maxDoc = out.select(max("n_tokens")).head().getLong(0)
      assert(byShard.dropRight(1).forall(_.getLong(1) < budget + maxDoc))
      // deterministic: identical assignment on re-run
      val again = Curation.tokenShards(spark, sf, budget)
      assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    } finally out.unpersist()
  }

  test("gopherRepetition: prefix-window derivation equals the 9-way explode") {
    import spark.implicits._
    // raw corpus plus hand-made repetitive and degenerate docs - the
    // prefix path must agree on dup-heavy, short, and empty shapes
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionAll(Seq(
        (900001L, "a b c a b c a b c a b c"),
        (900002L, "x y"),
        (900003L, "solo"),
        (900004L, "p q r s t u v w x y p q r s t u v w x y"))
        .toDF("doc_id", "text"))
    val base = Curation.repetitionTokens(docs)
    def rows(counts: org.apache.spark.sql.DataFrame) = counts
      .select(col("doc_id"), col("n"), col("g"), col("cnt"),
        array_sort(col("ps")).as("ps"))
      .collect().map(_.toString).sorted.toSeq
    val a = rows(referenceGramCounts(base))
    val b = rows(Curation.gramCounts(base))
    assert(a.nonEmpty && a == b)
    // and the operator over that table keeps every doc
    assert(Curation.gopherRepetitionOn(docs).count() == docs.count())
  }

  /** The per-n explode [[Curation.gramCounts]]'s prefix derivation
    * replaced, kept as its reference: every (n, window) pair for
    * n in 2..10 exploded from the tokens, then counted per
    * (doc_id, n, g) with its start positions. */
  private def referenceGramCounts(base: org.apache.spark.sql.DataFrame) =
    base.select(col("doc_id"),
        explode(expr(
          """flatten(transform(sequence(2, 10), n ->
            |  case when size(toks) < n then
            |    cast(array() as array<struct<n: int, i: int, g: string>>)
            |  else transform(sequence(1, size(toks) - n + 1), i ->
            |    named_struct('n', n, 'i', i,
            |      'g', concat_ws(' ', slice(toks, i, n))))
            |  end))""".stripMargin)).as("w"))
      .groupBy(col("doc_id"), col("w.n").as("n"), col("w.g").as("g"))
      .agg(count(lit(1)).as("cnt"), collect_list(col("w.i")).as("ps"))

  /** The interpreted chain the native Gopher kernel replaced, kept as
    * its reference: one column per [[graft.expr.GopherStatsImpl.Fields]]
    * entry, over `text`. */
  private def referenceGopherStats(stops: Seq[String]) = {
    val toks = "filter(split(text, ' '), t -> length(t) > 0)"
    Seq(
      expr(toks),
      expr(s"size($toks)").cast("bigint"),
      expr(s"aggregate($toks, 0L, (a, t) -> a + length(t))"),
      expr(s"cast(size(filter($toks, t -> t rlike '[A-Za-z]')) as bigint)"),
      expr(s"""cast(size(array_intersect(array_distinct($toks),
              |  array(${stops.map(w => s"'$w'").mkString(", ")}))) as bigint)"""
        .stripMargin),
      expr("""cast((length(text) - length(replace(text, '#', ''))) +
             |  (length(text) - length(replace(text, '...', ''))) div 3 +
             |  (length(text) - length(replace(text, '…', ''))) as bigint)"""
        .stripMargin))
  }

  /** Rows of `texts` where the native tokens, any statistic or the
    * verdict differ from the reference chain (`<=>`, so NULLs must
    * agree too). */
  private def kernelMismatches(texts: org.apache.spark.sql.DataFrame,
      stops: Seq[String], minWords: Int = 50,
      maxWords: Int = 100000): Array[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.GraftBridge.{column, expr => catalyst}
    val fields = graft.expr.GopherStatsImpl.Fields
    val k = column(graft.expr.GopherStats(catalyst(col("text")), stops,
      minWords, maxWords))
    // the token-only form `Curation.words` reads, with no stop words
    val w = column(graft.expr.GopherStats(catalyst(col("text")), Nil, 0, 0))
      .getField("toks")
    def r(f: String) = col(s"ref_$f")
    val refKeep = r("n_words") >= minWords && r("n_words") <= maxWords &&
      lit(3) * r("n_words") <= r("sum_word_len") &&
      r("sum_word_len") <= lit(10) * r("n_words") &&
      lit(10) * r("n_symbols") <= r("n_words") &&
      lit(10) * r("n_alpha_words") >= lit(8) * r("n_words") &&
      r("n_stopwords") >= 2
    val both = texts.select(col("text") +: k.as("k") +: w.as("w") +:
        referenceGopherStats(stops).zip(fields).map { case (c, f) =>
          c.as(s"ref_$f") }: _*)
      .withColumn("ref_keep", refKeep)
    val same = fields.map(f => col(s"k.$f") <=> r(f))
      .reduce(_ && _) && (col("w") <=> r("toks"))
    both.filter(!same).collect()
  }

  test("native gopher kernel equals the interpreted chain on the corpus") {
    // the sf0.01 corpus, beside the suite's default sf0.001 one
    val docs = Tables.documents(spark, sf.stripSuffix("sf0.001") + "sf0.01")
    assert(docs.count() > 0)
    Seq(Curation.CorpusStopWords, Curation.GopherStopWords).foreach { st =>
      val bad = kernelMismatches(docs, st)
      assert(bad.isEmpty, s"stop words $st: ${bad.take(3).mkString("\n")}")
    }
  }

  test("native gopher kernel equals the interpreted chain on edge texts") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge.{column, expr => catalyst}
    val texts = Seq[String](null, "", " ", "    ", "  lead", "trail  ",
      "a  b   c", "tab\there x", "new\nline\r\nx", "a\tb",
      "é", "café naïve", "𝄞 ab😀c 😀", "x𝄞y", "123 456 7z", "....",
      "......", ".....", "…", "……", "#", "## # a#b", "a...b ...c... .. .", "the a the abc", "the a abcdefgh",
      "wait… what...", "The the the", "the a the a", "The THE", "thee a",
      "the\tthe a", "Z z A a", "@[`{", "the a . the")
      .toDF("text")
    Seq(Curation.CorpusStopWords, Seq("the", "the", "a"),
        Curation.GopherStopWords).foreach { st =>
      Seq(1 -> 100000, 3 -> 4, 50 -> 100000).foreach { case (lo, hi) =>
        val bad = kernelMismatches(texts, st, lo, hi)
        assert(bad.isEmpty, s"stop words $st, words in [$lo, $hi]: " +
          bad.mkString("\n"))
      }
    }
    // the probe must reach both verdicts
    val keeps = texts.select(column(graft.expr.GopherStats(
        catalyst(col("text")), Curation.CorpusStopWords, 1, 100000))
      .getField("keep")).collect().map(r => Option(r.get(0)))
    assert(keeps.contains(Some(true)) && keeps.contains(Some(false)))
    // the NULL value of the size-derived statistics follows the config,
    // as `size` does
    Seq("true", "false").foreach { legacy =>
      spark.conf.set("spark.sql.legacy.sizeOfNull", legacy)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val bad = kernelMismatches(Seq[String](null, "a b").toDF("text"),
          Curation.CorpusStopWords)
        assert(bad.isEmpty, s"legacySizeOfNull=$legacy: ${bad.mkString}")
      } finally {
        spark.conf.unset("spark.sql.legacy.sizeOfNull")
        spark.conf.unset("spark.sql.ansi.enabled")
      }
    }
  }

  test("gopherGate runs fully codegen'd, the kernel evaluated once per row") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val plan = Curation.gopherGate(Tables.documents(spark, sf),
      stopWords = Curation.CorpusStopWords).queryExecution.executedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    val fallbacks = exprs.flatMap(_.collect { case e: CodegenFallback => e })
    assert(fallbacks.isEmpty, s"interpreted expressions in\n$plan")
    // the scan lists the filter as a DataFilter it cannot push down;
    // only the Filter evaluates it
    val kernels = plan.collect {
      case p if !p.isInstanceOf[
        org.apache.spark.sql.execution.FileSourceScanExec] => p.expressions
    }.flatten.flatMap(_.collect { case e: graft.expr.GopherStats => e })
    assert(kernels.size == 1, s"kernel not evaluated exactly once in\n$plan")
    assert(!plan.toString.contains("Exchange"))
  }
}
