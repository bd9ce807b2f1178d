package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass word tokenizer and Gopher word statistics over a
  * text column — the fused replacement for the interpreted chain
  *
  * {{{
  * toks          = filter(split(text, ' '), t -> length(t) > 0)
  * n_words       = size(toks)
  * sum_word_len  = aggregate(toks, 0L, (a, t) -> a + length(t))
  * n_alpha_words = size(filter(toks, t -> t rlike '[A-Za-z]'))
  * n_stopwords   = size(array_intersect(array_distinct(toks), array(stops)))
  * n_symbols     = #'#' + #non-overlapping '...' + #'…'   (via replace)
  * keep          = n_words in [minWords, maxWords] and
  *                 3·n_words <= sum_word_len <= 10·n_words and
  *                 10·n_symbols <= n_words and
  *                 10·n_alpha_words >= 8·n_words and n_stopwords >= 2
  * }}}
  *
  * which runs its lambdas interpreted and keeps the whole stage out of
  * whole-stage codegen. One loop over the text's UTF-8 bytes finds the
  * tokens (maximal runs of bytes other than `' '`; tabs and newlines are
  * token bytes) and every statistic. Lengths count code points, as
  * `length` does; a token is alphabetic when it holds an ASCII letter,
  * which in UTF-8 is a single byte below 0x80; stop words match
  * byte-for-byte (case-sensitive), each counted once however often it
  * occurs. For valid UTF-8 — the only text Parquet carries — the values
  * equal the chain's (CurationSpec pins it on the corpus and on edge
  * texts); `split` decodes through `java.lang.String`, so malformed
  * byte sequences are where the two could differ.
  *
  * `keep` is the Gopher verdict itself, folded in so that a filter on it
  * reads one field of one kernel call: Catalyst substitutes a projected
  * expression into every reference of a filter pushed below it, so a
  * rule spelled over the separate statistic fields would run the kernel
  * once per reference.
  */
object GopherStatsImpl {
  private final val Space = ' '.toByte

  /** Field order of [[GopherStats]]'s struct. */
  val Fields: Seq[String] = Seq("toks", "n_words", "sum_word_len",
    "n_alpha_words", "n_stopwords", "n_symbols", "keep")

  def stopBytes(stopWords: Seq[String]): Array[Array[Byte]] =
    stopWords.distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toArray

  /** The struct a NULL text maps to: every statistic the chain derives
    * through `size` is that function's NULL value (`-1` under
    * `spark.sql.legacy.sizeOfNull` without ANSI, else NULL); the summed
    * length and the symbol count are NULL, and so is `keep` unless the
    * `-1` word count already fails the minimum. */
  def nullStats(legacySizeOfNull: Boolean): InternalRow = {
    val sz: Any = if (legacySizeOfNull) -1L else null
    val keep: Any = if (legacySizeOfNull) false else null
    new GenericInternalRow(Array[Any](null, sz, null, sz, sz, null, keep))
  }

  def stats(text: UTF8String, stops: Array[Array[Byte]],
      minWords: Int, maxWords: Int): InternalRow = {
    val b = text.getBytes
    val n = b.length
    val toks = scala.collection.mutable.ArrayBuffer.empty[Any]
    val seen = new Array[Boolean](stops.length)
    var sumLen = 0L; var nAlpha = 0L; var nStop = 0L
    var nHash = 0L; var nDots = 0L; var nEllipsis = 0L
    var dotRun = 0
    var i = 0
    while (i < n) {
      if (b(i) == Space) { nDots += dotRun / 3; dotRun = 0; i += 1 }
      else {
        val s = i
        var chars = 0; var alpha = false
        while (i < n && b(i) != Space) {
          val c = b(i)
          if ((c & 0xc0) != 0x80) chars += 1
          if (c == '.') dotRun += 1
          else {
            nDots += dotRun / 3; dotRun = 0
            if (c == '#') nHash += 1
            else if ((c | 0x20) >= 'a' && (c | 0x20) <= 'z') alpha = true
            // U+2026 '…' is E2 80 A6
            else if (c == 0xe2.toByte && i + 2 < n &&
                b(i + 1) == 0x80.toByte && b(i + 2) == 0xa6.toByte)
              nEllipsis += 1
          }
          i += 1
        }
        val len = i - s
        toks += UTF8String.fromBytes(b, s, len)
        sumLen += chars
        if (alpha) nAlpha += 1
        var j = 0
        while (j < stops.length) {
          if (!seen(j) && stops(j).length == len &&
              java.util.Arrays.equals(b, s, i, stops(j), 0, len)) {
            seen(j) = true; nStop += 1
          }
          j += 1
        }
      }
    }
    nDots += dotRun / 3
    val nWords = toks.size.toLong
    val nSym = nHash + nDots + nEllipsis
    val keep = nWords >= minWords && nWords <= maxWords &&
      3 * nWords <= sumLen && sumLen <= 10 * nWords &&
      10 * nSym <= nWords && 10 * nAlpha >= 8 * nWords && nStop >= 2
    new GenericInternalRow(Array[Any](new GenericArrayData(toks.toArray),
      nWords, sumLen, nAlpha, nStop, nSym, keep))
  }
}

/** `gopher_stats(text, stopWords, minWords, maxWords)` — struct of the
  * tokens, the five statistics and the verdict of [[GopherStatsImpl]],
  * in [[GopherStatsImpl.Fields]] order. Never NULL itself: a NULL text yields
  * [[GopherStatsImpl.nullStats]], so each field is NULL (or -1) exactly
  * where the interpreted chain's column is. */
case class GopherStats(child: Expression, stopWords: Seq[String],
    minWords: Int, maxWords: Int,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull)
    extends UnaryExpression {

  @transient private lazy val stops = GopherStatsImpl.stopBytes(stopWords)

  override def dataType: DataType = StructType(
    StructField("toks", ArrayType(StringType, containsNull = false)) +:
      GopherStatsImpl.Fields.tail.init.map(StructField(_, LongType)) :+
      StructField("keep", BooleanType))

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gopher_stats expects string, got ${other.simpleString}")
    }

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) GopherStatsImpl.nullStats(legacySizeOfNull)
    else GopherStatsImpl.stats(t.asInstanceOf[UTF8String], stops,
      minWords, maxWords)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
    val impl = GopherStatsImpl.getClass.getName.stripSuffix("$")
    val stopsRef = ctx.addReferenceObj("gopherStops", stops, "byte[][]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${c.isNull} ?
        $impl.nullStats($legacySizeOfNull) : $impl.stats(${c.value}, $stopsRef,
          $minWords, $maxWords);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
