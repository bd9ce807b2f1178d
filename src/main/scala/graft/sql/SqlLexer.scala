package graft.sql

/** The one lexical layer under the Trino front door. Every scan of SQL
  * text — the dialect rewrite ([[TrinoCompat]]), the DML grammar
  * ([[TableDml]]), the DDL and property lists ([[SqlEngine]]) and the
  * Athena type strings ([[graft.types.AthenaTypes]]) — skips quoted text
  * and counts nesting here, so no two of them can disagree on where a
  * literal ends or which comma is at the top level.
  *
  * Quoted text opens at `'` (a string literal) or `"` (an identifier) and
  * closes at the next same quote, so the SQL `''` escape reads as two
  * adjacent literals and never leaves a quote open. Nesting counts `()`
  * and `[]`; type strings also nest `<>` (`angles = true`).
  */
object SqlLexer {

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"'

  private[sql] def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Index just past the quoted text opening at `open`; the string's
    * length when it never closes. */
  private[sql] def quotedEnd(s: String, open: Int): Int = {
    val j = s.indexOf(s(open), open + 1)
    if (j < 0) s.length else j + 1
  }

  /** Index just past the closing quote of the single-quoted literal
    * opening at `open`, reading `''` as an escaped quote inside it; -1
    * when unterminated. */
  def literalEnd(s: String, open: Int): Int = {
    var i = open + 1
    while (i < s.length) {
      if (s(i) == '\'') {
        if (i + 1 < s.length && s(i + 1) == '\'') i += 2
        else return i + 1
      } else i += 1
    }
    -1
  }

  /** Visits each position of `s` from `from` that is outside quoted text,
    * with the nesting depth after the character there is counted, until
    * `visit` returns false. */
  private def scan(s: String, from: Int, angles: Boolean = false)(
      visit: (Int, Int) => Boolean): Unit = {
    var i = from
    var depth = 0
    while (i < s.length) {
      val c = s(i)
      if (isQuote(c)) i = quotedEnd(s, i)
      else {
        if (c == '(' || c == '[' || angles && c == '<') depth += 1
        else if (c == ')' || c == ']' || angles && c == '>') depth -= 1
        if (!visit(i, depth)) return
        i += 1
      }
    }
  }

  /** True when `s[i, i + w.length)` is the word `w`, case-insensitively,
    * with no word character on either side. */
  def wordAt(s: String, i: Int, w: String): Boolean =
    s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !isWordChar(s(i - 1))) &&
      (i + w.length >= s.length || !isWordChar(s(i + w.length)))

  def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && s(i).isWhitespace) i += 1
    i
  }

  /** Index of `c` when it is the first non-blank character from `i`, or
    * -1. */
  def nextIs(s: String, i: Int, c: Char): Int = {
    val j = skipWs(s, i)
    if (j < s.length && s(j) == c) j else -1
  }

  /** Index of the `)` or `]` that balances the opener at `open`. */
  def balancedClose(s: String, open: Int): Int = {
    var close = -1
    scan(s, open) { (i, depth) =>
      if (depth == 0 && (s(i) == ')' || s(i) == ']')) close = i
      close < 0
    }
    if (close < 0) throw new IllegalArgumentException(
      s"unbalanced parens/brackets in: ${s.take(120)}")
    close
  }

  /** The comma-separated items of `s` at nesting depth zero, trimmed,
    * empty ones dropped. */
  def splitTop(s: String, angles: Boolean = false): Seq[String] = {
    val cuts = Seq.newBuilder[Int]
    scan(s, 0, angles) { (i, depth) =>
      if (depth == 0 && s(i) == ',') cuts += i
      true
    }
    val ends = cuts.result() :+ s.length
    (-1 +: ends.init).zip(ends).map { case (a, b) => s.substring(a + 1, b).trim }
      .filter(_.nonEmpty)
  }

  /** Index of the first `c` at nesting depth zero, or -1. */
  def topIndexOf(s: String, c: Char): Int = {
    var at = -1
    scan(s, 0) { (i, depth) =>
      if (depth == 0 && s(i) == c) at = i
      at < 0
    }
    at
  }

  /** Start indices of the whole-word, case-insensitive occurrences of
    * `word` at nesting depth zero. */
  def topWordIndices(s: String, word: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    scan(s, 0) { (i, depth) =>
      if (depth == 0 && wordAt(s, i, word)) out += i
      true
    }
    out.result()
  }

  /** `s` cut at the top-level occurrences of `word`, which are dropped. */
  def splitTopWord(s: String, word: String): Seq[String] = {
    val idx = topWordIndices(s, word)
    val starts = 0 +: idx.map(_ + word.length)
    val ends = idx :+ s.length
    starts.zip(ends).map { case (a, b) => s.substring(a, b).trim }
      .filter(_.nonEmpty)
  }

  /** `sql` copied with `rule` applied at each position outside quoted
    * text, the opening quotes included: `rule(i, out)` either appends a
    * replacement for `sql[i, j)` to `out` and returns `j > i`, or returns
    * anything else to copy the character (or the whole quoted text it
    * opens) unchanged. */
  def rewriteOutsideQuotes(sql: String)(
      rule: (Int, StringBuilder) => Int): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    while (i < sql.length) {
      val j = rule(i, out)
      if (j > i) i = j
      else if (isQuote(sql(i))) {
        val e = quotedEnd(sql, i)
        out ++= sql.substring(i, e)
        i = e
      } else { out += sql(i); i += 1 }
    }
    out.toString
  }

  /** Athena `"quoted"` identifiers → Spark backticks; string literals
    * are left as they are. */
  def dequoteExpr(s: String): String = rewriteOutsideQuotes(s) { (i, out) =>
    if (s(i) != '"') i
    else {
      val j = s.indexOf('"', i + 1)
      require(j > i, s"unterminated quoted identifier in: $s")
      out += '`' ++= s.substring(i + 1, j) += '`'
      j + 1
    }
  }
}
