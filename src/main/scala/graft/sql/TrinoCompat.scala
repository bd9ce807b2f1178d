package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
import org.apache.spark.sql.catalyst.expressions.{
  Abs, Add, And, ArrayAggregate, ArrayDistinct, ArrayExists, ArrayFilter,
  ArrayForAll,
  ArrayPosition, ArraySort, ArrayTransform, ArraysZip, Ascii, AssertTrue,
  Base64, CaseWhen,
  BitwiseAnd, BitwiseNot, BitwiseOr, BitwiseXor, Cast, Ceil, Coalesce,
  Concat, Conv,
  CreateNamedStruct, CreateStruct, DateAdd, DateFormatClass, DayOfYear,
  Divide, EndsWith,
  EqualTo, Expression, Exp, Floor, FormatString, FromUTCTimestamp,
  Greatest, GreaterThan, GreaterThanOrEqual, Hex, If, IsNaN,
  IsNotNull, IsNull, LambdaFunction, LastDay, Length, LessThan,
  Levenshtein,
  Literal, Log, Lower, MapValues, MapZipWith, Md5,
  MapFromEntries, Multiply, Not, NullIf, Or, ParseToTimestamp, ParseUrl,
  Pmod, Rand, RegExpCount, RegExpExtract, RegExpInStr, RegExpReplace,
  Remainder,
  Reverse,
  SecondsToTimestamp, Sequence, Sha1, Sha2, Size, Slice, Sqrt,
  StartsWith, StringInstr,
  StringLocate, StringSplit, StructsToJson,
  Substring, Subtract, ToUTCTimestamp, TryEval, UnaryMinus, UnBase64,
  Unhex, UnixMicros,
  UnresolvedNamedLambdaVariable, WeekDay, WeekOfYear, XxHash64, Year}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  Average, BitAndAgg, BitOrAgg, CollectList, Count, First,
  HyperLogLogPlusPlus, Kurtosis, Sum}
import org.apache.spark.sql.types.{
  BinaryType, DateType, Decimal, DecimalType, DoubleType, IntegerType,
  LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Trino/Presto dialect compatibility for `readSqlQuery` — the
  * reference's headline entry point accepts Athena (= Trino) SQL
  * verbatim (`athena/_read.py:951-1308`), and its parameter renderer
  * GENERATES Presto syntax (`_sql_formatter.py:50-67`: `ARRAY [...]`,
  * `MAP(ARRAY [...], ARRAY [...])`, `DECIMAL '12.03'`). Spark SQL is
  * close but not identical; this shim closes the residual gaps a real
  * Athena user hits, in two layers:
  *
  *  1. REGISTERED FUNCTIONS (Catalyst expressions, no UDFs):
  *     - `approx_distinct(x[, e])` → HyperLogLogPlusPlus (Trino's
  *       default max standard error 0.023);
  *     - DOCUMENTED APPROXIMATION-CLASS DIVERGENCE: `approx_percentile`
  *       is not shimmed — it resolves to Spark's builtin (a
  *       Greenwald-Khanna-family sketch), while Trino runs a
  *       qdigest/tdigest, so the two engines return different
  *       approximate values for the same data. Both are within their
  *       documented error models and Trino itself promises no
  *       determinism for it; making the name loud would break common
  *       queries for no exactness gain (and Spark's answer is, if
  *       anything, the better-bounded one — callers needing exact
  *       values can use Spark's `percentile`, which Trino lacks);
  *     - string-unit `date_diff('day', a, b)` / `date_add('day', n, t)`
  *       (Trino argument order) → TimestampDiff / TimestampAdd, with
  *       2-arg calls delegating to Spark's own DateDiff / DateAdd so
  *       the builtin semantics are preserved;
  *     - `try(expr)` → TryEval (NULL on runtime error);
  *     - `strpos`, `arbitrary`, `json_extract_scalar`/`json_extract` —
  *       direct aliases of Spark equivalents.
  *
  *  2. PRE-PARSE REWRITE (quote-aware, single pass each; anything the
  *     rewrite does not recognize is left for Spark's parser to reject
  *     LOUDLY — never a silent partial translation):
  *     - `ARRAY [a, b]` → `array(a, b)` (the constructor the reference
  *       generates for list parameters);
  *     - `expr[i]` subscripts → `element_at(expr, i)` — Trino subscripts
  *       are 1-based (and key-lookup on maps); Spark's `[]` is 0-based,
  *       so passing them through would be silently off by one;
  *     - `MAP(ARRAY [...], ARRAY [...])` → `map_from_arrays(...)` (only
  *       this exact Trino shape — Spark's own `map(k, v, ...)` calls are
  *       untouched) and `MAP()` → `map()`;
  *     - `DECIMAL '12.03'` → `CAST('12.03' AS DECIMAL(p,s))` with p/s
  *       inferred from the literal text, Trino's typing rule;
  *     - `CROSS JOIN UNNEST(...) [WITH ORDINALITY] AS t (cols)` (and the
  *       comma-join form) → `LATERAL VIEW explode/inline(...)`;
  *       ordinality is 1-based via `arrays_zip(e, sequence(1, ...))`,
  *       multi-array unnest zips with null-padding exactly as Trino;
  *     - `TRY(` → the registered `try` function;
  *     - bare `VARCHAR` (no length) → `STRING` in casts;
  *     - CAST/TRY_CAST type targets: `ROW(n T, …)` → `STRUCT<n: T, …>`,
  *       `ARRAY(T)`/`MAP(K, V)` → `ARRAY<T>`/`MAP<K, V>`, `AS JSON` →
  *       `graft_cast_json(expr)`; remaining `ROW(` constructors →
  *       `struct(` (a bare ROW's default field names differ — Spark
  *       `col1…`; a cast assigns the Trino names).
  *
  * Layer 1 additionally registers (all Catalyst expressions, codegen'd
  * via their replacements): `nan`/`infinity`/`is_nan`/`is_finite`/
  * `is_infinite`, `random([n])` with Trino's positive-bound check,
  * ISO `day_of_week`/`dow`, `day_of_year`/`doy`, `week[_of_year]`,
  * fractional `to_unixtime`, timestamp-returning `from_unixtime`,
  * MySQL-specifier `date_parse` and `date_format` (the %-form),
  * Joda-pattern `format_datetime`, `codepoint`,
  * `levenshtein_distance`, `to_hex`/`from_hex`, `to_base64`/
  * `from_base64`, varbinary `sha256`, array-or-string `contains`,
  * the `url_extract_*` family, WKT-valued `st_point`/`st_astext`/
  * `st_geometryfromtext`/`st_linefromtext`/`st_polygon`, and the JSON
  * trio `graft_cast_json`/`json_parse`/`json_format`.
  *
  * Trino-exact where Spark's same-named builtin differs: `json_extract`
  * returns JSON text (quotes kept on string scalars) and
  * `json_extract_scalar` is NULL on containers (both via
  * [[graft.expr.TrinoJsonExtract]]); `md5`/`sha1` return VARBINARY
  * through the `graft_trino_` rename (see [[shadowedBuiltins]]: the
  * bare names stay Spark builtins for native SQL); `to_utf8`/
  * `from_utf8` bridge varchar↔varbinary as in Trino.
  *
  * Each name below either failed or silently diverged in a
  * 119-statement replay of common Athena constructs, which now all run:
  *  - RAW STRING LITERALS: Trino strings have no backslash escapes;
  *    Spark's parser processes them, so `'\d+'` would reach the engine
  *    as `'d+'`. The rewrite doubles backslashes inside single-quoted
  *    literals so the decoded value is byte-identical to Trino's
  *    (`rawStrings`).
  *  - TYPED LITERALS: `BIGINT '1'`, `DOUBLE '1.5'`, `REAL`/`TINYINT`/
  *    `SMALLINT`/`INTEGER`/`BOOLEAN`/`VARBINARY`/`CHAR`/`JSON 'x'` →
  *    `CAST('x' AS t)` (Spark's parser only accepts a fixed typed-
  *    literal set).
  *  - Capture-group defaults: Trino `regexp_extract[_all]` default to
  *    group 0 (the full match); Spark defaults to 1 — silently the
  *    wrong slice when groups exist. `regexp_count` returns BIGINT.
  *  - `typeof` renders TRINO type names ([[graft.expr.TrinoTypeOf]]:
  *    integer/varchar/timestamp(3) with time zone/array(...)/row(...);
  *    string literals carry their length, `varchar(n)`; other strings
  *    stay bare `varchar`, as Spark carries no length).
  *  - Trino-exact `kurtosis` (the SAMPLE excess estimator — Spark's
  *    builtin is the population form; 1,2,3,4 → −1.2 vs −1.36),
  *    `histogram` (map value→count, the map_agg collected-entries
  *    shape), sparse-map `cosine_similarity`, `zip` (field0… names),
  *    `normalize`, `hamming_distance`, 2-arg `bit_count`,
  *    `json_array_get`/`json_size`/`is_json_scalar`/
  *    `json_array_contains` ([[graft.expr.TrinoFnsImpl]]),
  *    decimal `truncate(x, n)`, signed `from_base`/`to_base`,
  *    `format`, `regexp_split`, `regexp_position`, `starts_with`/
  *    `ends_with`, `bitwise_not`, `bitwise_and_agg`/`bitwise_or_agg`,
  *    `with_timezone`, `year_of_week`/`yow`, `parse_datetime` (JDK
  *    formatter letters — the Joda common subset; exotic letters fail
  *    loudly), `current_timezone`.
  *  - `combinations`, `format_number` (Trino's K/M/B/T/Q unit rendering
  *    — auto-namespaced, Spark owns the bare name) and
  *    `human_readable_seconds`, all codegen'd Catalyst expressions
  *    ([[graft.expr.TrinoFnsImpl]]).
  *  - `word_stem` — a from-the-spec Snowball English (Porter2)
  *    implementation ([[graft.expr.Porter2]]), the exact algorithm
  *    Trino's default `EnglishStemmer` runs; non-English language codes
  *    fail loudly (implemented would mean approximate).
  *  - `approx_most_frequent(b, x, cap)` — EXACT: the true top-b values
  *    by count (ties broken by key order), one O(n log n)
  *    sort+run-length pass per group. Trino's Space-Saving sketch
  *    returns the same top set whenever its capacity suffices (its
  *    counts are exact until eviction); where the sketch would err, the
  *    exact answer is the defensible Spark-side semantics.
  *  - `numeric_histogram` with a documented divergence-class decision
  *    (the `approx_percentile` precedent): Trino's Ben-Haim/Tom-Tov
  *    bins depend on input order (Trino itself is non-deterministic
  *    here); the shim applies the same centroid-merge rule
  *    deterministically to the exact sorted multiset — same
  *    approximation class, stable results, exact when distinct values
  *    ≤ buckets ([[graft.expr.TrinoFnsImpl.numericHistogram]]).
  *  - `bar(x, width)` per the public ColorFunctions rendering
  *    (256-color-cube escapes, red→green interpolation, U+2588 fill,
  *    reset + space padding); the 4-arg form takes Trino-private
  *    COLOR values and stays loud.
  */
object TrinoCompat {
  import SqlLexer._

  // once per session (weak keys: the marker dies with the session)
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent; called by [[SqlEngine.readSqlQuery]] per query.
    *
    * The marker must become visible only AFTER every function is
    * registered: `Executions.startQueryExecution` runs statements on a
    * thread pool, so two concurrent first queries on a fresh session
    * would otherwise race — the loser sees the marker mid-registration
    * and parses with Trino-only names unresolved (or worse, shadowed
    * builtins still at Spark semantics, silently wrong results).
    * `computeIfAbsent` on the synchronized map runs [[doRegister]]
    * under the map's mutex, serializing first-touch per JVM; after the
    * first call the cheap `containsKey` fast path takes over.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (registered.containsKey(spark)) return
    registered.computeIfAbsent(spark,
      (s: SparkSession) => { doRegister(s); java.lang.Boolean.TRUE })
  }

  /** Trino's supported `word_stem` language codes (its Snowball set) —
    * only 'en' is implemented; the rest fail loudly by name so a typo
    * is distinguishable from an unimplemented language. */
  private val TrinoWordStemLangs = Set(
    "ca", "da", "de", "en", "es", "eu", "fi", "fr", "ga", "hu", "hy",
    "it", "lt", "nl", "no", "pt", "ro", "ru", "sv", "tr")

  /** Every shim function as data: Trino name → expression builder.
    * Collected once so registration and the rewrite agree on one name
    * list (see [[shadowedBuiltins]]). */
  private lazy val shimBuilders
      : Seq[(String, Seq[Expression] => Expression)] = {
    val out = Seq.newBuilder[(String, Seq[Expression] => Expression)]
    def fn(name: String)(builder: Seq[Expression] => Expression): Unit =
      out += name -> builder

    fn("approx_distinct") {
      case Seq(c) => HyperLogLogPlusPlus(c, relativeSD = 0.023)
      case Seq(c, Literal(rsd: Double, _)) => HyperLogLogPlusPlus(c, rsd)
      case Seq(c, Literal(rsd: java.math.BigDecimal, _)) =>
        HyperLogLogPlusPlus(c, rsd.doubleValue)
      case Seq(_, e) => throw new IllegalArgumentException(
        s"approx_distinct: max_standard_error must be a literal, got $e")
      case other => throw new IllegalArgumentException(
        s"approx_distinct expects (col[, max_standard_error]), got ${other.size} args")
    }
    fn("try") {
      case Seq(c) => TryEval(c)
      case other => throw new IllegalArgumentException(
        s"try expects 1 argument, got ${other.size}")
    }
    // NOTE: date_diff/date_add are handled by the PRE-PARSE rewrite
    // (dateFnUnits), not the registry — Spark's grammar parses them as
    // timestampadd/timestampdiff special forms before any function
    // lookup, rejecting the quoted unit outright.
    fn("strpos") {
      case Seq(s, sub) => StringInstr(s, sub)
      case other => throw new IllegalArgumentException(
        s"strpos expects (string, substring), got ${other.size} args")
    }
    // "an arbitrary non-null value of x, if one exists" (Trino docs)
    fn("arbitrary") {
      case Seq(c) => First(c, ignoreNulls = true)
      case other => throw new IllegalArgumentException(
        s"arbitrary expects 1 argument, got ${other.size}")
    }
    // Trino-exact JSON path extraction: json_extract keeps
    // the quotes on string scalars (it returns JSON text), and
    // json_extract_scalar returns NULL for containers — both cases
    // where Spark's get_json_object silently differs. See
    // [[graft.expr.TrinoJsonExtract]].
    fn("json_extract_scalar") {
      case Seq(j, p) => graft.expr.TrinoJsonExtract(j, p, scalarMode = true)
      case other => throw new IllegalArgumentException(
        s"json_extract_scalar expects (json, path), got ${other.size} args")
    }
    fn("json_extract") {
      case Seq(j, p) => graft.expr.TrinoJsonExtract(j, p, scalarMode = false)
      case other => throw new IllegalArgumentException(
        s"json_extract expects (json, path), got ${other.size} args")
    }

    // ---- JSON type (`CAST(x AS JSON)`, test_athena.py:1135-1173) ----------
    // Our model has no JSON type: a JSON value IS its canonical text.
    // The rewrite turns `CAST(x AS JSON)` into `graft_cast_json(x)`,
    // which renders ANY input as JSON text — scalars and complex types
    // alike — by round-tripping through Jackson (`to_json` of a 1-field
    // struct, prefix/suffix stripped), so string quoting and escaping
    // are exactly the JSON spec's, not a hand-rolled escape chain.
    // `json_parse`/`json_format` are then identities on that model
    // (json_format(CAST(x AS JSON)) composes correctly: the cast output
    // is already text).
    fn("graft_cast_json") {
      case Seq(c) => jsonText(c)
      case other => throw new IllegalArgumentException(
        s"graft_cast_json expects 1 argument, got ${other.size}")
    }
    fn("json_parse") { case Seq(c) => c }
    fn("json_format") { case Seq(c) => c }

    // ---- numeric specials (test_athena.py:1550-1561) ----------------------
    fn("nan") { case Seq() => Literal(Double.NaN) }
    fn("infinity") { case Seq() => Literal(Double.PositiveInfinity) }
    fn("is_nan") { case Seq(c) => IsNaN(Cast(c, DoubleType)) }
    fn("is_infinite") { case Seq(c) =>
      EqualTo(Abs(Cast(c, DoubleType)), Literal(Double.PositiveInfinity))
    }
    fn("is_finite") { case Seq(c) =>
      val d = Cast(c, DoubleType)
      And(Not(IsNaN(d)),
        Not(EqualTo(Abs(d), Literal(Double.PositiveInfinity))))
    }
    // Trino random(n): uniform integer in [0, n), n must be positive
    // (test_athena.py:1122 expects random(-1) to FAIL the query). The
    // Coalesce forces the AssertTrue guard to evaluate first; it
    // returns null on success, so the draw is the result.
    fn("random") {
      case Seq() => new Rand(Literal(scala.util.Random.nextLong()))
      case Seq(n) =>
        val guard = new AssertTrue(GreaterThan(Cast(n, LongType), Literal(0L)))
        val draw = Cast(Floor(Multiply(
          new Rand(Literal(scala.util.Random.nextLong())),
          Cast(n, DoubleType))), LongType)
        Coalesce(Seq(Cast(guard, LongType), draw))
      case other => throw new IllegalArgumentException(
        s"random expects 0 or 1 arguments, got ${other.size}")
    }

    // ---- date/time (Trino names & semantics) ------------------------------
    // day_of_week is ISO (1 = Monday .. 7 = Sunday) in Trino; Spark's
    // dayofweek is 1 = Sunday, so these go through weekday() + 1.
    fn("day_of_week") { case Seq(c) => Add(WeekDay(c), Literal(1)) }
    fn("dow") { case Seq(c) => Add(WeekDay(c), Literal(1)) }
    fn("day_of_year") { case Seq(c) => DayOfYear(c) }
    fn("doy") { case Seq(c) => DayOfYear(c) }
    fn("week") { case Seq(c) => WeekOfYear(c) }
    fn("week_of_year") { case Seq(c) => WeekOfYear(c) }
    // Trino to_unixtime returns DOUBLE seconds (fractional); Spark's
    // unix_timestamp truncates, so go through microseconds.
    fn("to_unixtime") { case Seq(c) =>
      Divide(Cast(UnixMicros(Cast(c, TimestampType)), DoubleType),
        Literal(1000000.0))
    }
    // Trino from_unixtime returns a TIMESTAMP; Spark's builtin of the
    // same name returns a formatted STRING. The Trino semantics win
    // inside the compat layer (the repo's own SQL never calls it).
    fn("from_unixtime") {
      case Seq(c) => SecondsToTimestamp(Cast(c, DoubleType))
      case other => throw new IllegalArgumentException(
        "from_unixtime(unixtime) is supported; zone/offset forms are not")
    }
    // date_parse uses MySQL %-specifiers (Trino docs: date_parse);
    // translated to Spark's pattern letters at registration time.
    fn("date_parse") {
      case Seq(s, Literal(fmt: UTF8String, StringType)) =>
        new ParseToTimestamp(s, Literal(mysqlToJava(fmt.toString)))
      case _ => throw new IllegalArgumentException(
        "date_parse expects (string, literal MySQL-style format)")
    }
    // format_datetime takes a Joda pattern — for the specifier set the
    // reference's tutorials use (yyyy/MM/dd/HH/mm/ss, literals) Joda
    // and java.time patterns coincide; pass through.
    fn("format_datetime") { case Seq(t, f) =>
      DateFormatClass(Cast(t, TimestampType), f)
    }
    // Trino's date_format ALSO uses MySQL %-specifiers — same name as
    // Spark's (Java-pattern) builtin. A literal format containing '%'
    // is unambiguously the Trino form and is translated; any other
    // call keeps Spark's builtin semantics.
    fn("date_format") {
      case Seq(t, Literal(fmt: UTF8String, StringType))
          if fmt.toString.contains("%") =>
        DateFormatClass(Cast(t, TimestampType),
          Literal(mysqlToJava(fmt.toString)))
      case Seq(t, f) => DateFormatClass(t, f)
      case other => throw new IllegalArgumentException(
        s"date_format expects 2 arguments, got ${other.size}")
    }

    // ---- strings / binary -------------------------------------------------
    fn("codepoint") { case Seq(c) => Ascii(c) }
    fn("levenshtein_distance") { case Seq(a, b) => Levenshtein(a, b) }
    fn("to_hex") { case Seq(c) => Hex(c) }
    fn("from_hex") { case Seq(c) => Unhex(c) }
    fn("to_base64") { case Seq(c) => new Base64(c) }
    fn("from_base64") { case Seq(c) => UnBase64(c) }
    // Trino sha256 returns VARBINARY (Spark's sha2 returns hex text)
    fn("sha256") { case Seq(c) =>
      Unhex(Sha2(Cast(c, BinaryType), Literal(256)))
    }
    // md5/sha1 likewise return VARBINARY in Trino, but the bare names
    // are Spark builtins the repo's own SQL (MinHash et al.) depends
    // on — they land in [[shadowedBuiltins]], registering as
    // graft_trino_md5/graft_trino_sha1 with the rewrite renaming
    // dialect calls to match (readSqlQuery callers see Trino bytes;
    // native spark.sql keeps Spark's hex strings).
    fn("md5") { case Seq(c) =>
      Unhex(Md5(Cast(c, BinaryType)))
    }
    fn("sha1") { case Seq(c) =>
      Unhex(Sha1(Cast(c, BinaryType)))
    }
    // Trino's varchar↔varbinary bridges (its digests take varbinary
    // only; Athena queries wrap string inputs in to_utf8)
    fn("to_utf8") { case Seq(c) => Cast(c, BinaryType) }
    fn("from_utf8") { case Seq(c) => Cast(c, StringType) }
    // Trino contains(array, elem); Spark's contains is string-only —
    // TrinoContains dispatches on the resolved argument type so both
    // dialects work through the one name.
    fn("contains") { case Seq(a, b) => graft.expr.TrinoContains(a, b) }

    // ---- URL decomposition ------------------------------------------------
    fn("url_extract_host") { case Seq(u) =>
      new ParseUrl(Seq(u, Literal("HOST")))
    }
    fn("url_extract_path") { case Seq(u) =>
      new ParseUrl(Seq(u, Literal("PATH")))
    }
    fn("url_extract_protocol") { case Seq(u) =>
      new ParseUrl(Seq(u, Literal("PROTOCOL")))
    }
    // parse_url has no PORT part — take it off the AUTHORITY
    // (`host:port`); absent port → NULL, as in Trino
    fn("url_extract_port") { case Seq(u) =>
      Cast(new NullIf(RegExpExtract(new ParseUrl(Seq(u, Literal("AUTHORITY"))),
        Literal(":([0-9]+)$"), Literal(1)), Literal("")), LongType)
    }
    fn("url_extract_query") { case Seq(u) =>
      new ParseUrl(Seq(u, Literal("QUERY")))
    }
    fn("url_extract_fragment") { case Seq(u) =>
      new ParseUrl(Seq(u, Literal("REF")))
    }
    fn("url_extract_parameter") { case Seq(u, p) =>
      new ParseUrl(Seq(u, Literal("QUERY"), p))
    }

    // ---- geospatial (test_athena_geospatial.py:11-17) ---------------------
    // Geometry values are WKT strings in our model — the same rendering
    // the catalog layer chose for geometry columns (AthenaTypes
    // geometry→WKT), and what the reference materializes client-side.
    fn("st_point") { case Seq(x, y) =>
      Concat(Seq(Literal("POINT ("), Cast(x, StringType), Literal(" "),
        Cast(y, StringType), Literal(")")))
    }
    fn("st_astext") { case Seq(g) => g }
    fn("st_geometryfromtext") { case Seq(t) => t }
    fn("st_geomfromtext") { case Seq(t) => t }
    fn("st_linefromtext") { case Seq(t) => t }
    fn("st_polygon") { case Seq(t) => t }

    // ---- array predicates, map aggregates, time and number helpers -------
    // ---- (trino.io docs for each; no UDFs) --------------------------------

    // array predicates — Trino names for Spark's exists/forall
    fn("any_match") { case Seq(a, f: LambdaFunction) => ArrayExists(a, f) }
    fn("all_match") { case Seq(a, f: LambdaFunction) => ArrayForAll(a, f) }
    // none_match negates INSIDE the lambda (forall of the negation):
    // the analyzer requires the lambda's parent to be the higher-order
    // function itself, so Not(any_match(..)) is rejected at the root
    fn("none_match") {
      case Seq(a, f: LambdaFunction) =>
        ArrayForAll(a, f.copy(function = Not(f.function)))
    }

    // map_agg(k, v): collect (k, v) structs, build the map at the end.
    // The inner CollectList carries its own AggregateExpression wrapper
    // because the registry's auto-wrap only fires when the ROOT of the
    // built tree is an aggregate (the `arbitrary` → First case).
    // Trino semantics on the edges (trino.io docs: map_agg): NULL keys
    // are IGNORED, and of duplicate keys one entry is retained — the
    // entries array is filtered to non-null FIRST-occurrence keys
    // before the map builds (Spark's MapFromEntries would otherwise
    // throw on both).
    fn("map_agg") { case Seq(k, v) =>
      // field names pinned explicitly — CreateStruct would name them
      // after the input expressions, breaking the extracts below
      val entries = CollectList(CreateNamedStruct(Seq(
        Literal("k"), k, Literal("v"), v))).toAggregateExpression()
      val x = UnresolvedNamedLambdaVariable(Seq("x"))
      val keys = ArrayTransform(entries,
        LambdaFunction(UnresolvedExtractValue(x, Literal("k")), Seq(x)))
      val e = UnresolvedNamedLambdaVariable(Seq("e"))
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      val eKey = UnresolvedExtractValue(e, Literal("k"))
      val firstWins = And(IsNotNull(eKey),
        EqualTo(ArrayPosition(keys, eKey),
          Cast(Add(i, Literal(1)), LongType)))
      MapFromEntries(ArrayFilter(entries,
        LambdaFunction(firstWins, Seq(e, i))))
    }
    // multimap_agg(k, v): map from each distinct non-null key to the
    // ARRAY of its values. Built from the same collected entries as
    // map_agg: distinct non-null keys, then per key the filtered
    // value list (nested lambdas with outer capture — Spark resolves
    // them; the duplicated `entries` aggregate dedups in the planner).
    // Cost bound, stated honestly: the per-key re-filter makes each
    // GROUP O(distinct_keys × group_rows) — the dialect-compat shape
    // for modest groups, not a corpus-scale operator (those live in
    // ops/ with partial-aggregable plans).
    fn("multimap_agg") { case Seq(k, v) =>
      val entries = CollectList(CreateNamedStruct(Seq(
        Literal("k"), k, Literal("v"), v))).toAggregateExpression()
      def nv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      val (x, kx, kk, e, e2) = (nv("x"), nv("kx"), nv("kk"), nv("e"), nv("e2"))
      val keys = ArrayDistinct(ArrayFilter(
        ArrayTransform(entries,
          LambdaFunction(UnresolvedExtractValue(x, Literal("k")), Seq(x))),
        LambdaFunction(IsNotNull(kx), Seq(kx))))
      val valuesOf = ArrayTransform(
        ArrayFilter(entries, LambdaFunction(
          EqualTo(UnresolvedExtractValue(e, Literal("k")), kk), Seq(e))),
        LambdaFunction(UnresolvedExtractValue(e2, Literal("v")), Seq(e2)))
      MapFromEntries(ArrayTransform(keys, LambdaFunction(
        CreateNamedStruct(Seq(Literal("k"), kk, Literal("v"), valuesOf)),
        Seq(kk))))
    }
    // ngrams(array, n): sliding n-long subarrays; when the array is
    // shorter than n Trino returns ONE ngram holding the whole array
    // (slice past the end truncates, greatest(…,1) keeps one window).
    // Trino edges carried over: NULL input → NULL (not [NULL]), and
    // n <= 0 FAILS the query (the random(n) AssertTrue pattern — the
    // guard's null-on-success folds into the sequence start)
    fn("ngrams") { case Seq(arr, n) =>
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      val nInt = Cast(n, IntegerType)
      val guard = Coalesce(Seq(
        Cast(new AssertTrue(GreaterThan(nInt, Literal(0))), IntegerType),
        Literal(0)))
      val stop = Greatest(Seq(
        Subtract(Add(new Size(arr), Literal(1)), nInt), Literal(1)))
      If(Or(IsNull(arr), IsNull(nInt)), Literal(null),
        ArrayTransform(new Sequence(Add(Literal(1), guard), stop),
          LambdaFunction(Slice(arr, i, nInt), Seq(i))))
    }
    // checksum: order-INSENSITIVE aggregate fingerprint (sum commutes);
    // Trino returns varbinary, we return the i64 — equality comparison,
    // the only use, carries over
    fn("checksum") { case Seq(c) => Sum(new XxHash64(Seq(c))) }
    // geometric_mean: Spark's ln(x<=0) is NULL and Average skips nulls,
    // which would SILENTLY drop zero/negative inputs; Trino's double
    // math has ln(0) = -Inf (mean -Inf, exp 0) and ln(<0) = NaN. Encode
    // those values explicitly so the result matches instead of lying.
    fn("geometric_mean") { case Seq(c) =>
      val d = Cast(c, DoubleType)
      val lnv = If(GreaterThan(d, Literal(0.0)), Log(d),
        If(EqualTo(d, Literal(0.0)),
          Literal(Double.NegativeInfinity), Literal(Double.NaN)))
      Exp(Average(lnv).toAggregateExpression())
    }

    // ---- ISO-8601 / time ---------------------------------------------------
    fn("from_iso8601_timestamp") { case Seq(s) => Cast(s, TimestampType) }
    fn("from_iso8601_date") { case Seq(s) => Cast(s, DateType) }
    fn("to_iso8601") { case Seq(c) => graft.expr.ToIso8601(c) }
    // at_timezone re-renders an instant in another zone; with the
    // engine fixed at UTC the instant-preserving rebase IS Spark's
    // from_utc_timestamp
    fn("at_timezone") { case Seq(t, z) =>
      FromUTCTimestamp(Cast(t, TimestampType), z)
    }
    fn("last_day_of_month") { case Seq(c) => LastDay(c) }
    // micros-of-second / 1000; the pmod is non-negative so the int
    // cast's truncation IS floor division
    fn("millisecond") { case Seq(c) =>
      Cast(Divide(Cast(new Pmod(UnixMicros(Cast(c, TimestampType)),
        Literal(1000000L)), DoubleType), Literal(1000.0)), IntegerType)
    }

    // ---- strings / numbers -------------------------------------------------
    // strrpos: last 1-based occurrence via the reversed-locate identity
    // (0 when absent, Trino's convention)
    fn("strrpos") { case Seq(s, sub) =>
      val r = new StringLocate(Reverse(sub), Reverse(s))
      Cast(If(EqualTo(r, Literal(0)),
        Literal(0),
        Subtract(Add(Subtract(Length(s), r), Literal(2)), Length(sub))),
        LongType)
    }
    // truncate(x): round toward zero (Trino's 1-arg double form).
    // Floor/Ceil return BIGINT, which would corrupt NaN (→0),
    // infinities, and |x| beyond long range — but any double with
    // |x| >= 2^53 is already integral (ulp > 1), so those pass through
    // verbatim and only the genuinely fractional range goes through
    // the integer round
    fn("truncate") {
      case Seq(x) =>
        val d = Cast(x, DoubleType)
        val passThrough = Or(IsNaN(d),
          GreaterThanOrEqual(Abs(d), Literal(9007199254740992.0)))
        If(passThrough, d,
          Cast(If(GreaterThanOrEqual(d, Literal(0.0)), Floor(d), Ceil(d)),
            DoubleType))
      // truncate(decimal, n): toward zero at n decimal places — the
      // remainder subtraction is exact because the step literal is an
      // exact decimal (never a double 10^-n)
      case Seq(x, Literal(n: Int, IntegerType)) =>
        val step = java.math.BigDecimal.ONE.movePointLeft(n)
        val scale = math.max(n, 0)
        val stepLit = Literal(Decimal(step),
          DecimalType(math.max(math.max(step.precision, scale), 1), scale))
        Subtract(x, Remainder(x, stepLit))
      case Seq(_, e) => throw new IllegalArgumentException(
        s"truncate: the decimal-place count must be an integer literal, got $e")
    }

    // ---- names whose Spark builtin, if any, diverges from Trino ----------
    // typeof: Trino type names, not Spark's (integer/varchar/
    // timestamp(3) with time zone/array(...)/row(...)); shadows the
    // Spark builtin of the same name
    fn("typeof") { case Seq(c) => graft.expr.TrinoTypeOf(c) }
    fn("normalize") {
      case Seq(s) => graft.expr.TrinoNormalize(s, Literal("NFC"))
      case Seq(s, f) => graft.expr.TrinoNormalize(s, f)
    }
    fn("hamming_distance") { case Seq(a, b) =>
      graft.expr.TrinoHammingDistance(a, b)
    }
    fn("bit_count") {
      case Seq(x, bits) =>
        graft.expr.TrinoBitCount(Cast(x, LongType), Cast(bits, IntegerType))
      // 1-arg form: Spark's builtin — the registration is session-wide,
      // and the engine's own simhash hamming (`Dedup.scala`) calls it
      case Seq(x) =>
        new org.apache.spark.sql.catalyst.expressions.BitwiseCount(x)
    }
    fn("json_array_get") { case Seq(j, i) =>
      graft.expr.TrinoJsonArrayGet(j, Cast(i, LongType))
    }
    fn("json_size") { case Seq(j, p) => graft.expr.TrinoJsonSize(j, p) }
    fn("is_json_scalar") { case Seq(j) => graft.expr.TrinoIsJsonScalar(j) }
    fn("json_array_contains") { case Seq(j, v) =>
      graft.expr.TrinoJsonArrayContains(j, v)
    }
    // Trino's default capture group is 0 (the full match); Spark's is
    // 1, which either errors on group-less patterns or silently
    // returns the wrong slice on patterns that do have groups. Trino
    // also returns NULL when the pattern does not match (Spark: '') —
    // the RLike gate restores that; a genuine empty-string MATCH still
    // returns '' because the gate tests the pattern, not the result
    fn("regexp_extract") {
      case Seq(s, p) =>
        If(new org.apache.spark.sql.catalyst.expressions.RLike(s, p),
          RegExpExtract(s, p, Literal(0)), Literal(null, StringType))
      case Seq(s, p, g) =>
        If(new org.apache.spark.sql.catalyst.expressions.RLike(s, p),
          RegExpExtract(s, p, g), Literal(null, StringType))
    }
    fn("regexp_extract_all") {
      case Seq(s, p) =>
        new org.apache.spark.sql.catalyst.expressions.RegExpExtractAll(
          s, p, Literal(0))
      case Seq(s, p, g) =>
        new org.apache.spark.sql.catalyst.expressions.RegExpExtractAll(
          s, p, g)
    }
    // Trino regexp_count returns BIGINT (Spark's builtin: int)
    fn("regexp_count") { case Seq(s, p) =>
      Cast(RegExpCount(s, p), LongType)
    }
    // Trino format() IS Java String.format — Spark's format_string
    fn("format") {
      case args if args.nonEmpty => FormatString(args: _*)
      case _ => throw new IllegalArgumentException(
        "format expects (format[, args...]), got 0 args")
    }
    // format_number collides with Spark's comma-grouping builtin and
    // is auto-namespaced like md5 (see shadowedBuiltins).
    fn("format_number") { case Seq(x) =>
      graft.expr.TrinoFormatNumber(Cast(x, DoubleType))
    }
    fn("human_readable_seconds") { case Seq(x) =>
      graft.expr.TrinoHumanReadableSeconds(Cast(x, DoubleType))
    }
    fn("combinations") { case Seq(a, n) =>
      graft.expr.TrinoCombinations(a, Cast(n, IntegerType))
    }
    // word_stem: Snowball English (Porter2) — the algorithm Trino's
    // default EnglishStemmer runs (graft.expr.Porter2, from the
    // published spec). Other language codes fail loudly: shipping an
    // approximation under a Trino name would silently diverge.
    fn("word_stem") {
      case Seq(w) => graft.expr.TrinoWordStem(w)
      case Seq(w, Literal(lang: UTF8String, StringType)) =>
        lang.toString match {
          case "en" => graft.expr.TrinoWordStem(w)
          case l if TrinoWordStemLangs.contains(l) =>
            throw new IllegalArgumentException(
              s"word_stem: language '$l' is not implemented (only 'en' — " +
                "the Snowball English/Porter2 stemmer)")
          case l => throw new IllegalArgumentException(
            s"Unknown stemmer language: $l")
        }
      case Seq(_, e) => throw new IllegalArgumentException(
        s"word_stem: the language must be a string literal, got $e")
      case other => throw new IllegalArgumentException(
        s"word_stem expects (word[, language]), got ${other.size} args")
    }
    // approx_most_frequent(buckets, value, capacity): the EXACT top-
    // `buckets` values by count (ties broken by ascending key). Trino's
    // Space-Saving sketch yields identical output whenever its capacity
    // suffices (counts are exact until eviction); where the sketch
    // would err, the exact answer is the strictly-better result — a
    // distributed groupBy-count is linear, so there is nothing to
    // approximate Spark-side. `capacity` is validated and ignored.
    // Counting runs in the TrinoApproxMostFrequent expression — one
    // sort + run-length pass, O(n log n) per group; recounting the array
    // per distinct value would be O(n·d), worst exactly when this
    // function matters.
    fn("approx_most_frequent") {
      case Seq(bLit @ Literal(_, _), x, capLit @ Literal(_, _)) =>
        val b = bLit.value match {
          case i: Int => i
          case l: Long => l.toInt
          case v => throw new IllegalArgumentException(
            s"approx_most_frequent: buckets must be an integer literal, got $v")
        }
        val cap = capLit.value match {
          case i: Int => i.toLong
          case l: Long => l
          case v => throw new IllegalArgumentException(
            s"approx_most_frequent: capacity must be an integer literal, got $v")
        }
        if (b <= 0) throw new IllegalArgumentException(
          s"approx_most_frequent: buckets must be positive, got $b")
        if (cap <= 0) throw new IllegalArgumentException(
          s"approx_most_frequent: capacity must be positive, got $cap")
        graft.expr.TrinoApproxMostFrequent(
          CollectList(x).toAggregateExpression(), // skips nulls
          Literal(b))
      case other => throw new IllegalArgumentException(
        "approx_most_frequent expects (buckets, value, capacity) with " +
          s"literal buckets/capacity, got ${other.size} args")
    }
    // bar(x, width): the red→green default rendering, implemented per
    // the public ColorFunctions behavior (graft.expr.TrinoFnsImpl.bar
    // documents the escapes). The 4-arg form takes COLOR-typed values
    // (a Trino-private type with no Spark equivalent) — loud.
    fn("bar") {
      case Seq(x, w) =>
        graft.expr.TrinoBar(Cast(x, DoubleType), Cast(w, LongType))
      case other => throw new IllegalArgumentException(
        "bar: only bar(x, width) is supported — the 4-arg form takes " +
          s"COLOR values (no Spark equivalent), got ${other.size} args")
    }
    // numeric_histogram(buckets, value[, weight]): DETERMINISTIC
    // Ben-Haim/Tom-Tov — Trino's own bin merges are input-order-
    // dependent, so this shim applies the same centroid-merge rule to
    // the exact sorted multiset instead (the approx_percentile
    // divergence-class precedent; graft.expr.TrinoFnsImpl
    // .numericHistogram documents the decision).
    fn("numeric_histogram") {
      case args if args.size == 2 || args.size == 3 =>
        val b = args.head
        val x = args(1)
        val w = if (args.size == 3) args(2) else Literal(1.0)
        val entries = CollectList(CreateNamedStruct(Seq(
          Literal("v"), Cast(x, DoubleType),
          Literal("w"), Cast(w, DoubleType)))).toAggregateExpression()
        graft.expr.TrinoNumericHistogram(entries, Cast(b, IntegerType))
      case other => throw new IllegalArgumentException(
        "numeric_histogram expects (buckets, value[, weight]), got " +
          s"${other.size} args")
    }
    fn("regexp_split") { case Seq(s, p) =>
      StringSplit(s, p, Literal(-1))
    }
    // 1-based first-match position, -1 when absent (Spark: 0)
    fn("regexp_position") { case Seq(s, p) =>
      val pos = RegExpInStr(s, p, Literal(0))
      Cast(If(EqualTo(pos, Literal(0)), Literal(-1), pos), LongType)
    }
    fn("starts_with") { case Seq(s, p) => StartsWith(s, p) }
    fn("ends_with") { case Seq(s, p) => EndsWith(s, p) }
    fn("bitwise_not") { case Seq(x) => BitwiseNot(x) }
    fn("bitwise_and_agg") { case Seq(x) => BitAndAgg(x) }
    fn("bitwise_or_agg") { case Seq(x) => BitOrAgg(x) }
    // from_base/to_base via conv(), sign handled explicitly: Spark's
    // conv treats negatives as unsigned 64-bit, Trino keeps the sign
    fn("from_base") { case Seq(s, b) =>
      val neg = StartsWith(s, Literal("-"))
      val body = If(neg, Substring(s, Literal(2), Literal(Int.MaxValue)), s)
      val mag = Cast(Conv(body, Cast(b, IntegerType), Literal(10)), LongType)
      If(neg, UnaryMinus(mag), mag)
    }
    fn("to_base") { case Seq(x, b) =>
      val neg = LessThan(x, Literal(0))
      val mag = Lower(Conv(Cast(Abs(x), StringType), Literal(10),
        Cast(b, IntegerType)))
      If(neg, Concat(Seq(Literal("-"), mag)), mag)
    }
    // zip: Trino names the row fields field0..fieldN
    fn("zip") {
      case args if args.size >= 2 =>
        ArraysZip(args, args.indices.map(i => Literal(s"field$i")))
      case other => throw new IllegalArgumentException(
        s"zip expects at least 2 arrays, got ${other.size}")
    }
    // with_timezone: interpret the naive timestamp IN the given zone;
    // the resulting instant is Spark's to_utc_timestamp (engine
    // session fixed at UTC)
    fn("with_timezone") { case Seq(t, z) =>
      ToUTCTimestamp(Cast(t, TimestampType), z)
    }
    // ISO week-year = the year of that week's Thursday
    fn("year_of_week") { case Seq(c) =>
      Cast(Year(DateAdd(Cast(c, DateType),
        Subtract(Literal(3), WeekDay(Cast(c, DateType))))), LongType)
    }
    fn("yow") { case Seq(c) =>
      Cast(Year(DateAdd(Cast(c, DateType),
        Subtract(Literal(3), WeekDay(Cast(c, DateType))))), LongType)
    }
    // parse_datetime(string, format): Trino documents Joda patterns;
    // the JDK DateTimeFormatter letters agree on the whole common
    // subset (y M d H h m s S E a z). Divergent exotic letters (Joda
    // 'Y' week-year) fail loudly in Spark's formatter rather than
    // silently shifting
    fn("parse_datetime") { case Seq(s, f) => new ParseToTimestamp(s, f) }
    // current_timezone: the session zone id, Trino-rendered (the
    // engine pins sessions to UTC; java's canonical alias is Etc/UTC)
    fn("current_timezone") { case Seq() => Literal("UTC") }
    // histogram(x): map value -> count. Same collected-entries shape
    // (and the same honestly-stated O(distinct × group) group cost) as
    // map_agg/multimap_agg above — dialect compat, not a corpus-scale
    // operator
    fn("histogram") { case Seq(x) =>
      val entries = CollectList(x).toAggregateExpression() // skips nulls
      def nv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      val (kk, e) = (nv("hk"), nv("he"))
      val countOf = Cast(new Size(ArrayFilter(entries,
        LambdaFunction(EqualTo(e, kk), Seq(e)))), LongType)
      MapFromEntries(ArrayTransform(ArrayDistinct(entries),
        LambdaFunction(
          CreateNamedStruct(Seq(Literal("k"), kk, Literal("v"), countOf)),
          Seq(kk))))
    }
    // cosine_similarity(map, map): sparse-vector cosine over the key
    // union; absent keys contribute 0 to the dot product
    fn("cosine_similarity") { case Seq(a, b) =>
      def nv(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
      def sumArr(arr: Expression, px: String) = {
        val (acc, v, fin) = (nv(px + "a"), nv(px + "v"), nv(px + "f"))
        ArrayAggregate(arr, Literal(0.0),
          LambdaFunction(Add(acc, Cast(v, DoubleType)), Seq(acc, v)),
          LambdaFunction(fin, Seq(fin)))
      }
      def norm(m: Expression, px: String) = {
        val v = nv(px + "n")
        Sqrt(sumArr(ArrayTransform(MapValues(m),
          LambdaFunction(Multiply(Cast(v, DoubleType), Cast(v, DoubleType)),
            Seq(v))), px + "s"))
      }
      val (k, x, y) = (nv("csk"), nv("csx"), nv("csy"))
      val prod = MapZipWith(a, b, LambdaFunction(
        Multiply(Coalesce(Seq(Cast(x, DoubleType), Literal(0.0))),
          Coalesce(Seq(Cast(y, DoubleType), Literal(0.0)))),
        Seq(k, x, y)))
      // zero-norm input: Java's 0/0 is NaN in Trino; guard explicitly
      // (the engine session runs ANSI, where a bare ÷0 would throw)
      val denom = Multiply(norm(a, "csl"), norm(b, "csr"))
      If(EqualTo(denom, Literal(0.0)), Literal(Double.NaN),
        Divide(sumArr(MapValues(prod), "csd"), denom))
    }
    // kurtosis: Trino computes the SAMPLE excess kurtosis (the
    // bias-corrected estimator); Spark's builtin is the population
    // form g2 = n·m4/m2² − 3 — numerically different on every input
    // (e.g. 1,2,3,4 → −1.2 vs Spark's −1.36). skewness needs no
    // shadow: both engines use √n·M3/M2^1.5. Derived from the builtin
    // via the algebraic identity G2 = ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3))
    // — Spark's Kurtosis uses stable streaming central moments, so
    // this stays accurate when |mean| ≫ stddev (epoch timestamps,
    // ids), where the raw-power-sum formulation cancels
    // catastrophically in double. NULL for n ≤ 3 (the (n−2)(n−3)
    // factors make the estimator undefined); zero variance → NaN
    // (Trino's 0/0 — Spark 4's builtin returns NULL there
    // (nullOnDivideByZero), so a NULL g2 with n ≥ 4 is re-mapped)
    fn("kurtosis") { case Seq(c) =>
      val d = Cast(c, DoubleType)
      val n = Cast(Count(Seq(d)).toAggregateExpression(), DoubleType)
      val g2 = Kurtosis(d).toAggregateExpression()
      val n1 = Subtract(n, Literal(1.0))
      val n2 = Subtract(n, Literal(2.0))
      val n3 = Subtract(n, Literal(3.0))
      val sample = Divide(
        Multiply(Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0)),
          n1),
        Multiply(n2, n3))
      If(LessThan(n, Literal(4.0)), Literal(null, DoubleType),
        If(IsNull(g2), Literal(Double.NaN), sample))
    }
    // Trino's 2-arg regexp_replace DELETES matches; 3-arg passes through
    // to the builtin semantics (identical in both dialects)
    fn("regexp_replace") {
      case Seq(s, p) => RegExpReplace(s, p, Literal(""))
      case Seq(s, p, r) => RegExpReplace(s, p, r)
      case other => throw new IllegalArgumentException(
        s"regexp_replace expects 2 or 3 arguments, got ${other.size}")
    }
    // scalar bitwise trio (Spark only has the aggregate bit_and/bit_or)
    fn("bitwise_and") { case Seq(a, b) =>
      BitwiseAnd(Cast(a, LongType), Cast(b, LongType))
    }
    fn("bitwise_or") { case Seq(a, b) =>
      BitwiseOr(Cast(a, LongType), Cast(b, LongType))
    }
    fn("bitwise_xor") { case Seq(a, b) =>
      BitwiseXor(Cast(a, LongType), Cast(b, LongType))
    }
    out.result()
  }

  /** Shim names that collide with a Spark BUILTIN function name
    * (computed against Spark's own builtin registry, so a future
    * Spark release that claims one of these names flips it into this
    * set automatically). These are NEVER registered under the bare
    * name: [[doRegister]] registers them as `graft_trino_<name>` and
    * [[rewrite]] renames dialect-text calls to match, for every name of
    * the class, `md5`/`sha1` included. Running a
    * dialect query therefore cannot change what any native
    * `functions.*` / `spark.sql` call resolves to: the
    * registry-shadowing hazard is closed structurally, not
    * per-call-site (`regexp_extract` in LogsInsights and 1-arg
    * `bit_count` in simhash keep Spark's semantics after any dialect
    * query has run on the session). */
  private[graft] lazy val shadowedBuiltins: Seq[String] =
    shimBuilders.map(_._1).filter(n =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)))

  private lazy val shadowedSet: Set[String] = shadowedBuiltins.toSet

  private def doRegister(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    shimBuilders.foreach { case (name, builder) =>
      val target = if (shadowedSet(name)) s"graft_trino_$name" else name
      reg.createOrReplaceTempFunction(target, builder, "built-in")
    }
  }

  /** JSON text of ANY value: round-trip through `to_json` of a 1-field
    * struct and strip the `{"v":` / `}` wrapper — Jackson does the
    * quoting/escaping, identically for scalars and nested types. */
  private def jsonText(c: Expression): Expression = {
    val j = StructsToJson(Map("ignoreNullFields" -> "false"),
      CreateNamedStruct(Seq(Literal("v"), c)), None)
    If(IsNull(c), Literal(null, StringType),
      Substring(j, Literal(6), Subtract(Length(j), Literal(6))))
  }

  /** MySQL/Trino %-specifiers → Spark datetime pattern letters
    * (trino.io docs: date_format/date_parse MySQL table). Literal
    * letters are quoted so Spark's formatter keeps them verbatim. */
  private[graft] def mysqlToJava(fmt: String): String = {
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      out ++= "'" + lit.toString.replace("'", "''") + "'"
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val spec: String = fmt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'c' => "M"
          case 'd' => "dd"
          case 'e' => "d"
          case 'H' => "HH"
          case 'k' => "H"
          case 'h' | 'I' => "hh"
          case 'l' => "h"
          case 'i' => "mm"
          case 's' | 'S' => "ss"
          case 'f' => "SSSSSS"
          case 'p' => "a"
          case 'W' => "EEEE"
          case 'a' => "EEE"
          case 'M' => "MMMM"
          case 'b' => "MMM"
          case 'j' => "DDD"
          case 'T' => "HH:mm:ss"
          case '%' => null
          case other => throw new IllegalArgumentException(
            s"unsupported MySQL datetime specifier %$other")
        }
        if (spec == null) lit += '%' else { flush(); out ++= spec }
        i += 2
      } else {
        if (c.isLetter || c == '\'') lit += c else { flush(); out += c }
        i += 1
      }
    }
    flush()
    out.toString
  }

  private val Units = Set("YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
    "HOUR", "MINUTE", "SECOND", "MILLISECOND", "MICROSECOND")
  private def trinoUnit(u: String): String = {
    val up = u.toUpperCase
    require(Units.contains(up), s"unsupported date_diff/date_add unit: $u")
    up
  }

  /** Strip SQL comments (`-- …` to end of line, `/* … */` including
    * Spark-style nesting) OUTSIDE string literals. Every rewrite pass
    * below tracks quote state lexically; an apostrophe inside a comment
    * would otherwise flip that state and silently disable translation
    * of everything after it (e.g. a 1-based subscript passed through to
    * Spark's 0-based `[]`). Comments are whitespace to the parser, so
    * removing them up front is semantics-preserving. */
  private[graft] def stripComments(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i) // the newline is kept
        if (nl < 0) sql.length else nl
      } else if (sql.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < sql.length && depth > 0) {
          if (sql.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (sql.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out += ' '
        j
      } else i
    }

  /** The full Trino→Spark text rewrite, applied before parsing. Each pass
    * is one rule run by [[SqlLexer.rewriteOutsideQuotes]]. */
  def rewrite(sql0: String): String = {
    val sql = stripComments(sql0)
    // FIRST, on the original text: only user-authored literals are
    // raw-escaped; literals the later passes synthesize are authored
    // for Spark and carry no backslashes
    var s = rawStrings(sql)
    s = typedLiterals(s)
    s = dateFnUnits(s)
    s = rewriteUnnest(s)
    s = mapConstructors(s)
    s = castTargets(s)
    s = bracketsPass(s)
    s = renameCalls(s)
    s = bareVarchar(s)
    s
  }

  /** `(open, close)` of the parenthesized arguments when the call `name(`
    * starts at `i`. */
  private def callAt(sql: String, i: Int, name: String): Option[(Int, Int)] =
    if (!wordAt(sql, i, name)) None
    else {
      val open = nextIs(sql, i + name.length, '(')
      if (open < 0) None else Some((open, balancedClose(sql, open)))
    }

  /** Trino string literals are RAW — `''` is the only escape; a
    * backslash is an ordinary character. Spark's parser (default
    * `escapedStringLiterals=false`) processes backslash escapes, so a
    * Trino regex like `'\d+'` would silently reach the engine as
    * `'d+'` — wrong results, no error, in every regexp_* call. Double
    * each backslash inside single-quoted literals so the string VALUE
    * Spark decodes is byte-identical to what Trino would see.
    * Double-quoted segments are Trino identifiers and pass through
    * untouched. */
  private def rawStrings(sql: String): String =
    if (sql.indexOf('\\') < 0) sql
    else rewriteOutsideQuotes(sql) { (i, out) =>
      if (sql(i) != '\'') i
      else {
        val e = quotedEnd(sql, i)
        out ++= sql.substring(i, e).replace("\\", "\\\\")
        e
      }
    }

  // ---- date_diff('day', a, b) / date_add('day', n, ts) --------------------

  private val DateFns =
    Seq("date_diff" -> "timestampdiff", "date_add" -> "timestampadd")
  private val UnitArg = """^'(\w+)'$""".r

  /** Trino's string-unit `date_diff`/`date_add` → Spark's
    * `timestampdiff`/`timestampadd` with the unit unquoted. This must be
    * a TEXT rewrite: Spark's grammar parses 3-arg date_add/date_diff as
    * the timestampadd/timestampdiff special form BEFORE any function
    * lookup, and that form rejects a quoted unit. Argument order
    * matches exactly (Trino `date_diff(unit, from, to)` = to - from;
    * Spark `timestampdiff(unit, start, end)` = end - start). 2-arg
    * calls and computed units are untouched — Spark's builtin
    * (end, start)-days semantics apply. */
  private def dateFnUnits(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      DateFns.iterator.flatMap { case (from, to) =>
        callAt(sql, i, from).flatMap { case (open, close) =>
          splitTop(sql.substring(open + 1, close)) match {
            case Seq(UnitArg(unit), rest @ _*) if rest.size == 2 =>
              // args may nest further date_diff calls
              out ++= s"$to(${trinoUnit(unit).toLowerCase}, " ++=
                rest.map(dateFnUnits).mkString(", ") += ')'
              Some(close + 1)
            case _ => None
          }
        }
      }.nextOption().getOrElse(i)
    }

  // ---- typed literals: DECIMAL '12.03', BIGINT '1', … ---------------------

  /** Trino typed-literal names Spark's parser lacks, with the Spark cast
    * target; DECIMAL's precision and scale come from the literal text,
    * Trino's typing rule. (DATE/TIMESTAMP/TIME/INTERVAL/X parse
    * natively.) */
  private val TypedLiteralTypes: Seq[(String, String)] = Seq(
    "DECIMAL" -> "DECIMAL",
    "TINYINT" -> "TINYINT", "SMALLINT" -> "SMALLINT",
    "INTEGER" -> "INT", "BIGINT" -> "BIGINT",
    "REAL" -> "FLOAT", "DOUBLE" -> "DOUBLE",
    "BOOLEAN" -> "BOOLEAN", "VARBINARY" -> "BINARY",
    // VARCHAR here (before bareVarchar runs): `VARCHAR 'x'` would
    // otherwise be rewritten to `STRING 'x'`, which Spark rejects
    "VARCHAR" -> "STRING", "CHAR" -> "STRING", "JSON" -> "STRING")

  /** `TYPE 'text'` → `CAST('text' AS sparkType)`, e.g. `DECIMAL '12.03'`
    * → `CAST('12.03' AS DECIMAL(4,2))`. The literal text is copied
    * verbatim, its `''` escapes included (the emitted CAST literal uses
    * the same escaping). */
  private def typedLiterals(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      if (!sql(i).isLetter) i
      else TypedLiteralTypes.find(t => wordAt(sql, i, t._1)) match {
        case Some((name, sparkType)) if nextIs(sql, i + name.length, '\'') >= 0 =>
          val j = nextIs(sql, i + name.length, '\'')
          val close = literalEnd(sql, j) - 1
          require(close > j, s"unterminated $name literal in: ${sql.take(120)}")
          val text = sql.substring(j + 1, close)
          val target =
            if (name != "DECIMAL") sparkType
            else {
              val digits = text.replaceAll("[^0-9]", "")
              val dot = text.indexOf('.')
              val scale = if (dot < 0) 0 else text.length - dot - 1
              s"DECIMAL(${math.max(digits.length, math.max(scale, 1))},$scale)"
            }
          out ++= s"CAST('$text' AS $target)"
          close + 1
        case _ => i
      }
    }

  // ---- ARRAY [..] constructors and [..] subscripts -------------------------

  /** One pass converting `ARRAY [a, b]` → `array(a, b)` and every other
    * subscript `base[i]` → `element_at(base, i)` (Trino subscripts are
    * 1-based / key-lookup; Spark's `[]` is 0-based — passing them
    * through would be silently off by one; element_at matches Trino on
    * both arrays and maps). */
  private def bracketsPass(sql: String): String = {
    // what each currently-open bracket/paren was rewritten to
    val stack = scala.collection.mutable.Stack.empty[Char]
    rewriteOutsideQuotes(sql) { (i, out) =>
      sql(i) match {
        case _ if wordAt(sql, i, "ARRAY") && nextIs(sql, i + 5, '[') >= 0 =>
          out ++= "array("
          stack.push(')')
          nextIs(sql, i + 5, '[') + 1
        case '[' =>
          // subscript: wrap the base expression already emitted
          val start = captureBaseStart(out)
          if (start < out.length) {
            out.insert(start, "element_at(")
            out ++= ", "
            stack.push(')')
          } else {
            // no base expression precedes — not a subscript; leave for
            // the parser to reject
            out += '['
            stack.push(']')
          }
          i + 1
        case ']' => out += (if (stack.nonEmpty) stack.pop() else ']'); i + 1
        case '(' => stack.push(')'); out += '('; i + 1
        case ')' => if (stack.nonEmpty) stack.pop(); out += ')'; i + 1
        case _ => i
      }
    }
  }

  /** Start index (in `out`) of the trailing base expression a subscript
    * applies to: an identifier chain (`a.b`, backticked parts included)
    * optionally preceded by balanced call/subscript groups. Returns
    * out.length when nothing usable precedes. */
  private def captureBaseStart(out: StringBuilder): Int = {
    var i = out.length
    var consumed = false
    var continue = true
    while (continue && i > 0) {
      val c = out(i - 1)
      if (c == ')' || c == ']') {
        var depth = 0
        var j = i
        do {
          j -= 1
          val cc = out(j)
          if (cc == ')' || cc == ']') depth += 1
          else if (cc == '(' || cc == '[') depth -= 1
        } while (depth > 0 && j > 0)
        if (depth > 0) { continue = false } else { i = j; consumed = true }
      } else if (isWordChar(c) || c == '.' || c == '`') {
        i -= 1; consumed = true
      } else continue = false
    }
    if (consumed) i else out.length
  }

  // ---- MAP(ARRAY [...], ARRAY [...]) ---------------------------------------

  private def isArrayCtor(a: String): Boolean =
    wordAt(a, 0, "ARRAY") && nextIs(a, 5, '[') >= 0

  /** Only the exact Trino-generated shapes: `MAP(ARRAY …, ARRAY …)` →
    * `map_from_arrays(…)` and `MAP()` → `map()`. Spark's own
    * `map(k1, v1, …)` calls are untouched (2-arg `map(k, v)` is a
    * legal single-entry Spark map — rewriting it would change
    * semantics). */
  private def mapConstructors(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      callAt(sql, i, "MAP").map { case (open, close) =>
        val args = splitTop(sql.substring(open + 1, close))
        if (args.isEmpty) { out ++= "map()"; close + 1 }
        else if (args.size == 2 && args.forall(isArrayCtor)) {
          // recurse: the args may hold nested MAP(ARRAY…) constructors
          out ++= args.map(mapConstructors).mkString("map_from_arrays(", ", ", ")")
          close + 1
        } else i
      }.getOrElse(i)
    }

  // ---- CAST targets: ROW(..)/ARRAY(..)/MAP(..)/JSON type syntax ------------

  /** Rewrites the TYPE argument of every `CAST` / `TRY_CAST`:
    *
    *  - `ROW(name T, ...)` → `STRUCT<name: T, ...>` (recursive; quoted
    *    field names become backticked) — the shape
    *    `test_athena.py:1226-1251` casts its ROW constructors to;
    *  - `ARRAY(T)` → `ARRAY<T>`, `MAP(K, V)` → `MAP<K, V>`;
    *  - `JSON` → the whole cast becomes `graft_cast_json(expr)`
    *    (wrapped in `try(...)` for TRY_CAST).
    *
    * The expression side of the cast is recursed for nested casts; the
    * later passes (brackets, ROW→struct, bareVarchar) then apply inside
    * both the expression and the emitted STRUCT<> field types. */
  private val VarcharN = """(?i)^VARCHAR\s*\(\s*(\d+)\s*\)$""".r

  private def castTargets(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      val k = if (wordAt(sql, i, "TRY_CAST")) "TRY_CAST" else "CAST"
      callAt(sql, i, k).flatMap { case (open, close) =>
        // `expr AS type` splits at the last top-level AS
        val inner = sql.substring(open + 1, close)
        topWordIndices(inner, "AS").lastOption.map { as =>
          val e = castTargets(inner.substring(0, as))
          val tpe = inner.substring(as + 2).trim
          def tried(x: String) = if (k == "TRY_CAST") s"try($x)" else x
          out ++= (tpe match {
            case t if t.equalsIgnoreCase("JSON") => tried(s"graft_cast_json($e)")
            // Trino CAST to VARCHAR(n) TRUNCATES; Spark's varchar cast
            // keeps the full string, so the substring is explicit
            case VarcharN(n) => tried(s"substring(CAST($e AS STRING), 1, $n)")
            case _ => s"$k($e AS ${trinoType(tpe)})"
          })
          close + 1
        }
      }.getOrElse(i)
    }

  /** Trino type text → Spark type text (recursive). Unrecognized type
    * names pass through untouched for Spark's parser to judge. */
  private[sql] def trinoType(t0: String): String = {
    val t = t0.trim
    def headParen(w: String): Option[(Int, Int)] =
      callAt(t, 0, w).filter(_._2 == t.length - 1)
    headParen("ROW").map { case (open, close) =>
      val fields = splitTop(t.substring(open + 1, close)).map { f =>
        // name is a bare identifier or a double-quoted one (which may
        // itself contain spaces) — split AFTER the closing quote
        val sp =
          if (f.startsWith("\"")) f.indexOf('"', 1) + 1
          else f.indexWhere(_.isWhitespace)
        require(sp > 0 && sp < f.length,
          s"ROW field needs a name and a type: $f")
        val name0 = f.take(sp).trim
        val name =
          if (name0.startsWith("\"") && name0.endsWith("\""))
            "`" + name0.substring(1, name0.length - 1) + "`"
          else name0
        s"$name: ${trinoType(f.drop(sp + 1))}"
      }
      s"STRUCT<${fields.mkString(", ")}>"
    }.orElse(headParen("ARRAY").map { case (open, close) =>
      s"ARRAY<${trinoType(t.substring(open + 1, close))}>"
    }).orElse(headParen("MAP").map { case (open, close) =>
      val kv = splitTop(t.substring(open + 1, close))
      require(kv.size == 2, s"MAP type needs (key, value): $t")
      s"MAP<${trinoType(kv.head)}, ${trinoType(kv(1))}>"
    }).getOrElse(
      if (t.equalsIgnoreCase("VARBINARY")) "BINARY" else t)
  }

  // ---- call renames: ROW( → struct(, TRY( → try(, shadowed builtins --------

  /** Lower-case call name → the name the rewrite emits: Trino's `ROW(`
    * constructor → `struct(`, `TRY(` → the registered `try`, and every
    * shim name colliding with a Spark builtin → its graft-namespaced
    * registration; the bare names stay Spark builtins in the session
    * registry (see [[shadowedBuiltins]]). */
  private lazy val callRenames: Map[String, String] = {
    def ns(n: String) = if (shadowedSet(n)) s"graft_trino_$n" else n
    shadowedBuiltins.map(n => n -> ns(n)).toMap +
      ("row" -> ns("struct")) + ("try" -> ns("try"))
  }

  private def renameCalls(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      if (!isWordChar(sql(i)) || i > 0 && isWordChar(sql(i - 1))) i
      else {
        var e = i
        while (e < sql.length && isWordChar(sql(e))) e += 1
        callRenames.get(sql.substring(i, e).toLowerCase(java.util.Locale.ROOT))
          .filter(_ => nextIs(sql, e, '(') >= 0) match {
          case Some(to) => out ++= to; e
          case None => i
        }
      }
    }

  // ---- bare VARCHAR → STRING ----------------------------------------------

  /** `CAST(x AS VARCHAR)` (no length) is Trino's string type; Spark
    * requires a length on VARCHAR, so the bare word maps to STRING.
    * `VARCHAR(n)` is left untouched. */
  private def bareVarchar(sql: String): String =
    rewriteOutsideQuotes(sql) { (i, out) =>
      if (wordAt(sql, i, "VARCHAR") && nextIs(sql, i + 7, '(') < 0) {
        out ++= "STRING"
        i + 7
      } else i
    }

  // ---- UNNEST --------------------------------------------------------------

  private val UnnestHead = """(?is)(CROSS\s+JOIN|,)\s*UNNEST\s*\(""".r.pattern
  private val OrdRe = """(?is)\s*WITH\s+ORDINALITY""".r
  private val AliasRe = """(?is)\s*(?:AS\s+)?(\w+)\s*\(([^()]*)\)""".r

  /** `CROSS JOIN UNNEST(e1[, e2…]) [WITH ORDINALITY] AS t (c1[, c2…])`
    * (or the comma-join form) → a Spark LATERAL VIEW:
    *
    *  - one array, one column → `explode`;
    *  - one map, two columns → `explode` (key, value);
    *  - n arrays, n columns → `inline(arrays_zip(…))` — zip semantics
    *    with null-padding to the longest, exactly Trino's;
    *  - WITH ORDINALITY appends a 1-based position as the LAST column:
    *    `inline(slice(arrays_zip(…, sequence(1, greatest(len, 1))), 1,
    *    len))` — the slice drops the padding row when every input is
    *    empty, and a NULL input yields zero rows, both as in Trino.
    *
    * An UNNEST this rewrite does not recognize (no column alias list,
    * LEFT JOIN form) is left in place for Spark's parser to reject
    * loudly — never a silent partial translation. */
  private def rewriteUnnest(sql: String): String = {
    val m = UnnestHead.matcher(sql)
    rewriteOutsideQuotes(sql) { (i, out) =>
      val c = sql(i)
      if (!(c == ',' || c == 'C' || c == 'c') ||
          !m.region(i, sql.length).lookingAt()) i
      else {
        val (lateral, end) = unnestLateral(sql, m.start, m.end - 1)
        out ++= lateral
        end
      }
    }
  }

  /** The LATERAL VIEW for the UNNEST clause starting at `start` whose
    * argument list opens at `open`, and the index just past the clause. */
  private def unnestLateral(sql: String, start: Int,
      open: Int): (String, Int) = {
    val close = balancedClose(sql, open)
    val args = splitTop(sql.substring(open + 1, close))
    require(args.nonEmpty, "UNNEST needs at least one argument")
    var rest = close + 1
    val ordinality = OrdRe.findPrefixMatchOf(sql.substring(rest)) match {
      case Some(om) => rest += om.end; true
      case None => false
    }
    val am = AliasRe.findPrefixMatchOf(sql.substring(rest)).getOrElse(
      throw new IllegalArgumentException(
        "UNNEST requires an alias with a column list: " +
          s"… UNNEST(…) AS t (c1, …): ${sql.substring(start).take(120)}"))
    val alias = am.group(1)
    val cols = am.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    rest += am.end
    require(cols.nonEmpty, "UNNEST alias needs column names")

    val nVals = if (ordinality) cols.size - 1 else cols.size
    // in the MULTI-array zip a NULL argument must act as EMPTY (Trino
    // null-pads the other arrays to the longest; arrays_zip would
    // instead null-propagate and drop every row). array() is
    // ARRAY<VOID>, so the coalesce coerces to each argument's type.
    def nz(a: String) = s"coalesce($a, array())"
    val lateral: String =
      if (!ordinality && args.size == 1 && nVals <= 2)
        // 1 col: array explode; 2 cols: map explode (key, value) — an
        // array of rows with 2 fields fails analysis loudly instead.
        // explode(NULL) is zero rows, exactly Trino's UNNEST(NULL).
        s" LATERAL VIEW explode(${args.head}) $alias AS ${cols.mkString(", ")}"
      else if (!ordinality) {
        require(args.size == nVals,
          s"UNNEST of ${args.size} arrays needs ${args.size} column aliases, got $nVals")
        s" LATERAL VIEW inline(arrays_zip(${args.map(nz).mkString(", ")})) $alias AS ${cols.mkString(", ")}"
      } else {
        require(nVals == args.size,
          s"UNNEST … WITH ORDINALITY of ${args.size} arrays needs " +
            s"${args.size}+1 column aliases, got ${cols.size}")
        val len =
          if (args.size == 1) s"size(${nz(args.head)})"
          else s"greatest(${args.map(a => s"size(${nz(a)})").mkString(", ")})"
        val zipped =
          s"arrays_zip(${args.map(nz).mkString(", ")}, sequence(1, greatest($len, 1)))"
        s" LATERAL VIEW inline(slice($zipped, 1, $len)) $alias AS ${cols.mkString(", ")}"
      }
    (lateral, rest)
  }
}
