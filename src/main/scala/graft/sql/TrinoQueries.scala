package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Oracled end-to-end queries through the Trino-dialect front door:
  * the SQL text below is what an Athena user types
  * (`athena/_read.py:951-1308` executes it verbatim), and it reaches
  * Catalyst only through [[TrinoCompat.rewrite]] +
  * [[TrinoCompat.ensureRegistered]] inside [[SqlEngine.readSqlQuery]].
  * The DuckDB oracles express the same semantics in DuckDB's own
  * dialect — a genuine differential test of the shim, not an echo. */
object TrinoQueries {

  /** Trino-only surface in one query: `ARRAY [...]` constructor,
    * 1-based subscript, string-unit `date_diff` — over a join + agg so
    * the translated plan is a real distributed plan (broadcast-able
    * dims, partial aggregation), not a literal-select. */
  def readSql(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    SqlEngine.readSqlQuery(s,
      """SELECT l.l_returnflag AS flag,
        |       ARRAY ['low', 'high'][CASE WHEN l.l_quantity > 25 THEN 2 ELSE 1 END] AS qty_band,
        |       count(*) AS cnt,
        |       sum(date_diff('day', o.o_orderdate, l.l_shipdate)) AS lag_days
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin)
  }

  def readSqlOracle: String =
    """SELECT l_returnflag AS flag,
      |       (ARRAY['low','high'])[CASE WHEN l_quantity > 25 THEN 2 ELSE 1 END] AS qty_band,
      |       count(*) AS cnt,
      |       CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS lag_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  /** `CROSS JOIN UNNEST(...) WITH ORDINALITY` — the rewrite emits a
    * LATERAL VIEW over `inline(arrays_zip(..., sequence(...)))`, a
    * per-row generator that stays inside the scan stage (no shuffle,
    * no driver loop — the shape that survives 100 TB of documents). */
  def unnestOrdinality(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    SqlEngine.readSqlQuery(s,
      """SELECT d.doc_id, u.tok, CAST(u.ord AS BIGINT) AS ord
        |FROM documents d
        |CROSS JOIN UNNEST(split(d.text, ' ')) WITH ORDINALITY AS u (tok, ord)
        |WHERE d.doc_id < 50 AND u.ord <= 5""".stripMargin)
  }

  /** Trino cast and constructor syntax in one statement: `CAST(MAP(ARRAY…,
    * ARRAY…) AS JSON)` (the exact `test_athena.py:1135-1152` shapes),
    * a ROW-typed cast with Trino field names + field access
    * (`test_athena.py:1226`), and ISO `day_of_week`. All map-side
    * expression work over one scan — codegen'd, no shuffle beyond the
    * final collect, the shape that survives any corpus size. */
  def castJson(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    SqlEngine.readSqlQuery(s,
      """SELECT o_orderkey AS id,
        |       CAST(MAP(ARRAY['status', 'prio'], ARRAY[o_orderstatus, o_orderpriority]) AS JSON) AS j,
        |       CAST(ROW(o_custkey, o_orderstatus) AS ROW(ck BIGINT, st VARCHAR)).ck AS ck2,
        |       day_of_week(o_orderdate) AS dw
        |FROM orders
        |WHERE o_orderkey % 50 = 0""".stripMargin)
  }

  def castJsonOracle: String =
    """SELECT o_orderkey AS id,
      |       '{"status":"' || o_orderstatus || '","prio":"' || o_orderpriority || '"}' AS j,
      |       CAST(o_custkey AS BIGINT) AS ck2,
      |       CAST(isodow(o_orderdate) AS INTEGER) AS dw
      |FROM orders
      |WHERE o_orderkey % 50 = 0""".stripMargin

  /** Trino-only scalar functions in one statement, each with a
    * genuine DuckDB-dialect twin on the oracle side: `split_part`,
    * `strrpos`, double-preserving `truncate`, the scalar bitwise trio,
    * `any_match` over the token array, `to_iso8601` on a date column
    * derivative, `last_day_of_month`. Pure map-side expression work
    * over one scan — the shim's output is codegen'd Catalyst. */
  def fnTier2(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    SqlEngine.readSqlQuery(s,
      """SELECT doc_id,
        |       split_part(text, ' ', 3) AS w3,
        |       strrpos(text, 'a') AS ra,
        |       truncate(n_chars / 7.0) AS t7,
        |       bitwise_and(doc_id, 255) AS b_and,
        |       bitwise_or(doc_id, 4096) AS b_or,
        |       bitwise_xor(doc_id, 129) AS b_xor,
        |       any_match(split(text, ' '), w -> w = 'the') AS has_the,
        |       to_iso8601(from_iso8601_date('2024-02-' ||
        |         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'))) AS iso_d,
        |       last_day_of_month(from_iso8601_date('2024-02-' ||
        |         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'))) AS ld
        |FROM documents
        |WHERE doc_id % 3 = 0""".stripMargin)
  }

  def fnTier2Oracle: String =
    """SELECT doc_id,
      |       split_part(text, ' ', 3) AS w3,
      |       CAST(CASE WHEN strpos(reverse(text), 'a') = 0 THEN 0
      |            ELSE length(text) - strpos(reverse(text), 'a') + 1
      |            END AS BIGINT) AS ra,
      |       trunc(n_chars / 7.0) AS t7,
      |       doc_id & 255 AS b_and,
      |       doc_id | 4096 AS b_or,
      |       xor(doc_id, 129) AS b_xor,
      |       list_contains(string_split(text, ' '), 'the') AS has_the,
      |       '2024-02-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |         AS iso_d,
      |       last_day(CAST('2024-02-' ||
      |         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE))
      |         AS ld
      |FROM documents
      |WHERE doc_id % 3 = 0""".stripMargin

  /** Functions whose Spark namesake diverges from Trino, in one
    * statement — every name here must resolve to the Trino semantics,
    * not Spark's (raw string literals carrying a real `\w` regex,
    * group-0 `regexp_extract`, bigint `regexp_count`, `starts_with`,
    * ISO `year_of_week`, decimal `truncate(x, n)`, `hamming_distance`,
    * lowercase signed `to_base`, `json_array_get` with a negative
    * index, `is_json_scalar`, printf `format`). DuckDB twins express
    * the same semantics in DuckDB's own dialect (len ∘
    * regexp_extract_all, isoyear, exact decimal remainder, hamming,
    * lower ∘ to_base, printf). Map-side over one scan. */
  def fnTier3(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("documents")
    SqlEngine.readSqlQuery(s,
      """SELECT doc_id AS id,
        |       regexp_count(text, '\w+') AS wc,
        |       regexp_extract(text, '[a-z]+') AS fm,
        |       regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS g2,
        |       starts_with(text, 'a') AS sw,
        |       year_of_week(from_iso8601_date('2023-01-' ||
        |         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'))) AS yw,
        |       CAST(truncate(CAST(n_chars AS DECIMAL(10,2)) * DECIMAL '0.07',
        |                     1) * 10 AS BIGINT) AS tp,
        |       hamming_distance(
        |         substr(lower(to_hex(md5(to_utf8(text)))), 1, 8),
        |         substr(lower(to_hex(md5(to_utf8(reverse(text))))), 1, 8))
        |         AS hd,
        |       to_base(doc_id + 10, 16) AS tb,
        |       json_array_get(
        |         '[' || CAST(doc_id AS VARCHAR) || ',' ||
        |         CAST(n_chars AS VARCHAR) || ']', -1) AS jg,
        |       is_json_scalar(CAST(doc_id AS VARCHAR)) AS ijs,
        |       format('%s:%d', substr(text, 1, 3), doc_id) AS fmt
        |FROM documents
        |WHERE doc_id % 3 = 1""".stripMargin)
  }

  def fnTier3Oracle: String =
    """SELECT doc_id AS id,
      |       len(regexp_extract_all(text, '\w+')) AS wc,
      |       NULLIF(regexp_extract(text, '[a-z]+'), '') AS fm,
      |       NULLIF(regexp_extract(text, '([a-z]+) ([a-z]+)', 2), '') AS g2,
      |       text LIKE 'a%' AS sw,
      |       isoyear(CAST('2023-01-' ||
      |         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS DATE))
      |         AS yw,
      |       CAST(floor(CAST(n_chars AS DECIMAL(10,2))
      |                  * CAST(0.07 AS DECIMAL(3,2)) * 10) AS BIGINT) AS tp,
      |       CAST(hamming(substr(md5(text), 1, 8),
      |                    substr(md5(reverse(text)), 1, 8)) AS BIGINT) AS hd,
      |       lower(to_base(doc_id + 10, 16)) AS tb,
      |       CAST(n_chars AS VARCHAR) AS jg,
      |       true AS ijs,
      |       printf('%s:%d', substr(text, 1, 3), doc_id) AS fmt
      |FROM documents
      |WHERE doc_id % 3 = 1""".stripMargin

  /** Trino-exact aggregates: `kurtosis` (the SAMPLE excess
    * estimator DuckDB also implements — Spark's population builtin
    * would mismatch every group), `histogram` probed by key,
    * `bitwise_or_agg`. l_quantity is integer-valued, so all four
    * power sums are exact in double and the 6-decimal rounding
    * (the DSIR recipe) absorbs the engines' different summation
    * orders. */
  def fnTier3Agg(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    SqlEngine.readSqlQuery(s,
      """SELECT l_returnflag AS flag,
        |       round(kurtosis(l_quantity), 6) AS kurt,
        |       CAST(cardinality(histogram(l_linestatus)) AS BIGINT) AS nls,
        |       TRY(histogram(l_linestatus)['O']) AS n_open,
        |       bitwise_or_agg(l_linenumber) AS bor,
        |       array_join(map_keys(approx_most_frequent(2, l_linestatus, 100)), ',') AS top_ls,
        |       array_join(map_values(approx_most_frequent(2, l_linestatus, 100)), ',') AS top_ls_n
        |FROM lineitem
        |GROUP BY 1""".stripMargin)
  }

  def fnTier3AggOracle: String =
    """WITH lc AS (
      |  SELECT l_returnflag AS f, l_linestatus AS ls, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |top2 AS (
      |  SELECT f, ls, cnt FROM lc
      |  QUALIFY row_number() OVER (PARTITION BY f ORDER BY cnt DESC, ls) <= 2),
      |amf AS (
      |  SELECT f, string_agg(ls, ',' ORDER BY cnt DESC, ls) AS top_ls,
      |         string_agg(cnt, ',' ORDER BY cnt DESC, ls) AS top_ls_n
      |  FROM top2 GROUP BY f)
      |SELECT l_returnflag AS flag,
      |       round(kurtosis(l_quantity), 6) AS kurt,
      |       count(DISTINCT l_linestatus) AS nls,
      |       CASE WHEN count(*) FILTER (WHERE l_linestatus = 'O') = 0
      |            THEN NULL
      |            ELSE count(*) FILTER (WHERE l_linestatus = 'O')
      |       END AS n_open,
      |       bit_or(l_linenumber) AS bor,
      |       any_value(amf.top_ls) AS top_ls,
      |       any_value(amf.top_ls_n) AS top_ls_n
      |FROM lineitem JOIN amf ON amf.f = l_returnflag
      |GROUP BY 1""".stripMargin

  def unnestOrdinalityOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE doc_id < 50)
      |SELECT doc_id, s.tok AS tok, s.ord AS ord FROM (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(toks)),
      |      i -> {'tok': toks[i+1], 'ord': i+1})) AS s
      |  FROM t) z
      |WHERE s.ord <= 5""".stripMargin
}
