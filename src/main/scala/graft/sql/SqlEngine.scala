package graft.sql

import java.sql.{Date, Timestamp}
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The `athena.read_sql_query` lifecycle (§3.1 of the survey,
  * `athena/_read.py:951-1308`) minus the remote engine: parameter
  * formatting, a normalized-SQL result cache, and Catalyst execution.
  */
object SqlEngine {

  /** Client-side `:name` parameter substitution with typed literal
    * rendering — the Presto-dialect path of `_sql_formatter.py:15-192`.
    * Strings escape single quotes by doubling; collections render as
    * ARRAY[…] / MAP(ARRAY[…], ARRAY[…]).
    *
    * Matching follows the reference's `:(\w+)` + trailing-word-boundary
    * rule (`_sql_formatter.py:158`): `:date` must not rewrite the prefix
    * of `:dateTime` or `:date_2`, and an unbound `:param` left in the
    * query is an error, not a silent pass-through.
    */
  // lookbehind skips the `::type` cast syntax; trailing \w* stops at a
  // word boundary so :date never eats the prefix of :dateTime / :date_2
  private val ParamToken = "(?<!:):([A-Za-z_][A-Za-z0-9_]*)".r

  def formatSql(sql: String, params: Map[String, Any]): String =
    substitute(sql, params, strict = true)

  private def substitute(
      sql: String, params: Map[String, Any], strict: Boolean): String =
    if (params.isEmpty && !strict) sql
    else if (params.isEmpty) sql // nothing bound: nothing to validate
    else ParamToken.replaceAllIn(sql, m => {
      val name = m.group(1)
      params.get(name) match {
        case Some(v) =>
          scala.util.matching.Regex.quoteReplacement(renderLiteral(v))
        case None if strict =>
          throw new IllegalArgumentException(
            s"unbound SQL parameter :$name (bound: ${params.keys.mkString(", ")})")
        case None =>
          scala.util.matching.Regex.quoteReplacement(m.matched)
      }
    })

  def renderLiteral(v: Any): String = v match {
    case null | None => "NULL"
    case Some(x) => renderLiteral(x)
    case b: Boolean => b.toString.toUpperCase
    case s: String => "'" + s.replace("'", "''") + "'"
    // Spark-dialect literals (the substitution target is Catalyst's
    // parser): 12.34BD decimal, array(…), map(k1, v1, …)
    case d: BigDecimal => s"${d.toString}BD"
    case d: java.math.BigDecimal => s"${d.toString}BD"
    case t: Timestamp => s"TIMESTAMP '${t.toString}'"
    case d: Date => s"DATE '${d.toString}'"
    case xs: Seq[_] => xs.map(renderLiteral).mkString("array(", ", ", ")")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, v) => s"${renderLiteral(k)}, ${renderLiteral(v)}" }
        .mkString("map(", ", ", ")")
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Float | _: Double) =>
      n.toString
    case other =>
      throw new IllegalArgumentException(
        s"unsupported SQL parameter type: ${other.getClass.getName}")
  }

  /** Normalized-SQL-text result cache (`athena/_cache.py:95-230`): a hit
    * returns the previously persisted DataFrame. Size-bounded LRU;
    * comparison ignores whitespace/case/trailing-semicolon differences
    * (`_compare_query_string`, `athena/_cache.py:114-129`).
    */
  final class QueryCache(maxEntries: Int = 100) {
    private val entries = TrieMap.empty[String, (DataFrame, Long)]
    @volatile private var lastInvalidation = 0L

    def normalize(sql: String): String =
      sql.trim.stripSuffix(";").replaceAll("\\s+", " ").toLowerCase

    /** A hit must be younger than `maxAgeSeconds` (the reference's
      * `max_cache_seconds`, `athena/_cache.py:64-92`) AND younger than
      * the last dataset write seen by this session — a cache that
      * survives an overwrite of its inputs serves wrong answers. */
    def get(sql: String,
        maxAgeSeconds: Long = Long.MaxValue): Option[DataFrame] =
      entries.get(normalize(sql)).flatMap { case (df, bornNanos) =>
        val ageOk = (System.nanoTime() - bornNanos) / 1e9 <= maxAgeSeconds
        val fresh = bornNanos > lastInvalidation
        if (ageOk && fresh) Some(df)
        else { entries.remove(normalize(sql)).foreach(_._1.unpersist()); None }
      }

    def put(sql: String, df: DataFrame): DataFrame = {
      val cached = df.persist()
      entries.put(normalize(sql), (cached, System.nanoTime()))
      if (entries.size > maxEntries)
        entries.toSeq.sortBy(_._2._2).take(entries.size - maxEntries)
          .foreach { case (k, (d, _)) => d.unpersist(); entries.remove(k) }
      cached
    }

    /** Every entry born before now is stale (called on dataset writes). */
    def invalidateAll(): Unit = lastInvalidation = System.nanoTime()

    def clear(): Unit = {
      entries.values.foreach(_._1.unpersist())
      entries.clear()
    }

    def size: Int = entries.size
  }

  // Weak keys: a cache dies with its SparkSession instead of pinning it
  // (the old TrieMap held every session that ever queried, forever).
  private val sessionCaches =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, QueryCache]())
  def cacheFor(spark: SparkSession): QueryCache =
    sessionCaches.synchronized {
      Option(sessionCaches.get(spark)).getOrElse {
        val c = new QueryCache(); sessionCaches.put(spark, c); c
      }
    }

  /** Dataset writers call this after mutating storage: all cached query
    * results predating the write stop being served. */
  def noteDatasetWrite(spark: SparkSession): Unit =
    sessionCaches.synchronized {
      Option(sessionCaches.get(spark)).foreach(_.invalidateAll())
    }

  /** `read_sql_query(sql, params=…, use_cache=…)` → Catalyst.
    *
    * DIALECT: the entry point is Athena (= Trino/Presto) SQL, like the
    * reference's (`athena/_read.py:951-1308`) — [[TrinoCompat.rewrite]]
    * runs on every input. Most Spark SQL passes through unchanged, but
    * Trino semantics win where the dialects conflict: array subscripts
    * `a[i]` are 1-based (`a[1]` is the FIRST element; `a[0]` fails),
    * `from_unixtime` returns a timestamp, 2-arg `regexp_replace`
    * deletes matches, and `md5`/`sha1`/`md5_hex`-free digests return
    * VARBINARY. Callers who need Spark-dialect subscripts should use
    * `spark.sql` directly.
    *
    * Parameter dispatch mirrors `athena/_utils.py:385-401`: scalar
    * params bind SERVER-SIDE through Spark's named-parameter API (no
    * string splicing, no injection channel, `:name` inside string
    * literals untouched); collection params (ARRAY/MAP literals, which
    * the binding API cannot express) fall back to the client-side
    * formatter above.
    */
  def readSqlQuery(
      spark: SparkSession,
      sql: String,
      params: Map[String, Any] = Map.empty,
      useCache: Boolean = false,
      maxCacheSeconds: Long = Long.MaxValue): DataFrame = {
    def run(): DataFrame = {
      val (collections, scalars) = params.partition {
        case (_, _: Seq[_]) | (_, _: Map[_, _]) => true
        case _ => false
      }
      // the reference's entry point takes Athena (= Trino) SQL verbatim
      // (`athena/_read.py:951-1308`): register the Trino-name functions
      // and translate the Trino-only syntax before Catalyst parses
      TrinoCompat.ensureRegistered(spark)
      val text = TrinoCompat.rewrite(substitute(sql, collections, strict = false))
      if (scalars.nonEmpty)
        spark.sql(text, scalars.map { case (k, v) => k -> unwrap(v) })
      else spark.sql(text)
    }
    if (!useCache) run()
    else {
      val cache = cacheFor(spark)
      val key = formatSql(sql, params) // fully-rendered text as cache key
      cache.get(key, maxCacheSeconds).getOrElse(cache.put(key, run()))
    }
  }

  private val ResultSchema = StructType(Seq(
    StructField("operation", StringType), StructField("table", StringType)))

  /** The one-row `(operation, table)` frame a statement returns, built
    * from a fixed schema. */
  private def result(spark: SparkSession, operation: String,
      table: String): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(operation, table)), ResultSchema)

  private val DmlHead = """(?is)^\s*(INSERT|UPDATE|DELETE|MERGE)\b""".r
  private val UnloadHead = """(?is)^\s*UNLOAD\s*\(""".r
  // only the Athena CTAS shape (WITH(props) AS query); a Spark-dialect
  // CREATE TABLE falls through to spark.sql untouched
  private val CtasHead =
    ("""(?is)^\s*CREATE\s+TABLE\s+("[^"]+"(?:\."[^"]+")?|[\w.]+)""" +
      """\s+WITH\s*\(""").r

  /** Athena property value: `'str'` (doubled-quote escapes), a number,
    * or `ARRAY['a', 'b']` (the Python-list rendering the reference
    * emits, `athena/_utils.py:852-857`). */
  private def propValue(v0: String): Either[String, Seq[String]] = {
    val v = v0.trim
    if (v.length >= 2 && v.head == '\'' && v.last == '\'')
      Left(v.substring(1, v.length - 1).replace("''", "'"))
    else if (v.length >= 6 && v.regionMatches(true, 0, "ARRAY", 0, 5)) {
      val open = v.indexOf('[')
      require(open > 0 && v.endsWith("]"), s"malformed ARRAY property: $v")
      Right(SqlLexer.splitTop(v.substring(open + 1, v.length - 1))
        .map(e => propValue(e).swap.getOrElse(
          throw new IllegalArgumentException(s"non-string ARRAY element: $e"))))
    } else Left(v)
  }

  private def parseProps(body: String): Map[String, Either[String, Seq[String]]] =
    SqlLexer.splitTop(body).map { p =>
      val i = p.indexOf('=')
      require(i > 0, s"malformed property '$p' (expected key = value)")
      p.take(i).trim.toLowerCase -> propValue(p.drop(i + 1))
    }.toMap

  private def str(props: Map[String, Either[String, Seq[String]]],
      k: String): Option[String] =
    props.get(k).map(_.swap.getOrElse(throw new IllegalArgumentException(
      s"property $k expects a string value")))

  private def arr(props: Map[String, Either[String, Seq[String]]],
      k: String): Seq[String] =
    props.get(k).map(_.getOrElse(throw new IllegalArgumentException(
      s"property $k expects an ARRAY value"))).getOrElse(Nil)

  /** Athena format name → Spark datasource (+ default options). */
  private def sparkFormat(fmt: String,
      fieldDelimiter: Option[String]): (String, Map[String, String]) =
    fmt.toUpperCase match {
      case "PARQUET" => ("parquet", Map.empty)
      case "ORC" => ("orc", Map.empty)
      case "JSON" => ("json", Map.empty)
      case "AVRO" => ("avro", Map.empty)
      case "TEXTFILE" | "CSV" =>
        ("csv", Map("sep" -> fieldDelimiter.getOrElse(",")))
      case other => throw new IllegalArgumentException(
        s"unsupported UNLOAD/CTAS format: $other")
    }

  /** The reference's generated `UNLOAD (sql) TO 'path' WITH (props)`
    * (`athena/_read.py:791`): query → files, no table. */
  private def executeUnload(spark: SparkSession, sql: String): DataFrame = {
    val open = sql.indexOf('(')
    val close = SqlLexer.balancedClose(sql, open)
    val query = sql.substring(open + 1, close)
    val TailRe =
      """(?is)\s*TO\s*'([^']*)'\s*WITH\s*\(""".r
    val tail = TailRe.findPrefixMatchOf(sql.substring(close + 1)).getOrElse(
      throw new IllegalArgumentException(
        s"UNLOAD expects … TO '<path>' WITH (props): ${sql.take(120)}"))
    val path = tail.group(1)
    val pOpen = close + 1 + tail.end - 1
    val pClose = SqlLexer.balancedClose(sql, pOpen)
    val props = parseProps(sql.substring(pOpen + 1, pClose))
    val (fmt, opts) = sparkFormat(
      str(props, "format").getOrElse("PARQUET"), str(props, "field_delimiter"))
    TrinoCompat.ensureRegistered(spark)
    unload(spark, TrinoCompat.rewrite(query), path, fmt,
      partitionedBy = arr(props, "partitioned_by"),
      compression = str(props, "compression").map(_.toLowerCase)
        .getOrElse(if (fmt == "parquet") "snappy" else "none"),
      options = opts)
    noteDatasetWrite(spark) // files changed under cached query results
    result(spark, "UNLOAD", path)
  }

  /** The reference's generated Athena CTAS (`athena/_utils.py:860-873`):
    * `CREATE TABLE "db"."t" WITH(external_location = …, partitioned_by =
    * ARRAY[…], bucketed_by = ARRAY[…], bucket_count = N, field_delimiter
    * = …, write_compression = …, format = …) AS sql [WITH NO DATA]` →
    * the equivalent Spark CTAS (USING / PARTITIONED BY / CLUSTERED BY /
    * OPTIONS / LOCATION). `WITH NO DATA` registers the schema with zero
    * rows. The table lands in the SESSION catalog, so a later
    * [[executeSql]] DML statement resolves it by name. */
  private def executeCtas(spark: SparkSession, sql: String,
      m: scala.util.matching.Regex.Match): DataFrame = {
    val name = TableDml.qnameKey(m.group(1))
    val pOpen = sql.indexOf('(', m.end - 1)
    val pClose = SqlLexer.balancedClose(sql, pOpen)
    val props = parseProps(sql.substring(pOpen + 1, pClose))
    val AsRe = """(?is)\s*AS\s""".r
    val asM = AsRe.findPrefixMatchOf(sql.substring(pClose + 1)).getOrElse(
      throw new IllegalArgumentException(
        s"Athena CTAS expects WITH(props) AS <query>: ${sql.take(120)}"))
    var query = sql.substring(pClose + 1 + asM.end).trim.stripSuffix(";").trim
    val NoData = """(?is)\s*WITH\s+NO\s+DATA\s*$""".r
    val noData = NoData.findFirstMatchIn(query).map { nm =>
      query = query.substring(0, nm.start); true
    }.getOrElse(false)
    val (fmt, fmtOpts) = sparkFormat(
      str(props, "format").getOrElse("PARQUET"), str(props, "field_delimiter"))
    val opts = fmtOpts ++
      str(props, "write_compression").map(c => "compression" -> c.toLowerCase)
    val partCols = arr(props, "partitioned_by")
    val buckets = arr(props, "bucketed_by")
    val ddl = new StringBuilder(s"CREATE TABLE $name USING $fmt")
    if (opts.nonEmpty)
      ddl ++= opts.map { case (k, v) => s"'$k' '$v'" }
        .mkString(" OPTIONS (", ", ", ")")
    if (partCols.nonEmpty)
      ddl ++= partCols.mkString(" PARTITIONED BY (", ", ", ")")
    if (buckets.nonEmpty) {
      val n = str(props, "bucket_count").getOrElse(
        throw new IllegalArgumentException(
          "bucketed_by requires bucket_count"))
      ddl ++= buckets.mkString(" CLUSTERED BY (", ", ", s") INTO $n BUCKETS")
    }
    str(props, "external_location").foreach(l => ddl ++= s" LOCATION '$l'")
    val q = TrinoCompat.rewrite(query)
    ddl ++= " AS " +
      (if (noData) s"SELECT * FROM ($q) WHERE 1 = 0" else q)
    TrinoCompat.ensureRegistered(spark)
    spark.sql(ddl.toString)
    noteDatasetWrite(spark) // files landed under cached query results
    result(spark, "CTAS", name)
  }

  private val MsckHead = """(?is)^\s*MSCK\s+REPAIR\s+TABLE\b""".r
  private val DropHead = """(?is)^\s*DROP\s+(?:TABLE|VIEW)\b""".r
  private val ViewRe =
    ("""(?is)^\s*(CREATE\s+(?:OR\s+REPLACE\s+)?VIEW)\s+""" +
      """("[^"]+"(?:\."[^"]+")?|`[^`]+`|[\w.]+)\s+AS\s+(.*)$""").r
  private val AlterRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" +
      """("[^"]+"(?:\."[^"]+")?|`[^`]+`|[\w.]+)\s+(.*?)\s*;?\s*$""").r
  private val ExtTableRe =
    ("""(?is)^\s*CREATE\s+EXTERNAL\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """("[^"]+"|`[^`]+`|[\w.]+)\s*\(""").r

  /** Identifier as Athena renders it (`"t"`, `` `t` ``, bare) →
    * Spark-parsable (backticked where quoted). */
  private def sparkIdent(name: String): String =
    if (name.startsWith("\"") && name.endsWith("\""))
      "`" + name.substring(1, name.length - 1) + "`"
    else name

  /** table name → storage location. The explicit `tables` map callers
    * pass wins FIRST (the caller-override contract `executeSql`
    * documents); then the session catalog's TABLE metadata — which is
    * immune to a temp view shadowing the name, because the post-DML
    * shadow view would otherwise break every later statement on the
    * same table (a view's metadata has no location); then
    * `Catalog.getTableLocation` (DESCRIBE FORMATTED) as a last
    * resort. A local or global temp view that no table backs resolves
    * to None without that resort: DESCRIBE never gives a view a
    * location. */
  private def tableResolver(spark: SparkSession,
      tables: Map[String, String]): String => Option[String] = name =>
    tables.get(name).orElse(tables.get(name.toLowerCase)).orElse {
      try {
        val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
        spark.sessionState.catalog.getTableMetadata(ident)
          .storage.locationUri.map(_.toString)
      } catch { case _: Exception => None }
    }.orElse {
      val isTempView =
        try spark.sessionState.catalog.isTempView(
          spark.sessionState.sqlParser.parseMultipartIdentifier(name))
        catch { case _: Exception => false }
      if (isTempView) None
      else try Some(graft.catalog.Catalog.getTableLocation(spark, name))
      catch { case _: Exception => None }
    }

  /** The reference's generated Hive DDL (`athena/_utils.py:1076-1096`:
    * `CREATE EXTERNAL TABLE … [PARTITIONED BY (…)] ROW FORMAT SERDE …
    * STORED AS INPUTFORMAT … OUTPUTFORMAT … LOCATION … [TBLPROPERTIES
    * (…)]`, also the hand-written `STORED AS PARQUET` shorthand) →
    * a Spark `CREATE TABLE … USING <fmt>`: partition columns merge into
    * the column list (Spark's USING form), the SerDe/format classes map
    * to a datasource, column COMMENTs and TBLPROPERTIES pass through. */
  // Hive LazySimpleSerDe's delimiter-less default field separator
  // (ctrl-A, 0x01) — built from the code point so the source file stays
  // plain ASCII
  private val ctrlA = 1.toChar.toString

  private def executeCreateExternal(spark: SparkSession, sql: String,
      m: scala.util.matching.Regex.Match): DataFrame = {
    val ifNotExists = m.group(1) != null
    val name = sparkIdent(m.group(2))
    val open = sql.indexOf('(', m.end - 1)
    val close = SqlLexer.balancedClose(sql, open)
    // commas inside map<,>/struct<,> column types must not split the list
    val dataCols = SqlLexer.splitTop(sql.substring(open + 1, close), angles = true)
    var rest = sql.substring(close + 1)
    val PartRe = """(?is)^\s*PARTITIONED\s+BY\s*\(""".r
    val partCols = PartRe.findPrefixMatchOf(rest) match {
      case Some(pm) =>
        val pOpen = pm.end - 1
        val pClose = SqlLexer.balancedClose(rest, pOpen)
        val cols = SqlLexer.splitTop(rest.substring(pOpen + 1, pClose), angles = true)
        rest = rest.substring(pClose + 1)
        cols
      case None => Nil
    }
    def colName(c: String): String =
      c.trim.split("\\s+", 2)(0)
    val LocRe = """(?is)\bLOCATION\s+'([^']*)'""".r
    val location = LocRe.findFirstMatchIn(rest).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(
        "CREATE EXTERNAL TABLE requires LOCATION"))
    val TblPropsRe = """(?is)\bTBLPROPERTIES\s*\(""".r
    val props = TblPropsRe.findFirstMatchIn(rest).map { tm =>
      val tOpen = tm.end - 1
      rest.substring(tOpen, SqlLexer.balancedClose(rest, tOpen) + 1)
    }
    val StoredAsWord = """(?is)\bSTORED\s+AS\s+(\w+)""".r
    val InputFmtRe = """(?is)\bINPUTFORMAT\s+'([^']*)'""".r
    val SerdeRe = """(?is)\bROW\s+FORMAT\s+SERDE\s+'([^']*)'""".r
    val serde = SerdeRe.findFirstMatchIn(rest).map(_.group(1)).getOrElse("")
    val fmt = InputFmtRe.findFirstMatchIn(rest).map(_.group(1)) match {
      case Some(cls) =>
        val c = cls.toLowerCase
        if (c.contains("parquet")) "parquet"
        else if (c.contains("orc")) "orc"
        else if (c.contains("avro")) "avro"
        else if (serde.toLowerCase.contains("json")) "json"
        else if (c.contains("text")) "csv"
        else throw new IllegalArgumentException(
          s"unsupported INPUTFORMAT: $cls")
      case None => StoredAsWord.findFirstMatchIn(rest).map(_.group(1))
        .map(_.toUpperCase) match {
        case Some("PARQUET") => "parquet"
        case Some("ORC") => "orc"
        case Some("AVRO") => "avro"
        case Some("TEXTFILE") => "csv"
        case Some(other) => throw new IllegalArgumentException(
          s"unsupported STORED AS format: $other")
        case None => "parquet"
      }
    }
    // CSV reader options from the serde declaration — dropping these
    // would silently mis-split every row (Hive's delimiter-less
    // LazySimpleSerDe default is , not comma):
    // WITH SERDEPROPERTIES ('field.delim'/'separatorChar',
    // 'escape.delim'/'escapeChar', 'quoteChar',
    // 'skip.header.line.count'), or ROW FORMAT DELIMITED FIELDS
    // TERMINATED BY '…' (the catalog create_csv_table shapes).
    val serdeProps: Map[String, String] = {
      val SerdePropsRe = """(?is)\bWITH\s+SERDEPROPERTIES\s*\(""".r
      SerdePropsRe.findFirstMatchIn(rest).map { sm =>
        val sOpen = sm.end - 1
        SqlLexer.splitTop(
          rest.substring(sOpen + 1, SqlLexer.balancedClose(rest, sOpen)))
          .flatMap { p =>
            val kv = p.split("=", 2)
            if (kv.length == 2)
              Some(kv(0).trim.stripPrefix("'").stripSuffix("'") ->
                kv(1).trim.stripPrefix("'").stripSuffix("'"))
            else None
          }.toMap
      }.getOrElse(Map.empty)
    }
    val TermRe =
      """(?is)\bROW\s+FORMAT\s+DELIMITED\s+FIELDS\s+TERMINATED\s+BY\s+'([^']*)'""".r
    val delimited = TermRe.findFirstMatchIn(rest).map(_.group(1))
    def unescape(s: String): String =
      s.replace("\\t", "\t").replace("\\u0001", ctrlA)
    val csvOpts: Seq[(String, String)] =
      if (fmt != "csv") Nil
      else {
        val sep = serdeProps.get("field.delim")
          .orElse(serdeProps.get("separatorChar")).orElse(delimited)
          .map(unescape)
          .getOrElse(
            if (serde.toLowerCase.contains("lazysimple")) ctrlA
            else ",")
        Seq("sep" -> sep) ++
          serdeProps.get("escapeChar").map("escape" -> _) ++
          serdeProps.get("quoteChar").map("quote" -> _) ++
          serdeProps.get("skip.header.line.count")
            .filter(_ != "0").map(_ => "header" -> "true")
      }
    val ddl = new StringBuilder("CREATE TABLE ")
    if (ifNotExists) ddl ++= "IF NOT EXISTS "
    ddl ++= s"$name ("
    ddl ++= (dataCols ++ partCols).mkString(", ")
    ddl ++= s") USING $fmt"
    if (csvOpts.nonEmpty)
      ddl ++= csvOpts.map { case (k, v) =>
        s"'$k' '${v.replace("\\", "\\\\").replace("'", "\\'")}'"
      }.mkString(" OPTIONS (", ", ", ")")
    if (partCols.nonEmpty)
      ddl ++= partCols.map(colName)
        .mkString(" PARTITIONED BY (", ", ", ")")
    ddl ++= s" LOCATION '$location'"
    props.foreach(p => ddl ++= s" TBLPROPERTIES $p")
    spark.sql(ddl.toString)
    result(spark, "CREATE", name)
  }

  /** `ALTER TABLE` front door. The two statements the reference
    * GENERATES for Iceberg schema evolution
    * (`athena/_write_iceberg.py:221,231` — `ADD COLUMNS (c t, …)` and
    * `CHANGE COLUMN c c t`) execute against a resolved Iceberg/Delta
    * table as an EMPTY append carrying the evolved schema (one schema
    * commit, no data files — the writers' own merge rules apply, so
    * retypes beyond legal promotion still raise). Everything else —
    * and any table that is not a format table — passes through to
    * Spark SQL (partition DDL, properties, v1 ADD COLUMNS). */
  private def executeAlter(spark: SparkSession, sql: String, name0: String,
      rest: String, resolve: String => Option[String]): DataFrame = {
    import spark.implicits._
    val key = TableDml.qnameKey(name0)
    def emptyWith(schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    def evolved(path: String, mutate: org.apache.spark.sql.types.StructType
        => org.apache.spark.sql.types.StructType): Unit =
      if (graft.io.IcebergReader.isIcebergTable(spark, path)) {
        val cur = graft.io.IcebergReader.tableInfo(spark, path)._1
        graft.io.IcebergWriter.write(emptyWith(mutate(cur)), path,
          mode = "append", schemaEvolution = true)
      } else {
        val cur = graft.io.DeltaLogReader.snapshot(spark, path).schema
        graft.io.DeltaLogWriter.write(emptyWith(mutate(cur)), path,
          schemaEvolution = true)
        ()
      }
    val AddColsRe = """(?is)^ADD\s+COLUMNS?\s*\(""".r
    val ChangeRe =
      """(?is)^CHANGE\s+COLUMN\s+(\w+)\s+(\w+)\s+(.+)$""".r
    val formatPath = resolve(key).filter(p =>
      try graft.io.IcebergReader.isIcebergTable(spark, p) ||
        graft.io.DeltaLogReader.latestVersion(spark, p) >= 0
      catch { case _: Exception => false })
    (formatPath, rest) match {
      case (Some(p), r) if AddColsRe.findPrefixMatchOf(r).isDefined =>
        val open = r.indexOf('(')
        val cols = SqlLexer.splitTop(
          r.substring(open + 1, SqlLexer.balancedClose(r, open)), angles = true)
        val fields = cols.map { c =>
          val parts = c.trim.split("\\s+", 2)
          require(parts.length == 2, s"ADD COLUMNS needs name type: $c")
          org.apache.spark.sql.types.StructField(
            parts(0).stripPrefix("`").stripSuffix("`"),
            graft.types.AthenaTypes.fromAthena(parts(1).trim))
        }
        evolved(p, cur => org.apache.spark.sql.types.StructType(
          cur.fields ++ fields))
      case (Some(p), ChangeRe(oldN, newN, tpe)) =>
        require(oldN.equalsIgnoreCase(newN),
          "CHANGE COLUMN rename is not supported (type promotion only, " +
            "the statement shape the reference generates)")
        val t = graft.types.AthenaTypes.fromAthena(tpe.trim)
        evolved(p, cur => {
          // Athena errors on an unknown column — a typo'd promotion
          // must not become a silent no-op schema commit
          require(cur.fields.exists(_.name.equalsIgnoreCase(oldN)),
            s"CHANGE COLUMN: no column $oldN in " +
              cur.fieldNames.mkString("(", ", ", ")"))
          org.apache.spark.sql.types.StructType(
            cur.fields.map(f =>
              if (f.name.equalsIgnoreCase(oldN)) f.copy(dataType = t)
              else f))
        })
      case _ =>
        spark.sql(sql) // session-catalog DDL: Spark's own ALTER surface
    }
    noteDatasetWrite(spark)
    result(spark, "ALTER", key)
  }

  /** ONE front door for reads AND table DML — the reference executes
    * both through the same `start_query_execution` path
    * (`athena/_executions.py:34`); Athena's engine routes
    * INSERT/UPDATE/DELETE/MERGE to its Iceberg DML executor and
    * everything else to the query engine. Here: a DML head dispatches
    * to [[TableDml.execute]] with table paths resolved from the
    * SESSION CATALOG (`DESCRIBE FORMATTED … Location`, the mapping
    * `catalog.getTableLocation` serves) — `tables` entries override or
    * extend that; anything else runs through [[readSqlQuery]]. DML
    * params render client-side (the regex dialect has no binding
    * channel); reads keep server-side scalar binding. DML invalidates
    * this session's query cache, exactly like the dataset writers.
    * Returns the result rows for reads; for DML a one-row frame
    * `(operation, table)` mirroring the reference's execution record. */
  def executeSql(
      spark: SparkSession,
      sql: String,
      params: Map[String, Any] = Map.empty,
      tables: Map[String, String] = Map.empty): DataFrame =
    if (UnloadHead.findFirstIn(sql).isDefined)
      executeUnload(spark, substitute(sql, params, strict = true))
    else if (CtasHead.findPrefixMatchOf(sql).isDefined)
      executeCtas(spark, substitute(sql, params, strict = true),
        CtasHead.findPrefixMatchOf(sql).get)
    else if (ExtTableRe.findPrefixMatchOf(sql).isDefined) {
      val rendered = substitute(sql, params, strict = true)
      executeCreateExternal(spark, rendered,
        ExtTableRe.findPrefixMatchOf(rendered).get)
    } else if (MsckHead.findFirstIn(sql).isDefined ||
        DropHead.findFirstIn(sql).isDefined) {
      // `MSCK REPAIR TABLE `t`;` (athena/_utils.py:581) and DROP —
      // Spark's own statements, verbatim
      val rendered = substitute(sql, params, strict = true).trim
        .stripSuffix(";")
      // a front-door DROP TABLE must clear any post-DML shadow view of
      // the name FIRST — Spark's DROP TABLE resolves the temp view and
      // would drop the shadow instead of the table, leaving reads
      // serving the "dropped" relation
      val DropTableName =
        """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?("[^"]+"|`[^`]+`|[\w.]+)""".r
      DropTableName.findPrefixMatchOf(rendered).foreach { dm =>
        val n = TableDml.qnameKey(dm.group(1))
        if (!n.contains(".")) spark.catalog.dropTempView(n)
      }
      spark.sql(rendered)
      // both mutate what reads see: repair discovers partitions, drop
      // removes the relation — stale cached results must not survive
      noteDatasetWrite(spark)
      result(spark, sql.trim.split("\\s+")(0).toUpperCase, "")
    } else if (ViewRe.findPrefixMatchOf(sql).isDefined) {
      val rendered = substitute(sql, params, strict = true)
      val vm = ViewRe.findPrefixMatchOf(rendered).get
      // view NAME is double-quoted in the generated shape
      // (athena/_utils.py:1073); the BODY is Trino SQL. The view lands
      // as a SESSION view: a persistent one could not reference the
      // compat layer's registered functions (Spark forbids temp
      // functions inside persistent views), and the front door's
      // catalog is session-scoped anyway — so a database-qualified
      // name is refused loudly rather than silently mis-scoped.
      val name = sparkIdent(vm.group(2))
      require(!TableDml.qnameKey(vm.group(2)).contains("."),
        s"front-door views are session-scoped; use an unqualified view " +
          s"name, got ${vm.group(2)}")
      TrinoCompat.ensureRegistered(spark)
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name AS " +
        TrinoCompat.rewrite(vm.group(3)))
      result(spark, "VIEW", name)
    } else if (AlterRe.findPrefixMatchOf(sql).isDefined) {
      val rendered = substitute(sql, params, strict = true)
      val am = AlterRe.findPrefixMatchOf(rendered).get
      executeAlter(spark, rendered, am.group(1), am.group(2),
        tableResolver(spark, tables))
    } else if (DmlHead.findFirstIn(sql).isEmpty)
      readSqlQuery(spark, sql, params)
    else {
      val rendered = substitute(sql, params, strict = true)
      val resolve = tableResolver(spark, tables)
      def isFormatTable(p: String): Boolean =
        try graft.io.IcebergReader.isIcebergTable(spark, p) ||
          graft.io.DeltaLogReader.latestVersion(spark, p) >= 0
        catch { case _: Exception => false }
      // Athena executes INSERT INTO against PLAIN (non-Iceberg) catalog
      // tables through its query engine; only a format table routes to
      // the transactional DML executor. Mirror that: an INSERT whose
      // target carries no Iceberg/Delta log runs as Spark SQL against
      // the session catalog (UPDATE/DELETE/MERGE on a plain table stays
      // a loud TableDml error — Athena refuses those too).
      val InsertHead =
        """(?is)^\s*INSERT\s+INTO\s+("[^"]+"(?:\."[^"]+")?|`[^`]+`|[\w.]+)""".r
      val plainInsert = InsertHead.findPrefixMatchOf(rendered).filter { m =>
        !resolve(TableDml.qnameKey(m.group(1))).exists(isFormatTable)
      }
      plainInsert match {
        case Some(m) =>
          // the statement is Trino SQL like every front-door input
          spark.sql(TableDml.sparkText(spark, rendered))
          noteDatasetWrite(spark)
          result(spark, "INSERT", TableDml.qnameKey(m.group(1)))
        case None =>
          val res = TableDml.execute(spark, rendered, resolve)
          noteDatasetWrite(spark)
          // front-door READS of this name must see the state this DML
          // just wrote: a session-catalog entry declared `USING
          // parquet` over an Iceberg/Delta location would re-scan raw
          // files (superseded data included) and serve Spark's cached
          // relation. Shadow the name with a temp view over the
          // format-aware reader (single-part names; a qualified name
          // cannot be a temp view — refresh its cached relation
          // instead).
          // A name that is no catalog table (a `tables` entry) has
          // nothing to shadow or refresh, so no reader is built for it.
          if (spark.catalog.tableExists(res.table))
            resolve(res.table).filter(isFormatTable).foreach { p =>
              if (res.table.contains("."))
                spark.catalog.refreshTable(res.table)
              else {
                val current =
                  if (graft.io.IcebergReader.isIcebergTable(spark, p))
                    graft.io.IcebergReader.read(spark, p)
                  else graft.io.DeltaLogReader.read(spark, p)
                current.createOrReplaceTempView(res.table)
              }
            }
          result(spark, res.operation, res.table)
      }
    }

  /** Positional `?` binding — the reference's server-side "qmark" style
    * (`EXECUTE … USING`, `athena/_utils.py:385-401`). */
  def readSqlQueryQmark(
      spark: SparkSession,
      sql: String,
      args: Seq[Any]): DataFrame = {
    TrinoCompat.ensureRegistered(spark)
    spark.sql(TrinoCompat.rewrite(sql), args.map(unwrap).toArray)
  }

  private def unwrap(v: Any): Any = v match {
    case Some(x) => x
    case None => null
    case other => other
  }

  /** `athena.create_ctas_table` (`athena/_utils.py:686-931`): CREATE
    * TABLE … USING format [PARTITIONED BY …] AS SELECT. */
  def createCtasTable(
      spark: SparkSession,
      table: String,
      sql: String,
      format: String = "parquet",
      partitionedBy: Seq[String] = Nil,
      location: Option[String] = None): DataFrame = {
    val part =
      if (partitionedBy.nonEmpty)
        partitionedBy.mkString(" PARTITIONED BY (", ", ", ")")
      else ""
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE TABLE $table USING $format$part$loc AS $sql")
  }

  /** `athena.unload` (`athena/_read.py:1556-1659`): query → files. */
  def unload(
      spark: SparkSession,
      sql: String,
      path: String,
      format: String = "parquet",
      partitionedBy: Seq[String] = Nil,
      compression: String = "snappy",
      options: Map[String, String] = Map.empty): Unit = {
    val w = spark.sql(sql).write.format(format)
      .option("compression", compression).options(options)
    val p = if (partitionedBy.nonEmpty) w.partitionBy(partitionedBy: _*) else w
    p.mode("overwrite").save(path)
  }
}
