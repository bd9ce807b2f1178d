package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit}
import org.apache.spark.sql.types.StructType

import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter,
  TableFiles}
import graft.session.Jobs

/** Athena's table-format DML statements — `MERGE INTO`, `UPDATE`,
  * `DELETE FROM`, `INSERT INTO` (the engine-v3 Iceberg DML surface the
  * reference drives through `athena.start_query_execution` /
  * `read_sql_query`) — compiled onto the format writers instead of a
  * server: predicates and assignment expressions parse through
  * Catalyst (`expr`), and the execution is the writers' ZERO-REWRITE
  * paths (position deletes / deletion vectors, single-commit UPDATE,
  * partition-granular MERGE). Table names resolve through an explicit
  * name→path registry; a MERGE source is any SQL the session can run
  * (temp views included) or a registered/temp table name.
  *
  * The grammar covers every statement the reference GENERATES
  * (`athena/_write_iceberg.py`): explicit-assignment MERGE
  * (`WHEN MATCHED THEN UPDATE SET "c" = source."c", …` — `:376-385`),
  * `WHEN NOT MATCHED THEN INSERT (cols) VALUES (source.cols)`,
  * matched-only `MERGE … WHEN MATCHED THEN DELETE` (`:833-837`),
  * insert-only MERGE (`merge_condition="ignore"`), null-safe ON
  * conjuncts via `IS NOT DISTINCT FROM` (`merge_match_nulls`,
  * `:371-374`), quoted `"identifiers"`, `INSERT INTO t (cols) SELECT …`
  * (`:388-393`), unconditioned `DELETE FROM t` (`:647`) and `UPDATE`,
  * and correlated `DELETE … WHERE EXISTS (SELECT … FROM src WHERE
  * src.k = t.k)`. Anything else raises — never a silent partial parse.
  *
  * ANSI alignment rules: a bare `INSERT INTO t SELECT …` is
  * POSITIONAL (names in the source are irrelevant, exactly as
  * Athena/Trino treat it); an explicit column list binds the source
  * positionally to the LISTED columns and nulls the rest.
  */
object TableDml {
  import SqlLexer.{balancedClose, splitTop, splitTopWord, topWordIndices}

  private val Ident = """(?:"[^"]+"|\w+)"""
  private val QName = s"""$Ident(?:\\.$Ident)*"""

  private val InsertRe =
    (s"""(?is)\\s*INSERT\\s+INTO\\s+($QName)\\s*""" +
      """(?:\(([^()]*)\)\s*)?(SELECT\s.+?|VALUES\s*\(.+?)\s*;?\s*""").r
  private val DeleteHeadRe =
    (s"""(?is)\\s*DELETE\\s+FROM\\s+($QName)(?:\\s+AS)?""" +
      """(?:\s+(?!WHERE\b)(\w+))?\s*""").r
  private val UpdateHeadRe =
    (s"""(?is)\\s*UPDATE\\s+($QName)(?:\\s+AS)?(?:\\s+(?!SET\\b)(\\w+))?""" +
      """\s+SET\s""").r
  private val MergeHeadRe =
    (s"""(?is)\\s*MERGE\\s+INTO\\s+($QName)(?:\\s+AS)?""" +
      """(?:\s+(?!USING\b)(\w+))?\s+USING\s+""").r
  private val ExistsRe =
    (s"""(?is)\\s*EXISTS\\s*\\(\\s*SELECT\\s+.+?\\s+FROM\\s+($QName)""" +
      """(?:\s+AS)?(?:\s+(?!WHERE\b)(\w+))?\s+WHERE\s+(.+)\)\s*""").r

  final case class Result(operation: String, table: String)

  // ---- WHEN-clause shapes --------------------------------------------------
  private sealed trait Matched
  private case object UpdateStar extends Matched
  private final case class UpdateAssign(assignments: Seq[(String, String)])
    extends Matched
  private case object DeleteMatched extends Matched
  private sealed trait NotMatched
  private case object InsertStar extends NotMatched
  private final case class InsertCols(cols: Seq[String], vals: Seq[String])
    extends NotMatched

  def execute(spark: SparkSession, sql: String,
      tables: Map[String, String]): Result =
    execute(spark, sql,
      (n: String) => tables.get(n).orElse(tables.get(n.toLowerCase)))

  /** Resolver form: table names resolve through a function — the SQL
    * front door ([[SqlEngine.executeSql]]) passes a resolver backed by
    * the SESSION CATALOG, so DML flows through the same entry point as
    * reads, no explicit registry needed.
    *
    * Every expression and query inside a statement is Trino text and goes
    * through [[sparkText]] before Catalyst parses it, so it means what it
    * means in [[SqlEngine.readSqlQuery]]. */
  def execute(spark: SparkSession, sql: String,
      tables: String => Option[String]): Result = sql match {
    case InsertRe(t, colsOpt, body) =>
      val name = qnameKey(t)
      val path = pathOf(tables, name)
      val src0 = spark.sql(sparkText(spark,
        if (body.trim.toUpperCase.startsWith("VALUES")) s"SELECT * FROM ($body)"
        else body))
      val colList = Option(colsOpt).map(splitTop(_).map(unq))
      route(spark, path,
        ice = {
          val schema = IcebergReader.tableInfo(spark, path)._1
          IcebergWriter.write(aligned(src0, schema, colList), path)
        },
        delta = {
          val schema = DeltaLogReader.snapshot(spark, path).schema
          DeltaLogWriter.write(aligned(src0, schema, colList), path)
        })
      Result("INSERT", name)
    case s if fullHead(DeleteHeadRe, s).isDefined =>
      val head = fullHead(DeleteHeadRe, s).get
      val name = qnameKey(head.group(1))
      val path = pathOf(tables, name)
      val tAlias = Option(head.group(2)).getOrElse(lastIdent(head.group(1)))
      val predOpt = clauseAfterWhere(s.substring(head.end),
        s"DELETE FROM $name")
      predOpt match {
        case None => // DELETE FROM t — every row (reference `:647`)
          route(spark, path,
            ice = IcebergWriter.deleteWhere(spark, path, lit(true)),
            delta = DeltaLogWriter.deleteWhere(spark, path, lit(true)))
        case Some(ExistsRe(srcName, srcAliasOpt, conjuncts)) =>
          val sAlias = Option(srcAliasOpt).getOrElse(lastIdent(srcName))
          val (keys, matchNulls) = parseOn(conjuncts, tAlias, sAlias)
          val src = resolveSource(spark, Right(srcName), tables)
          route(spark, path,
            ice = IcebergWriter.deleteMatched(spark, path, src, keys,
              matchNulls),
            delta = DeltaLogWriter.deleteMatched(spark, path, src, keys,
              matchNulls))
        case Some(pred) =>
          val cond = sqlExpr(spark, pred)
          route(spark, path,
            ice = IcebergWriter.deleteWhere(spark, path, cond),
            delta = DeltaLogWriter.deleteWhere(spark, path, cond))
      }
      Result("DELETE", name)
    case s if UpdateHeadRe.findPrefixMatchOf(s).isDefined =>
      val head = UpdateHeadRe.findPrefixMatchOf(s).get
      val name = qnameKey(head.group(1))
      val path = pathOf(tables, name)
      val rest = s.substring(head.end).trim.stripSuffix(";").trim
      // split SET list from WHERE at the first TOP-LEVEL occurrence —
      // a ' WHERE ' inside a string literal belongs to the assignment
      val (setList, predOpt) = topWordIndices(rest, "WHERE") match {
        case Seq() => (rest, None)
        case idx +: _ =>
          (rest.substring(0, idx).trim,
            Some(rest.substring(idx + "WHERE".length).trim))
      }
      val assignments = parseAssignments(setList).map { case (c, e) =>
        c -> sqlExpr(spark, e)
      }
      val pred = predOpt.map(sqlExpr(spark, _)).getOrElse(lit(true))
      route(spark, path,
        ice = IcebergWriter.updateWhere(spark, path, pred, assignments),
        delta = DeltaLogWriter.updateWhere(spark, path, pred, assignments))
      Result("UPDATE", name)
    case s if MergeHeadRe.findPrefixMatchOf(s).isDefined =>
      executeMerge(spark, s, tables)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported DML statement (INSERT INTO / DELETE FROM / UPDATE " +
          s"/ MERGE INTO): ${other.take(120)}")
  }

  private def fullHead(re: scala.util.matching.Regex,
      s: String): Option[scala.util.matching.Regex.Match] =
    re.findPrefixMatchOf(s)

  /** The predicate after a statement head: nothing (None), or a
    * TOP-LEVEL `WHERE <pred>` — any other trailing text raises. */
  private def clauseAfterWhere(rest0: String,
      ctx: String): Option[String] = {
    val rest = rest0.trim.stripSuffix(";").trim
    if (rest.isEmpty) None
    else topWordIndices(rest, "WHERE") match {
      case idx +: _ if idx == 0 =>
        Some(rest.substring("WHERE".length).trim)
      case _ => throw new IllegalArgumentException(
        s"unsupported clause after $ctx: ${rest.take(80)}")
    }
  }

  // ---- MERGE ---------------------------------------------------------------

  private def executeMerge(spark: SparkSession, sql: String,
      tables: String => Option[String]): Result = {
    val head = MergeHeadRe.findPrefixMatchOf(sql).get
    val tName = qnameKey(head.group(1))
    val tAlias = Option(head.group(2)).getOrElse(lastIdent(head.group(1)))
    val path = pathOf(tables, tName)
    // source: balanced-paren subquery or a plain table/view name
    var rest = sql.substring(head.end)
    val srcSpec: Either[String, String] =
      if (rest.startsWith("(")) {
        val close = balancedClose(rest, 0)
        val q = rest.substring(1, close)
        rest = rest.substring(close + 1)
        Left(q)
      } else {
        val m = s"""(?s)\\s*($QName)""".r.findPrefixMatchOf(rest)
          .getOrElse(throw new IllegalArgumentException(
            s"MERGE USING expects (query) or a table name: ${rest.take(80)}"))
        rest = rest.substring(m.end)
        Right(m.group(1))
      }
    val tail =
      """(?is)\s*(?:AS\s+)?(?:(?!ON\b)(\w+)\s+)?ON\s+""".r
        .findPrefixMatchOf(rest)
        .getOrElse(throw new IllegalArgumentException(
          s"MERGE expects [AS] <alias> ON …: ${rest.take(80)}"))
    val sAlias = Option(tail.group(1)).getOrElse(srcSpec match {
      case Right(n) => lastIdent(n)
      case Left(_) => throw new IllegalArgumentException(
        "a MERGE subquery source needs an alias")
    })
    val afterOn = rest.substring(tail.end).trim.stripSuffix(";").trim
    // split the ON condition from the WHEN clauses at the first
    // top-level WHEN
    val whenIdx = topWordIndices(afterOn, "WHEN")
    require(whenIdx.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val cond = afterOn.substring(0, whenIdx.head).trim
    val clauses = (whenIdx :+ afterOn.length).sliding(2).map {
      case Seq(a, b) => afterOn.substring(a, b).trim
    }.toSeq
    val (keys, matchNulls) = parseOn(cond, tAlias, sAlias)

    var matched: Option[Matched] = None
    var notMatched: Option[NotMatched] = None
    val MDel = """(?is)WHEN\s+MATCHED\s+THEN\s+DELETE\s*""".r
    val MUpdStar = """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s*""".r
    val MUpd = """(?is)WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.+)""".r
    val NmStar = """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*""".r
    val NmCols =
      """(?is)WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*\(([^()]*)\)\s*VALUES\s*\((.+)\)\s*""".r
    def setMatched(m: Matched): Unit = {
      require(matched.isEmpty,
        "MERGE has more than one WHEN MATCHED clause")
      matched = Some(m)
    }
    def setNotMatched(n: NotMatched): Unit = {
      require(notMatched.isEmpty,
        "MERGE has more than one WHEN NOT MATCHED clause")
      notMatched = Some(n)
    }
    clauses.foreach {
      case MDel() => setMatched(DeleteMatched)
      case MUpdStar() => setMatched(UpdateStar)
      case MUpd(asg) => setMatched(UpdateAssign(parseAssignments(asg)))
      case NmStar() => setNotMatched(InsertStar)
      case NmCols(cols, vals) =>
        val cs = splitTop(cols).map(unq)
        // same no-silent-last-wins rule as SET lists and WHEN clauses
        val dup = cs.map(_.toLowerCase).groupBy(identity)
          .collectFirst { case (c, xs) if xs.size > 1 => c }
        require(dup.isEmpty,
          s"INSERT column ${dup.getOrElse("")} listed more than once")
        setNotMatched(InsertCols(cs, splitTop(vals)))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE clause: ${other.take(120)}")
    }

    val isIce = IcebergReader.isIcebergTable(spark, path)
    if (!isIce) require(DeltaLogReader.latestVersion(spark, path) >= 0,
      s"no Iceberg or Delta table at $path")
    val schema: StructType =
      if (isIce) IcebergReader.tableInfo(spark, path)._1
      else DeltaLogReader.snapshot(spark, path).schema
    def target: DataFrame =
      if (isIce) IcebergReader.read(spark, path)
      else DeltaLogReader.read(spark, path)
    def doMerge(df: DataFrame, gate: () => Unit): Unit =
      if (isIce) IcebergWriter.merge(spark, path, df, keys, matchNulls, gate)
      else DeltaLogWriter.merge(spark, path, df, keys, matchNulls, gate)
    def doDeleteMatched(keyRows: DataFrame, gate: () => Unit): Unit =
      if (isIce) IcebergWriter.deleteMatched(spark, path, keyRows, keys,
        matchNulls, gate)
      else DeltaLogWriter.deleteMatched(spark, path, keyRows, keys,
        matchNulls, gate)
    def doAppend(df: DataFrame): Unit =
      if (isIce) { IcebergWriter.write(df, path); () }
      else { DeltaLogWriter.write(df, path); () }

    val src = resolveSource(spark, srcSpec, tables)
    // ANSI/Athena cardinality rule: a target ROW matched by MORE THAN
    // ONE source row is an error, never a silent double-replacement or
    // double-delete — enforced for EVERY matched clause, fast paths
    // included (the writers' left_anti-union-source construction would
    // otherwise land both duplicates where Athena errors). The probe
    // must count SOURCE rows per key, not joined pairs: duplicate keys
    // in the TARGET are ANSI-legal (each target row still matches one
    // source row) and a pair count would falsely flag them. So: source
    // keys with multiplicity > 1 that match ANY target row → error.
    // Unmatched dup-key inserts stay legal. The source alone settles
    // the common case, no repeated key, without reading the target;
    // only repeated keys are semi-joined against it (Catalyst
    // column-prunes both sides to the keys).
    def checkMatchedCardinality(): Unit = {
      val dupSrcKeys = src
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
      val dupMatched = !dupSrcKeys.isEmpty && {
        val t = target
        dupSrcKeys.join(t, TableFiles.keyCond(dupSrcKeys, t, keys,
          matchNulls), "left_semi").limit(1).count() > 0
      }
      require(!dupMatched,
        "MERGE: a target row matches more than one source row")
    }
    // The check runs on a second thread beside the write, which stages
    // its files (or DV sidecars) meanwhile; the write's commit waits on
    // it (`gate`), so a failed check commits nothing and the writer
    // deletes what it staged. The check's error wins over the write's,
    // as it would had the check run first.
    def checkedWrite(write: (() => Unit) => Unit): Unit = {
      val check = Jobs.start(checkMatchedCardinality())
      try write(() => check.join())
      catch { case e: Throwable => check.join(); throw e }
      check.join()
    }
    // the reference's generated `"c" = source."c"` full-column
    // assignment is semantically UPDATE SET * — route both through the
    // one-shot upsert; anything partial builds replacement rows first
    def isFullReplace(a: Seq[(String, String)]): Boolean =
      // every schema column assigned exactly once its own source value
      // (a duplicated assignment with another column missing must NOT
      // classify as full replace — the unassigned column would silently
      // take the source's value instead of being preserved)
      a.map(_._1.toLowerCase).toSet ==
        schema.fieldNames.map(_.toLowerCase).toSet &&
      a.size == schema.size && a.forall { case (c, e) =>
        refOf(e.trim).exists { case (al, cc) =>
          al.equalsIgnoreCase(sAlias) && cc.equalsIgnoreCase(c)
        }
      }
    // order-insensitive: the reference lists columns in the source
    // DataFrame's order, which need not match the table schema's
    def isPlainInsert(ic: InsertCols): Boolean =
      ic.cols.map(_.toLowerCase).toSet ==
        schema.fieldNames.map(_.toLowerCase).toSet &&
        ic.cols.size == schema.size &&
        ic.vals.zip(ic.cols).forall { case (v, c) =>
          refOf(v.trim).exists { case (al, cc) =>
            al.equalsIgnoreCase(sAlias) && cc.equalsIgnoreCase(c)
          }
        }

    (matched, notMatched) match {
      case (None, None) =>
        throw new IllegalArgumentException("MERGE needs a WHEN clause")
      case (Some(DeleteMatched), None) =>
        checkedWrite(doDeleteMatched(src, _))
      case (Some(UpdateStar), Some(InsertStar)) =>
        checkedWrite(doMerge(alignedByName(src, schema), _))
      case (Some(UpdateAssign(a)), Some(ic: InsertCols))
          if isFullReplace(a) && isPlainInsert(ic) =>
        // the exact statement `athena.merge_iceberg` generates
        checkedWrite(doMerge(alignedByName(src, schema), _))
      case (m, nm) =>
        // general path: build the replacement/insert rows explicitly,
        // then one upsert (or delete + append for the DELETE+INSERT mix)
        val t = target.alias(tAlias)
        val sdf = src.alias(sAlias)
        val on = TableFiles.keyCond(sdf, t, keys, matchNulls)
        val insRows: Option[DataFrame] = nm.map {
          case InsertStar => alignedByName(
            sdf.join(t, on, "left_anti"), schema)
          case InsertCols(cols, vals) =>
            cols.foreach(c => require(
              schema.fieldNames.exists(_.equalsIgnoreCase(c)),
              s"INSERT column $c not in table schema"))
            val byCol = cols.map(_.toLowerCase).zip(vals).toMap
            sdf.join(t, on, "left_anti")
              .select(schema.fields.map { f =>
                byCol.get(f.name.toLowerCase)
                  .map(v => sqlExpr(spark, v).cast(f.dataType))
                  .getOrElse(lit(null).cast(f.dataType)).as(f.name)
              }.toSeq: _*)
        }
        m match {
          case Some(DeleteMatched) =>
            checkedWrite { gate =>
              // inserts resolve against the PRE-delete snapshot
              val pinned = insRows.map(_.localCheckpoint())
              doDeleteMatched(src, gate)
              pinned.foreach { p => gate(); doAppend(p) }
            }
          case Some(ua) =>
            val assignments = ua match {
              case UpdateAssign(a) => a
              case UpdateStar => schema.fieldNames.toSeq
                .map(c => c -> s"$sAlias.$c")
              case DeleteMatched => Nil // unreachable
            }
            assignments.foreach { case (c, e) =>
              require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
                s"UPDATE assignment targets unknown column $c")
              // a key may only be "assigned" its own source value —
              // identity under the ON equality (the reference's
              // generated SET covers every column, keys included);
              // anything else would re-key matched rows
              require(!keys.exists(_.equalsIgnoreCase(c)) ||
                refOf(e.trim).exists { case (al, cc) =>
                  al.equalsIgnoreCase(sAlias) && cc.equalsIgnoreCase(c)
                },
                s"MERGE may not reassign key column $c")
            }
            val byCol = assignments
              .map { case (c, e) => c.toLowerCase -> e }.toMap
            val updRows = t.join(sdf, on, "inner")
              .select(schema.fields.map { f =>
                byCol.get(f.name.toLowerCase)
                  .map(e => sqlExpr(spark, e).cast(f.dataType))
                  .getOrElse(col(s"$tAlias.${f.name}")).as(f.name)
              }.toSeq: _*)
            checkedWrite(doMerge(insRows.fold(updRows)(updRows.unionByName(_)), _))
          case None =>
            // insert-only MERGE (merge_condition="ignore"): append the
            // unmatched source rows, leave matched target rows alone
            insRows.foreach(doAppend)
        }
    }
    Result("MERGE", tName)
  }

  // ---- alignment -----------------------------------------------------------

  /** Align an INSERT source to the table schema. ANSI: a bare source
    * binds to the table columns POSITIONALLY; an explicit column list
    * binds the source positionally to the LISTED columns and fills the
    * rest with null. */
  private def aligned(src: DataFrame, schema: StructType,
      colList: Option[Seq[String]]): DataFrame = colList match {
    case None =>
      require(src.schema.length == schema.length,
        s"INSERT arity ${src.schema.length} != table's ${schema.length}")
      src.toDF(schema.fieldNames.toSeq: _*)
        .select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    case Some(cols) =>
      require(src.schema.length == cols.length,
        s"INSERT arity ${src.schema.length} != column list's ${cols.length}")
      cols.foreach(c => require(
        schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"INSERT column $c not in table schema"))
      val renamed = src.toDF(cols: _*)
      renamed.select(schema.fields.map { f =>
        if (cols.exists(_.equalsIgnoreCase(f.name)))
          col(cols.find(_.equalsIgnoreCase(f.name)).get)
            .cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
  }

  /** Name-aligned projection (MERGE sources, which carry real names). */
  private def alignedByName(src: DataFrame, schema: StructType): DataFrame = {
    schema.fieldNames.foreach(c => require(src.columns.contains(c),
      s"MERGE source is missing table column $c"))
    src.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  // ---- resolution ----------------------------------------------------------

  private def resolveSource(spark: SparkSession,
      spec: Either[String, String],
      tables: String => Option[String]): DataFrame = spec match {
    case Left(query) => spark.sql(sparkText(spark, query))
    case Right(name0) =>
      val name = qnameKey(name0)
      tables(name) match {
        case Some(p) =>
          if (IcebergReader.isIcebergTable(spark, p))
            IcebergReader.read(spark, p)
          else DeltaLogReader.read(spark, p)
        case None => spark.table(name)
      }
  }

  private def pathOf(tables: String => Option[String], name: String): String =
    tables(name).getOrElse(throw new IllegalArgumentException(
      s"table $name is not registered and not in the session catalog"))

  private def route(spark: SparkSession, path: String,
      ice: => Any, delta: => Any): Unit =
    if (IcebergReader.isIcebergTable(spark, path)) { ice; () }
    else if (DeltaLogReader.latestVersion(spark, path) >= 0) { delta; () }
    else throw new IllegalArgumentException(
      s"no Iceberg or Delta table at $path")

  // ---- ON-condition / assignment parsing -----------------------------------

  /** Parse the ON conjuncts: each is `alias.col = alias.col` or
    * `alias.col IS NOT DISTINCT FROM alias.col` (optionally
    * parenthesized, identifiers optionally `"quoted"` — the exact
    * shapes `athena/_write_iceberg.py:371-374` emits). Returns the key
    * columns and whether the match is null-safe; mixing the two
    * operators raises (the reference never generates a mix, and the
    * writers take one flag for all keys). */
  private[sql] def parseOn(cond: String, tAlias: String,
      sAlias: String): (Seq[String], Boolean) = {
    val Ref = s"""($Ident)\\.($Ident)"""
    val IndfRe = s"""(?is)\\s*$Ref\\s+IS\\s+NOT\\s+DISTINCT\\s+FROM\\s+$Ref\\s*""".r
    val EqRe = s"""(?is)\\s*$Ref\\s*=\\s*$Ref\\s*""".r
    val parsed = splitTopWord(cond, "AND").map { c0 =>
      val c = stripOuterParens(c0)
      val (a1, c1, a2, c2, nullSafe) = c match {
        case IndfRe(x1, y1, x2, y2) => (unq(x1), unq(y1), unq(x2), unq(y2), true)
        case EqRe(x1, y1, x2, y2) => (unq(x1), unq(y1), unq(x2), unq(y2), false)
        case other => throw new IllegalArgumentException(
          s"unsupported ON conjunct (need alias.col [=|IS NOT DISTINCT " +
            s"FROM] alias.col): $other")
      }
      val byAlias = Map(a1.toLowerCase -> c1, a2.toLowerCase -> c2)
      val tc = byAlias.getOrElse(tAlias.toLowerCase,
        throw new IllegalArgumentException(
          s"ON condition must reference $tAlias: $cond"))
      val sc = byAlias.getOrElse(sAlias.toLowerCase,
        throw new IllegalArgumentException(
          s"ON condition must reference $sAlias: $cond"))
      require(tc.equalsIgnoreCase(sc),
        s"MERGE key must join the same column on both sides, got $tc/$sc")
      (tc, nullSafe)
    }
    val nullSafes = parsed.map(_._2).distinct
    require(nullSafes.size == 1,
      s"ON mixes = and IS NOT DISTINCT FROM conjuncts: $cond")
    (parsed.map(_._1), nullSafes.head)
  }

  private[sql] def parseAssignments(setList: String): Seq[(String, String)] = {
    val parsed = splitTop(setList).map { a =>
      // the first top-level `=` splits lhs from rhs (a quoted
      // identifier may legally contain '=')
      val i = SqlLexer.topIndexOf(a, '=')
      require(i > 0, s"malformed assignment '$a'")
      // a qualified lhs (t."c", "t"."c") assigns the column itself —
      // split quote-aware FIRST, then unquote: unq-then-split turns
      // '"t"."c"' into the broken name '"c'
      val lhs = splitQName(a.take(i).trim).last
      lhs -> a.drop(i + 1).trim
    }
    // ANSI: assigning the same column twice in one SET list is an
    // error, never a silent last-wins
    val dup = parsed.map(_._1.toLowerCase).groupBy(identity)
      .collectFirst { case (c, xs) if xs.size > 1 => c }
    require(dup.isEmpty, s"column ${dup.get} assigned more than once")
    parsed
  }

  /** `alias.col` reference (both parts optionally quoted), or None. */
  private def refOf(e: String): Option[(String, String)] = {
    val R = s"""(?s)\\s*($Ident)\\.($Ident)\\s*""".r
    e match {
      case R(a, c) => Some((unq(a), unq(c)))
      case _ => None
    }
  }

  // ---- lexical helpers -----------------------------------------------------

  /** Trino text → the Spark SQL text it means, in the order the query
    * path uses: the shim functions registered, the dialect rewritten,
    * `"identifiers"` backticked. */
  private[sql] def sparkText(spark: SparkSession, trino: String): String = {
    TrinoCompat.ensureRegistered(spark)
    SqlLexer.dequoteExpr(TrinoCompat.rewrite(trino))
  }

  private def sqlExpr(spark: SparkSession, trino: String) =
    expr(sparkText(spark, trino))

  private[sql] def unq(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '"' && t.last == '"')
      t.substring(1, t.length - 1)
    else t
  }

  private def lastIdent(qname: String): String =
    splitQName(qname).last

  /** Registry key of a possibly-quoted qualified name:
    * `"db"."t"` → `db.t`. */
  private[sql] def qnameKey(qname: String): String =
    splitQName(qname).mkString(".")

  private def splitQName(qname: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var i = 0
    val s = qname.trim
    while (i < s.length) {
      if (s(i) == '"') {
        val j = s.indexOf('"', i + 1)
        require(j > i, s"unterminated quoted identifier: $s")
        parts += s.substring(i + 1, j)
        i = j + 1
      } else {
        var j = i
        while (j < s.length && s(j) != '.') j += 1
        val p = s.substring(i, j).trim
        if (p.nonEmpty) parts += p
        i = j
      }
      if (i < s.length && s(i) == '.') i += 1
    }
    parts.result()
  }

  private def stripOuterParens(s0: String): String = {
    var s = s0.trim
    while (s.startsWith("(") && balancedClose(s, 0) == s.length - 1)
      s = s.substring(1, s.length - 1).trim
    s
  }
}
