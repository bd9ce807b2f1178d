package graft.io

import java.time.LocalDate
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One conjunct of a file-pruning predicate for the external-format
  * readers — the Spark-side shape of the reference's `partitions`
  * filter tuples (`s3/_read_deltalake.py:41` `list[tuple[str, str,
  * Any]]`, delta-rs `files_by_partitions` syntax). `op` is one of
  * `=`, `!=`, `<`, `<=`, `>`, `>=`, `in`, `not in`, `is null`,
  * `is not null`, `prefix` (string starts-with, pruned through string
  * bounds); for the set ops `value` is a `Seq`.
  *
  * Semantics are EXACT row filtering: the readers prune the snapshot's
  * file list by partition values and file statistics (metadata only,
  * keep-if-maybe-match), then re-apply the same predicate as a normal
  * codegen'd row filter — pruning is purely a scan-size optimization
  * and can never change the result. */
final case class ScanFilter(column: String, op: String, value: Any) {
  def valueSeq: Seq[Any] = value match {
    case s: Seq[_] => s.asInstanceOf[Seq[Any]]
    case other => Seq(other)
  }
}

/** Driver-side conservative evaluation of [[ScanFilter]]s against
  * partition constants and min/max file statistics. Every comparison
  * that cannot be decided (unparseable value, type mismatch, missing
  * stat) KEEPS the file — the residual row filter guarantees
  * exactness, pruning only has to never drop a matching file. */
object ScanFilters {

  private val Ops = Set("=", "!=", "<", "<=", ">", ">=", "in", "not in",
    "is null", "is not null", "prefix")

  def validate(f: ScanFilter): Unit =
    require(Ops.contains(f.op),
      s"unsupported filter op '${f.op}' (supported: ${Ops.toSeq.sorted.mkString(", ")})")

  /** The residual row predicate — SQL three-valued semantics (nulls
    * never match, including `!=`/`not in`), matching what the pruning
    * below assumes. */
  def toColumn(f: ScanFilter): Column = {
    validate(f)
    val c = col(f.column)
    f.op match {
      case "is null" => c.isNull
      case "is not null" => c.isNotNull
      case "prefix" => c.startsWith(lit(f.value.toString))
      case "=" => c === lit(f.value)
      case "!=" => c =!= lit(f.value)
      case "<" => c < lit(f.value)
      case "<=" => c <= lit(f.value)
      case ">" => c > lit(f.value)
      case ">=" => c >= lit(f.value)
      case "in" => c.isin(f.valueSeq: _*)
      case "not in" => !c.isin(f.valueSeq: _*)
    }
  }

  def residual(filters: Seq[ScanFilter]): Option[Column] =
    filters.map(toColumn).reduceOption(_ && _)

  /** Translate an arbitrary `Column` predicate — the shape Spark users
    * actually write — into the prunable [[ScanFilter]] conjuncts it
    * contains. The predicate is resolved against `schema` through a
    * rows-free analysis (no data is touched), split on `AND`, and each
    * conjunct of a supported shape (`=`, `<=>` with a non-null literal,
    * `<`, `<=`, `>`, `>=`, `IN`, `NOT =`/`NOT IN`, `isNull` /
    * `isNotNull` / `<=> null` — pruned through per-file null counts —
    * `startsWith` (pruned through string bounds), and an `OR` of point
    * predicates on ONE column, which collapses to `in`) becomes a
    * ScanFilter. Everything else — casts, functions of
    * a column, cross-column comparisons, disjunctions spanning columns
    * — is simply NOT emitted: the caller must re-apply the ORIGINAL
    * predicate as the row filter, so untranslated conjuncts stay
    * residual-only and results never change. `NOT <=>` with a non-null
    * literal is deliberately untranslated: it means `isNull OR !=`,
    * which no single conjunct expresses, and `!=` pruning alone would
    * drop all-null files whose rows MATCH. */
  def fromColumn(spark: SparkSession, schema: StructType,
      predicate: Column): Seq[ScanFilter] = {
    val analyzed = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      .filter(predicate).queryExecution.analyzed
    analyzed.collect { case f: Filter => f.condition }
      .flatMap(splitConjuncts).flatMap(translate)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** A bare column reference (casts/functions around it are not
    * prunable) and a literal's EXTERNAL value (java.sql.Date, not the
    * catalyst day ordinal — [[toComparable]] speaks external forms). */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
  }
  private object Lit {
    def unapply(e: Expression): Option[Any] = e match {
      case l: Literal if l.value != null =>
        Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
      // type coercion wraps literals in Cast in the ANALYZED plan
      // (`col("id") === 5` against a long column); fold it here — the
      // optimizer would, but optimizing would also collapse the
      // rows-free Filter and lose the condition
      case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
        Option(c.eval(null))
          .map(CatalystTypeConverters.convertToScala(_, c.dataType))
      case _ => None // null literals stay residual (x = null is never true)
    }
  }

  private def translate(e: Expression): Option[ScanFilter] = e match {
    case EqualTo(Attr(n), Lit(v)) => Some(ScanFilter(n, "=", v))
    case EqualTo(Lit(v), Attr(n)) => Some(ScanFilter(n, "=", v))
    case EqualNullSafe(Attr(n), Lit(v)) => Some(ScanFilter(n, "=", v))
    case EqualNullSafe(Lit(v), Attr(n)) => Some(ScanFilter(n, "=", v))
    case LessThan(Attr(n), Lit(v)) => Some(ScanFilter(n, "<", v))
    case LessThan(Lit(v), Attr(n)) => Some(ScanFilter(n, ">", v))
    case LessThanOrEqual(Attr(n), Lit(v)) => Some(ScanFilter(n, "<=", v))
    case LessThanOrEqual(Lit(v), Attr(n)) => Some(ScanFilter(n, ">=", v))
    case GreaterThan(Attr(n), Lit(v)) => Some(ScanFilter(n, ">", v))
    case GreaterThan(Lit(v), Attr(n)) => Some(ScanFilter(n, "<", v))
    case GreaterThanOrEqual(Attr(n), Lit(v)) => Some(ScanFilter(n, ">=", v))
    case GreaterThanOrEqual(Lit(v), Attr(n)) => Some(ScanFilter(n, "<=", v))
    case Not(EqualTo(Attr(n), Lit(v))) => Some(ScanFilter(n, "!=", v))
    case Not(EqualTo(Lit(v), Attr(n))) => Some(ScanFilter(n, "!=", v))
    case StartsWith(Attr(n), Lit(p: String)) =>
      Some(ScanFilter(n, "prefix", p))
    case IsNull(Attr(n)) => Some(ScanFilter(n, "is null", null))
    case IsNotNull(Attr(n)) => Some(ScanFilter(n, "is not null", null))
    case Not(IsNull(Attr(n))) => Some(ScanFilter(n, "is not null", null))
    case Not(IsNotNull(Attr(n))) => Some(ScanFilter(n, "is null", null))
    // `c <=> null` IS an is-null test (the null-literal guard in Lit
    // rightly rejects it from the equality cases above)
    case EqualNullSafe(Attr(n), l: Literal) if l.value == null =>
      Some(ScanFilter(n, "is null", null))
    case EqualNullSafe(l: Literal, Attr(n)) if l.value == null =>
      Some(ScanFilter(n, "is null", null))
    case In(Attr(n), vs) =>
      val ext = vs.collect { case Lit(v) => v }
      if (ext.length == vs.length) Some(ScanFilter(n, "in", ext)) else None
    case Not(in @ In(_, _)) =>
      translate(in).map(f => f.copy(op = "not in"))
    case InSet(a: AttributeReference, hset) =>
      // null elements match nothing under IN — dropping them only keeps
      // the translation exact
      Some(ScanFilter(a.name, "in", hset.toSeq.filter(_ != null)
        .map(CatalystTypeConverters.convertToScala(_, a.dataType))))
    case or: Or => orToIn(or)
    case _ => None
  }

  /** `c = v1 OR c = v2 OR c IN (…)` on ONE column → `in` over the union
    * of the points; any other disjunct shape keeps the whole OR
    * residual. */
  private def orToIn(e: Expression): Option[ScanFilter] = {
    def leaves(x: Expression): Option[Seq[(String, Seq[Any])]] = x match {
      case Or(l, r) => for { a <- leaves(l); b <- leaves(r) } yield a ++ b
      case _ => translate(x) match {
        case Some(ScanFilter(n, "=", v)) => Some(Seq(n -> Seq(v)))
        case Some(ScanFilter(n, "in", vs: Seq[_])) =>
          Some(Seq(n -> vs.asInstanceOf[Seq[Any]]))
        case _ => None
      }
    }
    leaves(e).flatMap { ls =>
      ls.map(_._1).distinct match {
        case Seq(n) => Some(ScanFilter(n, "in", ls.flatMap(_._2)))
        case _ => None
      }
    }
  }

  /** May a partition-constant value match `f`? `raw` is the value as the
    * log/manifest carries it (hive string, avro scalar, or null). A null
    * partition value matches NO comparison (SQL semantics). */
  def constantMayMatch(dt: DataType, raw: Any, f: ScanFilter): Boolean = {
    validate(f)
    // nullness ops decide on VALUE PRESENCE, not comparability
    if (f.op == "is null") return raw == null
    if (f.op == "is not null") return raw != null
    // prefix is a string test; a non-string column keeps (residual decides)
    if (f.op == "prefix")
      return dt != StringType || (raw != null &&
        raw.toString.startsWith(f.value.toString))
    toComparable(dt, raw) match {
      case None => false // null: =,!=,<,… are all NULL → row filter drops it
      case Some(pv) =>
        f.op match {
          case "=" => cmp(pv, dt, f.value).forall(_ == 0)
          case "!=" => cmp(pv, dt, f.value).forall(_ != 0)
          case "<" => cmp(pv, dt, f.value).forall(_ < 0)
          case "<=" => cmp(pv, dt, f.value).forall(_ <= 0)
          case ">" => cmp(pv, dt, f.value).forall(_ > 0)
          case ">=" => cmp(pv, dt, f.value).forall(_ >= 0)
          case "in" => f.valueSeq.exists(v => cmp(pv, dt, v).forall(_ == 0))
          case "not in" => f.valueSeq.forall(v => cmp(pv, dt, v).forall(_ != 0))
        }
    }
  }

  /** May any row in [min, max] match `f`? Missing bounds keep the file.
    * Writers may truncate string maxima upward (Delta stats), which only
    * widens the interval — still safe. */
  def intervalMayMatch(dt: DataType, minRaw: Option[Any], maxRaw: Option[Any],
      f: ScanFilter): Boolean = {
    validate(f)
    // min/max say nothing about nullness — [[nullCountMayMatch]] is the
    // authority for the nullness ops; an interval check must keep
    if (f.op == "is null" || f.op == "is not null") return true
    // a string with prefix p sits in [p, successor(p)): the interval
    // may hold one iff max >= p and (min <= p or min itself starts
    // with p — a min above p NOT under p has already diverged upward
    // before p ended, so every later string misses the prefix)
    if (f.op == "prefix") {
      if (dt != StringType) return true
      val p = f.value.toString
      val lo0 = minRaw.map(_.toString)
      val hi0 = maxRaw.map(_.toString)
      return hi0.forall(h => cmpString(h, p) >= 0) &&
        lo0.forall(l => cmpString(l, p) <= 0 || l.startsWith(p))
    }
    val lo = minRaw.flatMap(toComparable(dt, _))
    val hi = maxRaw.flatMap(toComparable(dt, _))
    def contains(v: Any): Boolean =
      lo.forall(l => cmp(l, dt, v).forall(_ <= 0)) &&
        hi.forall(h => cmp(h, dt, v).forall(_ >= 0))
    f.op match {
      case "=" => contains(f.value)
      case "in" => f.valueSeq.exists(contains)
      case "<" => lo.forall(l => cmp(l, dt, f.value).forall(_ < 0))
      case "<=" => lo.forall(l => cmp(l, dt, f.value).forall(_ <= 0))
      case ">" => hi.forall(h => cmp(h, dt, f.value).forall(_ > 0))
      case ">=" => hi.forall(h => cmp(h, dt, f.value).forall(_ >= 0))
      case "!=" | "not in" =>
        // prunable only when EVERY row equals a rejected value (min==max)
        val point = for { l <- lo; h <- hi; c <- cmpAny(l, h) } yield c == 0
        if (!point.getOrElse(false)) true
        else !f.valueSeq.exists(v => cmp(lo.get, dt, v).contains(0))
    }
  }

  /** May a file with `nullCount` nulls out of `numRecords` rows match a
    * nullness op? Unknown counts keep the file; non-nullness ops are
    * decided by the value machinery, not here, so they keep too. */
  def nullCountMayMatch(nullCount: Option[Long], numRecords: Option[Long],
      f: ScanFilter): Boolean = f.op match {
    case "is null" => nullCount.forall(_ > 0L)
    case "is not null" =>
      (for { nc <- nullCount; nr <- numRecords } yield nc < nr)
        .getOrElse(true)
    case _ => true
  }

  private def cmp(normalized: Any, dt: DataType, rawOther: Any): Option[Int] =
    toComparable(dt, rawOther).flatMap(o => cmpAny(normalized, o))

  private def cmpAny(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) => Some(cmpString(x, y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** Strings in the order Parquet bounds and Spark use: by UTF-8 bytes,
    * which is code point order. `String.compareTo` (UTF-16 order) puts
    * a supplementary character below U+E000–U+FFFF. */
  private def cmpString(x: String, y: String): Int =
    UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

  /** Normalize a raw value (hive partition string, avro scalar, user
    * filter literal) to a comparable form for `dt`: BigDecimal for
    * numeric/temporal, String for strings, Boolean for booleans. None
    * for null or an unrecognizable encoding (→ conservative keep,
    * except partition nulls which never match). */
  def toComparable(dt: DataType, raw: Any): Option[Any] = {
    if (raw == null) return None
    try dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        Some(BigDecimal(raw.toString))
      case DateType => Some(BigDecimal(epochDay(raw)))
      case TimestampType | TimestampNTZType => Some(BigDecimal(epochMicros(raw)))
      case StringType => Some(raw.toString)
      case BooleanType => raw match {
        case b: Boolean => Some(b)
        case s => Some(s.toString.toBoolean)
      }
      case _ => None
    } catch { case _: Exception => None }
  }

  private def epochDay(raw: Any): Long = raw match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: LocalDate => d.toEpochDay
    case n: Number => n.longValue // already an ordinal (Iceberg avro)
    case s => LocalDate.parse(s.toString.trim).toEpochDay
  }

  private def epochMicros(raw: Any): Long = raw match {
    case t: java.sql.Timestamp => t.getTime * 1000L + t.getNanos / 1000 % 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case n: Number => n.longValue // micros (Iceberg avro encoding)
    case s =>
      // accept both "yyyy-MM-dd HH:mm:ss[.f]" and ISO forms, with an
      // offset (`Z`, `-08:00`: Delta Spark and delta-rs stats) or
      // without one (read as UTC)
      val txt = s.toString.trim.replace(' ', 'T')
      val at =
        try java.time.OffsetDateTime.parse(txt).toInstant
        catch { case _: java.time.format.DateTimeParseException =>
          java.time.LocalDateTime.parse(txt).toInstant(java.time.ZoneOffset.UTC) }
      at.getEpochSecond * 1000000L + at.getNano / 1000
  }
}
