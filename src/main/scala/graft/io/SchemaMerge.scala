package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** Additive schema evolution for real-format appends (Delta + Iceberg).
  *
  * Reference semantics: dataset writes default `schema_evolution=True`
  * and Iceberg writes diff the incoming frame against the table and ALTER
  * in the new columns (`athena/_write_iceberg.py:112-234`
  * `_determine_differences` + ADD COLUMNS generation). The real-format
  * equivalents: Delta appends commit a `metaData` action carrying the
  * widened schema (old files read the new columns as null), Iceberg
  * appends commit metadata whose schema gains the new trailing fields
  * (stable positional field-ids; old files resolve the new ids to null).
  *
  * What evolution is NOT allowed to do, in either engine:
  *  - retype an existing column (raise — a silent cast corrupts data);
  *  - drop a non-nullable column from the append (old rows can't
  *    invent values, but new rows MUST have them — raise);
  *  - reorder existing columns' ids (merged schema always preserves the
  *    table's field order and appends genuinely-new fields at the end).
  */
object SchemaMerge {

  /** The integer-family rank for widening (byte < short < int < long). */
  private def intRank(dt: DataType): Int = dt match {
    case ByteType => 1; case ShortType => 2
    case IntegerType => 3; case LongType => 4; case _ => 0
  }

  /** The wider of (table, incoming) under the Iceberg promotion rules
    * (spec "Schema Evolution": int→long, float→double, decimal
    * precision widening at the same scale) — None when the pair is not
    * promotion-compatible. */
  def widen(table: DataType, incoming: DataType): Option[DataType] =
    (table, incoming) match {
      case (a, b) if a == b => Some(a)
      case (a, b) if intRank(a) > 0 && intRank(b) > 0 =>
        Some(if (intRank(a) >= intRank(b)) a else b)
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (a: DecimalType, b: DecimalType) if a.scale == b.scale =>
        Some(if (a.precision >= b.precision) a else b)
      case _ => None
    }

  /** The widened table schema for an append: table fields in table
    * order, then incoming fields the table lacks (forced nullable —
    * every pre-evolution file reads them as null). A retyped column is
    * resolved through [[widen]]: a NARROWER incoming value is always
    * up-cast to the table type (via [[alignTo]]); a WIDER incoming type
    * promotes the table column only when `promote=true` (Iceberg —
    * the reference's ALTER … CHANGE COLUMN flow, Athena enforcing the
    * same spec rules; classic Delta has no type-widening feature, so
    * the Delta writer keeps `promote=false` and raises). Also raises on
    * non-promotable retypes, on new columns when `evolve=false`, and on
    * appends missing a non-nullable table column.
    */
  def mergeAppend(table: StructType, incoming: StructType,
      evolve: Boolean, promote: Boolean = false): StructType = {
    val inc = incoming.fields.map(f => f.name -> f).toMap
    val incNames = incoming.fieldNames.toSet
    table.fields.foreach { f =>
      if (!incNames.contains(f.name) && !f.nullable)
        throw new IllegalArgumentException(
          s"append missing non-nullable table column ${f.name}")
    }
    val widened = table.fields.map { tf =>
      inc.get(tf.name) match {
        case Some(f) if f.dataType == tf.dataType => tf
        case Some(f) =>
          widen(tf.dataType, f.dataType) match {
            case Some(w) if w == tf.dataType => tf // incoming up-casts
            case Some(w) if promote => tf.copy(dataType = w)
            case _ => throw new IllegalArgumentException(
              s"append column ${f.name}: ${f.dataType.simpleString} != " +
                s"table's ${tf.dataType.simpleString}")
          }
        case None => tf
      }
    }
    val t = table.fields.map(f => f.name -> f).toMap
    val fresh = incoming.fields.filterNot(f => t.contains(f.name))
    if (fresh.nonEmpty && !evolve)
      throw new IllegalArgumentException(
        s"append column ${fresh.head.name} not in table schema " +
          "(schemaEvolution=false; use overwrite to evolve)")
    StructType(widened ++ fresh.map(_.copy(nullable = true)))
  }

  /** Project `df` onto `merged` — every merged column in merged order,
    * absent ones as typed nulls, narrower ones up-cast to the merged
    * (widened) type. Positional-field-id writers (Iceberg) need the
    * ordering so parquet/statistics ids line up with the committed
    * schema; the cast keeps every data file physically at the table's
    * current widest type, so no reader needs parquet-level widening. */
  def alignTo(df: DataFrame, merged: StructType): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(merged.fields.toSeq.map { f =>
      present.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None if f.metadata.contains("iceberg.write-default") =>
          // v3 write-default (spec "Default values"): an append lacking
          // the column fills the declared default, not null
          IcebergReader.defaultLiteral(f.dataType,
            f.metadata.getString("iceberg.write-default")).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** The strict append check — no evolution: every incoming column
    * exists in the table with the same type, so an append can neither
    * add nor silently retype a column (the reference's schema check,
    * `s3/_s3_tables_iceberg.py:200-219`). A stream's schema is fixed at
    * plan time, so drift mid-run is a bug, not evolution. */
  private[io] def checkAppendSchema(table: StructType, incoming: StructType): Unit = {
    val t = table.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach { f =>
      t.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"append column ${f.name} not in table schema (use overwrite to evolve)")
        case Some(dt) if dt != f.dataType => throw new IllegalArgumentException(
          s"append column ${f.name}: ${f.dataType.simpleString} != table's ${dt.simpleString}")
        case _ => ()
      }
    }
  }

  /** True when the schema carries Delta column-mapping physical names —
    * evolving such a table needs new `delta.columnMapping.id`/
    * `physicalName` assignments we deliberately don't fabricate. */
  def isColumnMapped(schema: StructType): Boolean =
    schema.fields.exists(
      _.metadata.contains("delta.columnMapping.physicalName"))
}
