package graft.types

import org.apache.spark.sql.types._

import graft.sql.SqlLexer

/** Total conversion functions between Spark `DataType`s and Athena/Hive
  * DDL type strings — the Spark-native re-expression of the reference's
  * type system (`_data_types.py:22-69` arrow→athena, `312-361`
  * athena→arrow with the recursive `array<…>/struct<…>/map<…,…>` parser).
  *
  * Semantics carried over from the reference:
  *  - tinyint/smallint/int/bigint, float/double, boolean, string,
  *    timestamp (µs canonical), date, binary, decimal(p,s)
  *  - arbitrarily nested array/struct/map
  *  - unsigned 64-bit rejected (`_data_types.py:35-36`)
  *  - untyped null column rejected (`_data_types.py:64-67`)
  */
object AthenaTypes {

  /** Spark type → Athena DDL string. Throws on unsupported types. */
  def toAthena(dt: DataType): String = dt match {
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamp"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case ArrayType(et, _) => s"array<${toAthena(et)}>"
    case MapType(kt, vt, _) => s"map<${toAthena(kt)},${toAthena(vt)}>"
    case StructType(fields) =>
      fields.map(f => s"${f.name}:${toAthena(f.dataType)}")
        .mkString("struct<", ",", ">")
    case NullType =>
      throw new IllegalArgumentException(
        "column has an undefined (all-null) type; cast it explicitly")
    case other =>
      throw new IllegalArgumentException(s"unsupported type for Athena: $other")
  }

  /** Athena DDL string → Spark type (recursive-descent over the nesting
    * grammar, mirroring `_data_types.py:287-361`; fields split at depth
    * zero like `_split_fields`). */
  def fromAthena(s: String): DataType = {
    val t = s.trim
    t.toLowerCase match {
      case "tinyint" => ByteType
      case "smallint" => ShortType
      case "int" | "integer" => IntegerType
      case "bigint" => LongType
      case "float" | "real" => FloatType
      case "double" => DoubleType
      case "boolean" => BooleanType
      case "string" | "varchar" => StringType
      case "binary" | "varbinary" => BinaryType
      case "date" => DateType
      case "timestamp" => TimestampType
      // Athena geospatial columns surface as WKT strings on read
      // (`athena/_read.py:51-59`, `_data_types.py:398-399`)
      case "geometry" => StringType
      case l if l.startsWith("decimal") =>
        val body = t.substring(t.indexOf('(') + 1, t.lastIndexOf(')'))
        val Array(p, sc) = body.split(",").map(_.trim.toInt)
        DecimalType(p, sc)
      case l if l.startsWith("varchar(") || l.startsWith("char(") => StringType
      case l if l.startsWith("array<") =>
        ArrayType(fromAthena(inner(t)))
      case l if l.startsWith("map<") =>
        val parts = SqlLexer.splitTop(inner(t), angles = true)
        require(parts.length == 2, s"malformed map type: $t")
        MapType(fromAthena(parts(0)), fromAthena(parts(1)))
      case l if l.startsWith("struct<") =>
        StructType(SqlLexer.splitTop(inner(t), angles = true).map { f =>
          val idx = f.indexOf(':')
          require(idx > 0, s"malformed struct field: $f")
          StructField(f.substring(0, idx).trim,
            fromAthena(f.substring(idx + 1)))
        })
      case "uint64" =>
        throw new IllegalArgumentException(
          "unsigned 64-bit integers are not supported (Athena has no " +
            "unsigned bigint)")
      case other =>
        throw new IllegalArgumentException(s"unknown Athena type: $other")
    }
  }

  /** Body between the outermost `<` and `>`. */
  private def inner(t: String): String =
    t.substring(t.indexOf('<') + 1, t.lastIndexOf('>'))

  /** Schema → (dataColumnTypes, partitionColumnTypes) DDL maps — the
    * `athena_types_from_pandas_partitioned` split
    * (`_data_types.py:649-701`). Preserves column order. */
  def schemaToAthena(schema: StructType, partitionCols: Seq[String] = Nil)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val (parts, data) = schema.fields.partition(f => partitionCols.contains(f.name))
    (data.toSeq.map(f => f.name -> toAthena(f.dataType)),
      partitionCols.flatMap(c => parts.find(_.name == c))
        .map(f => f.name -> toAthena(f.dataType)))
  }

  /** DDL map → Spark schema (`cast_pandas_with_athena_types` analogue:
    * the per-column dtype-override surface; applied via `Column.cast`). */
  def schemaFromAthena(cols: Seq[(String, String)]): StructType =
    StructType(cols.map { case (n, t) => StructField(n, fromAthena(t)) })

  /** Sanitize a column name to Athena rules (`catalog/_utils.py`
    * sanitize_column_name: lowercase, non-alphanumeric → underscore). */
  def sanitizeName(name: String): String =
    name.trim.toLowerCase.replaceAll("[^a-z0-9_]", "_")

  /** Apply [[sanitizeName]] to every column, de-duplicating with numeric
    * suffixes (`rename_duplicated_columns`). */
  def sanitizeColumns(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val renamed = df.columns.map { c =>
      val base = sanitizeName(c)
      val n = seen.getOrElse(base, 0)
      seen(base) = n + 1
      if (n == 0) base else s"${base}_$n"
    }
    df.toDF(renamed.toIndexedSeq: _*)
  }
}
