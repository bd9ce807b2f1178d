package graft.io

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{broadcast, col, input_file_name, instr,
  regexp_replace, udf, when}
import org.apache.spark.sql.types.{MetadataBuilder, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The table-file steps every writer shares: the staged partitioned
  * Parquet write, a file's path spellings, hive partition values, the
  * executor-side footer sweep and per-column statistics fold, the
  * orphan-file sweep, the field-id stamp, and the executor-side
  * per-file row-position bitmap loop of the deletion-vector deletes
  * (Delta and Iceberg); and the partition-granular rewrite planning
  * under every MERGE and delete-matched — Delta, Iceberg, the
  * [[graft.table.TxnLog]] snapshot log and the plain dataset DML of
  * [[graft.table.MergeOps]]. Nothing here asks which format called it:
  * format facts — a file's partition tuple, a delete-applied scan of a
  * file subset, a file's candidacy for the orphan sweep — arrive as
  * values. Each format renders the statistics fold in its own terms.
  *
  * Two invariants hold throughout:
  *  - A Delta log stores a file's path URI-encoded, as the Delta
  *    protocol requires ([[toLogPath]], [[fromLogPath]]). Everything
  *    else spells it plain: Spark's reader, Hadoop calls, Iceberg
  *    manifests, position-delete files and deletion vectors, and every
  *    per-row file column a scan joins on. `input_file_name()` reports
  *    the URI-encoded form; [[fileName]] decodes it, and [[locateAll]]
  *    spells each table file exactly as [[fileName]] reports it.
  *  - Partition tuples compare in Spark's cast-to-string rendering —
  *    the rendering hive directory names, and so the partition values
  *    parsed back from them, are written in. JVM `toString` is not that
  *    rendering (a `java.sql.Timestamp` appends `.0`). Tuples are
  *    rendered here only; callers hand over parsed directory values.
  */
private[graft] object TableFiles {

  /** A partition tuple: one rendered value per partition field, `None`
    * for null. */
  type Tuple = Seq[Option[String]]

  /** A part file moved into the table tree: its path relative to the
    * staging directory (hive partition segments included), its
    * qualified plain path, and its size. */
  final case class Staged(rel: String, path: String, size: Long)

  /** Write `df` as Parquet into a staging directory under `root`,
    * hive-partitioned by `partCols`, move every part file to
    * `dest(rel)`, and return the moved files. Staging shares the
    * table's file system, so a move is a rename; readers trust only the
    * table log, so moved files stay invisible until a commit names
    * them. */
  def writeStaged(df: DataFrame, root: Path, partCols: Seq[String])(
      dest: String => Path): Seq[Staged] = {
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(root, s".table-staging-${UUID.randomUUID()}")
    try {
      val w = df.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .parquet(staging.toString)
      val stagingStr = fs.makeQualified(staging).toString
      val out = Seq.newBuilder[Staged]
      val it = fs.listFiles(staging, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          val rel = st.getPath.toString.stripPrefix(stagingStr).stripPrefix("/")
          val dst = dest(rel)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"rename ${st.getPath} -> $dst failed")
          out += Staged(rel, fs.makeQualified(dst).toString, st.getLen)
        }
      }
      out.result()
    } finally fs.delete(staging, true)
  }

  /** Partition values parsed back from a hive-style relative path —
    * `p=a/q=__HIVE_DEFAULT_PARTITION__/part-….parquet` ⇒ {p→a, q→null},
    * each value unescaped the way Spark escaped it. */
  def partitionValuesOf(rel: String): Map[String, Option[String]] =
    rel.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
      val Array(k, v) = seg.split("=", 2)
      k -> (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
            else Some(ExternalCatalogUtils.unescapePathName(v)))
    }.toMap

  // ---- paths -------------------------------------------------------------

  /** A Delta log `path` for a plain relative or absolute file path:
    * URI-encoded (`p=a b` ⇒ `p=a%20b`, `p=50%25` ⇒ `p=50%2525`). */
  def toLogPath(p: String): String = new Path(p).toUri.toString

  /** The plain path of a Delta log `path`. */
  def fromLogPath(p: String): String = unescape(p)

  /** `s` with its percent escapes decoded and nothing else changed (a
    * `+` stays a `+`). A malformed escape leaves `s` as it is. */
  private def unescape(s: String): String =
    if (s.indexOf('%') < 0) s
    else try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
    catch { case _: IllegalArgumentException => s }

  /** A location string from an Iceberg manifest or metadata file as a
    * Hadoop path. Locations are plain, never URI-decoded; file-scheme
    * and relative ones re-root under the local table directory so a
    * copied table still resolves. */
  def location(root: Path, p: String): Path = {
    val raw = new Path(p)
    if (raw.isAbsolute && !p.startsWith("file:")) raw
    else if (p.startsWith("file:")) new Path(raw.toUri.getPath)
    else new Path(root, p)
  }

  /** `p` with its scheme and leading slashes reduced to one `/`
    * (`file:///x`, `file:/x` and `/x` all become `/x`): the form in
    * which paths from engines with different URI styles compare. */
  def schemeless(p: String): String = p.replaceFirst(SchemePrefix, "/")

  def schemeless(c: Column): Column = regexp_replace(c, SchemePrefix, "/")

  private val SchemePrefix = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"

  /** A file's qualified plain path, spelled as [[fileName]] reports it
    * for the file's rows; Spark and Hadoop open it as it is. */
  def fileKey(fs: FileSystem, p: Path): String =
    unescape(fs.makeQualified(p).toUri.toString)

  /** Each of `files` paired with its [[fileKey]] under `root`. */
  def locateAll[F](fs: FileSystem, root: Path, files: Seq[F])(
      pathOf: F => String): Seq[(String, F)] =
    files.map(f => fileKey(fs, new Path(root, pathOf(f))) -> f)

  private lazy val unescapeUdf = udf((s: String) => unescape(s))

  /** The qualified plain path of the file a row was read from. Only a
    * name with an escape needs decoding, so the decoder runs for those
    * rows alone. */
  def fileName: Column = {
    val f = input_file_name()
    when(instr(f, "%") > 0, unescapeUdf(f)).otherwise(f)
  }

  // ---- footers and orphans -----------------------------------------------

  /** `f` applied to the Parquet footer of each of `paths`, on executors
    * (metadata only: no data page is read), one value per path back on
    * the driver. A path without its value fails the sweep. */
  def footers[T: ClassTag](spark: SparkSession, paths: Seq[String])(
      f: ParquetFileReader => T): Map[String, T] = {
    if (paths.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val confBc = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val out = sc.parallelize(paths, math.min(paths.size, sc.defaultParallelism))
      .map { p =>
        val rdr = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p), confBc.value.value))
        try (p, f(rdr)) finally rdr.close()
      }.collect().toMap
    paths.find(p => !out.contains(p)).foreach(p =>
      throw new IllegalStateException(s"no footer read back for $p"))
    out
  }

  /** Per-file row counts from Parquet footers, keyed by the given plain
    * paths. */
  def recordCounts(spark: SparkSession, paths: Seq[String]): Map[String, Long] =
    footers(spark, paths)(_.getRecordCount)

  /** What a file's footer says about one top-level column. `bounds` are
    * raw statistics values (a boxed primitive or a `Binary`), to be
    * rendered against `tpe`; `nulls` is the column's null count. */
  final case class ColumnStats(name: String, tpe: PrimitiveType,
      bounds: Option[(Any, Any)], nulls: Option[Long])

  /** Each top-level column's statistics folded over the file's row
    * groups, in schema order, min and max by Parquet's own ordering for
    * the column's type (strings by unsigned UTF-8 bytes, which is code
    * point order):
    *  - a chunk without bounds (no statistics, or non-null values but
    *    no min/max) drops the bounds;
    *  - an all-null chunk leaves the bounds unchanged;
    *  - null counts add up independently of the bounds, and are dropped
    *    only when some chunk lacks one. */
  def columnStats(rdr: ParquetFileReader): Seq[ColumnStats] = {
    final class Fold(val tpe: PrimitiveType) {
      val cmp = tpe.comparator[Any]()
      var bounds: Option[(Any, Any)] = None
      var boundsOk, nullsOk = true
      var nulls = 0L
    }
    val acc = mutable.LinkedHashMap.empty[String, Fold]
    for (b <- rdr.getFooter.getBlocks.asScala; c <- b.getColumns.asScala
         if c.getPath.size == 1) {
      val fold = acc.getOrElseUpdate(c.getPath.toArray.head,
        new Fold(c.getPrimitiveType))
      val st = c.getStatistics
      if (st == null || !st.isNumNullsSet) fold.nullsOk = false
      else fold.nulls += st.getNumNulls
      if (st == null || st.isEmpty) fold.boundsOk = false
      else if (!st.hasNonNullValue) {
        // no min/max but some non-null values: Parquet drops the bounds
        // of a float chunk holding a NaN
        if (st.getNumNulls < c.getValueCount) fold.boundsOk = false
      } else if (fold.boundsOk) {
        val (lo, hi) = (st.genericGetMin: Any, st.genericGetMax: Any)
        fold.bounds = Some(fold.bounds.fold((lo, hi)) { case (l0, h0) =>
          (if (fold.cmp.compare(lo, l0) < 0) lo else l0,
            if (fold.cmp.compare(hi, h0) > 0) hi else h0)
        })
      }
    }
    acc.map { case (name, f) =>
      ColumnStats(name, f.tpe, f.bounds.filter(_ => f.boundsOk),
        Some(f.nulls).filter(_ => f.nullsOk))
    }.toSeq
  }

  /** Delete the files under `root` older than `cutoffMs` that
    * `candidate` (given a listed path) selects and that are not `live`,
    * returning the deleted paths. The tree is listed and deleted as a
    * Spark job, so the driver holds only the live set. A listed path
    * is qualified the way the live set was built (`makeQualified`), so
    * no spelling difference can ever sweep a live file. */
  def sweepOrphans(spark: SparkSession, root: String, live: Set[String],
      cutoffMs: Long)(candidate: String => Boolean): Seq[String] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val liveBc = sc.broadcast(live)
    val confBc = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    DatasetReader.listObjects(spark, root)
      .where(col("modified_ms") < cutoffMs)
      .select("path").as[String]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.filter { p =>
          val pp = new Path(p)
          candidate(p) &&
            !liveBc.value.contains(pp.getFileSystem(conf).makeQualified(pp).toString)
        }.map { p =>
          val pp = new Path(p)
          pp.getFileSystem(conf).delete(pp, false)
          p
        }
      }.collect().toSeq
  }

  /** `schema` with `parquet.field.id` metadata on the top-level fields
    * `ids` names, each field's existing metadata kept. Nested fields get
    * no ids: their members resolve by name inside an id-matched parent. */
  def withFieldIds(schema: StructType, ids: Map[String, Long]): StructType =
    StructType(schema.fields.map(f => ids.get(f.name).fold(f)(id =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("parquet.field.id", id).build()))))

  /** `df` with its columns stamped as [[withFieldIds]] stamps a schema. */
  def withFieldIds(df: DataFrame, ids: Map[String, Long]): DataFrame =
    df.select(withFieldIds(df.schema, ids).fields.toSeq
      .map(f => col(f.name).as(f.name, f.metadata)): _*)

  // ---- rewrite planning --------------------------------------------------

  /** Key-match condition: plain `=` by default, `<=>` with `matchNulls`
    * — the reference's `merge_match_nulls` (IS NOT DISTINCT FROM joins,
    * `athena/_write_iceberg.py:297-393`). Without it a null-keyed row
    * never matches and duplicates on every upsert. */
  def keyCond(l: DataFrame, r: DataFrame, keys: Seq[String],
      matchNulls: Boolean): Column =
    keys.map(k => if (matchNulls) l(k) <=> r(k) else l(k) === r(k))
      .reduce(_ && _)

  /** Distinct partition tuples of `rows`, each value computed by its
    * `parts` expression and rendered through Spark's cast to string. */
  private def partitionTuples(rows: DataFrame, parts: Seq[Column]): Set[Tuple] =
    rows.select(parts.map(_.cast(StringType)): _*).distinct().collect()
      .map(r => parts.indices.map(i => Option(r.getString(i))).toSeq)
      .toSet

  /** A table's live files split by whether a rewrite must replace them,
    * plus the scan of the replaced ones. */
  final case class Rewrite[F](touched: Seq[F], kept: Seq[F],
      touchedScan: DataFrame)

  /** The table a rewrite plans against. `scan` reads a subset of the
    * live files, possibly empty, with deletes applied. `parts` compute
    * the partition tuple from a table row (empty for an unpartitioned
    * table); `tupleOf` gives a file's recorded tuple, or `None` for a
    * file that must be rewritten whatever it holds. */
  final case class Target[F](files: Seq[F], scan: Seq[F] => DataFrame,
      parts: Seq[Column], tupleOf: F => Option[Tuple])

  /** A [[Target]] scan over `files` (paths relative to `root`) of the
    * table `whole` reads: no files read as an empty frame in `whole`'s
    * schema, every file as `whole` itself, and a proper subset as a
    * Parquet read pinned to that schema, with reader `options`. */
  def subsetScan(whole: DataFrame, root: Path, files: Seq[String],
      options: Map[String, String] = Map.empty)(sub: Seq[String]): DataFrame = {
    val spark = whole.sparkSession
    if (sub.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], whole.schema)
    else if (sub.size == files.size) whole
    else spark.read.schema(whole.schema).options(options)
      .parquet(sub.map(f => new Path(root, f).toString): _*)
  }

  /** Partition-granular plan: a file is touched when its partition
    * tuple is one `changed` produces; an unpartitioned table is touched
    * whole. */
  private def plan[F](t: Target[F], all: DataFrame,
      changed: => DataFrame): Rewrite[F] =
    if (t.parts.isEmpty) Rewrite(t.files, Nil, all)
    else {
      val tuples = partitionTuples(changed, t.parts)
      val (touched, kept) = t.files.partition(f => t.tupleOf(f).forall(tuples.contains))
      Rewrite(touched, kept, t.scan(touched))
    }

  /** Upsert by key: the touched partitions are where `src` rows land
    * plus where its matched keys live, and their new content is
    * `touchedScan LEFT ANTI src ∪ src`. A key match anywhere makes its
    * partition touched, so the touched scan holds every row `src`
    * replaces. `src` carries the table's columns in table order. */
  def planMerge[F](t: Target[F], src: DataFrame, keys: Seq[String],
      matchNulls: Boolean): (Rewrite[F], DataFrame) = {
    val cur = t.scan(t.files)
    val p = plan(t, cur, {
      val srcKeys = src.select(keys.map(col): _*).distinct()
      src.unionByName(cur.join(broadcast(srcKeys),
        keyCond(cur, srcKeys, keys, matchNulls), "left_semi"))
    })
    val ts = p.touchedScan
    (p, ts.join(src, keyCond(ts, src, keys, matchNulls), "left_anti")
      .unionByName(src))
  }

  /** Delete every row whose key tuple is in `keySet`: the touched
    * partitions are those holding a matched row, and their new content
    * is `touchedScan LEFT ANTI keySet`. */
  def planDeleteMatched[F](t: Target[F], keySet: DataFrame,
      keys: Seq[String], matchNulls: Boolean): (Rewrite[F], DataFrame) = {
    val cur = t.scan(t.files)
    val p = plan(t, cur, cur.join(broadcast(keySet),
      keyCond(cur, keySet, keys, matchNulls), "left_semi"))
    val ts = p.touchedScan
    (p, ts.join(broadcast(keySet), keyCond(ts, keySet, keys, matchNulls),
      "left_anti"))
  }

  // ---- deletion vectors --------------------------------------------------

  /** The executor-side loop both deletion-vector deletes run: `rows`
    * are (file, row position) pairs sorted by file, then position. Each
    * file's positions, together with `prior(file)` (positions an
    * earlier vector already deletes), encode into one portable 64-bit
    * roaring bitmap. Yields (file, bitmap bytes, cardinality) per file,
    * consuming that file's rows as it goes — a file's positions are
    * never buffered beyond its bitmap. */
  def positionBitmaps(rows: Iterator[Row],
      prior: String => Iterator[Long] = _ => Iterator.empty)
      : Iterator[(String, Array[Byte], Long)] = {
    val buf = rows.buffered
    new Iterator[(String, Array[Byte], Long)] {
      def hasNext: Boolean = buf.hasNext
      def next(): (String, Array[Byte], Long) = {
        val file = buf.head.getString(0)
        val fresh = new Iterator[Long] {
          def hasNext: Boolean = buf.hasNext && buf.head.getString(0) == file
          def next(): Long = buf.next().getLong(1)
        }
        val (bytes, card) =
          DeltaDeletionVectors.encodeStreaming(fresh ++ prior(file))
        (file, bytes, card)
      }
    }
  }
}
