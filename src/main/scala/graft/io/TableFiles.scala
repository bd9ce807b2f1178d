package graft.io

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF2
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col, input_file_name, instr,
  regexp_replace, udf, when}
import org.apache.spark.sql.types.{BooleanType, MetadataBuilder, StringType,
  StructType}
import org.apache.spark.util.{CollectionAccumulator, SerializableConfiguration}

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
    * qualified plain path, its size, and what the write's footer fold
    * gave for it. */
  final case class Staged[+T](rel: String, path: String, size: Long,
      footer: T)

  /** Write `df` as Parquet into a staging directory under `root`,
    * hive-partitioned by `partCols`, move every part file to
    * `dest(rel)`, and return the moved files. Staging shares the
    * table's file system, so a move is a rename; readers trust only the
    * table log, so moved files stay invisible until a commit names
    * them. */
  def writeStaged(df: DataFrame, root: Path, partCols: Seq[String])(
      dest: String => Path): Seq[Staged[Unit]] =
    stage(df, root, partCols, None)(dest).map(_.copy(footer = ()))

  /** [[writeStaged]] with `fold` applied to the footer of every file
    * the write produced, by the write task that has just closed the
    * file — no read-back job. A task's values reach the driver only
    * when the task succeeds, and a moved file without its value fails
    * the call. */
  def writeStaged[T](df: DataFrame, root: Path, partCols: Seq[String],
      fold: ParquetFileReader => T)(dest: String => Path): Seq[Staged[T]] =
    stage(df, root, partCols, Some(fold))(dest)
      .map(s => s.copy(footer = s.footer.asInstanceOf[T]))

  private def stage(df: DataFrame, root: Path, partCols: Seq[String],
      fold: Option[ParquetFileReader => Any])(
      dest: String => Path): Seq[Staged[Any]] = {
    val sc = df.sparkSession.sparkContext
    val fs = root.getFileSystem(sc.hadoopConfiguration)
    val staging = new Path(root, s".table-staging-${UUID.randomUUID()}")
    val id = UUID.randomUUID().toString
    val acc = fold.map { f =>
      val a = sc.collectionAccumulator[(String, Any)]("footer fold")
      FoldingParquet.pending.put(id, (f, a))
      a
    }
    try {
      val w0 = df.write.mode("overwrite")
      val w = if (partCols.nonEmpty) w0.partitionBy(partCols: _*) else w0
      if (fold.isEmpty) w.parquet(staging.toString)
      else w.format(classOf[FoldingParquet].getName)
        .option(FoldingParquet.IdOption, id).save(staging.toString)
      val folded = acc.fold(Map.empty[String, Any])(_.value.asScala.toMap)
      val stagingStr = fs.makeQualified(staging).toString
      val out = Seq.newBuilder[Staged[Any]]
      val it = fs.listFiles(staging, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          val rel = st.getPath.toString.stripPrefix(stagingStr).stripPrefix("/")
          val footer = if (fold.isEmpty) () else
            folded.getOrElse(FoldingParquet.relOf(st.getPath),
              throw new IllegalStateException(s"no footer folded for $rel"))
          val dst = dest(rel)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"rename ${st.getPath} -> $dst failed")
          out += Staged(rel, fs.makeQualified(dst).toString, st.getLen, footer)
        }
      }
      out.result()
    } finally {
      FoldingParquet.pending.remove(id)
      fs.delete(staging, true)
    }
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
        val rdr = openFooter(new Path(p), confBc.value.value)
        try (p, f(rdr)) finally rdr.close()
      }.collect().toMap
    paths.find(p => !out.contains(p)).foreach(p =>
      throw new IllegalStateException(s"no footer read back for $p"))
    out
  }

  /** A Parquet reader over `p` that uses `conf` as it is: without read
    * options, Parquet copies a fresh `Configuration` on every open. */
  def openFooter(p: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf).build())

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

  /** The rows of a scan frame whose key tuple is in `keys`: a
    * semi-join on [[keyCond]] against the key tuples. A semi-join keeps
    * a row once however many tuples match it, so repeated keys need no
    * distinct (and its shuffle). Both table writers' `deleteMatched`
    * select the rows they delete with it (`MERGE … WHEN MATCHED THEN
    * DELETE`, `DELETE … WHERE EXISTS`). */
  def keyMatcher(keys: DataFrame, keyCols: Seq[String],
      matchNulls: Boolean): DataFrame => DataFrame = {
    require(keyCols.nonEmpty, "deleteMatched needs key columns")
    val keySet = keys.select(keyCols.map(col): _*)
    df => df.join(keySet, keyCond(df, keySet, keyCols, matchNulls), "left_semi")
  }

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

  /** Where one data file's deletion vector lives. `positions` loads the
    * file's deleted row positions, ascending (executor-side). */
  trait DeletionVector extends Serializable {
    def positions(conf: Configuration): Array[Long]
  }

  /** `df` without the rows a deletion vector deletes. `file` gives a
    * row's data file spelled as the keys of `dvs`, `pos` its row
    * position (`_metadata.row_index`). The vector list is metadata-scale
    * and broadcast; each scan task loads a file's vector once, when its
    * first row arrives, and keeps the rows whose position the vector
    * lacks — a per-file filter, the protocol's own application: no
    * join, no shuffle, no position on the driver. `file` and `pos` must
    * come from the scan below without an exchange in between. */
  def withoutDeleted(df: DataFrame, file: Column, pos: Column,
      dvs: Map[String, DeletionVector]): DataFrame =
    if (dvs.isEmpty) df
    else {
      val sc = df.sparkSession.sparkContext
      val deleted = udf(new DeletedRow(sc.broadcast(dvs),
        sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))),
        BooleanType)
      df.filter(!deleted(file, pos))
    }

  /** The per-row test of [[withoutDeleted]]. Each task deserializes its
    * own instance, so the one-file cache needs no lock: a scan task
    * reads its files one after another. */
  private final class DeletedRow(
      dvs: Broadcast[Map[String, DeletionVector]],
      conf: Broadcast[SerializableConfiguration])
      extends UDF2[String, Long, Boolean] {
    @transient private var file: String = _
    @transient private var deleted: Array[Long] = _
    def call(f: String, pos: Long): Boolean = {
      if (f != file) {
        deleted = dvs.value.get(f).map(_.positions(conf.value.value)).orNull
        file = f
      }
      deleted != null && java.util.Arrays.binarySearch(deleted, pos) >= 0
    }
  }

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

/** Spark's Parquet write with a fold over the footer of each file a
  * write task closes — the producer half of [[TableFiles.writeStaged]]'s
  * footer channel. The driver registers the fold and its accumulator
  * under a write id ([[FoldingParquet.pending]]); `prepareWrite`, which
  * runs on the driver, takes them into the writer factory that ships
  * with the tasks. An accumulator merges only successful tasks' values,
  * so a failed or retried attempt leaves nothing behind. Values are
  * keyed by the file's path below the write's output directory. */
private[io] class FoldingParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    val (fold, acc) = FoldingParquet.pending.get(options(FoldingParquet.IdOption))
    new FoldingParquet.Factory(inner, fold, acc)
  }
}

private[io] object FoldingParquet {
  val IdOption = "graft.footerFold"

  /** Folds of the writes in flight on this driver, by write id. */
  val pending = new java.util.concurrent.ConcurrentHashMap[String,
    (ParquetFileReader => Any, CollectionAccumulator[(String, Any)])]()

  final class Factory(inner: OutputWriterFactory, fold: ParquetFileReader => Any,
      acc: CollectionAccumulator[(String, Any)]) extends OutputWriterFactory {
    def getFileExtension(ctx: TaskAttemptContext): String =
      inner.getFileExtension(ctx)
    def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter = {
      val w = inner.newInstance(path, dataSchema, ctx)
      val conf = ctx.getConfiguration
      new OutputWriter {
        def write(row: InternalRow): Unit = w.write(row)
        def path(): String = w.path()
        def close(): Unit = {
          w.close()
          val p = new Path(w.path())
          val rdr = TableFiles.openFooter(p, conf)
          try acc.add(relOf(p) -> fold(rdr)) finally rdr.close()
        }
      }
    }
  }

  /** A file's path below the output directory: its name under the
    * trailing `k=v` partition directories (a task writes below its
    * attempt directory; the commit moves the file to the same path
    * below the output directory). */
  def relOf(p: Path): String =
    (Iterator.iterate(p.getParent)(_.getParent)
      .takeWhile(d => d != null && d.getName.contains('='))
      .map(_.getName).toList.reverse :+ p.getName).mkString("/")
}
