package graft.io

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

/** The requested Iceberg table uses a format version or feature this
  * reader does not implement — raised instead of silently returning
  * wrong rows (e.g. replaying a v2 delete manifest as data). */
final class UnsupportedIcebergFeatureException(msg: String)
  extends RuntimeException(msg)

/** Read-only interop with REAL Apache Iceberg tables — the reference
  * reads Iceberg tables other engines committed
  * (`s3/_s3_tables_iceberg.py:29-157`, `athena/_read.py` `VERSION AS OF`),
  * and the in-repo [[graft.table.TxnLog]] reproduces the snapshot
  * *semantics* but not the format. The Iceberg spec (iceberg.apache.org
  * /spec/) is plain files: `metadata/vN.metadata.json` (JSON — schemas,
  * partition specs, the snapshot log), a manifest-list avro per snapshot,
  * and manifest avro files enumerating data files. The Spark distribution
  * already ships avro-1.12, so no Iceberg jar is needed for read.
  *
  * Snapshot reconstruction: pick the metadata file (version-hint.text or
  * the highest vN), select the snapshot (`current-snapshot-id` or the
  * requested id — Athena's `VERSION AS OF <snapshot_id>`), walk its
  * manifest list → manifests → data-file entries, keeping entries whose
  * status is not DELETED (2). Iceberg data files carry partition columns
  * as real columns, so the read is a plain distributed parquet scan over
  * the active file list; manifest partition values serve pruning.
  *
  * Format-version gating: format-versions 1-3 are read; anything newer
  * raises [[UnsupportedIcebergFeatureException]]. v2 manifests are split
  * by the manifest-list `content` field: data manifests (0) replay as
  * active files, delete manifests (1) are collected and applied —
  * position-delete files (spec columns `file_path`, `pos`) become a
  * row-position anti-join against `_metadata.row_index`; equality deletes
  * raise rather than resurface deleted rows. Position deletes name exact
  * data-file paths, so applying every live delete file to the active set
  * is safe without sequence-number ordering: a rewritten (compacted) data
  * file has a new path that old deletes cannot match.
  *
  * v3 (spec "Deletion Vectors" + "Row Lineage"): content=1 entries in
  * PUFFIN format are deletion vectors — one blob per referenced data
  * file, located by the manifest entry's `referenced_data_file` /
  * `content_offset` / `content_size_in_bytes` (field-ids 143/144/145),
  * decoded on executors ([[Puffin.readDv]]) and applied as a per-file
  * filter on row index inside the scan ([[TableFiles.withoutDeleted]]).
  * Row lineage resolves each data file's effective
  * `first_row_id` (142) — explicit, or inherited from the manifest
  * list's `first_row_id` (520) by the spec's record-count walk — and
  * [[readWithLineage]] exposes `_row_id` /
  * `_last_updated_sequence_number` as derived columns.
  *
  * Scale: metadata only on the driver (same cost every Iceberg reader
  * pays); the data scan is distributed. Avro manifests are streamed, not
  * materialized.
  */
object IcebergReader {

  final case class DataFileEntry(path: String, partition: Map[String, Any],
      recordCount: Long = 0L, sizeBytes: Long = 0L,
      sequenceNumber: Long = 0L, equalityIds: Seq[Int] = Nil,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      specId: Int = 0,
      fileFormat: String = "PARQUET",
      // v3 deletion-vector fields (spec data_file field-ids 143/144/145):
      // the data file this puffin DV applies to, and the blob's byte range
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeBytes: Option[Long] = None,
      // v3 row lineage (field-id 142): first _row_id of this data file —
      // EFFECTIVE value (explicit, or assigned by the spec's inheritance
      // walk from the manifest list's first_row_id); None when the table
      // predates lineage
      firstRowId: Option[Long] = None)

  final case class Snapshot(
      snapshotId: Long,
      timestampMs: Long,
      operation: String,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[DataFileEntry],
      deleteFiles: Seq[DataFileEntry] = Nil,
      equalityDeleteFiles: Seq[DataFileEntry] = Nil,
      fieldIdToName: Map[Int, String] = Map.empty,
      properties: Map[String, String] = Map.empty,
      defaultSpecId: Int = 0,
      // v3 deletion vectors (puffin blobs, content=1 file_format=PUFFIN);
      // a separate collection so every pos-delete-parquet consumer stays
      // explicit about whether it handles them
      dvFiles: Seq[DataFileEntry] = Nil)

  private val mapper = new ObjectMapper()
  private val MetadataFile = """v(\d+)\.metadata\.json""".r

  /** True when `tablePath` carries a real Iceberg metadata directory. */
  def isIcebergTable(spark: SparkSession, tablePath: String): Boolean = {
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(metaDir) && fs.listStatus(metaDir)
      .exists(s => MetadataFile.matches(s.getPath.getName))
  }

  /** Snapshot ids, newest first, from the table's snapshot log. */
  def history(spark: SparkSession, tablePath: String): Seq[(Long, Long, String)] = {
    val meta = currentMetadata(spark, tablePath)
    jsonArray(meta.get("snapshots"))
      .map(s => (s.get("snapshot-id").asLong,
        s.get("timestamp-ms").asLong,
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText).getOrElse("unknown")))
      .sortBy(-_._2)
  }

  /** Iceberg metadata tables — the `table$files` / `$snapshots` /
    * `$history` / `$manifests` / `$partitions` / `$refs` relations
    * Athena exposes for inspection queries (`SELECT * FROM "t$files"`),
    * built straight from the metadata json + manifest avros the reader
    * already parses. Metadata-scale: the file/manifest lists are the
    * snapshot's own bookkeeping, never a data scan. Accepts the name
    * with or without the `$`. */
  def metadataTable(spark: SparkSession, tablePath: String,
      name: String): DataFrame = {
    import spark.implicits._
    val meta = currentMetadata(spark, tablePath)
    def opOf(s: JsonNode): String =
      Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
        .map(_.asText).getOrElse("unknown")
    name.stripPrefix("$") match {
      case "snapshots" =>
        jsonArray(meta.get("snapshots")).map(s =>
          (new java.sql.Timestamp(s.get("timestamp-ms").asLong),
            s.get("snapshot-id").asLong, opOf(s),
            s.get("manifest-list").asText))
          .toDF("committed_at", "snapshot_id", "operation", "manifest_list")
      case "history" =>
        val current = Option(meta.get("current-snapshot-id")).map(_.asLong)
        jsonArray(meta.get("snapshot-log")).map(e =>
          (new java.sql.Timestamp(e.get("timestamp-ms").asLong),
            e.get("snapshot-id").asLong,
            current.contains(e.get("snapshot-id").asLong)))
          .toDF("made_current_at", "snapshot_id", "is_current")
      case "refs" =>
        Option(meta.get("refs")).filter(_.isObject).map { r =>
          r.fieldNames.asScala.map { n =>
            val e = r.get(n)
            (n, Option(e.get("type")).map(_.asText).getOrElse("branch"),
              e.get("snapshot-id").asLong)
          }.toSeq
        }.getOrElse(Nil).toDF("name", "type", "snapshot_id")
      case "manifests" =>
        val root = new Path(tablePath)
        val cur = Option(meta.get("current-snapshot-id")).map(_.asLong)
          .filter(_ >= 0)
        val list = cur.flatMap(id => jsonArray(meta.get("snapshots"))
            .find(_.get("snapshot-id").asLong == id))
          .map(s => readAvro(spark, TableFiles.location(root, s.get("manifest-list").asText)))
          .getOrElse(Nil)
        list.map { m =>
          def int(f: String) = fieldOpt(m, f).flatMap(intOf).getOrElse(0)
          (m.get("manifest_path").toString,
            longOf(m.get("manifest_length")).getOrElse(0L),
            int("partition_spec_id"), int("content"),
            longOf(m.get("added_snapshot_id")).getOrElse(-1L))
        }.toDF("path", "length", "partition_spec_id", "content",
          "added_snapshot_id")
      case "files" =>
        val snap = snapshot(spark, tablePath)
        def rows(fs: Seq[DataFileEntry], content: Int) = fs.map(f =>
          (content, f.path, f.fileFormat, f.specId, f.recordCount,
            f.sizeBytes, f.partition.map { case (k, v) =>
              k -> Option(v).map(_.toString).orNull }))
        (rows(snap.files, 0) ++ rows(snap.deleteFiles, 1) ++
          rows(snap.dvFiles, 1) ++
          rows(snap.equalityDeleteFiles, 2))
          .toDF("content", "file_path", "file_format", "spec_id",
            "record_count", "file_size_in_bytes", "partition")
      case "partitions" =>
        val snap = snapshot(spark, tablePath)
        snap.files.groupBy(f => (f.specId, f.partition.map { case (k, v) =>
            k -> Option(v).map(_.toString).orNull }))
          .map { case ((specId, part), fs) =>
            (part, specId, fs.map(_.recordCount).sum, fs.length.toLong)
          }.toSeq
          .toDF("partition", "spec_id", "record_count", "file_count")
      case "entries" =>
        // manifest-entry provenance (status / committing snapshot /
        // sequence number per file) — the relation the incremental
        // append scan's added-file rule is built on, exposed for
        // inspection queries
        val root = new Path(tablePath)
        val cur = Option(meta.get("current-snapshot-id")).map(_.asLong)
          .filter(_ >= 0)
        val manifests = cur.flatMap(id => jsonArray(meta.get("snapshots"))
            .find(_.get("snapshot-id").asLong == id))
          .map(s => readAvro(spark,
            TableFiles.location(root, s.get("manifest-list").asText)))
          .getOrElse(Nil)
        manifests.flatMap { m =>
          val addedId = fieldOpt(m, "added_snapshot_id").flatMap(longOf)
          val mSeq = fieldOpt(m, "sequence_number").flatMap(longOf)
            .getOrElse(0L)
          readAvro(spark, TableFiles.location(root, m.get("manifest_path").toString))
            .map { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              (e.get("status").asInstanceOf[Int],
                fieldOpt(e, "snapshot_id").flatMap(longOf)
                  .orElse(addedId).getOrElse(-1L),
                fieldOpt(e, "sequence_number").flatMap(longOf)
                  .getOrElse(mSeq),
                TableFiles.location(root, df.get("file_path").toString).toString,
                longOf(df.get("record_count")).getOrElse(0L))
            }
        }.toDF("status", "snapshot_id", "sequence_number", "file_path",
          "record_count")
      case other =>
        throw new IllegalArgumentException(
          s"unknown Iceberg metadata table $$${other} " +
            "(entries|files|manifests|snapshots|history|partitions|refs)")
    }
  }

  /** Declared schema + identity partition columns straight from the
    * current metadata — valid even for a freshly-created table with no
    * snapshot yet (S3 Tables `create_table` makes those). */
  /** The table's current format-version (1-3). */
  def formatVersion(spark: SparkSession, tablePath: String): Int =
    Option(currentMetadata(spark, tablePath).get("format-version"))
      .map(_.asInt).getOrElse(1)

  def tableInfo(spark: SparkSession,
      tablePath: String): (StructType, Seq[String]) = {
    val meta = currentMetadata(spark, tablePath)
    (metaSchema(meta), metaPartCols(meta))
  }

  /** `FOR TIMESTAMP AS OF` (Athena's Iceberg time-travel syntax): the
    * snapshot current at `tsMillis` per the metadata's `snapshot-log`
    * (each entry records when its snapshot BECAME current). Raises if
    * the timestamp precedes the first log entry. */
  def snapshotIdAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val log = jsonArray(currentMetadata(spark, tablePath)
      .get("snapshot-log"))
    require(log.nonEmpty, s"no snapshot-log in $tablePath")
    val at = log.filter(_.get("timestamp-ms").asLong <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes the first snapshot " +
        s"(${log.map(_.get("timestamp-ms").asLong).min})")
    at.maxBy(_.get("timestamp-ms").asLong).get("snapshot-id").asLong
  }

  /** Resolve a named snapshot REF (spec v2 `refs`: branches and tags —
    * `VERSION AS OF 'ref'` resolves through the same map in Athena/
    * Spark). Raises on an unknown name. */
  def refSnapshotId(spark: SparkSession, tablePath: String,
      name: String): Long = {
    val meta = currentMetadata(spark, tablePath)
    Option(meta.get("refs")).flatMap(r => Option(r.get(name)))
      .map(_.get("snapshot-id").asLong)
      .getOrElse(throw new IllegalArgumentException(
        s"no ref '$name' in $tablePath (have " +
          Option(meta.get("refs")).map(_.fieldNames.asScala.mkString(","))
            .getOrElse("none") + ")"))
  }

  /** The current snapshot, or None for an empty (no-snapshot) table. */
  def snapshotOpt(spark: SparkSession, tablePath: String,
      asOfSnapshotId: Option[Long] = None): Option[Snapshot] = {
    val meta = currentMetadata(spark, tablePath)
    val current = Option(meta.get("current-snapshot-id")).map(_.asLong)
      .filter(_ >= 0)
    if (asOfSnapshotId.isEmpty && current.isEmpty) None
    else Some(snapshot(spark, tablePath, asOfSnapshotId))
  }

  /** Reconstruct the active-file snapshot (`asOfSnapshotId`: Athena's
    * `VERSION AS OF`; default the current snapshot). */
  def snapshot(spark: SparkSession, tablePath: String,
      asOfSnapshotId: Option[Long] = None): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = currentMetadata(spark, tablePath)
    val snaps = jsonArray(meta.get("snapshots"))
    require(snaps.nonEmpty, s"no snapshots in Iceberg table $tablePath")
    val wanted = asOfSnapshotId.getOrElse(meta.get("current-snapshot-id").asLong)
    val snap = snaps.find(_.get("snapshot-id").asLong == wanted)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $wanted not found in $tablePath (have ${snaps.map(_.get("snapshot-id").asLong).mkString(",")})"))

    // time-travel reads resolve the schema the snapshot was WRITTEN
    // under (its stamped schema-id); a current read uses the table's
    // CURRENT schema — a metadata-only evolution (addColumn/defaults)
    // advances current-schema-id without a new snapshot, and the new
    // column must be visible immediately
    val schema = metaSchema(meta,
      if (asOfSnapshotId.isEmpty) None
      else Option(snap.get("schema-id")).map(_.asInt))
    val partCols = metaPartCols(meta)

    val root = new Path(tablePath)
    val manifestList = TableFiles.location(root, snap.get("manifest-list").asText)
    val active = mutable.LinkedHashMap.empty[String, DataFileEntry]
    val posDeletes = mutable.LinkedHashMap.empty[String, DataFileEntry]
    val eqDeletes = mutable.LinkedHashMap.empty[String, DataFileEntry]
    val dvs = mutable.LinkedHashMap.empty[String, DataFileEntry]
    readAvro(spark, manifestList).foreach { m =>
      val mContent = fieldOpt(m, "content").flatMap(intOf).getOrElse(0)
      // v2 sequence numbers: entries inherit the manifest's unless they
      // carry their own (carried-forward EXISTING entries do)
      val mSeq = fieldOpt(m, "sequence_number").flatMap(longOf).getOrElse(0L)
      // the spec the manifest's partition tuples were written under —
      // after partition-spec evolution, files prune under THEIR spec
      val mSpecId = fieldOpt(m, "partition_spec_id").flatMap(intOf)
        .getOrElse(0)
      // v3 row lineage: the manifest list's first_row_id (field-id 520)
      // seeds the spec's inheritance walk — data files without an
      // explicit first_row_id (142) are assigned running values in
      // entry order, advancing by record_count
      val mFirstRowId = fieldOpt(m, "first_row_id").flatMap(longOf)
      var rowIdCursor = mFirstRowId
      readAvro(spark, TableFiles.location(root, m.get("manifest_path").toString))
        .foreach { entry =>
          val status = entry.get("status").asInstanceOf[Int]
          val entrySeq = fieldOpt(entry, "sequence_number").flatMap(longOf)
            .getOrElse(mSeq)
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val path = TableFiles.location(root, df.get("file_path").toString).toString
          def long(field: String): Long = longOf(df.get(field)).getOrElse(0L)
          val eqIds: Seq[Int] = fieldOpt(df, "equality_ids").toSeq.flatMap {
            case l: java.util.List[_] => l.asScala.toSeq.flatMap(intOf)
            case _ => Nil
          }
          val fmt = fieldOpt(df, "file_format").map(_.toString)
            .getOrElse("PARQUET").toUpperCase
          val refFile = fieldOpt(df, "referenced_data_file")
            .map(v => TableFiles.location(root, v.toString).toString)
          // explicit first_row_id wins; otherwise inherit from the
          // manifest's cursor (data files only), advancing it either way
          val explicitFri = fieldOpt(df, "first_row_id").flatMap(longOf)
          val fileContent = fieldOpt(df, "content").flatMap(intOf)
            .getOrElse(if (mContent == 1) 1 else 0)
          // spec assignment rule: within a manifest, a null first_row_id
          // is assigned the manifest's first_row_id plus the record
          // counts of all PREVIOUS null-first_row_id data files —
          // explicit entries keep their value and do not consume range
          val fri =
            if (fileContent != 0) None
            else explicitFri.orElse {
              val assigned = rowIdCursor
              rowIdCursor = rowIdCursor.map(_ + long("record_count"))
              assigned
            }
          def fileEntry = DataFileEntry(path, partitionMap(df),
            long("record_count"), long("file_size_in_bytes"),
            entrySeq, eqIds,
            boundsMap(df, "lower_bounds"), boundsMap(df, "upper_bounds"),
            countsMap(df, "null_value_counts"), mSpecId,
            fmt, refFile,
            fieldOpt(df, "content_offset").flatMap(longOf),
            fieldOpt(df, "content_size_in_bytes").flatMap(longOf),
            fri)
          // v2 content: manifest-list distinguishes data (0) from delete
          // (1) manifests; inside a delete manifest the data_file content
          // tells position (1) from equality (2) deletes. A content=1
          // entry in PUFFIN format (v3) is a deletion vector — one blob
          // per referenced data file, keyed by its blob range.
          fileContent match {
            case 0 =>
              if (status == 2) active.remove(path) else active(path) = fileEntry
            case 1 if fmt == "PUFFIN" || refFile.isDefined =>
              val key = s"$path#${fieldOpt(df, "content_offset")
                .flatMap(longOf).getOrElse(0L)}"
              if (status == 2) dvs.remove(key) else dvs(key) = fileEntry
            case 1 =>
              if (status == 2) posDeletes.remove(path)
              else posDeletes(path) = fileEntry
            case 2 =>
              if (status == 2) eqDeletes.remove(path)
              else eqDeletes(path) = fileEntry
            case other =>
              throw new UnsupportedIcebergFeatureException(
                s"$tablePath carries a content=$other delete file")
          }
        }
    }
    val idToName = fieldIdNames(meta)
    Snapshot(wanted, snap.get("timestamp-ms").asLong,
      Option(snap.get("summary")).flatMap(s => Option(s.get("operation")))
        .map(_.asText).getOrElse("unknown"),
      schema, partCols, active.values.toSeq, posDeletes.values.toSeq,
      eqDeletes.values.toSeq, idToName, metaProperties(meta),
      Option(meta.get("default-spec-id")).map(_.asInt).getOrElse(0),
      dvFiles = dvs.values.toSeq)
  }

  private def metaProperties(meta: JsonNode): Map[String, String] =
    Option(meta.get("properties")).filter(_.isObject).map { p =>
      p.fieldNames().asScala.map(n => n -> p.get(n).asText).toMap
    }.getOrElse(Map.empty)

  private def fieldIdNames(meta: JsonNode): Map[Int, String] = {
    val wanted = Option(meta.get("current-schema-id")).map(_.asInt)
    val schemaNode = Option(meta.get("schemas"))
      .flatMap(ss => jsonArray(ss).find(s =>
        wanted.forall(_ == s.get("schema-id").asInt)))
      .orElse(Option(meta.get("schema")))
    schemaNode.map(s => jsonArray(s.get("fields"))
      .map(f => f.get("id").asInt -> f.get("name").asText).toMap)
      .getOrElse(Map.empty)
  }

  /** `from_iceberg(version=…)`: the snapshot as a DataFrame. Iceberg data
    * files store partition columns as real columns, so this is one
    * distributed scan over the active file list with the log's schema. */
  def read(spark: SparkSession, tablePath: String,
      asOfSnapshotId: Option[Long] = None,
      filters: Seq[ScanFilter] = Nil,
      asOfTimestamp: Option[Long] = None,
      asOfRef: Option[String] = None): DataFrame = {
    val wanted = asOfSnapshotId
      .orElse(asOfRef.map(refSnapshotId(spark, tablePath, _)))
      .orElse(asOfTimestamp.map(snapshotIdAtTimestamp(spark, tablePath, _)))
    snapshotOpt(spark, tablePath, wanted) match {
      case None => // created-but-never-written table: schema, no rows
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          tableInfo(spark, tablePath)._1)
      case Some(snap0) =>
        // manifest-level pruning: drop files whose partition tuple
        // (transform-aware) cannot match — the min/max machinery the
        // manifests exist for. The predicate re-applies as a row filter
        // below (and pushes into the parquet scan), so pruning is
        // purely a scan-size optimization.
        val snap =
          if (filters.isEmpty) snap0
          else snap0.copy(files = prunedFiles(spark, tablePath, snap0, filters))
        val base =
          if (snap.files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
          else if (snap.deleteFiles.isEmpty && snap.dvFiles.isEmpty &&
              snap.equalityDeleteFiles.isEmpty)
            dataScan(spark, snap)
              .select(snap.schema.fieldNames.map(col).toSeq: _*)
          else applyDeletes(spark, snap)
        ScanFilters.residual(filters).map(base.filter).getOrElse(base)
    }
  }

  /** `read(path, predicate)` with an arbitrary Spark `Column`: the
    * predicate's supported conjuncts prune manifests exactly like the
    * tuple API ([[ScanFilters.fromColumn]]), and the ORIGINAL predicate
    * is the row filter — untranslatable conjuncts stay residual-only,
    * so results never change. */
  def readWhere(spark: SparkSession, tablePath: String,
      predicate: Column, asOfSnapshotId: Option[Long] = None,
      asOfTimestamp: Option[Long] = None,
      asOfRef: Option[String] = None): DataFrame =
    snapshotOpt(spark, tablePath, asOfSnapshotId
      .orElse(asOfRef.map(refSnapshotId(spark, tablePath, _)))
      .orElse(asOfTimestamp
        .map(snapshotIdAtTimestamp(spark, tablePath, _)))) match {
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          tableInfo(spark, tablePath)._1).filter(predicate)
      case Some(snap0) =>
        val filters = ScanFilters.fromColumn(spark, snap0.schema, predicate)
        val snap =
          if (filters.isEmpty) snap0
          else snap0.copy(files = prunedFiles(spark, tablePath, snap0, filters))
        val base =
          if (snap.files.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              snap.schema)
          else if (snap.deleteFiles.isEmpty && snap.dvFiles.isEmpty &&
              snap.equalityDeleteFiles.isEmpty)
            dataScan(spark, snap)
              .select(snap.schema.fieldNames.map(col).toSeq: _*)
          else applyDeletes(spark, snap)
        base.filter(predicate)
    }

  /** Files whose manifest partition values may satisfy every filter.
    * Identity fields compare typed; `day/month/year/hour` compare as
    * period ordinals after transforming the filter value through the
    * SAME Spark expression the writer uses (monotonic, so range ops
    * hold; `=`/`in` are necessary conditions); `bucket[n]` prunes
    * `=`/`in` by hashing the value. Anything undecidable keeps the
    * file. */
  private def prunedFiles(spark: SparkSession, tablePath: String,
      snap: Snapshot, filters: Seq[ScanFilter]): Seq[DataFileEntry] = {
    // partition checks are built PER SPEC and applied to each file under
    // the spec its manifest was written with — after spec evolution a
    // filter on a newly-partitioned column must not prune old-spec files
    // (their spec has no such field, so no check applies and they keep)
    val dtOf = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val partChecksBySpec: Map[Int, Seq[DataFileEntry => Boolean]] =
      partitionSpecsById(spark, tablePath).map { case (specId, pfields) =>
        specId -> (for {
          fl <- filters
          pf <- pfields.filter(p =>
            p.source == fl.column && dtOf.contains(fl.column))
        } yield partitionCheck(spark, pf, dtOf(fl.column), fl))
      }
    // column min/max from the manifests' lower/upper_bounds (field-id
    // keyed, Appendix-D encoded) — prunes DATA-column predicates without
    // opening a single parquet footer
    val idOf: Map[String, Int] = snap.fieldIdToName.map(_.swap)
    val boundChecks: Seq[DataFileEntry => Boolean] = for {
      fl <- filters
      dt <- dtOf.get(fl.column).toSeq
      id <- idOf.get(fl.column).toSeq
    } yield { (f: DataFileEntry) =>
      // nullness ops prune through the manifests' null_value_counts
      // (spec field 110) against record_count; value ops through the
      // decoded bounds interval — each keeps when its stat is absent
      ScanFilters.nullCountMayMatch(f.nullCounts.get(id),
        Some(f.recordCount).filter(_ > 0L), fl) &&
        (if (f.lowerBounds.isEmpty && f.upperBounds.isEmpty) true
         else ScanFilters.intervalMayMatch(dt,
           f.lowerBounds.get(id).flatMap(decodeBound(dt, _)),
           f.upperBounds.get(id).flatMap(decodeBound(dt, _)), fl))
    }
    if (partChecksBySpec.values.forall(_.isEmpty) && boundChecks.isEmpty)
      snap.files
    else snap.files.filter { f =>
      partChecksBySpec.getOrElse(f.specId, Nil).forall(_(f)) &&
        boundChecks.forall(_(f))
    }
  }

  private def partitionCheck(spark: SparkSession,
      pf: IcebergTransforms.PartitionField, dt: DataType,
      fl: ScanFilter): DataFileEntry => Boolean = {
    def partRaw(f: DataFileEntry): Option[Any] =
      f.partition.get(pf.name).flatMap(Option(_))
    // every Iceberg transform maps null to null (spec requirement), so
    // a file's partition-tuple nullness decides the source column's
    // nullness for ALL its rows under ANY transform
    if (fl.op == "is null") return f => partRaw(f).isEmpty
    if (fl.op == "is not null") return f => partRaw(f).nonEmpty
    if (IcebergTransforms.isIdentity(pf))
      return f => ScanFilters.constantMayMatch(dt, partRaw(f).orNull, fl)
    val monotonic = Set("day", "month", "year", "hour")
    val isBucket = pf.transform.startsWith("bucket")
    val keepAll = (_: DataFileEntry) => true
    if (!monotonic.contains(pf.transform) && !isBucket) return keepAll
    // non-injective transforms cannot prune exclusions; buckets only
    // =/in; a string-prefix test has no transformed ordinal at all
    if (fl.op == "!=" || fl.op == "not in" || fl.op == "prefix")
      return keepAll
    if (isBucket && fl.op != "=" && fl.op != "in") return keepAll
    val ordinals = fl.valueSeq.map(v =>
      IcebergTransforms.applyToLiteral(spark, pf, dt, v)
        .flatMap(transformedOrdinal(pf.transform, _)))
    if (ordinals.exists(_.isEmpty)) return keepAll
    val longs = ordinals.flatten
    f => partRaw(f) match {
      case None => false // null partition constant matches no comparison
      case Some(raw) => transformedOrdinal(pf.transform, raw) match {
        case None => true // unrecognized encoding: keep
        case Some(p) => fl.op match {
          case "=" | "in" => longs.contains(p)
          case "<" | "<=" => p <= longs.head
          case ">" | ">=" => p >= longs.head
          case _ => true
        }
      }
    }
  }

  /** A transformed partition value as a comparable ordinal: period count
    * or bucket id as int (avro), the writer's hive rendering of it, or —
    * for `day` — the spec's date rendering. */
  private def transformedOrdinal(transform: String, raw: Any): Option[Long] =
    raw match {
      case i: java.lang.Integer => Some(i.longValue)
      case l: java.lang.Long => Some(l.longValue)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case s =>
        val txt = s.toString.trim
        if (txt.matches("-?\\d+")) Some(txt.toLong)
        else if (transform == "day")
          try Some(java.time.LocalDate.parse(txt).toEpochDay)
          catch { case _: Exception => None }
        else None
    }

  /** v2 delete application. Position deletes anti-join on
    * (file, row position); equality deletes anti-join on their
    * `equality_ids` columns, restricted by the spec's sequence-number
    * rule — a delete at sequence s removes only rows of data files with
    * sequence < s, so a row re-inserted AFTER the delete survives (the
    * Flink CDC upsert pattern). Path comparisons are normalized to a
    * scheme-less form so the committing engine's URI style (file:///x vs
    * file:/x vs /x) cannot break the equality; every delete side is a
    * distributed parquet scan, never a driver materialization. */
  private[io] def applyDeletes(spark: SparkSession,
      snap: Snapshot): DataFrame = {
    // __file/__pos come from INSIDE dataScan's branches — `_metadata`
    // would not resolve through the union a name-mapped scan builds
    var data = applyDeletes0(spark, snap)
    if (snap.equalityDeleteFiles.nonEmpty) {
      // an equality delete is only applicable relative to its sequence
      // number; a delete whose sequence could not be read would silently
      // apply to nothing — raise instead
      val unsequenced = snap.equalityDeleteFiles.filter(_.sequenceNumber <= 0)
      if (unsequenced.nonEmpty)
        throw new UnsupportedIcebergFeatureException(
          "equality delete file(s) without a readable sequence number: " +
            unsequenced.map(_.path).mkString(", "))
      // per-row data sequence number from the (file → seq) manifest —
      // metadata-scale, broadcast
      val dataSeq = manifestDf(spark, "__file",
        snap.files.map(f => f.path -> f.sequenceNumber))
      data = data.join(broadcast(dataSeq), Seq("__file"), "left")
      snap.equalityDeleteFiles.groupBy(_.equalityIds).foreach {
        case (ids, group) =>
          require(ids.nonEmpty,
            "equality delete file without equality_ids")
          val eqNames = ids.map(id => snap.fieldIdToName.getOrElse(id,
            throw new UnsupportedIcebergFeatureException(
              s"equality_ids field $id not in the current schema")))
          val delSeq = manifestDf(spark, "__delfile",
            group.map(f => f.path -> f.sequenceNumber))
          val dels = spark.read.parquet(group.map(_.path): _*)
            .withColumn("__delfile", TableFiles.schemeless(TableFiles.fileName))
            .join(broadcast(delSeq), Seq("__delfile"), "left")
          val renamed = eqNames.foldLeft(
            dels.select((eqNames.map(col) :+ col("__seq").as("__delseq")): _*))(
            (d, c) => d.withColumnRenamed(c, s"__del_$c"))
          val cond = eqNames.map(c => data(c) <=> renamed(s"__del_$c"))
            .reduce(_ && _) && data("__seq") < renamed("__delseq")
          data = data.join(renamed, cond, "left_anti")
      }
    }
    data.select(snap.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Deleted (file, position) pairs of the snapshot's deletion vectors:
    * the blob descriptor list (manifest-scale) parallelizes, each task
    * range-reads its puffin blobs and expands the bitmaps — positions
    * never materialize on the driver. */
  private[io] def dvPositions(spark: SparkSession,
      dvFiles: Seq[DataFileEntry]): DataFrame = {
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val descs = dvFiles.map(f =>
      (f.path, refFileOf(f), contentOffsetOf(f), contentSizeOf(f)))
    spark.createDataset(descs)
      .repartition(math.min(descs.size, 32))
      .flatMap { case (puffin, refFile, off, len) =>
        Puffin.readDv(confBc.value.value, new Path(puffin), off, len)
          .iterator.map(pos => (refFile, pos))
      }
      .toDF("__file", "__pos")
      .withColumn("__file", TableFiles.schemeless(col("__file")))
  }

  private def refFileOf(f: DataFileEntry): String =
    f.referencedDataFile.getOrElse(throw new UnsupportedIcebergFeatureException(
      s"puffin delete file ${f.path} lacks referenced_data_file"))

  private def contentOffsetOf(f: DataFileEntry): Long =
    f.contentOffset.getOrElse(throw new UnsupportedIcebergFeatureException(
      s"puffin delete file ${f.path} lacks content_offset"))

  private def contentSizeOf(f: DataFileEntry): Long =
    f.contentSizeBytes.getOrElse(throw new UnsupportedIcebergFeatureException(
      s"puffin delete file ${f.path} lacks content_size_in_bytes"))

  /** The snapshot with the v3 ROW-LINEAGE metadata columns attached:
    * `_row_id` = the file's effective `first_row_id` + the row's
    * position, `_last_updated_sequence_number` = the file's data
    * sequence number (spec "Row Lineage" — null-lineage files, e.g.
    * written before an upgrade's manifest-list re-stamp, surface null).
    * Stable row identity across engines and re-reads — the property a
    * training-data pipeline keys provenance and incremental annotation
    * on. The (file → first_row_id, seq) manifest is metadata-scale and
    * broadcast; the scan stays one distributed pass. */
  def readWithLineage(spark: SparkSession, tablePath: String,
      asOfSnapshotId: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOfSnapshotId)
    val lineage = {
      import spark.implicits._
      snap.files.map(f => (TableFiles.schemeless(f.path),
          f.firstRowId.map(java.lang.Long.valueOf).orNull,
          f.sequenceNumber))
        .toDF("__file", "__fri", "__seq2")
    }
    require(snap.equalityDeleteFiles.isEmpty,
      "lineage read over live equality deletes not supported; compact first")
    val data = applyDeletes0(spark, snap)
    data
      .join(broadcast(lineage), Seq("__file"), "left")
      .withColumn("_row_id", col("__fri") + col("__pos"))
      .withColumn("_last_updated_sequence_number", col("__seq2"))
      .select((snap.schema.fieldNames.map(col) :+ col("_row_id") :+
        col("_last_updated_sequence_number")).toSeq: _*)
  }

  /** The POSITION-delete stage shared by [[applyDeletes]] (which adds
    * the equality stage and the final projection) and
    * [[readWithLineage]] (which keeps `__file`/`__pos` for row-id
    * derivation): the data scan with v3 puffin deletion vectors applied
    * as a per-file filter ([[TableFiles.withoutDeleted]]: each scan task
    * reads its file's blob, the driver holds only blob descriptors) and
    * position-delete parquet as a (file, pos) anti-join. */
  private def applyDeletes0(spark: SparkSession,
      snap: Snapshot): DataFrame = {
    var data = dataScan(spark, snap, withMeta = true)
      .withColumn("__file", TableFiles.schemeless(col("__file")))
    data = TableFiles.withoutDeleted(data, col("__file"), col("__pos"),
      snap.dvFiles.map(f => TableFiles.schemeless(refFileOf(f)) ->
        (Puffin.Vector(f.path, contentOffsetOf(f), contentSizeOf(f)):
          TableFiles.DeletionVector)).toMap)
    if (snap.deleteFiles.nonEmpty)
      data = data.join(positionDeletes(spark, snap.deleteFiles),
        Seq("__file", "__pos"), "left_anti")
    data
  }

  /** The (`__file`, `__pos`) rows of position-delete files, the file
    * scheme-less. The spec fixes both columns, so the scan takes them by
    * name from a declared schema and runs no schema-inference job. */
  private[io] def positionDeletes(spark: SparkSession,
      files: Seq[DataFileEntry]): DataFrame =
    spark.read.schema("file_path STRING, pos LONG")
      .parquet(files.map(_.path): _*)
      .select(TableFiles.schemeless(col("file_path")).as("__file"),
        col("pos").as("__pos"))

  /** Scan the snapshot's data files. When the files carry parquet
    * field-ids (the Iceberg spec requires native writers to embed them),
    * columns resolve BY FIELD-ID, the way real Iceberg engines do — a
    * column renamed in the table schema still reads correctly from files
    * written under the old name, where name-matching would silently
    * return nulls. The id-resolving scan is built through a session
    * clone whose `parquet.fieldId.read` flag is on (the relation binds
    * that session's conf, so nothing leaks into the caller's session);
    * id-less files (pre-round-6 graft tables, imported parquet) keep the
    * name-matched scan.
    *
    * MIXED tables — id-less imported files next to native id-carrying
    * ones — resolve through the `schema.name-mapping.default` table
    * property (spec "Column Projection", the reference's pyiceberg read
    * path for `add_files` imports): every file is classified by one
    * distributed footer-tail sweep, id-carrying files take the id scan,
    * and each id-less shape group reads the mapping's historical name
    * for each field-id (null for unmapped fields, as the spec
    * projects). Top-level fields only, like
    * [[TableFiles.withFieldIds]] — nested members resolve by name
    * inside their matched parent. A mixed table
    * WITHOUT a name mapping raises up front, naming the property.
    * Without a mapping the probe stays O(1) driver-side (head + tail
    * footer); the full sweep runs only for tables that declare a
    * mapping, i.e. tables known to carry imports.
    *
    * `withMeta = true` attaches `__file` ([[TableFiles.fileName]]) and `__pos`
    * (row_index) INSIDE each branch — metadata columns do not resolve
    * through the union the mapped scan builds, so callers must not
    * reach for `_metadata` themselves. */
  private[io] def dataScan(spark: SparkSession, snap: Snapshot,
      only: Option[Seq[String]] = None,
      withMeta: Boolean = false): DataFrame = {
    // v3 column defaults (spec "Default values"): a field with an
    // `initial-default` reads that value — NOT null — from data files
    // written before the column existed. Files are split by one footer
    // sweep into shape groups (the name-mapping machinery's sweep);
    // groups missing a defaulted column scan without it and restore it
    // as a typed literal, so a stored null in a newer file is never
    // confused with column absence. Zero cost for tables without
    // defaults. Defaulted columns resolve by NAME in the footer
    // (rename a defaulted column only through [[IcebergWriter]], which
    // keeps names consistent).
    val defaulted = snap.schema.fields
      .filter(_.metadata.contains("iceberg.initial-default"))
    val paths0 = only.getOrElse(snap.files.map(_.path))
    if (defaulted.nonEmpty && paths0.nonEmpty) {
      val shapes = footerShapes(spark, paths0)
      val byMissing: Map[Set[String], Seq[String]] =
        shapes.groupBy { case (_, _, cols) =>
          defaulted.map(_.name).filterNot(cols.contains).toSet
        }.map { case (k, v) => k -> v.map(_._1) }
      if (byMissing.keySet != Set(Set.empty[String])) {
        val branches = byMissing.toSeq.map { case (missing, ps) =>
          if (missing.isEmpty) dataScan0(spark, snap, Some(ps), withMeta)
          else {
            val subSchema = StructType(
              snap.schema.fields.filterNot(f => missing.contains(f.name)))
            val base = dataScan0(spark, snap.copy(schema = subSchema),
              Some(ps), withMeta)
            missing.foldLeft(base) { (d, m) =>
              val f = snap.schema(m)
              d.withColumn(m, defaultLiteral(f.dataType,
                f.metadata.getString("iceberg.initial-default")))
            }
          }
        }
        val cols0 = snap.schema.fieldNames.toSeq ++
          (if (withMeta) Seq("__file", "__pos") else Nil)
        return branches.map(_.select(cols0.map(col): _*))
          .reduce(_ unionByName _)
      }
    }
    dataScan0(spark, snap, only, withMeta)
  }

  private def dataScan0(spark: SparkSession, snap: Snapshot,
      only: Option[Seq[String]] = None,
      withMeta: Boolean = false): DataFrame = {
    val paths = only.getOrElse(snap.files.map(_.path))
    val idOf: Map[String, Int] = snap.fieldIdToName.map(_.swap)
    def metaCols(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.withColumn("__file", TableFiles.fileName)
        .withColumn("__pos", col("_metadata.row_index"))
    def nameScan(ps: Seq[String]): DataFrame =
      metaCols(spark.read.schema(snap.schema).parquet(ps: _*))
    def idScan(ps: Seq[String]): DataFrame = {
      val prev = org.apache.spark.sql.classic.SparkSession.getActiveSession
      val ses = spark.newSession()
      ses.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      try metaCols(ses.read.schema(TableFiles.withFieldIds(snap.schema,
        idOf.map { case (n, id) => n -> id.toLong }))
        .parquet(ps: _*))
      finally prev.foreach(
        org.apache.spark.sql.classic.SparkSession.setActiveSession)
    }
    if (idOf.isEmpty || paths.isEmpty) return nameScan(paths)
    nameMapping(snap.properties) match {
      case None =>
        val headIds = fileHasFieldIds(spark, paths.head)
        val tailIds =
          if (paths.lengthCompare(1) > 0) fileHasFieldIds(spark, paths.last)
          else headIds
        if (headIds != tailIds)
          throw new UnsupportedIcebergFeatureException(
            "table mixes id-less and id-carrying data files but has no " +
              "schema.name-mapping.default property; set a name mapping " +
              "(spec 'Column Projection', IcebergWriter.setProperties) so " +
              "imported id-less files can resolve against the schema")
        if (headIds) idScan(paths) else nameScan(paths)
      case Some(mapping) =>
        val shapes = footerShapes(spark, paths)
        val (withIds, idless) = shapes.partition(_._2)
        val branches =
          (if (withIds.nonEmpty) Seq(idScan(withIds.map(_._1))) else Nil) ++
            idless.groupBy(_._3).toSeq.sortBy(_._1.mkString("\u0000"))
              .map { case (fileCols, group) =>
                mappedScan(spark, snap, idOf, mapping, fileCols,
                  group.map(_._1), metaCols, withMeta)
              }
        branches.reduce(_ unionByName _)
    }
  }

  /** One id-less shape group read through the name mapping: each table
    * field reads the FIRST mapped historical name present in the file,
    * or projects null when none is (the spec's rule for columns absent
    * from an imported file). */
  private def mappedScan(spark: SparkSession, snap: Snapshot,
      idOf: Map[String, Int], mapping: Map[Int, Seq[String]],
      fileCols: Seq[String], ps: Seq[String],
      metaCols: DataFrame => DataFrame, withMeta: Boolean): DataFrame = {
    val present = fileCols.toSet
    val resolved: Seq[(StructField, Option[String])] =
      snap.schema.fields.toSeq.map { f =>
        val candidates =
          idOf.get(f.name).toSeq.flatMap(id => mapping.getOrElse(id, Nil))
        f -> candidates.find(present.contains)
      }
    val readSchema = StructType(resolved.collect {
      case (f, Some(n)) => StructField(n, f.dataType, nullable = true)
    })
    var base = metaCols(spark.read.schema(readSchema).parquet(ps: _*))
    // spec "Column Projection" rule 1: a field ABSENT from the file
    // whose id is an identity partition source reads its value from the
    // MANIFEST PARTITION TUPLE, not as null — registered Delta files
    // (hive layout: partition columns live in the directory + log, not
    // the parquet) depend on this
    val partFallback = resolved.collect {
      case (f, None) if snap.partitionColumns.contains(f.name) => f.name
    }
    if (partFallback.nonEmpty) {
      val fs = new Path(ps.head)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val byPath: Map[String, DataFileEntry] =
        snap.files.map(f => f.path -> f).toMap
      val manifestSchema = StructType(
        StructField("__pfile", StringType, nullable = false) +:
          partFallback.map(c =>
            StructField(s"__part_$c", StringType, nullable = true)))
      val manifestRows = ps.map { p =>
        Row.fromSeq(TableFiles.fileKey(fs, new Path(p)) +: partFallback.map(c =>
          byPath.get(p).flatMap(f => Option(f.partition.getOrElse(c, null)))
            .map(_.toString).orNull))
      }
      val manifest = spark.createDataFrame(
        spark.sparkContext.parallelize(manifestRows, 1), manifestSchema)
      base = base.withColumn("__pfile", TableFiles.fileName)
        .join(broadcast(manifest), Seq("__pfile"), "left")
    }
    base.select(resolved.map {
      case (f, Some(n)) => col(n).as(f.name)
      case (f, None) if partFallback.contains(f.name) =>
        col(s"__part_${f.name}").cast(f.dataType).as(f.name)
      case (f, None) => lit(null).cast(f.dataType).as(f.name)
    } ++ (if (withMeta) Seq(col("__file"), col("__pos")) else Nil): _*)
  }

  /** Parse `schema.name-mapping.default` (spec "Name Mapping
    * Serialization") into field-id → acceptable file column names.
    * Entries without a `field-id` exist to BLOCK names and are
    * skipped; nested `fields` are not descended (top-level mapping,
    * matching [[TableFiles.withFieldIds]]). */
  private def nameMapping(
      props: Map[String, String]): Option[Map[Int, Seq[String]]] =
    props.get("schema.name-mapping.default").map { json =>
      jsonArray(mapper.readTree(json)).flatMap { e =>
        Option(e.get("field-id")).map(id =>
          id.asInt -> jsonArray(e.get("names")).map(_.asText))
      }.toMap
    }

  /** (path, hasFieldIds, top-level column names) for every data file,
    * in `paths` order — ONE distributed job over footer tails. Runs only
    * when the table declares a name mapping or column defaults. */
  private def footerShapes(spark: SparkSession,
      paths: Seq[String]): Seq[(String, Boolean, Seq[String])] = {
    val shapes = TableFiles.footers(spark, paths) { rdr =>
      val fields = rdr.getFileMetaData.getSchema.getFields.asScala
      (fields.exists(_.getId != null), fields.map(_.getName).toSeq)
    }
    paths.map { p => val (ids, names) = shapes(p); (p, ids, names) }
  }

  /** Does this parquet file's footer declare field-ids? One driver-side
    * footer open — the probe that decides id- vs name-resolution. */
  private def fileHasFieldIds(spark: SparkSession, path: String): Boolean = {
    val rdr = TableFiles.openFooter(new Path(path),
      spark.sparkContext.hadoopConfiguration)
    try rdr.getFileMetaData.getSchema.getFields.asScala.exists(_.getId != null)
    finally rdr.close()
  }

  /** Tiny (normalized file path → sequence number) frame for broadcast
    * re-attachment — one row per file, the list the snapshot already
    * materialized. */
  private def manifestDf(spark: SparkSession, fileCol: String,
      entries: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val schema = StructType(Seq(
      StructField(fileCol, StringType, nullable = false),
      StructField("__seq", LongType, nullable = false)))
    val normalized = entries.map { case (p, s) =>
      Row(TableFiles.schemeless(p), s)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(normalized, 1), schema)
  }

  /** An Avro int or long widened to a Long; None for null or any other
    * value. */
  private[io] def longOf(v: Any): Option[Long] = v match {
    case l: java.lang.Long => Some(l.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case _ => None
  }

  /** An Avro int or long as an Int; None for null or any other value. */
  private[io] def intOf(v: Any): Option[Int] = longOf(v).map(_.toInt)

  /** A field of `r`; None when it is null or absent from the record's
    * schema (avro `Record.get(name)` THROWS on an absent field, and v1
    * manifests have no `content`). */
  private[io] def fieldOpt(r: GenericRecord, name: String): Option[Any] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))

  // ---- metadata plumbing -------------------------------------------------

  private def metaSchema(meta: JsonNode,
      schemaId: Option[Int] = None): StructType = {
    val wanted = schemaId
      .orElse(Option(meta.get("current-schema-id")).map(_.asInt))
    val schemaNode = Option(meta.get("schemas"))
      .flatMap(ss => jsonArray(ss).find(s =>
        wanted.forall(_ == s.get("schema-id").asInt)))
      .orElse(Option(meta.get("schema")))
      .getOrElse(throw new IllegalStateException("no schema in metadata"))
    icebergStruct(schemaNode)
  }

  private def metaPartCols(meta: JsonNode): Seq[String] =
    metaPartFieldsOf(meta).filter(_.transform == "identity").map(_.name)

  /** Incremental APPEND scan — the Iceberg `IncrementalAppendScan`
    * contract: the rows ADDED by every snapshot after `fromSnapshotId`
    * (exclusive) through `toSnapshotId` (inclusive; default current), in
    * snapshot-log order. `replace` snapshots (compaction) are skipped —
    * they rewrite files without changing rows; a `delete` / `overwrite`
    * snapshot inside the range raises instead of silently misreporting
    * the delta (the same loud contract the Java library enforces).
    *
    * Added files are identified by manifest-entry PROVENANCE: status-1
    * (ADDED) entries carrying the snapshot's own id, inside data
    * manifests that snapshot added (`added_snapshot_id`) — a
    * carried-forward manifest's old ADDED entries keep their original
    * snapshot id and never re-report. Per-snapshot scans use THAT
    * snapshot's schema (snapshots are stamped with their schema-id) and
    * union by name, so appends across a schema evolution read older
    * rows' new columns as null.
    *
    * Scale: planning is pure metadata — the range's manifest avros,
    * never a table diff; the data read is one distributed scan per
    * changed snapshot, bounded by the files it added. The shape an
    * incremental 100 TB ingestion pipeline needs: cost follows the
    * DELTA, not the table. */
  def incrementalAppendScan(spark: SparkSession, tablePath: String,
      fromSnapshotId: Option[Long],
      toSnapshotId: Option[Long] = None): DataFrame = {
    val meta = currentMetadata(spark, tablePath)
    val logIds = jsonArray(meta.get("snapshot-log"))
      .map(_.get("snapshot-id").asLong)
    val byId = jsonArray(meta.get("snapshots"))
      .map(s => s.get("snapshot-id").asLong -> s).toMap
    def idxOf(id: Long, what: String): Int = {
      // lastIndexOf: a rollback re-appends its target's id to the
      // snapshot log — scanning from/to the LATEST occurrence is the
      // only reading under which "after this snapshot" is well-defined
      val i = logIds.lastIndexOf(id)
      require(i >= 0,
        s"$what snapshot $id is not in the snapshot log of $tablePath")
      i
    }
    val toId = toSnapshotId.getOrElse(meta.get("current-snapshot-id").asLong)
    val toIdx = idxOf(toId, "to")
    val fromIdx = fromSnapshotId.map(idxOf(_, "from")).getOrElse(-1)
    require(fromIdx <= toIdx,
      s"from snapshot ${fromSnapshotId.get} is newer than to snapshot $toId")
    val root = new Path(tablePath)
    val frames = ((fromIdx + 1) to toIdx).flatMap { i =>
      val id = logIds(i)
      val node = byId.getOrElse(id, throw new IllegalArgumentException(
        s"snapshot $id is missing from $tablePath (expired?)"))
      val op = Option(node.get("summary"))
        .flatMap(s => Option(s.get("operation")))
        .map(_.asText).getOrElse("unknown")
      op match {
        case "append" =>
          val added = addedFilePaths(spark, root, node)
          if (added.isEmpty) None
          else {
            val snapV = snapshot(spark, tablePath, Some(id))
            Some(dataScan(spark, snapV, only = Some(added))
              .select(snapV.schema.fieldNames.map(col).toSeq: _*))
          }
        case "replace" => None // compaction: files change, rows do not
        case other => throw new UnsupportedIcebergFeatureException(
          s"incremental append scan crossed a '$other' snapshot ($id) in " +
            s"$tablePath — only appends (and skipped replaces) are " +
            "derivable; start the scan after it")
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val snap = snapshot(spark, tablePath, Some(toId))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      }
  }

  /** Data-file paths ADDED by `snapNode`'s commit (see
    * [[incrementalAppendScan]] for the provenance rule). */
  private def addedFilePaths(spark: SparkSession, root: Path,
      snapNode: JsonNode): Seq[String] = {
    val snapId = snapNode.get("snapshot-id").asLong
    readAvro(spark, TableFiles.location(root, snapNode.get("manifest-list").asText))
      .flatMap { m =>
        val mContent = fieldOpt(m, "content").flatMap(intOf).getOrElse(0)
        val addedId = fieldOpt(m, "added_snapshot_id").flatMap(longOf)
        if (mContent != 0 || addedId.exists(_ != snapId)) Nil
        else readAvro(spark,
            TableFiles.location(root, m.get("manifest_path").toString)).flatMap { e =>
          val status = e.get("status").asInstanceOf[Int]
          val entrySnap = fieldOpt(e, "snapshot_id").flatMap(longOf)
            .getOrElse(addedId.getOrElse(snapId))
          if (status == 1 && entrySnap == snapId)
            Some(TableFiles.location(root,
              e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString).toString)
          else None
        }
      }
  }

  /** The full default partition spec — names, transforms, source columns
    * (the writer's merge path needs transforms to find touched
    * partitions on a `day(ts)`/`bucket(n,c)` table). */
  def partitionFields(spark: SparkSession,
      tablePath: String): Seq[IcebergTransforms.PartitionField] =
    metaPartFieldsOf(currentMetadata(spark, tablePath))

  private def metaPartFieldsOf(meta: JsonNode)
      : Seq[IcebergTransforms.PartitionField] = {
    val specId = Option(meta.get("default-spec-id")).map(_.asInt).getOrElse(0)
    metaPartSpecsOf(meta).getOrElse(specId, Nil)
  }

  /** Every partition spec in the metadata's history, keyed by spec-id —
    * after partition-spec evolution a snapshot holds files written under
    * several specs, each pruning under its OWN fields. */
  def partitionSpecsById(spark: SparkSession, tablePath: String)
      : Map[Int, Seq[IcebergTransforms.PartitionField]] =
    metaPartSpecsOf(currentMetadata(spark, tablePath))

  private def metaPartSpecsOf(meta: JsonNode)
      : Map[Int, Seq[IcebergTransforms.PartitionField]] = {
    val sourceById: Map[Int, String] = {
      val wanted = Option(meta.get("current-schema-id")).map(_.asInt)
      val schemaNode = Option(meta.get("schemas"))
        .flatMap(ss => jsonArray(ss).find(s =>
          wanted.forall(_ == s.get("schema-id").asInt)))
        .orElse(Option(meta.get("schema")))
      schemaNode.map(s => jsonArray(s.get("fields"))
        .map(f => f.get("id").asInt -> f.get("name").asText).toMap)
        .getOrElse(Map.empty)
    }
    Option(meta.get("partition-specs")).map(ps => jsonArray(ps).map { spec =>
      spec.get("spec-id").asInt ->
        jsonArray(spec.get("fields")).map { f =>
          val name = f.get("name").asText
          IcebergTransforms.PartitionField(name,
            Option(f.get("transform")).map(_.asText).getOrElse("identity"),
            Option(f.get("source-id")).map(_.asInt).flatMap(sourceById.get)
              .getOrElse(name))
        }
    }.toMap).getOrElse(Map.empty)
  }

  /** The newest metadata json: versions are tried highest-first and a
    * torn claim (create-exclusive file whose body has not landed yet) is
    * skipped — a reader sees the previous committed state, never a stale
    * `version-hint.text` (the hint is a non-authoritative fast-forward
    * pointer that can lag behind vN under concurrent writers). */
  private def currentMetadata(spark: SparkSession, tablePath: String): JsonNode = {
    val metaDir = new Path(tablePath, "metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaDir), s"no Iceberg metadata dir under $tablePath")
    val versions = fs.listStatus(metaDir).map(_.getPath).collect {
      case p if MetadataFile.matches(p.getName) =>
        MetadataFile.findFirstMatchIn(p.getName).get.group(1).toLong -> p
    }.sortBy(-_._1)
    require(versions.nonEmpty, s"no vN.metadata.json under $metaDir")
    val node = versions.iterator.map { case (_, p) =>
      try {
        val n = mapper.readTree(readText(spark, p.toString))
        if (n != null && n.isObject && n.has("format-version")) Some(n) else None
      } catch { case _: Exception => None }
    }.collectFirst { case Some(n) => n }
      .getOrElse(throw new IllegalStateException(
        s"no parseable vN.metadata.json under $metaDir"))
    val fv = Option(node.get("format-version")).map(_.asInt).getOrElse(1)
    if (fv > 3)
      throw new UnsupportedIcebergFeatureException(
        s"$tablePath is Iceberg format-version $fv; this reader supports 1-3")
    node
  }


  /** `null_value_counts` (spec field 110): field-id → null total, same
    * array-encoded int-keyed map shape as the bounds. */
  private def countsMap(dataFile: GenericRecord,
      field: String): Map[Int, Long] = {
    fieldOpt(dataFile, field) match {
      case Some(l: java.util.List[_]) =>
        l.asScala.collect { case r: GenericRecord =>
          for {
            k <- intOf(r.get("key"))
            c <- longOf(r.get("value"))
          } yield k -> c
        }.flatten.toMap
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.flatMap { case (k, v) =>
          val key = k match {
            case u: org.apache.avro.util.Utf8 => u.toString.toIntOption
            case s: String => s.toIntOption
            case i: java.lang.Integer => Some(i.intValue)
            case _ => None
          }
          for { kk <- key; c <- longOf(v) } yield kk -> c
        }.toMap
      case _ => Map.empty
    }
  }

  /** `lower_bounds`/`upper_bounds`: (field-id → Appendix-D bytes). Avro
    * encodes these int-keyed maps as arrays of key/value records (avro
    * maps require string keys); tolerate a plain avro map too. */
  private def boundsMap(dataFile: GenericRecord,
      field: String): Map[Int, Array[Byte]] = {
    def bytesOf(v: Any): Option[Array[Byte]] = v match {
      case b: java.nio.ByteBuffer =>
        val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
        Some(arr)
      case a: Array[Byte] => Some(a)
      case f: org.apache.avro.generic.GenericFixed => Some(f.bytes())
      case _ => None
    }
    fieldOpt(dataFile, field) match {
      case Some(l: java.util.List[_]) =>
        l.asScala.collect { case r: GenericRecord =>
          for {
            k <- intOf(r.get("key"))
            b <- bytesOf(r.get("value"))
          } yield k -> b
        }.flatten.toMap
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.flatMap { case (k, v) =>
          val key = k match {
            case u: org.apache.avro.util.Utf8 => u.toString.toIntOption
            case s: String => s.toIntOption
            case i: java.lang.Integer => Some(i.intValue)
            case _ => None
          }
          for { kk <- key; b <- bytesOf(v) } yield kk -> b
        }.toMap
      case _ => Map.empty
    }
  }

  /** Decode one Appendix-D single-value bound for `dt`; None when the
    * encoding is unrecognized (→ conservative keep). */
  private[io] def decodeBound(dt: DataType, bytes: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case IntegerType | DateType if bytes.length == 4 => Some(bb.getInt)
      case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(bb.getLong)
      // files written BEFORE an int->long promotion carry 4-byte bounds
      // under a now-long field (spec: bounds may use the old type)
      case LongType if bytes.length == 4 => Some(bb.getInt.toLong)
      case FloatType if bytes.length == 4 =>
        val f = bb.getFloat
        if (f.isNaN || f.isInfinite) None else Some(f.toDouble)
      case DoubleType if bytes.length == 8 =>
        val d = bb.getDouble
        if (d.isNaN || d.isInfinite) None else Some(d)
      // pre-promotion float bounds under a now-double field
      case DoubleType if bytes.length == 4 =>
        val f = bb.getFloat
        if (f.isNaN || f.isInfinite) None else Some(f.toDouble)
      case StringType => Some(new String(bytes, "UTF-8"))
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case _ => None
    } catch { case _: Exception => None }
  }

  private def partitionMap(dataFile: GenericRecord): Map[String, Any] =
    Option(dataFile.get("partition")).collect { case r: GenericRecord =>
      r.getSchema.getFields.asScala.map { f =>
        val v = r.get(f.name) match {
          case u: org.apache.avro.util.Utf8 => u.toString
          case x => x
        }
        f.name -> v
      }.toMap[String, Any]
    }.getOrElse(Map.empty)

  /** Stream a self-describing avro file into its records. */
  private[io] def readAvro(spark: SparkSession, path: Path): Seq[GenericRecord] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val reader = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      val out = mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.toSeq
    } finally { reader.close(); in.close() }
  }

  /** Like [[readAvro]] but also returns the file-level avro metadata
    * (Iceberg stamps `schema`, `partition-spec`, `partition-spec-id`,
    * `content`, `format-version` on every manifest — a rewritten
    * manifest must carry them verbatim). */
  private[io] def readAvroWithMeta(spark: SparkSession, path: Path)
      : (Seq[GenericRecord], Map[String, String]) = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val reader = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      import scala.jdk.CollectionConverters._
      val meta = reader.getMetaKeys.asScala.toSeq
        .filterNot(_.startsWith("avro."))
        .map(k => k -> reader.getMetaString(k)).toMap
      val out = mutable.ArrayBuffer.empty[GenericRecord]
      while (reader.hasNext) out += reader.next()
      (out.toSeq, meta)
    } finally { reader.close(); in.close() }
  }

  private def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The elements of a JSON array node; none for a missing node. The
    * one array walk under the Delta and Iceberg log readers and writers. */
  private[io] def jsonArray(n: JsonNode): Seq[JsonNode] =
    if (n == null) Nil else (0 until n.size()).map(n.get)

  // ---- Iceberg schema JSON → Spark --------------------------------------

  private def icebergStruct(node: JsonNode): StructType =
    StructType(jsonArray(node.get("fields")).map { f =>
      // v3 column defaults (spec "Default values"): carried as field
      // metadata so the scan can fill pre-existence files
      // (initial-default) and the writer can fill absent input columns
      // (write-default)
      val md = new MetadataBuilder()
      Option(f.get("initial-default")).filterNot(_.isNull)
        .foreach(d => md.putString("iceberg.initial-default", d.toString))
      Option(f.get("write-default")).filterNot(_.isNull)
        .foreach(d => md.putString("iceberg.write-default", d.toString))
      StructField(f.get("name").asText, icebergType(f.get("type")),
        nullable = !f.get("required").asBoolean(false),
        metadata = md.build())
    })

  /** A JSON-serialized default (spec Appendix D single-value JSON) as a
    * typed literal Column. */
  private[io] def defaultLiteral(dt: DataType, json: String): Column = {
    val node = mapper.readTree(json)
    val v: Any = dt match {
      case BooleanType => node.asBoolean
      case IntegerType => node.asInt
      case LongType => node.asLong
      case FloatType => node.asDouble.toFloat
      case DoubleType => node.asDouble
      case StringType => node.asText
      case _: DecimalType => new java.math.BigDecimal(node.asText)
      case other => throw new UnsupportedIcebergFeatureException(
        s"default values for type ${other.simpleString} not supported")
    }
    lit(v).cast(dt)
  }

  private val Decimal = """decimal\((\d+),\s*(\d+)\)""".r
  private val Fixed = """fixed\[(\d+)\]""".r

  private def icebergType(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "time" => LongType // micros since midnight; Spark has no TimeType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" | "uuid" => StringType
      case "binary" => BinaryType
      case Decimal(p, s) => DecimalType(p.toInt, s.toInt)
      case Fixed(_) => BinaryType
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg type: $other")
    } else t.get("type").asText match {
      case "struct" => icebergStruct(t)
      case "list" => ArrayType(icebergType(t.get("element")),
        containsNull = !t.get("element-required").asBoolean(false))
      case "map" => MapType(icebergType(t.get("key")),
        icebergType(t.get("value")),
        valueContainsNull = !t.get("value-required").asBoolean(false))
      case other => throw new IllegalArgumentException(
        s"unsupported Iceberg nested type: $other")
    }
}
