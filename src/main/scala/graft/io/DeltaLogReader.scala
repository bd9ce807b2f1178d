package graft.io

import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.util.SerializableConfiguration

/** The requested Delta table uses a protocol feature this reader does not
  * implement — raised instead of silently returning wrong rows (the
  * failure mode of ignoring `protocol` actions). */
final class UnsupportedDeltaFeatureException(msg: String)
  extends RuntimeException(msg)

/** Read-only interop with REAL Delta Lake tables — the reference reads
  * tables other systems wrote (`s3/_read_deltalake.py:38-136`), and the
  * in-repo [[graft.table.TxnLog]] reproduces the *semantics* but not the
  * format. The Delta transaction log is plain files (the protocol is
  * public: delta.io PROTOCOL.md): `_delta_log/<20-digit>.json` holds one
  * JSON action per line (`metaData`, `add`, `remove`, `commitInfo`,
  * `protocol`), every 10th commit may be compacted into
  * `<version>.checkpoint.parquet` (or `N` parts named
  * `<version>.checkpoint.<i>.<n>.parquet`), and `_last_checkpoint` points
  * at the newest checkpoint — so a reader needs no format jar.
  *
  * Snapshot reconstruction: start from the newest checkpoint at or below
  * the requested version (falling back to version 0), replay the JSON
  * tail in order, last action per file path wins. Data files are then
  * read with the log's schema, partition columns re-attached from each
  * file's `partitionValues` (authoritative over directory names).
  *
  * Protocol gating: the `protocol` action is replayed like any other and
  * checked before any data is read. Reader version 1 is the base; version
  * 2 adds column mapping (supported — physical column names resolved from
  * the schema's `delta.columnMapping.physicalName` metadata, which Delta
  * writers emit in both `name` and `id` modes); version 3 tables are read
  * only when every `readerFeatures` entry is implemented here
  * (deletionVectors, columnMapping, timestampNtz, vacuumProtocolCheck) —
  * anything else raises [[UnsupportedDeltaFeatureException]] rather than
  * returning silently wrong rows. Deletion vectors are applied as the
  * protocol applies them, a per-file filter on row index: each scan task
  * decodes its file's bitmap ([[DeltaDeletionVectors]]) and drops the
  * rows whose `_metadata.row_index` it holds
  * ([[TableFiles.withoutDeleted]]).
  *
  * Scale: the log itself is metadata — the driver materializes only the
  * active file list, the same cost every Delta reader pays; the data read
  * is a normal distributed parquet scan per partition-value group.
  */
object DeltaLogReader {

  final case class AddFile(path: String,
      partitionValues: Map[String, Option[String]],
      deletionVector: Option[DeltaDeletionVectors.Descriptor] = None,
      size: Long = 0L, modificationTime: Long = 0L,
      stats: Option[String] = None,
      // Row Tracking (PROTOCOL.md): fresh row ids of this file start at
      // baseRowId; rows carry defaultRowCommitVersion unless materialized
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  final case class Protocol(minReaderVersion: Int = 1,
      readerFeatures: Set[String] = Set.empty,
      minWriterVersion: Int = 1,
      writerFeatures: Set[String] = Set.empty)

  final case class Snapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[AddFile],
      protocol: Protocol = Protocol(),
      configuration: Map[String, String] = Map.empty,
      // live domainMetadata actions (domain -> configuration JSON) —
      // delta.rowTracking holds the row-id high watermark
      domainMetadata: Map[String, String] = Map.empty,
      // SetTransaction watermarks (PROTOCOL.md "Transaction
      // Identifiers"): appId -> highest committed version, what an
      // idempotent (streaming) writer consults before re-committing
      transactions: Map[String, Long] = Map.empty)

  final case class Commit(version: Long, timestampMs: Long, operation: String)

  /** readerFeatures this reader actually implements (delta.io PROTOCOL.md
    * reader-version-3 feature names), including `v2Checkpoint`:
    * uuid-named checkpoint manifests (parquet or json) whose file
    * actions may live in `_sidecars/` parquet files. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz",
      "vacuumProtocolCheck", "v2Checkpoint")

  private val mapper = new ObjectMapper()
  private val CommitFile = """(\d{20})\.json""".r
  private val CheckpointFile = """(\d{20})\.checkpoint\.parquet""".r
  private val MultiPartCheckpointFile =
    """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  private val V2CheckpointFile =
    """(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)""".r

  /** One replayable checkpoint: classic parquet part set, or a V2
    * uuid-named manifest (parquet or json) with `_sidecars/` files. */
  private sealed trait CkptRef
  private final case class PartsCkpt(parts: Seq[String]) extends CkptRef
  private final case class V2Ckpt(path: String, json: Boolean) extends CkptRef

  /** Mutable replay target: the action fold that reconstructs a
    * snapshot from checkpoint rows and/or JSON action lines. */
  private final class ReplayState {
    val active = mutable.LinkedHashMap.empty[String, AddFile]
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Nil
    var protocol = Protocol()
    var configuration = Map.empty[String, String]
    val domains = mutable.LinkedHashMap.empty[String, String]
    val txns = mutable.LinkedHashMap.empty[String, Long]
  }

  /** Latest version present in the log, or -1 for an empty/absent log. */
  def latestVersion(spark: SparkSession, tablePath: String): Long = {
    val (commits, checkpoints) = logFiles(spark, tablePath)
    (commits.keys ++ checkpoints.keys).foldLeft(-1L)(math.max)
  }

  /** `TIMESTAMP AS OF`: the latest version whose commit time is at or
    * before `tsMillis`. Commit time is the commitInfo action's
    * `timestamp` when present, else the commit file's modification
    * time, MONOTONIZED by running max (the same adjustment real Delta
    * engines apply — commit clocks can regress across writers, and an
    * unadjusted dip would make time travel non-deterministic). Raises
    * if `tsMillis` precedes the earliest available commit (older JSON
    * may have been checkpoint-compacted away — loud, not guessed). */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val (commits, _) = logFiles(spark, tablePath)
    require(commits.nonEmpty, s"no Delta commits under $tablePath")
    val fs = new Path(tablePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ordered = commits.toSeq.sortBy(_._1)
    var runningMax = Long.MinValue
    val stamped = ordered.map { case (v, p) =>
      // stream ONLY to the commitInfo line (line 1 in every log this or
      // any mainstream writer produces) — slurping full commit bodies
      // would make one timestamp query O(total log bytes) driver-side
      // on a long-history table
      val commitTs = commitInfoTimestamp(fs, p)._1
        .getOrElse(fs.getFileStatus(new Path(p)).getModificationTime)
      runningMax = math.max(runningMax, commitTs)
      (v, runningMax)
    }
    val at = stamped.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes the earliest available commit " +
        s"(${stamped.head._2} at version ${stamped.head._1})")
    at.map(_._1).max
  }

  /** Reconstruct the snapshot at `asOfVersion` (default: latest). */
  def snapshot(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): Snapshot = {
    val (commits, checkpoints) = logFiles(spark, tablePath)
    require(commits.nonEmpty || checkpoints.nonEmpty,
      s"no Delta log under $tablePath/_delta_log")
    val latest = (commits.keys ++ checkpoints.keys).max
    val version = asOfVersion.getOrElse(latest)
    require(version <= latest, s"version $version > latest $latest")

    // newest usable checkpoint at or below the target: a V2 checkpoint
    // whose sidecar files are missing (torn publication) is SKIPPED in
    // favor of the next-lower checkpoint or the raw tail — never a
    // half-replayed snapshot
    val state = new ReplayState
    val ckptVersion: Option[Long] = checkpoints.toSeq
      .filter(_._1 <= version).sortBy(-_._1).iterator
      .map { case (cv, ref) => tryReplayCheckpoint(spark, tablePath, ref)
        .map { st => copyState(st, state); cv } }
      .collectFirst { case Some(cv) => cv }

    val tail = commits.keys.toSeq.sorted
      .filter(v => v <= version && ckptVersion.forall(v > _))
    // no checkpoint floor → the tail must reach back to commit 0
    require(ckptVersion.nonEmpty || tail.headOption.contains(0L),
      s"log tail starts at ${tail.headOption} with no usable checkpoint before it")
    tail.foreach { v =>
      readLines(spark, commits(v)).foreach(line =>
        processJsonAction(state, mapper.readTree(line)))
    }
    checkProtocol(state.protocol, tablePath)
    Snapshot(version,
      state.schema.getOrElse(throw new IllegalStateException(
        s"no metaData action found replaying to version $version")),
      state.partCols, state.active.values.toSeq, state.protocol,
      state.configuration, state.domains.toMap, state.txns.toMap)
  }

  private def copyState(from: ReplayState, to: ReplayState): Unit = {
    to.active.clear(); to.active ++= from.active
    to.schema = from.schema
    to.partCols = from.partCols
    to.protocol = from.protocol
    to.configuration = from.configuration
    to.domains.clear(); to.domains ++= from.domains
    to.txns.clear(); to.txns ++= from.txns
  }

  /** Replay one checkpoint into a fresh state; None when the checkpoint
    * is unusable (torn V2 publication: manifest landed, sidecars not). */
  private def tryReplayCheckpoint(spark: SparkSession, tablePath: String,
      ref: CkptRef): Option[ReplayState] = {
    val state = new ReplayState
    ref match {
      case PartsCkpt(parts) =>
        processCheckpointParquet(spark, state, parts)
        Some(state)
      case V2Ckpt(path, json) =>
        // V2 manifest: metaData/protocol (and possibly inline file
        // actions) in the manifest itself; file actions in `_sidecars/`
        // parquet named by `sidecar` actions
        val sidecars = mutable.ArrayBuffer.empty[String]
        if (json)
          readLines(spark, path).foreach { line =>
            val node = mapper.readTree(line)
            processJsonAction(state, node)
            Option(node.get("sidecar")).foreach(s =>
              sidecars += s.get("path").asText)
          }
        else {
          val df = spark.read.parquet(path)
          processCheckpointParquet(spark, state, Seq(path))
          if (df.columns.contains("sidecar"))
            df.select(col("sidecar.path")).collect()
              .foreach(r => Option(r.getString(0)).foreach(sidecars += _))
        }
        val logDir = new Path(tablePath, "_delta_log")
        val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val resolved = sidecars.toSeq.map { p =>
          if (p.startsWith("/") || p.contains("://")) new Path(p)
          else new Path(new Path(logDir, "_sidecars"), p)
        }
        if (resolved.exists(p => !fs.exists(p))) None
        else {
          if (resolved.nonEmpty)
            processCheckpointParquet(spark, state,
              resolved.map(_.toString))
          Some(state)
        }
    }
  }

  /** Fold checkpoint parquet rows (classic parts or V2 sidecars) into
    * the replay state. Only the action structs are selected, so parquet
    * column pruning drops the stats/tags payloads real checkpoints
    * carry. */
  private def processCheckpointParquet(spark: SparkSession,
      state: ReplayState, paths: Seq[String]): Unit = {
    val ckpt = spark.read.parquet(paths: _*)
    val actionCols = ckpt.columns.filter(
      Set("metaData", "add", "remove", "protocol", "domainMetadata",
          "txn"))
    if (actionCols.isEmpty) return
    val rows = ckpt.select(actionCols.map(col).toSeq: _*).collect()
    rows.foreach { r =>
      def struct(name: String) =
        if (!r.schema.fieldNames.contains(name)) None
        else Option(r.getAs[Row](name))
      struct("protocol").foreach { p =>
        def feats(name: String): Set[String] =
          if (!p.schema.fieldNames.contains(name)) Set.empty
          else Option(p.getAs[scala.collection.Seq[String]](name))
            .map(_.toSet).getOrElse(Set.empty)
        state.protocol = Protocol(p.getAs[Number]("minReaderVersion").intValue,
          feats("readerFeatures"),
          if (!p.schema.fieldNames.contains("minWriterVersion")) 1
          else Option(p.getAs[Number]("minWriterVersion"))
            .map(_.intValue).getOrElse(1),
          feats("writerFeatures"))
      }
      struct("metaData").foreach { m =>
        state.schema = Some(parseSchema(m.getAs[String]("schemaString")))
        state.partCols =
          m.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq
        if (m.schema.fieldNames.contains("configuration"))
          state.configuration = Option(
            m.getAs[scala.collection.Map[String, String]]("configuration"))
            .map(_.toMap).getOrElse(Map.empty)
      }
      struct("add").foreach { a =>
        def num(f: String): Long =
          if (!a.schema.fieldNames.contains(f)) 0L
          else Option(a.getAs[Number](f)).map(_.longValue).getOrElse(0L)
        def numOpt(f: String): Option[Long] =
          if (!a.schema.fieldNames.contains(f)) None
          else Option(a.getAs[Number](f)).map(_.longValue)
        val add = AddFile(TableFiles.fromLogPath(a.getAs[String]("path")),
          Option(a.getAs[scala.collection.Map[String, String]]("partitionValues"))
            .map(_.toMap.map { case (k, v) => k -> Option(v) })
            .getOrElse(Map.empty),
          dvFromRow(a), num("size"), num("modificationTime"),
          if (!a.schema.fieldNames.contains("stats")) None
          else Option(a.getAs[String]("stats")),
          numOpt("baseRowId"), numOpt("defaultRowCommitVersion"))
        state.active(add.path) = add
      }
      struct("remove").foreach(rm =>
        state.active.remove(TableFiles.fromLogPath(rm.getAs[String]("path"))))
      struct("domainMetadata").foreach { d =>
        val domain = d.getAs[String]("domain")
        val removed = d.schema.fieldNames.contains("removed") &&
          Option(d.getAs[Any]("removed")).contains(true)
        if (removed) state.domains.remove(domain)
        else state.domains(domain) = Option(
          if (d.schema.fieldNames.contains("configuration"))
            d.getAs[String]("configuration") else null).getOrElse("{}")
      }
      struct("txn").foreach { t =>
        state.txns(t.getAs[String]("appId")) =
          t.getAs[Number]("version").longValue
      }
    }
  }

  /** Fold one JSON action (commit line or V2 json-manifest line) into
    * the replay state. */
  private def processJsonAction(state: ReplayState, node: JsonNode): Unit = {
    Option(node.get("protocol")).foreach { p =>
      state.protocol = Protocol(p.get("minReaderVersion").asInt,
        IcebergReader.jsonArray(p.get("readerFeatures")).map(_.asText).toSet,
        Option(p.get("minWriterVersion")).map(_.asInt).getOrElse(1),
        IcebergReader.jsonArray(p.get("writerFeatures")).map(_.asText).toSet)
    }
    Option(node.get("metaData")).foreach { m =>
      state.schema = Some(parseSchema(m.get("schemaString").asText))
      state.partCols = IcebergReader.jsonArray(m.get("partitionColumns")).map(_.asText)
      state.configuration = Option(m.get("configuration")).map { o =>
        val it = o.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText
        }
        b.result()
      }.getOrElse(Map.empty)
    }
    Option(node.get("add")).foreach { a =>
      val pv = Option(a.get("partitionValues")).map { o =>
        val it = o.fields()
        val b = Map.newBuilder[String, Option[String]]
        while (it.hasNext) {
          val e = it.next()
          b += e.getKey -> (if (e.getValue.isNull) None
            else Some(e.getValue.asText))
        }
        b.result()
      }.getOrElse(Map.empty[String, Option[String]])
      val add = AddFile(TableFiles.fromLogPath(a.get("path").asText), pv, dvFromJson(a),
        Option(a.get("size")).map(_.asLong).getOrElse(0L),
        Option(a.get("modificationTime")).map(_.asLong).getOrElse(0L),
        Option(a.get("stats")).filterNot(_.isNull).map(_.asText),
        Option(a.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
        Option(a.get("defaultRowCommitVersion")).filterNot(_.isNull)
          .map(_.asLong))
      state.active(add.path) = add
    }
    Option(node.get("remove")).foreach(rm =>
      state.active.remove(TableFiles.fromLogPath(rm.get("path").asText)))
    // domainMetadata (PROTOCOL.md "Domain Metadata"): keyed by domain,
    // last writer wins, removed=true retracts
    Option(node.get("domainMetadata")).foreach { d =>
      val domain = d.get("domain").asText
      if (Option(d.get("removed")).exists(_.asBoolean))
        state.domains.remove(domain)
      else state.domains(domain) =
        Option(d.get("configuration")).map(_.asText).getOrElse("{}")
    }
    // txn (PROTOCOL.md "Transaction Identifiers"): per-appId version
    // watermark, replay order decides
    Option(node.get("txn")).foreach { t =>
      state.txns(t.get("appId").asText) = t.get("version").asLong
    }
  }

  /** `read_deltalake(version=…)`: the snapshot as a DataFrame.
    *
    * Plan shape: ONE parquet scan over the whole active file list —
    * never a union of per-partition scans (10k partition tuples would
    * mean a 10k-node plan). The log's `partitionValues` (authoritative
    * over directory names) are re-attached by a broadcast join of the
    * tiny (file → values) manifest against each row's file path: the
    * manifest is metadata-scale (one row per active file, the same list
    * the snapshot already materialized), so the join is a map-side
    * lookup, and the scan itself stays a single distributed node that
    * AQE/pushdown treat normally. Deletion vectors (if any file carries
    * one) become a filter on `(file, row_index)` that each scan task
    * answers from its file's decoded bitmap; tables without DVs keep the
    * exact pre-DV plan. Column-mapped tables scan by physical name and
    * rename to logical names in the final projection.
    */
  def read(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None,
      filters: Seq[ScanFilter] = Nil,
      asOfTimestamp: Option[Long] = None): DataFrame = {
    val version = asOfVersion.orElse(
      asOfTimestamp.map(versionAtTimestamp(spark, tablePath, _)))
    val snap = snapshot(spark, tablePath, version)
    val physOf = physicalNames(snap)
    // metadata-only file pruning: partition values from the log, min/max
    // from each add's `stats` — a selective read of a 100k-file table
    // never opens the unmatched files' footers. The same predicate is
    // re-applied as a row filter below, so pruning cannot change results.
    val files =
      if (filters.isEmpty) snap.files
      else snap.files.filter(f => fileMayMatch(snap, physOf, f, filters))
    val residual = ScanFilters.residual(filters)
    def filtered(df: DataFrame): DataFrame =
      residual.map(df.filter).getOrElse(df)
    filtered(scanFiles(spark, tablePath, snap, files))
  }

  /** `read(path, predicate)` with an arbitrary Spark `Column` — how
    * Spark users actually write filters. The predicate's supported
    * conjuncts prune the file list exactly like the tuple API
    * ([[ScanFilters.fromColumn]]); the ORIGINAL predicate is then the
    * row filter, so untranslatable conjuncts (`isNull`, `NOT <=>`,
    * functions of a column) stay residual-only and results never
    * change. */
  def readWhere(spark: SparkSession, tablePath: String,
      predicate: Column, asOfVersion: Option[Long] = None,
      asOfTimestamp: Option[Long] = None): DataFrame = {
    val version = asOfVersion.orElse(
      asOfTimestamp.map(versionAtTimestamp(spark, tablePath, _)))
    val snap = snapshot(spark, tablePath, version)
    val filters = ScanFilters.fromColumn(spark, snap.schema, predicate)
    val physOf = physicalNames(snap)
    val files =
      if (filters.isEmpty) snap.files
      else snap.files.filter(f => fileMayMatch(snap, physOf, f, filters))
    scanFiles(spark, tablePath, snap, files).filter(predicate)
  }

  /** ROW TRACKING read (PROTOCOL.md "Row Tracking"): the snapshot with
    * `_row_id` (= the file's `baseRowId` + the row's physical index)
    * and `_row_commit_version` attached — stable row identity under
    * appends AND under deletion-vector deletes (a DV never shifts the
    * physical row index of surviving rows), the Delta twin of
    * [[IcebergReader.readWithLineage]]. Files written before row
    * tracking was enabled surface null ids until rewritten. The
    * (file → baseRowId) manifest is metadata-scale and broadcast. */
  def readWithRowIds(spark: SparkSession, tablePath: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, tablePath, asOfVersion)
    scanFilesWithRowIds(spark, tablePath, snap, snap.files)
  }

  /** [[readWithRowIds]] over a file subset (the compaction path reads
    * its candidates through this to materialize their ids). Files
    * REWRITTEN by a previous OPTIMIZE carry their ids in the table's
    * MATERIALIZED row-id columns (config
    * `delta.rowTracking.materializedRowIdColumnName` /
    * `…RowCommitVersionColumnName`), which take precedence over the
    * baseRowId + index derivation, per the protocol. */
  private[io] def scanFilesWithRowIds(spark: SparkSession,
      tablePath: String, snap: Snapshot,
      files: Seq[AddFile]): DataFrame = {
    val physOf = physicalNames(snap)
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema = StructType(dataFields.map(f => f.copy(name = physOf(f.name))))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(snap.schema.fields :+
          StructField("_row_id", LongType) :+
          StructField("_row_commit_version", LongType)))
    // materialized lineage columns (written by OPTIMIZE rewrites) read
    // alongside the data; files lacking them surface null and fall back
    // to baseRowId + position below
    val matId = snap.configuration
      .get("delta.rowTracking.materializedRowIdColumnName")
    val matVer = snap.configuration
      .get("delta.rowTracking.materializedRowCommitVersionColumnName")
    val scanSchema = StructType(dataSchema.fields ++
      matId.map(StructField(_, LongType)) ++
      matVer.map(StructField(_, LongType)))
    val qualified = TableFiles.locateAll(fs, root, files)(_.path)
    var df = spark.read.schema(scanSchema).parquet(qualified.map(_._1): _*)
      .withColumn("__file", TableFiles.fileName)
      .withColumn("__pos", col("_metadata.row_index"))
    df = TableFiles.withoutDeleted(df, col("__file"), col("__pos"),
      deletionVectors(fs, root, qualified))
    val manifestSchema = StructType(
      StructField("__file", StringType, nullable = false) +:
        (snap.partitionColumns.map(c =>
          StructField(s"__pv_$c", StringType, nullable = true)) :+
          StructField("__base", LongType, nullable = true) :+
          StructField("__rcv", LongType, nullable = true)))
    val manifestRows = qualified.map { case (uri, f) =>
      Row.fromSeq((uri +: snap.partitionColumns.map { c =>
        f.partitionValues.get(physOf(c))
          .orElse(f.partitionValues.get(c)).flatten.orNull
      }) :+ f.baseRowId.map(Long.box).orNull :+
        f.defaultRowCommitVersion.map(Long.box).orNull)
    }
    val manifest = spark.createDataFrame(
      spark.sparkContext.parallelize(manifestRows, 1), manifestSchema)
    df = df.join(broadcast(manifest), Seq("__file"), "left")
    import org.apache.spark.sql.functions.coalesce
    val rowIdCol = matId
      .map(m => coalesce(col(m), col("__base") + col("__pos")))
      .getOrElse(col("__base") + col("__pos"))
    val rowVerCol = matVer
      .map(m => coalesce(col(m), col("__rcv")))
      .getOrElse(col("__rcv"))
    df.select((snap.schema.fields.map { f =>
      if (snap.partitionColumns.contains(f.name))
        col(s"__pv_${f.name}").cast(f.dataType).as(f.name)
      else col(physOf(f.name)).as(f.name)
    } :+ rowIdCol.as("_row_id") :+
      rowVerCol.as("_row_commit_version")).toSeq: _*)
  }

  /** The snapshot-subset scan `read` is built on: DV-applied,
    * partition values re-attached, logical names restored. `optimize`
    * uses it to rewrite a candidate subset delete-aware. */
  private[io] def scanFiles(spark: SparkSession, tablePath: String,
      snap: Snapshot, files: Seq[AddFile]): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snap.schema)
    val physOf = physicalNames(snap)
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema = StructType(dataFields.map(f => f.copy(name = physOf(f.name))))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = TableFiles.locateAll(fs, root, files)(_.path)
    val hasParts = snap.partitionColumns.nonEmpty
    var df = spark.read.schema(dataSchema).parquet(qualified.map(_._1): _*)
    if (hasParts)
      df = df.withColumn("__file", TableFiles.fileName)
    df = TableFiles.withoutDeleted(df, TableFiles.fileName,
      col("_metadata.row_index"), deletionVectors(fs, root, qualified))
    if (hasParts) {
      val manifestSchema = StructType(
        StructField("__file", StringType, nullable = false) +:
          snap.partitionColumns.map(c =>
            StructField(c, StringType, nullable = true)))
      val manifestRows = qualified.map { case (uri, f) =>
        Row.fromSeq(uri +: snap.partitionColumns.map { c =>
          f.partitionValues.get(physOf(c))
            .orElse(f.partitionValues.get(c)).flatten.orNull
        })
      }
      val manifest = spark.createDataFrame(
        spark.sparkContext.parallelize(manifestRows, 1), manifestSchema)
      df = df.join(broadcast(manifest), Seq("__file"), "left")
    }
    df.select(snap.schema.fields.map { f =>
      if (snap.partitionColumns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else col(physOf(f.name)).as(f.name)
    }.toSeq: _*)
  }

  /** Change Data Feed read (PROTOCOL.md "Change Data Files"): row-level
    * changes between `startVersion` and `endVersion` (inclusive; default
    * latest), with `_change_type` / `_commit_version` /
    * `_commit_timestamp` appended — the contract delta-spark's
    * `readChangeFeed` serves.
    *
    * Per commit: when `cdc` actions are present they are authoritative —
    * ONLY the `_change_data/` files are read (never derived rows on
    * top). Without them, a pure-append commit's `add` actions ARE its
    * insert changes and a pure-remove commit's removed files (scanned at
    * the PREVIOUS version, deletion vectors applied) are its deletes —
    * per spec, the two derivable shapes. A commit that rewrites live
    * files or mixes adds and removes without cdc actions (a MERGE /
    * DELETE from before the feed was enabled) raises loudly instead of
    * guessing.
    *
    * Schema evolution inside the range is handled per commit: each
    * version scans with ITS schema (and ITS column-mapping state), and
    * the frames union by name — rows from before a column existed read
    * it as null. Scale: the per-version action parse is metadata
    * (commit-file lines); the data read is one distributed parquet scan
    * per changed version, file-list-bounded by that commit's actions. */
  def changes(spark: SparkSession, tablePath: String,
      startVersion: Long, endVersion: Option[Long] = None): DataFrame = {
    val latest = latestVersion(spark, tablePath)
    require(latest >= 0, s"no Delta table at $tablePath")
    val end = endVersion.getOrElse(latest)
    require(startVersion >= 0 && startVersion <= end && end <= latest,
      s"invalid change-feed range [$startVersion, $end] (latest=$latest)")
    val (commits, _) = logFiles(spark, tablePath)
    val frames = (startVersion to end).flatMap { v =>
      val path = commits.getOrElse(v, throw new IllegalArgumentException(
        s"commit $v is missing from the log at $tablePath " +
          "(removed by metadata retention?)"))
      var ts = 0L
      val cdc = Seq.newBuilder[AddFile]
      val addsDC = Seq.newBuilder[AddFile]
      val removesDC = Seq.newBuilder[String]
      readLines(spark, path).foreach { line =>
        val n = mapper.readTree(line)
        Option(n.get("commitInfo")).flatMap(ci => Option(ci.get("timestamp")))
          .foreach(t => ts = t.asLong)
        Option(n.get("cdc")).foreach { a =>
          cdc += AddFile(TableFiles.fromLogPath(a.get("path").asText), partitionValuesOf(a))
        }
        Option(n.get("add")).foreach { a =>
          if (Option(a.get("dataChange")).forall(_.asBoolean))
            addsDC += AddFile(TableFiles.fromLogPath(a.get("path").asText),
              partitionValuesOf(a), dvFromJson(a))
        }
        Option(n.get("remove")).foreach { r =>
          if (Option(r.get("dataChange")).forall(_.asBoolean))
            removesDC += TableFiles.fromLogPath(r.get("path").asText)
        }
      }
      val (cdcF, addF, rmF) = (cdc.result(), addsDC.result(), removesDC.result())
      if (cdcF.isEmpty && addF.isEmpty && rmF.isEmpty) None
      else {
        val snap = snapshot(spark, tablePath, Some(v))
        val base =
          if (cdcF.nonEmpty) scanCdcFiles(spark, tablePath, snap, cdcF)
          else if (rmF.isEmpty) {
            val prev =
              if (v == 0) Set.empty[String]
              else snapshot(spark, tablePath, Some(v - 1)).files
                .map(_.path).toSet
            if (addF.exists(a =>
                prev.contains(a.path) || a.deletionVector.isDefined))
              throw new UnsupportedDeltaFeatureException(
                s"version $v of $tablePath rewrites live files without " +
                  "cdc actions — change data feed was not enabled when " +
                  "it committed")
            scanFiles(spark, tablePath, snap, addF)
              .withColumn("_change_type", lit("insert"))
          } else if (addF.isEmpty) {
            val prev = snapshot(spark, tablePath, Some(v - 1))
            val rmSet = rmF.toSet
            scanFiles(spark, tablePath, prev,
                prev.files.filter(f => rmSet.contains(f.path)))
              .withColumn("_change_type", lit("delete"))
          } else throw new UnsupportedDeltaFeatureException(
            s"version $v of $tablePath mixes adds and removes without " +
              "cdc actions — change data feed was not enabled when it " +
              "committed")
        Some(base
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp", lit(new java.sql.Timestamp(ts))))
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        val snap = snapshot(spark, tablePath, Some(end))
        val schema = StructType(snap.schema.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_version", LongType),
          StructField("_commit_timestamp", TimestampType)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
  }

  /** Scan of one commit's `_change_data/` files: like [[scanFiles]]
    * (physical-name resolution, partition re-attachment from the cdc
    * action's `partitionValues`) plus the stored `_change_type` column;
    * change files never carry deletion vectors. */
  private def scanCdcFiles(spark: SparkSession, tablePath: String,
      snap: Snapshot, files: Seq[AddFile]): DataFrame = {
    val physOf = physicalNames(snap)
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      f.copy(name = physOf(f.name))) :+
      StructField("_change_type", StringType, nullable = true))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = TableFiles.locateAll(fs, root, files)(_.path)
    var df = spark.read.schema(dataSchema).parquet(qualified.map(_._1): _*)
    if (snap.partitionColumns.nonEmpty) {
      df = df.withColumn("__file", TableFiles.fileName)
      val manifestSchema = StructType(
        StructField("__file", StringType, nullable = false) +:
          snap.partitionColumns.map(c =>
            StructField(c, StringType, nullable = true)))
      val manifestRows = qualified.map { case (uri, f) =>
        Row.fromSeq(uri +: snap.partitionColumns.map { c =>
          f.partitionValues.get(physOf(c))
            .orElse(f.partitionValues.get(c)).flatten.orNull
        })
      }
      val manifest = spark.createDataFrame(
        spark.sparkContext.parallelize(manifestRows, 1), manifestSchema)
      df = df.join(broadcast(manifest), Seq("__file"), "left")
    }
    df.select((snap.schema.fields.map { f =>
      if (snap.partitionColumns.contains(f.name))
        col(f.name).cast(f.dataType).as(f.name)
      else col(physOf(f.name)).as(f.name)
    } :+ col("_change_type")).toSeq: _*)
  }

  /** `partitionValues` of an `add`/`cdc` action node. */
  private def partitionValuesOf(a: JsonNode): Map[String, Option[String]] =
    Option(a.get("partitionValues")).map { o =>
      val it = o.fields()
      val b = Map.newBuilder[String, Option[String]]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> (if (e.getValue.isNull) None
          else Some(e.getValue.asText))
      }
      b.result()
    }.getOrElse(Map.empty)

  /** Keep-if-maybe-match per file: partition columns decide from the
    * log's `partitionValues`; data columns from the add's `stats`
    * min/max (when the writer recorded them); unknown columns or
    * missing stats keep the file. */
  private def fileMayMatch(snap: Snapshot, physOf: Map[String, String],
      f: AddFile, filters: Seq[ScanFilter]): Boolean = {
    lazy val statsNode = f.stats.flatMap { s =>
      try Option(mapper.readTree(s)) catch { case _: Exception => None }
    }
    filters.forall { fl =>
      snap.schema.fields.find(_.name == fl.column) match {
        case None => true
        case Some(field) if snap.partitionColumns.contains(fl.column) =>
          val raw = f.partitionValues.get(physOf(fl.column))
            .orElse(f.partitionValues.get(fl.column)).flatten.orNull
          ScanFilters.constantMayMatch(field.dataType, raw, fl)
        case Some(field) =>
          statsNode match {
            case None => true
            case Some(st) =>
              val phys = physOf(fl.column)
              def section(name: String): Option[JsonNode] =
                Option(st.get(name)).flatMap(o =>
                  Option(o.get(phys)).orElse(Option(o.get(fl.column))))
                  .filterNot(_.isNull)
              def bound(name: String): Option[Any] = section(name)
                .map(n => if (n.isNumber) BigDecimal(n.asText) else n.asText)
              // Delta Spark floors timestamp bounds to the millisecond,
              // so a max covers values up to 999 µs above it
              val max = field.dataType match {
                case TimestampType | TimestampNTZType =>
                  bound("maxValues").flatMap(ScanFilters.toComparable(field.dataType, _))
                    .collect { case m: BigDecimal => m + 999 }
                case _ => bound("maxValues")
              }
              // nullness ops decide from the stats' per-column
              // nullCount against numRecords; everything else from the
              // min/max interval
              ScanFilters.nullCountMayMatch(
                section("nullCount").map(_.asLong),
                Option(st.get("numRecords")).filterNot(_.isNull)
                  .map(_.asLong), fl) &&
                ScanFilters.intervalMayMatch(field.dataType,
                  bound("minValues"), max, fl)
          }
      }
    }
  }

  /** Commit history (newest first) from the commitInfo actions. */
  def history(spark: SparkSession, tablePath: String): Seq[Commit] = {
    val (commits, _) = logFiles(spark, tablePath)
    commits.toSeq.sortBy(-_._1).map { case (v, path) =>
      val info = readLines(spark, path)
        .map(mapper.readTree).flatMap(n => Option(n.get("commitInfo")))
        .headOption
      Commit(v,
        info.flatMap(i => Option(i.get("timestamp"))).map(_.asLong).getOrElse(0L),
        info.flatMap(i => Option(i.get("operation"))).map(_.asText)
          .getOrElse("UNKNOWN"))
    }
  }

  // ---- protocol / column mapping / deletion vectors ----------------------

  private def checkProtocol(p: Protocol, tablePath: String): Unit = {
    if (p.minReaderVersion > 3)
      throw new UnsupportedDeltaFeatureException(
        s"$tablePath requires Delta reader version ${p.minReaderVersion}; " +
          "this reader supports up to 3")
    if (p.minReaderVersion == 3) {
      val unsupported = p.readerFeatures -- SupportedReaderFeatures
      if (unsupported.nonEmpty)
        throw new UnsupportedDeltaFeatureException(
          s"$tablePath requires reader features " +
            s"${unsupported.toSeq.sorted.mkString(", ")} not supported here " +
            s"(supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
    }
  }

  /** logical column name → physical (parquet) column name. Identity
    * unless `delta.columnMapping.mode` is `name`/`id`, in which case the
    * schema's `delta.columnMapping.physicalName` metadata — written by
    * Delta in both modes — names the parquet columns. */
  private[io] def physicalNames(snap: Snapshot): Map[String, String] = {
    val mode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    snap.schema.fields.map { f =>
      val phys =
        if (mode == "none" || mode.isEmpty) f.name
        else if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      f.name -> phys
    }.toMap
  }

  /** physical column name → columnMapping id, for stamping parquet field
    * ids on writes to a mapped table (what a `mode=id` reader resolves
    * by). Empty when the table is unmapped. */
  private[io] def mappingFieldIds(snap: Snapshot): Map[String, Long] = {
    val phys = physicalNames(snap)
    snap.schema.fields.flatMap { f =>
      if (f.metadata.contains("delta.columnMapping.id"))
        Some(phys(f.name) -> f.metadata.getLong("delta.columnMapping.id"))
      else None
    }.toMap
  }

  /** The deletion vectors of `qualified` files, keyed as
    * [[TableFiles.fileName]] spells each file's rows. */
  private def deletionVectors(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      qualified: Seq[(String, AddFile)]): Map[String, TableFiles.DeletionVector] = {
    lazy val qualifiedRoot = fs.makeQualified(root).toString
    qualified.flatMap { case (uri, f) =>
      f.deletionVector.map(dv => uri -> DeltaDeletionVectors.Vector(qualifiedRoot, dv))
    }.toMap
  }

  private def dvFromRow(a: Row): Option[DeltaDeletionVectors.Descriptor] =
    if (!a.schema.fieldNames.contains("deletionVector")) None
    else Option(a.getAs[Row]("deletionVector")).map { d =>
      def num(f: String): Option[Number] =
        if (!d.schema.fieldNames.contains(f)) None
        else Option(d.getAs[Number](f))
      DeltaDeletionVectors.Descriptor(
        d.getAs[String]("storageType"), d.getAs[String]("pathOrInlineDv"),
        num("offset").map(_.intValue),
        num("sizeInBytes").map(_.intValue).getOrElse(0),
        num("cardinality").map(_.longValue).getOrElse(-1L))
    }

  private def dvFromJson(a: JsonNode): Option[DeltaDeletionVectors.Descriptor] =
    Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
      DeltaDeletionVectors.Descriptor(
        d.get("storageType").asText, d.get("pathOrInlineDv").asText,
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt),
        Option(d.get("sizeInBytes")).map(_.asInt).getOrElse(0),
        Option(d.get("cardinality")).map(_.asLong).getOrElse(-1L))
    }

  // ---- log plumbing ------------------------------------------------------

  private def parseSchema(schemaString: String): StructType =
    DataType.fromJson(schemaString).asInstanceOf[StructType]

  /** (version → commit json path, version → checkpoint ref). Multi-part
    * checkpoints (`N.checkpoint.i.of.n.parquet` in the `%010d` forms the
    * protocol prescribes) are grouped by version and admitted only when
    * all `n` parts are present — a torn multi-part write never
    * half-replays. V2 checkpoints are the uuid-named
    * `N.checkpoint.<uuid>.{parquet|json}` manifests (sidecar presence is
    * validated at replay time); at a version carrying both forms the V2
    * manifest wins. */
  private def logFiles(spark: SparkSession, tablePath: String)
      : (Map[Long, String], Map[Long, CkptRef]) = {
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return (Map.empty, Map.empty)
    val entries = fs.listStatus(logDir).map(_.getPath)
    val commits = entries.collect {
      case p if CommitFile.matches(p.getName) =>
        p.getName.stripSuffix(".json").toLong -> p.toString
    }.toMap
    val singleParts = entries.collect {
      case p if CheckpointFile.matches(p.getName) =>
        p.getName.stripSuffix(".checkpoint.parquet").toLong ->
          (PartsCkpt(Seq(p.toString)): CkptRef)
    }.toMap
    val multiParts = entries.flatMap { p =>
      p.getName match {
        case MultiPartCheckpointFile(v, i, n) =>
          Some((v.toLong, i.toInt, n.toInt, p.toString))
        case _ => None
      }
    }.groupBy(t => (t._1, t._3)).collect {
      case ((v, n), parts) if parts.map(_._2).toSet == (1 to n).toSet =>
        v -> (PartsCkpt(parts.sortBy(_._2).map(_._4).toSeq): CkptRef)
    }
    val v2 = entries.flatMap { p =>
      p.getName match {
        case V2CheckpointFile(v, _, fmt) =>
          Some(v.toLong -> (V2Ckpt(p.toString, fmt == "json"): CkptRef))
        case _ => None
      }
    }.toMap
    (commits, singleParts ++ multiParts ++ v2)
  }

  /** The commitInfo action's `timestamp` from a commit file, reading as
    * few lines as possible: the scan stops at the FIRST `commitInfo`
    * line (with or without a timestamp). Returns (timestamp, lines
    * scanned) — the count exists so a spec can pin the O(1)-lines
    * behavior on commitInfo-first logs. */
  private[graft] def commitInfoTimestamp(fs: org.apache.hadoop.fs.FileSystem,
      path: String): (Option[Long], Long) = {
    val in = fs.open(new Path(path))
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8"))
    try {
      var scanned = 0L
      var line = reader.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          scanned += 1
          val n = mapper.readTree(line)
          if (n.has("commitInfo")) {
            val ci = n.get("commitInfo")
            // In-Commit Timestamps (PROTOCOL.md): when present, the
            // inCommitTimestamp is authoritative for time ordering —
            // writers maintain it monotonically, unlike wall clocks
            val ts =
              if (ci.has("inCommitTimestamp"))
                Some(ci.get("inCommitTimestamp").asLong)
              else if (ci.has("timestamp")) Some(ci.get("timestamp").asLong)
              else None
            return (ts, scanned)
          }
        }
        line = reader.readLine()
      }
      (None, scanned)
    } finally reader.close()
  }

  /** The sidecar files a V2 checkpoint manifest names (spec `sidecar`
    * actions), resolved the same way replay resolves them (absolute
    * kept, relative under `_delta_log/_sidecars`). The metadata
    * retention sweep protects these for every retained manifest. */
  private[io] def sidecarPaths(spark: SparkSession, tablePath: String,
      manifestPath: String): Seq[String] = {
    val refs: Seq[String] =
      if (manifestPath.endsWith(".json"))
        readLines(spark, manifestPath).flatMap { line =>
          Option(mapper.readTree(line).get("sidecar"))
            .map(_.get("path").asText)
        }
      else {
        val df = spark.read.parquet(manifestPath)
        if (!df.columns.contains("sidecar")) Nil
        else df.select(col("sidecar.path")).collect()
          .flatMap(r => Option(r.getString(0))).toSeq
      }
    val sidecarDir = new Path(new Path(tablePath, "_delta_log"), "_sidecars")
    refs.map { p =>
      if (p.startsWith("/") || p.contains("://")) new Path(p)
      else new Path(sidecarDir, p)
    }.map(_.toString)
  }

  private def readLines(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.linesIterator.filter(_.trim.nonEmpty).toSeq
  }
}
