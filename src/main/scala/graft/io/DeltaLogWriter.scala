package graft.io

import java.util.UUID
import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.session.Jobs

/** Writes REAL Delta Lake tables — the format counterpart of
  * [[DeltaLogReader]], covering the reference's `s3.to_deltalake`
  * (`s3/_write_deltalake.py:51-226`), which emits tables ANY Delta reader
  * can open. The protocol is public (delta.io PROTOCOL.md) and is plain
  * files, so no format jar is needed:
  *
  *  - data files are ordinary parquet written by Spark into the table
  *    (partition directories for partitioned tables), staged under a
  *    dot-prefixed dir and renamed in — Delta readers only trust the log,
  *    so files are invisible until the commit lands;
  *  - each commit is `_delta_log/<20-digit>.json`, one JSON action per
  *    line: `commitInfo`, `protocol` + `metaData` (first commit or schema
  *    change), `remove` for files leaving the snapshot, `add` with
  *    `partitionValues` per file entering it;
  *  - the commit file is claimed with create-exclusive; a losing writer
  *    re-reads the log and retries at the next version (optimistic
  *    concurrency, same loop every Delta writer runs);
  *  - every 10th version also writes `<v>.checkpoint.parquet` (a single
  *    parquet FILE holding the replayed snapshot state) plus
  *    `_last_checkpoint`, so readers replay checkpoint + tail instead of
  *    O(commits) JSON files.
  *
  * Scale: the log write is metadata-scale (one driver-side JSON line per
  * file); the data write is a normal distributed parquet job. MERGE is
  * partition-granular on partitioned tables — only partitions containing
  * matched keys or incoming rows are rewritten, everything else keeps its
  * existing files (the same touched-partition pruning
  * [[graft.table.TxnLog]] does natively).
  */
object DeltaLogWriter {

  private val mapper = new ObjectMapper()

  final case class Committed(version: Long, numFiles: Int)

  /** `to_deltalake(df, path, mode=…)` in the real format.
    *
    * Appends evolve additively by default (the reference's
    * `schema_evolution=True` dataset-write semantics): new incoming
    * columns widen the table via a `metaData` action carrying the merged
    * schema — old files read them as null because [[DeltaLogReader]]
    * scans with the snapshot schema. Retyping a column, or appending
    * without a non-nullable table column, still raises (see
    * [[SchemaMerge.mergeAppend]]). The merged schema — never the bare
    * incoming one — is what commits, so a subset-column append can no
    * longer narrow the table's declared schema. */
  def write(df: DataFrame, tablePath: String, mode: String = "append",
      partitionBy: Seq[String] = Nil,
      schemaEvolution: Boolean = true,
      txn: Option[(String, Long)] = None): Committed = {
    val spark = df.sparkSession
    val latest = DeltaLogReader.latestVersion(spark, tablePath)
    val exists = latest >= 0
    mode match {
      case "append" | "overwrite" => ()
      case "error" | "errorifexists" =>
        if (exists) throw new IllegalArgumentException(
          s"Delta table already exists at $tablePath")
      case other =>
        throw new IllegalArgumentException(s"unsupported mode: $other")
    }
    val prior = if (exists) Some(DeltaLogReader.snapshot(spark, tablePath)) else None
    // SetTransaction idempotency (PROTOCOL.md "Transaction
    // Identifiers"): a (appId, version) at or below the table's
    // recorded watermark has ALREADY committed — a retried micro-batch
    // or replayed job skips instead of double-writing. Re-validated
    // inside commitLoop on claim conflicts (the check-then-act race).
    txn.foreach { case (appId, v) =>
      if (prior.exists(_.transactions.get(appId).exists(_ >= v)))
        return Committed(latest, 0)
    }
    val partCols =
      prior.map(_.partitionColumns).filter(_.nonEmpty).getOrElse(partitionBy)
    var outSchema = df.schema
    prior.foreach { s =>
      if (partitionBy.nonEmpty && s.partitionColumns != partitionBy)
        throw new IllegalArgumentException(
          s"partitionBy ${partitionBy.mkString(",")} != table's ${s.partitionColumns.mkString(",")}")
      if (mode == "append") {
        // promote=false: classic Delta has no type-widening feature, so
        // a WIDER incoming type raises; a narrower one up-casts below
        outSchema = SchemaMerge.mergeAppend(s.schema, df.schema,
          evolve = schemaEvolution)
      }
    }
    var outConfig = prior.map(_.configuration).getOrElse(Map.empty)
    // evolving a column-mapped table: every NEW field needs a fresh
    // columnMapping id + physical name (protocol contract — resolving a
    // mapped column by its logical name is not allowed), and the
    // table's maxColumnId high-water mark advances
    if (prior.exists(s => SchemaMerge.isColumnMapped(s.schema))) {
      var maxId = math.max(
        outConfig.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(0L),
        outSchema.fields.flatMap(f =>
          if (f.metadata.contains("delta.columnMapping.id"))
            Some(f.metadata.getLong("delta.columnMapping.id"))
          else None).foldLeft(0L)(math.max))
      outSchema = StructType(outSchema.fields.map { f =>
        if (f.metadata.contains("delta.columnMapping.id")) f
        else {
          maxId += 1
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", maxId)
            .putString("delta.columnMapping.physicalName",
              s"col-${UUID.randomUUID()}")
            .build())
        }
      })
      outConfig += ("delta.columnMapping.maxColumnId" -> maxId.toString)
    }
    // physical files always carry the table's current type (narrower
    // incoming columns are cast up), so readers never need
    // parquet-level type widening
    val aligned =
      if (prior.isDefined && mode == "append") SchemaMerge.alignTo(df, outSchema)
      else df
    val mappedSnap = prior.map(s => s.copy(schema = outSchema))
    val physOf = mappedSnap.map(DeltaLogReader.physicalNames)
      .getOrElse(Map.empty)
    val fieldIds = mappedSnap.map(DeltaLogReader.mappingFieldIds)
      .getOrElse(Map.empty)
    // CDF on overwrite: every prior live row is a `delete` change and
    // every incoming row an `insert` — a mixed add/remove commit cannot
    // be derived from its actions, so the change file is mandatory.
    // Appends need none: their add actions ARE the insert changes.
    if (mode == "overwrite")
      prior.filter(_.files.nonEmpty)
        .foreach(enforceAppendOnly(_, "overwrite"))
    prior.foreach(s => enforceConstraints(Some(s), aligned, "write"))
    // the change-file write and the data write are independent jobs —
    // overlap them when CDF demands both
    val (adds, cdc) =
      if (mode != "overwrite" || !prior.exists(cdfEnabled))
        (writeDataFiles(aligned, tablePath, partCols, physOf, fieldIds),
          Nil)
      else Jobs.concurrently(
        writeDataFiles(aligned, tablePath, partCols, physOf, fieldIds), {
          val old = DeltaLogReader.read(spark, tablePath)
            .withColumn("_change_type", lit("delete"))
          val neu = aligned.withColumn("_change_type", lit("insert"))
          cdcLines(writeDataFiles(
            old.unionByName(neu, allowMissingColumns = true),
            tablePath, partCols, physOf, fieldIds,
            destPrefix = "_change_data"))
        })
    val removes =
      if (mode == "overwrite") prior.map(_.files.map(_.path)).getOrElse(Nil)
      else Nil
    val schemaChanged = prior.forall(_.schema.json != outSchema.json)
    val txnLines = txn.toSeq.map { case (appId, v) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$v,"lastUpdated":${System.currentTimeMillis()}}}"""
    }
    commitLoop(spark, tablePath, outSchema, partCols, adds, removes,
      if (exists) "WRITE" else "CREATE TABLE AS SELECT",
      emitMeta = schemaChanged, config = outConfig,
      extraActions = cdc ++ txnLines,
      priorConfig = Some(outConfig),
      skipIfTxnCommitted = txn.map { case (a, v) => (a, v, latest) })
  }

  /** The table's recorded SetTransaction watermark for `appId` — what
    * an idempotent writer consults (delta-spark's
    * `txnVersion`/`txnAppId` options; PROTOCOL.md "Transaction
    * Identifiers"). Survives checkpointing and log cleanup: the
    * checkpoint carries one `txn` row per live appId. */
  def lastTransactionVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] =
    if (DeltaLogReader.latestVersion(spark, tablePath) < 0) None
    else DeltaLogReader.snapshot(spark, tablePath).transactions.get(appId)

  /** Change Data Feed enablement (PROTOCOL.md "Change Data Files" /
    * `delta.enableChangeDataFeed`): a metadata-only commit that sets the
    * table property and MERGES the `changeDataFeed` writer feature into
    * the protocol (legacy tables upgrade to minWriterVersion 4, whose
    * implicit feature set includes it; feature-range tables append to
    * `writerFeatures`). From this commit on, MERGE / DELETE / overwrite
    * record their row-level changes as parquet under `_change_data/`
    * committed via `cdc` actions, and [[DeltaLogReader.changes]] serves
    * them back. Appends need no cdc files — their `add` actions ARE the
    * insert changes, per spec. */
  def enableChangeDataFeed(spark: SparkSession,
      tablePath: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    if (cdfEnabled(snap)) return Committed(snap.version, 0)
    val config = snap.configuration + ("delta.enableChangeDataFeed" -> "true")
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "SET TBLPROPERTIES", emitMeta = true,
      extraActions = writerFeatureUpgrade(snap.protocol, "changeDataFeed", 4),
      dataChange = false, config = config)
  }

  // ---- CHECK constraints + append-only (PROTOCOL.md "CHECK Constraints"
  // and `delta.appendOnly`) -----------------------------------------------

  /** `ALTER TABLE ADD CONSTRAINT` (writer feature `checkConstraints`,
    * legacy minWriterVersion 3): the constraint is stored as
    * `delta.constraints.<name>` in the table configuration and every
    * later row-adding commit verifies it (SQL CHECK semantics: a NULL
    * result satisfies, only FALSE violates). EXISTING rows are validated
    * first — the scan stops at the first violation (`limit(1)`), and the
    * violating row is named in the error. */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
      name: String, exprSql: String): Committed = {
    require(name.matches("[a-zA-Z0-9_]+"),
      s"constraint name '$name' must be alphanumeric/underscore")
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(!snap.configuration.contains(key),
      s"constraint $name already exists on $tablePath")
    val bad = DeltaLogReader.read(spark, tablePath)
      .filter(violationFilter(exprSql)).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot add CHECK constraint $name ($exprSql): existing row " +
          s"violates it: ${bad.head}")
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "ADD CONSTRAINT", emitMeta = true,
      extraActions =
        writerFeatureUpgrade(snap.protocol, "checkConstraints", 3),
      dataChange = false,
      config = snap.configuration + (key -> exprSql))
  }

  /** `ALTER TABLE DROP CONSTRAINT`. */
  def dropCheckConstraint(spark: SparkSession, tablePath: String,
      name: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val key = s"delta.constraints.${name.toLowerCase}"
    require(snap.configuration.contains(key),
      s"no constraint $name on $tablePath")
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "DROP CONSTRAINT", emitMeta = true,
      dataChange = false, config = snap.configuration - key)
  }

  /** `delta.appendOnly` (writer feature `appendOnly`, legacy
    * minWriterVersion 2): once set, commits that remove live data —
    * overwrite, MERGE, DELETE, RESTORE — raise; appends and
    * `dataChange=false` maintenance (OPTIMIZE) stay allowed, per spec. */
  def setAppendOnly(spark: SparkSession, tablePath: String,
      enabled: Boolean = true): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "SET TBLPROPERTIES", emitMeta = true,
      extraActions =
        if (enabled) writerFeatureUpgrade(snap.protocol, "appendOnly", 2)
        else Nil,
      dataChange = false,
      config = snap.configuration + ("delta.appendOnly" -> enabled.toString))
  }

  /** In-Commit Timestamps enablement (PROTOCOL.md "In-Commit
    * Timestamps", writer feature `inCommitTimestamp`): from this commit
    * on, every commitInfo carries a monotonically increasing
    * `inCommitTimestamp` (max(now, prev + 1)) which timestamp-based
    * time travel prefers over wall clocks — cross-writer clock skew can
    * no longer reorder history. The enablement commit records
    * `delta.inCommitTimestampEnablementVersion`/`...Timestamp`. */
  def enableInCommitTimestamps(spark: SparkSession,
      tablePath: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    if (snap.configuration.get("delta.enableInCommitTimestamps")
        .contains("true"))
      return Committed(snap.version, 0)
    val upgrade = writerFeaturesUpgrade(snap.protocol,
      Set("inCommitTimestamp"), None)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "SET TBLPROPERTIES", emitMeta = true,
      extraActions = upgrade, dataChange = false,
      config = snap.configuration +
        ("delta.enableInCommitTimestamps" -> "true"),
      priorConfig = Some(snap.configuration))
  }

  /** Row Tracking enablement (PROTOCOL.md "Row Tracking", writer
    * features `rowTracking` + `domainMetadata`): from this commit on,
    * every committed add is assigned a `baseRowId` range above the
    * `delta.rowTracking` high watermark and stamps its
    * `defaultRowCommitVersion`; [[DeltaLogReader.readWithRowIds]]
    * serves `_row_id` = baseRowId + physical row index — stable under
    * appends and under deletion-vector deletes. Pre-enablement files
    * surface null ids until rewritten (no backfill, per spec).
    * `rowTracking` has no legacy writer version, so enablement always
    * lands the table in the feature range (minWriterVersion 7) with the
    * legacy-implied features enumerated. */
  def enableRowTracking(spark: SparkSession,
      tablePath: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    if (snap.configuration.get("delta.enableRowTracking").contains("true"))
      return Committed(snap.version, 0)
    val upgrade = writerFeaturesUpgrade(snap.protocol,
      Set("rowTracking", "domainMetadata"), None)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "SET TBLPROPERTIES", emitMeta = true,
      extraActions = upgrade, dataChange = false,
      config = snap.configuration +
        ("delta.enableRowTracking" -> "true") +
        ("delta.rowTracking.materializedRowIdColumnName" ->
          s"_row-id-col-${UUID.randomUUID()}") +
        ("delta.rowTracking.materializedRowCommitVersionColumnName" ->
          s"_row-commit-version-col-${UUID.randomUUID()}"))
  }

  /** Protocol action (if any) merging `feature` into the writer feature
    * set: feature-range tables (minWriterVersion 7) append to
    * `writerFeatures`; legacy tables upgrade to `legacyVersion`, whose
    * implicit feature set includes it. The existing sets are MERGED,
    * never replaced: dropping a feature the table already declares
    * would downgrade its protocol. */
  private[graft] def writerFeatureUpgrade(p: DeltaLogReader.Protocol,
      feature: String, legacyVersion: Int): Seq[String] =
    writerFeaturesUpgrade(p, Set(feature), Some(legacyVersion))

  /** The protocol action merging the reader+writer feature `feature`
    * into `p`: always minReaderVersion 3 / minWriterVersion 7. The
    * existing sets are MERGED — a feature-range table keeps every
    * feature it declares (columnMapping, timestampNtz, …), and a legacy
    * version's implied features are enumerated as it crosses into the
    * feature range — because replacing them would drop capabilities
    * later gated reads depend on. Callers decide whether `p` needs it. */
  private[graft] def readerWriterFeatureUpgrade(p: DeltaLogReader.Protocol,
      feature: String): String = {
    val readerFeats = ((if (p.minReaderVersion >= 3) p.readerFeatures
                        else legacyReaderFeatures(p.minReaderVersion)) +
      feature).toSeq.sorted
    val writerFeats = ((if (p.minWriterVersion >= 7) p.writerFeatures
                        else legacyWriterFeatures(p.minWriterVersion)) +
      feature).toSeq.sorted
    s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":${jarr(readerFeats)},"writerFeatures":${jarr(writerFeats)}}}"""
  }

  /** Generalized form: merge `features` into the writer feature set.
    * `legacyVersion` = a pre-feature writer version that implies them
    * all (no protocol change needed at or above it); None = the
    * features exist only in the feature range, so the table always
    * lands on minWriterVersion 7 with the legacy-implied features
    * enumerated. */
  private def writerFeaturesUpgrade(p: DeltaLogReader.Protocol,
      features: Set[String], legacyVersion: Option[Int]): Seq[String] = {
    val readerPart =
      if (p.minReaderVersion >= 3)
        s""","readerFeatures":${jarr(p.readerFeatures.toSeq.sorted)}"""
      else ""
    if (p.minWriterVersion >= 7) {
      if (features.subsetOf(p.writerFeatures)) Nil
      else {
        val writerFeats = (p.writerFeatures ++ features).toSeq.sorted
        Seq(s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},"minWriterVersion":7$readerPart,"writerFeatures":${jarr(writerFeats)}}}""")
      }
    } else if (legacyVersion.exists(p.minWriterVersion >= _)) Nil
    else legacyVersion match {
      case Some(lv) =>
        Seq(s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},"minWriterVersion":$lv}}""")
      case None =>
        val writerFeats =
          (legacyWriterFeatures(p.minWriterVersion) ++ features).toSeq.sorted
        Seq(s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},"minWriterVersion":7$readerPart,"writerFeatures":${jarr(writerFeats)}}}""")
    }
  }

  private def violationFilter(exprSql: String): org.apache.spark.sql.Column =
    !org.apache.spark.sql.functions.coalesce(
      org.apache.spark.sql.functions.expr(exprSql), lit(true))

  /** Verify incoming rows against every `delta.constraints.*` — one
    * short-circuiting pass over the batch (the per-row validation cost
    * every engine pays on constrained tables). */
  private def enforceConstraints(snap: Option[DeltaLogReader.Snapshot],
      df: DataFrame, op: String): Unit =
    snap.map(_.configuration).getOrElse(Map.empty).foreach {
      case (k, sql) if k.startsWith("delta.constraints.") =>
        val bad = df.filter(violationFilter(sql)).limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"$op violates CHECK constraint " +
              s"${k.stripPrefix("delta.constraints.")} ($sql): ${bad.head}")
      case _ => ()
    }

  private def enforceAppendOnly(snap: DeltaLogReader.Snapshot,
      op: String): Unit =
    if (snap.configuration.get("delta.appendOnly").contains("true"))
      throw new UnsupportedOperationException(
        s"$op is not allowed: table is append-only (delta.appendOnly)")

  /** Shallow CLONE (delta-spark's `CREATE TABLE … SHALLOW CLONE`): a
    * NEW table whose add actions reference the SOURCE's data files by
    * ABSOLUTE path — zero bytes copied, one metadata commit. The clone
    * carries the source's schema, configuration, PROTOCOL (feature
    * tables keep their features — dropping them would let a
    * non-DV-aware writer resurrect deleted rows), deletion vectors
    * (`u`-storage descriptors resolve against the SOURCE root, so they
    * convert to absolute `p` storage), stats, and row-tracking state
    * (baseRowIds + the high-watermark domain metadata). After the
    * clone the tables evolve independently: the clone's vacuum lists
    * only ITS tree, so source files are never swept by clone
    * maintenance. At 100 TB a clone is the difference between an
    * instant dev/test fork and a day-long copy. */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, srcPath)
    require(DeltaLogReader.latestVersion(spark, dstPath) < 0,
      s"Delta table already exists at $dstPath")
    val srcRoot = new Path(srcPath)
    val fs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualifiedSrc = fs.makeQualified(srcRoot)
    val now = System.currentTimeMillis()
    val adds = snap.files.map { f =>
      // SCHEME-LESS absolute paths (same contract as the migration's
      // registerExternalFiles): a scheme'd string re-parses with a null
      // URI authority, short-circuits makeQualified, and then never
      // compares equal to the qualified path a scan reports — the scan
      // would silently skip DVs and manifest joins. Scheme-less paths
      // re-qualify consistently against the reader's filesystem (clone
      // and source must share one filesystem, as with any shallow clone).
      val abs = fs.makeQualified(new Path(srcRoot, f.path)).toUri.getPath
      val dv = f.deletionVector.map { d =>
        if (d.storageType == "i") d
        else d.copy(storageType = "p",
          pathOrInlineDv = fs.makeQualified(DeltaDeletionVectors
            .sidecarPath(qualifiedSrc, d)).toUri.getPath)
      }
      // size/mtime are protocol-required — a degenerate source entry
      // (size 0) resolves its REAL values by statting against the
      // clone SOURCE root, the same honesty rule as checkpoint/RESTORE
      val (sz, mt) = realSizeMtime(spark, srcPath, f)
      AddEntry(abs, f.partitionValues,
        sz, if (mt > 0L) mt else now, dv, f.stats,
        f.baseRowId, f.defaultRowCommitVersion)
    }
    val p = snap.protocol
    val protocolLine = {
      val rf =
        if (p.minReaderVersion >= 3)
          s""","readerFeatures":${jarr(p.readerFeatures.toSeq.sorted)}"""
        else ""
      val wf =
        if (p.minWriterVersion >= 7)
          s""","writerFeatures":${jarr(p.writerFeatures.toSeq.sorted)}"""
        else ""
      s"""{"protocol":{"minReaderVersion":${p.minReaderVersion},"minWriterVersion":${p.minWriterVersion}$rf$wf}}"""
    }
    val domainLines = snap.domainMetadata.toSeq.sorted.map { case (dom, cfg) =>
      s"""{"domainMetadata":{"domain":${jstr(dom)},"configuration":${jstr(cfg)},"removed":false}}"""
    }
    commitLoop(spark, dstPath, snap.schema, snap.partitionColumns,
      adds, removes = Nil, "CLONE", emitMeta = true,
      extraActions = protocolLine +: domainLines,
      config = snap.configuration,
      priorConfig = Some(Map.empty),
      // row-tracking state is CLONED verbatim (ids + high watermark);
      // re-assigning here would collide with the preserved ranges
      assignRowIds = false)
  }

  /** Register EXISTING parquet as a NEW Delta table without rewriting a
    * byte — the Iceberg→Delta migration path ([[TableMigration]]).
    * Absolute add-action paths are explicitly allowed by the protocol;
    * readers, vacuum, and DV deletes all resolve them. */
  def registerExternalFiles(spark: SparkSession, tablePath: String,
      schema: StructType, partCols: Seq[String],
      files: Seq[(String, Map[String, Option[String]], Long)]): Committed = {
    require(files.nonEmpty, "no files to register")
    require(DeltaLogReader.latestVersion(spark, tablePath) < 0,
      s"Delta table already exists at $tablePath")
    val now = System.currentTimeMillis()
    val adds = files.map { case (p, pv, size) =>
      // size is protocol-required: a zero-byte registration stats the
      // real file instead of fabricating a byte (same realSizeMtime
      // fallback as RESTORE/checkpoints/clone; an unstat-able entry
      // carries its recorded value unchanged)
      val (sz, mt) =
        if (size > 0L) (size, now)
        else realSizeMtime(spark, tablePath,
          DeltaLogReader.AddFile(p, pv, None, 0L, 0L))
      AddEntry(p, pv, sz, if (mt > 0L) mt else now)
    }
    commitLoop(spark, tablePath, schema, partCols, adds, removes = Nil,
      "CONVERT", emitMeta = true)
  }

  /** delta-spark's RESTORE: re-commit an earlier version's state as a
    * NEW version — time travel that moves the table FORWARD; history is
    * never rewritten, so concurrent readers and time travel to the
    * intermediate versions keep working. File-level diff, metadata-only
    * cost: files present only in the current snapshot are removed,
    * files present only in the target (or whose deletion vector
    * differs) are re-added with their DVs and stats — no data file is
    * read or written. A schema change restores the TARGET's schema via
    * a metaData action (the current configuration is kept — table
    * features like CDF enablement survive the restore); restoring
    * across a column-mapping upgrade is refused because the pre-upgrade
    * schema cannot resolve the mapped physical names. The restore
    * commit mixes adds and removes, so a change-feed read across it
    * raises (the documented loud contract) — feed consumers resume
    * from the restore version. */
  /** The add action's `size`/`modificationTime` are protocol-required;
    * entries replayed from logs that omitted them read back as 0 —
    * resolve the REAL values by statting the data file rather than
    * fabricating a 1-byte size (one stat per degenerate entry only,
    * never per file; the same honesty rule as shallow CLONE's sizes). */
  private def realSizeMtime(spark: SparkSession, tablePath: String,
      f: DeltaLogReader.AddFile): (Long, Long) =
    if (f.size > 0L && f.modificationTime > 0L) (f.size, f.modificationTime)
    else try {
      val root = new Path(tablePath)
      val st = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(new Path(root, f.path))
      (if (f.size > 0L) f.size else st.getLen,
        if (f.modificationTime > 0L) f.modificationTime
        else st.getModificationTime)
    } catch {
      // the degenerate entry's file is physically absent (vacuumed old
      // version, external registration): carry the RECORDED values
      // unchanged — a checkpoint/restore must not abort over one
      // unstat-able entry, and writing the truth-as-recorded beats
      // fabricating a byte
      case _: java.io.FileNotFoundException =>
        (f.size, f.modificationTime)
    }

  def restore(spark: SparkSession, tablePath: String,
      version: Long): Committed = {
    val cur = DeltaLogReader.snapshot(spark, tablePath)
    enforceAppendOnly(cur, "RESTORE")
    require(version <= cur.version,
      s"cannot restore $tablePath forward to $version (current ${cur.version})")
    if (version == cur.version) return Committed(cur.version, 0)
    val tgt = DeltaLogReader.snapshot(spark, tablePath, Some(version))
    val mapped = cur.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    if (mapped && tgt.schema.fields.exists(f =>
        !f.metadata.contains("delta.columnMapping.physicalName")))
      throw new IllegalArgumentException(
        s"cannot restore $tablePath to $version: the table is column-" +
          "mapped and the target schema predates the mapping — its " +
          "logical names cannot resolve the physical columns")
    def key(f: DeltaLogReader.AddFile) =
      (f.path, f.deletionVector.map(d => (d.pathOrInlineDv, d.cardinality)))
    val tgtPaths = tgt.files.map(_.path).toSet
    val curKeys = cur.files.map(key).toSet
    val removes = cur.files.filterNot(f => tgtPaths.contains(f.path))
      .map(_.path)
    val adds = tgt.files.filterNot(f => curKeys.contains(key(f)))
      .map { f =>
        val (sz, mt) = realSizeMtime(spark, tablePath, f)
        AddEntry(f.path, f.partitionValues, sz, mt, f.deletionVector,
          f.stats, f.baseRowId, f.defaultRowCommitVersion)
      }
    val schemaChanged = tgt.schema.json != cur.schema.json ||
      tgt.partitionColumns != cur.partitionColumns
    commitLoop(spark, tablePath, tgt.schema, tgt.partitionColumns, adds,
      removes, "RESTORE", emitMeta = schemaChanged,
      config = cur.configuration)
  }

  private def cdfEnabled(snap: DeltaLogReader.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true"))

  /** `cdc` action lines for change files staged under `_change_data/`
    * (`dataChange` is always false — change files never alter the
    * snapshot's row set). */
  private def cdcLines(entries: Seq[AddEntry]): Seq[String] =
    entries.map { a =>
      val pv = a.partitionValues.map { case (k, v) =>
        s"${jstr(k)}:${v.map(jstr).getOrElse("null")}"
      }.mkString("{", ",", "}")
      s"""{"cdc":{"path":${jstr(TableFiles.toLogPath(a.path))},"partitionValues":$pv,"size":${a.size},"dataChange":false}}"""
    }

  /** The MERGE change set when CDF is on: matched current rows as
    * `update_preimage`, their replacing source rows as
    * `update_postimage`, unmatched source rows as `insert` — written as
    * table-partitioned parquet under `_change_data/` (a preimage lands
    * in ITS partition, which may differ from the postimage's). */
  private def mergeCdc(cur: DataFrame, srcAligned: DataFrame,
      keys: Seq[String], matchNulls: Boolean, tablePath: String,
      partCols: Seq[String], physOf: Map[String, String],
      fieldIds: Map[String, Long]): Seq[String] = {
    val pre = cur.join(srcAligned,
        TableFiles.keyCond(cur, srcAligned, keys, matchNulls), "left_semi")
      .withColumn("_change_type", lit("update_preimage"))
    val post = srcAligned.join(cur,
        TableFiles.keyCond(srcAligned, cur, keys, matchNulls), "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
    val ins = srcAligned.join(cur,
        TableFiles.keyCond(srcAligned, cur, keys, matchNulls), "left_anti")
      .withColumn("_change_type", lit("insert"))
    cdcLines(writeDataFiles(pre.unionByName(post).unionByName(ins),
      tablePath, partCols, physOf, fieldIds, destPrefix = "_change_data"))
  }

  /** Upsert by key — partition-granular on partitioned tables: only
    * files in partitions where `src` rows land or matched keys live are
    * rewritten ([[TableFiles.planMerge]]); every other file is kept.
    * `beforeCommit` runs once the new files are staged, before the
    * commit claims a version; when it throws, the staged files are
    * deleted and its error propagates with the table unchanged. */
  def merge(spark: SparkSession, tablePath: String, src: DataFrame,
      keys: Seq[String], matchNulls: Boolean = false,
      beforeCommit: () => Unit = () => ()): Committed = {
    val latest = DeltaLogReader.latestVersion(spark, tablePath)
    if (latest < 0) return write(src, tablePath, mode = "error")
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val physOf = DeltaLogReader.physicalNames(snap)
    val fieldIds = DeltaLogReader.mappingFieldIds(snap)
    val srcAligned = src.select(snap.schema.fieldNames.map(col).toSeq: _*)
    enforceAppendOnly(snap, "MERGE")
    enforceConstraints(Some(snap), srcAligned, "MERGE")
    val pcols = snap.partitionColumns
    val (plan, merged) = TableFiles.planMerge(target(spark, tablePath, snap),
      srcAligned, keys, matchNulls)
    // the change-file write and the merged-data write are independent
    // jobs — overlap them; CDF-off tables write the data alone
    val (adds, cdc) =
      if (!cdfEnabled(snap))
        (writeDataFiles(merged, tablePath, pcols, physOf, fieldIds), Nil)
      else Jobs.concurrently(
        writeDataFiles(merged, tablePath, pcols, physOf, fieldIds),
        mergeCdc(plan.touchedScan, srcAligned, keys, matchNulls, tablePath,
          pcols, physOf, fieldIds))
    gate(spark, tablePath, adds, cdc, beforeCommit)
    commitLoop(spark, tablePath, snap.schema, pcols, adds,
      plan.touched.map(_.path), "MERGE", emitMeta = false,
      extraActions = cdc, priorConfig = Some(snap.configuration))
  }

  /** The snapshot as a rewrite target: a file's tuple is its logged
    * partition values (keyed by physical name on a column-mapped
    * table), already in Spark's cast-to-string rendering. */
  private def target(spark: SparkSession, tablePath: String,
      snap: DeltaLogReader.Snapshot): TableFiles.Target[DeltaLogReader.AddFile] = {
    val physOf = DeltaLogReader.physicalNames(snap)
    val pcols = snap.partitionColumns
    TableFiles.Target(snap.files,
      DeltaLogReader.scanFiles(spark, tablePath, snap, _),
      pcols.map(col),
      f => Some(pcols.map(c => f.partitionValues.get(physOf.getOrElse(c, c))
        .orElse(f.partitionValues.get(c)).flatten)))
  }

  /** `to_deltalake_streaming`'s SINGLE-transaction semantics on the REAL
    * format (`s3/_write_deltalake.py:139-226`: the whole run commits as
    * ONE table version). Each micro-batch's parquet files move into the
    * table tree as they finish — invisible, since Delta readers trust
    * only the log — and the accumulated add-actions publish in one
    * commit after the stream drains.
    *
    * Crash safety composes with Spark's checkpoint: `foreachBatch` is
    * not transactional, so a batch recorded in the checkpoint is SKIPPED
    * on restart — its staged files would be silently lost if they lived
    * only in memory. Each batch therefore persists its add-entries to
    * `<checkpoint>/graft-staged-adds/batch-<id>.json` BEFORE returning
    * (i.e. before the checkpoint marks the batch done), and a restart
    * with the same checkpoint recovers those entries into the final
    * commit. A crash before the manifest lands re-runs the batch (its
    * files become unreferenced vacuum-able garbage, never visible rows);
    * a crash between the final commit and staged-dir cleanup re-adds the
    * same already-visible file paths, which replay de-duplicates by
    * path. Runs with `Trigger.AvailableNow` and returns the one commit. */
  def writeStreaming(agg: DataFrame, tablePath: String,
      checkpoint: String): Committed = {
    val spark = agg.sparkSession
    val latest = DeltaLogReader.latestVersion(spark, tablePath)
    val prior =
      if (latest >= 0) Some(DeltaLogReader.snapshot(spark, tablePath)) else None
    prior.foreach(s => SchemaMerge.checkAppendSchema(s.schema, agg.schema))
    val partCols = prior.map(_.partitionColumns).getOrElse(Nil)
    val physOf = prior.map(DeltaLogReader.physicalNames).getOrElse(Map.empty)
    val fieldIds = prior.map(DeltaLogReader.mappingFieldIds)
      .getOrElse(Map.empty)
    val stagedDir = new Path(checkpoint, "graft-staged-adds")
    val fs = stagedDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        enforceConstraints(prior, batch, "streaming write")
        val entries = writeDataFiles(batch, tablePath, partCols, physOf,
          fieldIds)
        persistStagedAdds(fs,
          new Path(stagedDir, s"batch-$batchId.json"), entries)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the commit's add set comes SOLELY from the post-run batch manifests:
    // a batch that crashed between persisting its manifest and Spark's
    // checkpoint marker re-runs with fresh UUID file names and OVERWRITES
    // its batch-N.json (create-then-rename makes the latest manifest per
    // batch authoritative), so a pre-stream snapshot of the manifests
    // would resurrect the superseded paths alongside the new ones and
    // double-commit the batch's rows
    val all = recoverStagedAdds(fs, stagedDir)
      .groupBy(_.path).map(_._2.last).toSeq
    val committed = commitLoop(spark, tablePath, agg.schema, partCols,
      all, Nil, "STREAMING UPDATE",
      emitMeta = prior.isEmpty,
      priorConfig = Some(prior.map(_.configuration).getOrElse(Map.empty)))
    fs.delete(stagedDir, true)
    committed
  }

  /** One JSON line per staged add, written create-then-rename so a crash
    * mid-write never leaves a half manifest for recovery to trust. */
  private def persistStagedAdds(fs: org.apache.hadoop.fs.FileSystem,
      target: Path, entries: Seq[AddEntry]): Unit = {
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.map { a =>
      val pv = a.partitionValues.map { case (k, v) =>
        s"${jstr(k)}:${v.map(jstr).getOrElse("null")}"
      }.mkString("{", ",", "}")
      val st = a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("")
      s"""{"path":${jstr(a.path)},"partitionValues":$pv,"size":${a.size},"modificationTime":${a.modificationTime}$st}"""
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"staged-adds rename failed: $target")
  }

  /** All staged add-entries under `stagedDir`, one manifest per batch —
    * after a run this is the authoritative add set (a crashed prior
    * run's manifests survive for batches the checkpoint skips; a re-run
    * batch overwrote its manifest with the current file names). */
  private def recoverStagedAdds(fs: org.apache.hadoop.fs.FileSystem,
      stagedDir: Path): Seq[AddEntry] = {
    if (!fs.exists(stagedDir)) return Nil
    val BatchFile = """batch-(\d+)\.json""".r
    fs.listStatus(stagedDir).toSeq
      .filter(st => BatchFile.matches(st.getPath.getName))
      .sortBy(st => BatchFile.findFirstMatchIn(st.getPath.getName)
        .get.group(1).toLong)
      .flatMap { st =>
        val in = fs.open(st.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        text.linesIterator.filter(_.trim.nonEmpty).map { line =>
          val n = mapper.readTree(line)
          val pv = Option(n.get("partitionValues")).map { o =>
            val it = o.fields()
            val b = Map.newBuilder[String, Option[String]]
            while (it.hasNext) {
              val e = it.next()
              b += e.getKey -> (if (e.getValue.isNull) None
                else Some(e.getValue.asText))
            }
            b.result()
          }.getOrElse(Map.empty[String, Option[String]])
          AddEntry(n.get("path").asText, pv, n.get("size").asLong,
            n.get("modificationTime").asLong,
            stats = Option(n.get("stats")).filterNot(_.isNull).map(_.asText))
        }.toSeq
      }
  }

  /** Physical cleanup of files no snapshot within the retention window
    * references — overwritten/removed parquet, fully-deleted files, and
    * ORPHANED DV SIDECARS (a re-deleted file's old bitmap): the `VACUUM`
    * every DV-writing table eventually needs, since deletes stop
    * rewriting data but keep superseded sidecars around. Retention
    * semantics match Delta's: a file is deletable only if it is not
    * referenced by the CURRENT snapshot (data file or DV sidecar) and
    * its modification time is older than `retentionMs` — so concurrent
    * readers of recent-but-stale snapshots never lose files mid-query.
    * Returns the deleted paths. */
  /** OPTIMIZE: rewrite small files toward `targetSize` and MATERIALIZE
    * deletion vectors — after a run of DV deletes leaves a table
    * reading through (file, pos) anti-joins, compaction folds the
    * deletes back into plain files and the scan plan returns to a bare
    * parquet read. Candidates are every active file under `targetSize`
    * or carrying a DV; they rewrite through the DV-applied subset scan
    * into ceil(candidateBytes / targetSize) output files per partition
    * directory, and commit as remove+add with `dataChange=false` (the
    * spec's no-new-data marker, so incremental consumers skip it).
    * Untouched files are untouched — O(candidates), not O(table).
    * Column-mapped tables raise ([[DeltaLogReader.read]] resolves their
    * physical names but a rewrite would have to re-emit them; loud, not
    * wrong). */
  def optimize(spark: SparkSession, tablePath: String,
      targetSize: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None,
      dvOnly: Boolean = false): Committed = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy (range clustering) and zorderBy are mutually exclusive")
    val latest = DeltaLogReader.latestVersion(spark, tablePath)
    require(latest >= 0, s"no Delta table at $tablePath")
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    // column-mapped tables rewrite fine: scanFiles restores logical
    // names and writeDataFiles re-emits physical ones
    val physOf = DeltaLogReader.physicalNames(snap)
    val fieldIds = DeltaLogReader.mappingFieldIds(snap)
    // `where` = delta-spark's `OPTIMIZE ... WHERE`: a PARTITION
    // predicate scoping the rewrite — only whole files whose partition
    // tuple satisfies it are candidates, so a daily pipeline compacts
    // yesterday's partition without touching the other 10k. Evaluated
    // EXACTLY: the arbitrary predicate runs over the distinct partition
    // tuples themselves (metadata-scale, typed through the declared
    // schema), so nothing is approximated or silently widened; a
    // predicate referencing a non-partition column fails resolution
    // loudly.
    val inScope: DeltaLogReader.AddFile => Boolean = where match {
      case None => _ => true
      case Some(pred) =>
        require(snap.partitionColumns.nonEmpty,
          s"optimize WHERE needs a partitioned table: $tablePath")
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        def tupleOf(f: DeltaLogReader.AddFile): Seq[String] =
          snap.partitionColumns.map(c =>
            f.partitionValues.get(physOf.getOrElse(c, c))
              .orElse(f.partitionValues.get(c)).flatten.orNull)
        val tuples = snap.files.map(tupleOf).distinct.zipWithIndex
        val tupleSchema = StructType(
          StructField("__idx", LongType, nullable = false) +:
            snap.partitionColumns.map(c =>
              StructField(c, StringType, nullable = true)))
        val rows = tuples.map { case (t, i) => Row.fromSeq(i.toLong +: t) }
        val typed = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), tupleSchema)
          .select(col("__idx") +: snap.partitionColumns.map(c =>
            col(c).cast(snap.schema(c).dataType).as(c)): _*)
        val kept = typed.filter(pred).select(col("__idx"))
          .collect().map(_.getLong(0)).toSet
        val idxOf = tuples.map { case (t, i) => t -> i.toLong }.toMap
        f => kept.contains(idxOf(tupleOf(f)))
    }
    // dvOnly scopes the rewrite to deletion-vector carriers (the
    // UniForm compact-before-mirror path) — cost follows the deleted
    // delta, small-but-clean files stay untouched
    val candidates = snap.files.filter(f => inScope(f) &&
      (f.deletionVector.isDefined || (!dvOnly && f.size < targetSize)))
    val worthIt = candidates.exists(_.deletionVector.isDefined) ||
      candidates.size >= 2
    if (!worthIt) return Committed(latest, 0)
    // Row Tracking: compaction PRESERVES row identity by materializing
    // _row_id/_row_commit_version into the rewritten files under the
    // table's declared materialized column names (the protocol's
    // mechanism — the reader prefers them over baseRowId + position)
    val matId = snap.configuration
      .get("delta.rowTracking.materializedRowIdColumnName")
      .filter(_ => snap.configuration
        .get("delta.enableRowTracking").contains("true"))
    val matVer = snap.configuration
      .get("delta.rowTracking.materializedRowCommitVersionColumnName")
    val rows = matId match {
      case Some(mid) =>
        var r = DeltaLogReader
          .scanFilesWithRowIds(spark, tablePath, snap, candidates)
          .withColumnRenamed("_row_id", mid)
        matVer.foreach(mv =>
          r = r.withColumnRenamed("_row_commit_version", mv))
        r
      case None =>
        DeltaLogReader.scanFiles(spark, tablePath, snap, candidates)
    }
    val outFiles = math.max(1L,
      (candidates.map(_.size).sum + targetSize - 1) / targetSize).toInt
    // `sortBy` = the ZORDER-lite clustering lever: range-partition the
    // rewrite on the clustering columns so each output file covers a
    // narrow value range — the add-action `stats` min/max then make
    // selective pruned reads skip most files, which is the entire point
    // of clustering at 100 TB. (True Z-ordering interleaves multiple
    // dimensions; range clustering is the single- and leading-column
    // case and uses only built-in operators.)
    // `zorderBy` = TRUE multi-dimension Z-ordering: quantile cuts per
    // dimension (driver-side sample, skew-proof), a codegen'd Morton
    // key ([[graft.expr.ZOrderKey]]), range-partition + sort on it —
    // every output file gets a narrow min/max envelope in ALL clustered
    // dimensions, so stats-pruned reads skip files whichever dimension
    // the predicate hits
    val shaped =
      if (zorderBy.nonEmpty) {
        val cuts = zorderBy.map { c =>
          rows.stat.approxQuantile(c,
            (1 until 256).map(_ / 256.0).toArray, 0.001).distinct.sorted
        }
        val key = graft.expr.ZOrderKey.key(rows.sparkSession, zorderBy.map(col), cuts)
        rows.withColumn("__zkey", key)
          .repartitionByRange(outFiles, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      } else if (sortBy.nonEmpty)
        rows.repartitionByRange(outFiles, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else rows.coalesce(outFiles)
    val adds = writeDataFiles(shaped, tablePath, snap.partitionColumns,
      physOf, fieldIds)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns, adds,
      removes = candidates.map(_.path), "OPTIMIZE", emitMeta = false,
      dataChange = false, priorConfig = Some(snap.configuration))
  }

  /** Rename a column WITHOUT rewriting a single data file — Delta's
    * column-mapping rename (PROTOCOL.md "Column Mapping"), the symmetric
    * twin of [[IcebergWriter.renameColumn]]. A table not yet mapped is
    * upgraded in the same commit: every field gets a `columnMapping.id`
    * and keeps its current name as `physicalName` (so the existing
    * parquet files resolve unchanged), the mode lands in the table
    * configuration, and the protocol gains the columnMapping feature by
    * MERGING the existing one. After the upgrade only the LOGICAL name
    * changes; appends keep writing under physical names. */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Committed = {
    require(from != to, "rename to the same name is a no-op")
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    require(snap.schema.fieldNames.contains(from),
      s"column $from not in the schema of $tablePath")
    require(!snap.schema.fieldNames.contains(to),
      s"column $to already exists in $tablePath")
    val (schema0, config, upgrade) = ensureMapped(snap)
    val schema = StructType(schema0.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val partCols = snap.partitionColumns.map(c => if (c == from) to else c)
    commitLoop(spark, tablePath, schema, partCols, adds = Nil,
      removes = Nil, "RENAME COLUMN", emitMeta = true,
      extraActions = upgrade, dataChange = false, config = config)
  }

  /** Drop a column WITHOUT rewriting data (PROTOCOL.md: DROP COLUMN
    * requires column mapping — the physical column stays in the parquet
    * files, unreferenced by the schema, so readers skip it). A later
    * re-add of the same logical name gets a FRESH id + physical name and
    * never resurrects the dropped values. Partition columns cannot be
    * dropped. */
  def dropColumn(spark: SparkSession, tablePath: String,
      name: String): Committed = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    require(snap.schema.fieldNames.contains(name),
      s"column $name not in the schema of $tablePath")
    require(!snap.partitionColumns.contains(name),
      s"cannot drop partition column $name")
    require(snap.schema.length > 1, "cannot drop the only column")
    val (schema0, config, upgrade) = ensureMapped(snap)
    val schema = StructType(schema0.fields.filterNot(_.name == name))
    commitLoop(spark, tablePath, schema, snap.partitionColumns, adds = Nil,
      removes = Nil, "DROP COLUMNS", emitMeta = true,
      extraActions = upgrade, dataChange = false, config = config)
  }

  /** Column-mapping upgrade shared by rename/drop: assign every field a
    * `columnMapping.id` keeping its current name as `physicalName`, set
    * the mode + maxColumnId in the configuration, and MERGE the
    * columnMapping feature into the existing protocol. No-op (schema,
    * config, no protocol line) when the table is already mapped. */
  private def ensureMapped(snap: DeltaLogReader.Snapshot)
      : (StructType, Map[String, String], Seq[String]) = {
    val mapped = snap.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    if (mapped) return (snap.schema, snap.configuration, Nil)
    var maxId = 0L
    val schema = StructType(snap.schema.fields.map { f =>
      maxId += 1
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", maxId)
        .putString("delta.columnMapping.physicalName", f.name)
        .build())
    })
    val config = snap.configuration +
      ("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> maxId.toString)
    val p = snap.protocol
    val needsUpgrade = p.minReaderVersion < 2 ||
      (p.minReaderVersion >= 3 && !p.readerFeatures.contains("columnMapping"))
    val upgrade = if (!needsUpgrade) Nil else if (p.minReaderVersion >= 3 ||
        p.minWriterVersion >= 7)
      Seq(readerWriterFeatureUpgrade(p, "columnMapping"))
    else // legacy range: columnMapping is reader 2 / writer 5
      Seq(s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":${math.max(5, p.minWriterVersion)}}}""")
    (schema, config, upgrade)
  }

  def vacuum(spark: SparkSession, tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualifiedRoot = fs.makeQualified(root).toString
    val live: Set[String] =
      snap.files.map(f =>
        fs.makeQualified(new Path(root, f.path)).toString).toSet ++
        snap.files.flatMap(_.deletionVector)
          .filter(d => d.storageType == "u" || d.storageType == "p")
          .map(d => fs.makeQualified(DeltaDeletionVectors
            .sidecarPath(new Path(qualifiedRoot), d)).toString)
    TableFiles.sweepOrphans(spark, tablePath, live,
        System.currentTimeMillis() - retentionMs) { p =>
      (p.endsWith(".parquet") || p.endsWith(".bin")) &&
        !p.contains("/_delta_log/")
    }
  }

  /** Sweep EXPIRED `_delta_log` metadata — the retention pass real Delta
    * runs under `delta.logRetentionDuration` (default 30 days), and the
    * symmetric twin of what [[IcebergWriter.expireSnapshots]] does for
    * superseded `vN.metadata.json`: without it commit JSON and
    * superseded checkpoints accumulate forever on a long-lived table.
    *
    * Floor = the newest REPLAYABLE checkpoint (a torn multi-part or
    * sidecar-less V2 manifest is skipped, exactly as replay skips it).
    * Deleted: commit JSON and checkpoint files (all three naming forms)
    * with version strictly below the floor AND modification time past
    * the retention cutoff, plus `_sidecars/` files past the cutoff that
    * no retained V2 manifest references. Snapshots at or above the
    * floor replay exactly as before (checkpoint + retained tail); time
    * travel below the floor raises the reader's existing loud error —
    * bounded history is the POINT of retention, never a silent guess.
    * `_last_checkpoint` names no version and is never swept. Deletion
    * runs as a job like [[vacuum]] — a 100k-commit log never loops
    * file-by-file on the driver. Returns the deleted paths. */
  def cleanupMetadata(spark: SparkSession, tablePath: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000): Seq[String] = {
    val logDir = new Path(new Path(tablePath), "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) return Nil
    val entries = fs.listStatus(logDir).toSeq
    val cutoff = System.currentTimeMillis() - retentionMs
    val Commit = """(\d{20})\.json""".r
    val Ckpt1 = """(\d{20})\.checkpoint\.parquet""".r
    val CkptN = """(\d{20})\.checkpoint\.\d{10}\.\d{10}\.parquet""".r
    val CkptV2 = """(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(?:parquet|json)""".r
    def versionOf(name: String): Option[Long] = name match {
      case Commit(v) => Some(v.toLong)
      case Ckpt1(v) => Some(v.toLong)
      case CkptN(v) => Some(v.toLong)
      case CkptV2(v) => Some(v.toLong)
      case _ => None
    }
    val ckptVersions = entries.map(_.getPath.getName).flatMap {
      case Ckpt1(v) => Some(v.toLong)
      case CkptN(v) => Some(v.toLong)
      case CkptV2(v) => Some(v.toLong)
      case _ => None
    }.distinct.sorted(Ordering[Long].reverse)
    // the replay path itself decides replayability (complete part set,
    // sidecars present) — never sweep below a checkpoint that cannot
    // actually serve as the new history floor
    val floorOpt = ckptVersions.find { v =>
      try { DeltaLogReader.snapshot(spark, tablePath, Some(v)); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    val floor = floorOpt.getOrElse(return Nil)
    val protectedSidecars: Set[String] = entries.flatMap { st =>
      st.getPath.getName match {
        case CkptV2(v)
            if v.toLong >= floor || st.getModificationTime >= cutoff =>
          DeltaLogReader.sidecarPaths(spark, tablePath, st.getPath.toString)
            .map(p => fs.makeQualified(new Path(p)).toString)
        case _ => Nil
      }
    }.toSet
    val doomedLog = entries.filter { st =>
      versionOf(st.getPath.getName)
        .exists(v => v < floor && st.getModificationTime < cutoff)
    }.map(_.getPath.toString)
    val sidecarDir = new Path(logDir, "_sidecars")
    val doomedSidecars =
      if (!fs.exists(sidecarDir)) Nil
      else fs.listStatus(sidecarDir).toSeq.filter { st =>
        st.getModificationTime < cutoff &&
          !protectedSidecars.contains(
            fs.makeQualified(st.getPath).toString)
      }.map(_.getPath.toString)
    val doomed = doomedLog ++ doomedSidecars
    if (doomed.isEmpty) return Nil
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.sparkContext
      .parallelize(doomed, math.max(1, math.min(doomed.size, 32)))
      .map { p =>
        val pp = new Path(p)
        pp.getFileSystem(confBc.value.value).delete(pp, false)
        p
      }.collect().toSeq
  }

  /** Write `df` as table data files, one add entry per file.
    * `physOf` (logical → physical column name) is non-identity on
    * column-mapped tables: the parquet files, the hive partition
    * directories, the add-action `partitionValues` keys and the `stats`
    * keys must all carry PHYSICAL names — the protocol's contract, and
    * what lets a later logical rename touch no data file. */
  private def writeDataFiles(df: DataFrame, tablePath: String,
      partCols: Seq[String],
      physOf: Map[String, String] = Map.empty,
      fieldIds: Map[String, Long] = Map.empty,
      destPrefix: String = ""): Seq[AddEntry] = {
    val root = new Path(tablePath)
    val renamed = df.columns.foldLeft(df) { (d, c) =>
      physOf.get(c).filter(_ != c)
        .map(p => d.withColumnRenamed(c, p)).getOrElse(d)
    }
    // mapped tables also stamp parquet field ids (keyed by physical
    // name) so mode=id readers resolve the files
    val out =
      if (fieldIds.isEmpty) renamed else TableFiles.withFieldIds(renamed, fieldIds)
    def relOf(rel: String) = if (destPrefix.isEmpty) rel else s"$destPrefix/$rel"
    val physParts = partCols.map(c => physOf.getOrElse(c, c))
    def dest(rel: String) = new Path(root, relOf(rel))
    // each write task folds the stats of the files it closes; cdc
    // actions carry no stats field in the protocol, so `_change_data`
    // writes fold nothing
    val moved: Seq[TableFiles.Staged[Option[String]]] =
      if (destPrefix.isEmpty)
        TableFiles.writeStaged(out, root, physParts,
          rdr => Option(statsJson(rdr)))(dest)
      else TableFiles.writeStaged(out, root, physParts)(dest)
        .map(_.copy(footer = None))
    moved.map { m =>
      AddEntry(relOf(m.rel), TableFiles.partitionValuesOf(m.rel), m.size,
        System.currentTimeMillis(), stats = m.footer)
    }
  }

  final case class AddEntry(path: String,
      partitionValues: Map[String, Option[String]], size: Long,
      modificationTime: Long,
      deletionVector: Option[DeltaDeletionVectors.Descriptor] = None,
      stats: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** A data file's `stats` JSON — numRecords plus each top-level
    * column's min/max/nullCount, from its footer
    * ([[TableFiles.columnStats]]) — the metadata other Delta engines
    * (and [[DeltaLogReader]]'s file skipping) use to prune selective
    * scans without opening files. Bounds whose type has no safe JSON
    * rendering here are omitted; stats are per-column optional in the
    * protocol. */
  private def statsJson(rdr: ParquetFileReader): String = {
    val node = mapper.createObjectNode()
    node.put("numRecords", rdr.getRecordCount)
    val minN = node.putObject("minValues")
    val maxN = node.putObject("maxValues")
    val nullN = node.putObject("nullCount")
    TableFiles.columnStats(rdr).foreach { c =>
      for ((lo, hi) <- c.bounds; mn <- statsValue(c.tpe, lo);
           mx <- statsValue(c.tpe, hi)) {
        minN.set[JsonNode](c.name, mn)
        maxN.set[JsonNode](c.name, mx)
      }
      c.nulls.foreach(nullN.put(c.name, _))
    }
    mapper.writeValueAsString(node)
  }

  /** Timestamp bounds in Delta Spark's `stats` form: UTC to the
    * millisecond, with the offset for a UTC-adjusted column (`Z`) and
    * without one for TIMESTAMP_NTZ. Both bounds are floored, so readers
    * widen a timestamp max by 999 µs. */
  private val StatsTimestamp = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(java.time.ZoneOffset.UTC)
  private val StatsTimestampNtz = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)

  /** A statistics value as `stats` JSON: a date as its ISO day, a
    * timestamp in Delta Spark's form (see [[StatsTimestamp]]), a number
    * as a JSON number (a long when integral), a string or boolean as
    * itself. None for decimals, non-string binary, NaN or infinite
    * floats and nanosecond timestamps. */
  private def statsValue(tpe: PrimitiveType, v: Any): Option[JsonNode] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val json = mapper.getNodeFactory
    def num(d: BigDecimal): JsonNode =
      if (d.isWhole && d.isValidLong) json.numberNode(d.longValue)
      else json.numberNode(d.doubleValue)
    (tpe.getPrimitiveTypeName, v, tpe.getLogicalTypeAnnotation) match {
      case (_, _, _: DecimalLogicalTypeAnnotation) => None
      case (INT32, i: java.lang.Integer, _: DateLogicalTypeAnnotation) =>
        Some(json.textNode(java.time.LocalDate.ofEpochDay(i.longValue).toString))
      case (INT32, i: java.lang.Integer, _) => Some(num(BigDecimal(i.intValue)))
      case (INT64, l: java.lang.Long, t: TimestampLogicalTypeAnnotation) =>
        val millis = t.getUnit match {
          case TimeUnit.MILLIS => l.longValue
          case TimeUnit.MICROS => Math.floorDiv(l.longValue, 1000L)
          case _ => return None
        }
        val fmt = if (t.isAdjustedToUTC) StatsTimestamp else StatsTimestampNtz
        Some(json.textNode(fmt.format(java.time.Instant.ofEpochMilli(millis))))
      case (INT64, l: java.lang.Long, _) => Some(num(BigDecimal(l.longValue)))
      case (FLOAT, f: java.lang.Float, _) =>
        if (f.isNaN || f.isInfinite) None else Some(num(BigDecimal(f.toString)))
      case (DOUBLE, d: java.lang.Double, _) =>
        if (d.isNaN || d.isInfinite) None else Some(num(BigDecimal(d.toString)))
      case (BINARY, b: Binary, _: StringLogicalTypeAnnotation) =>
        Some(json.textNode(b.toStringUsingUTF8))
      case (BOOLEAN, b: java.lang.Boolean, _) => Some(json.booleanNode(b))
      case _ => None
    }
  }

  /** Delete rows matching `predicate` by WRITING DELETION VECTORS —
    * zero data-file rewrite (delta.io PROTOCOL.md deletion vectors; what
    * `DELETE FROM` does on a DV-enabled table). The 100 TB shape of
    * delete: matched row positions are gathered per file (distributed
    * via `_metadata.row_index`), each touched file gets a bitmap sidecar
    * written ON the executor holding its positions, and one commit
    * re-adds the touched files with their DV descriptors — untouched
    * files and all data pages stay byte-identical. Existing DVs merge
    * (old ∪ new row indexes). The commit upgrades the table protocol to
    * readerVersion 3 + `deletionVectors` the first time, which gated
    * readers (including [[DeltaLogReader]]) understand. */
  def deleteWhere(spark: SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column): Committed =
    deleteWhereImpl(spark, tablePath, _.filter(predicate), None)

  /** Delete every row whose key tuple appears in `keys` — the
    * `MERGE … WHEN MATCHED THEN DELETE` / correlated
    * `DELETE … WHERE EXISTS` shape, on the same zero-rewrite
    * deletion-vector path as [[deleteWhere]] (the Iceberg twin is
    * [[IcebergWriter.deleteMatched]]). The match is a semi-join, so
    * the key set scales past anything an IN-list predicate could
    * carry. `beforeCommit` gates the commit as in [[merge]]. */
  def deleteMatched(spark: SparkSession, tablePath: String,
      keys: DataFrame, keyCols: Seq[String],
      matchNulls: Boolean = false,
      beforeCommit: () => Unit = () => ()): Committed = {
    require(keyCols.nonEmpty, "deleteMatched needs key columns")
    val keySet = keys.select(keyCols.map(col): _*).distinct()
    deleteWhereImpl(spark, tablePath,
      df => df.join(keySet, TableFiles.keyCond(df, keySet, keyCols, matchNulls),
        "left_semi"), None, beforeCommit)
  }

  /** `UPDATE … SET … WHERE` as ONE zero-rewrite commit: the matched
    * LIVE rows re-land as new data files with the assignments applied,
    * and their old positions are flagged via deletion vectors in the
    * SAME commit — the Delta twin of [[IcebergWriter.updateWhere]].
    * Untouched files stay byte-identical; cost follows the matched
    * rows. On a CDF-enabled table the commit carries
    * `update_preimage`/`update_postimage` change rows. */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Committed = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    deleteWhereImpl(spark, tablePath, _.filter(predicate), Some(assignments))
  }

  /** `matcher` selects the affected rows from a scan frame — a plain
    * predicate filter for DELETE/UPDATE, a key semi-join for
    * [[deleteMatched]]. It runs against both the raw position scan and
    * the live table read (for UPDATE replacements / CDF rows), so it
    * must be a pure row-selection. */
  private def deleteWhereImpl(spark: SparkSession,
      tablePath: String,
      matcher: DataFrame => DataFrame,
      updateAssignments: Option[Seq[(String, org.apache.spark.sql.Column)]],
      beforeCommit: () => Unit = () => ()): Committed = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    enforceAppendOnly(snap,
      if (updateAssignments.isDefined) "UPDATE" else "DELETE")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualifiedRoot = fs.makeQualified(root).toString
    val located = TableFiles.locateAll(fs, root, snap.files)(_.path)
    val byUri: Map[String, DeltaLogReader.AddFile] = located.toMap
    if (byUri.isEmpty)
      return Committed(DeltaLogReader.latestVersion(spark, tablePath), 0)

    // raw per-file row positions (existing DVs NOT applied here — old and
    // new indexes merge below, so re-flagging an already-deleted row is
    // idempotent). Column-mapped tables (`delta.columnMapping.mode` =
    // name/id) store parquet columns under physical names: scan by those
    // and rename back to logical so the caller's predicate resolves —
    // scanning logical names would yield all-null columns and a silently
    // null predicate.
    val physOf = DeltaLogReader.physicalNames(snap)
    val dataFields = snap.schema.fields
      .filterNot(f => snap.partitionColumns.contains(f.name))
    val dataSchema = StructType(dataFields.map(f => f.copy(name = physOf(f.name))))
    var df = spark.read.schema(dataSchema).parquet(located.map(_._1): _*)
      .withColumn("__file", TableFiles.fileName)
      .withColumn("__pos", col("_metadata.row_index"))
    dataFields.foreach { f =>
      if (physOf(f.name) != f.name)
        df = df.withColumnRenamed(physOf(f.name), f.name)
    }
    if (snap.partitionColumns.nonEmpty) {
      // re-attach partition values so the predicate can reference them
      // (the log keys them by physical name on column-mapped tables)
      val manifestSchema = StructType(
        StructField("__file", StringType, nullable = false) +:
          snap.partitionColumns.map(c =>
            StructField(c, StringType, nullable = true)))
      val manifestRows = byUri.toSeq.map { case (uri, f) =>
        Row.fromSeq(uri +: snap.partitionColumns.map(c =>
          f.partitionValues.get(physOf(c))
            .orElse(f.partitionValues.get(c)).flatten.orNull))
      }
      val manifest = spark.createDataFrame(
        spark.sparkContext.parallelize(manifestRows, 1), manifestSchema)
      df = df.join(broadcast(manifest), Seq("__file"), "left")
    }
    // per-file RAW row counts (a DV re-add keeps its file's stats):
    // metadata-only, never a count() over the data pages
    val totals = recordCountsOf(spark, root,
      located.map { case (uri, f) => uri -> f.stats })
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val oldDvs = spark.sparkContext.broadcast(
      byUri.collect { case (uri, f) if f.deletionVector.isDefined =>
        uri -> f.deletionVector.get
      })
    val totalsBc = spark.sparkContext.broadcast(totals)
    // ONLY matched (file, pos) rows shuffle — hash-partitioned by file and
    // sorted, so each file's positions arrive contiguous at one task,
    // which streams them into the compressed bitmap and writes the
    // sidecar there: a delete matching 100M rows of one file holds the
    // ~12 MB bitmap in memory, never a 100M-long aggregation buffer.
    // Existing DVs merge in (old ∪ new row indexes), so re-flagging an
    // already-deleted row is idempotent. A file whose rows are ALL
    // deleted gets NO sidecar — it is removed from the snapshot
    // outright. Driver receives one (path, descriptor) pair per touched
    // file: manifest-scale.
    val touched: Seq[(String, Option[DeltaDeletionVectors.Descriptor])] =
      matcher(df)
      .select(col("__file"), col("__pos"))
      .repartition(col("__file"))
      .sortWithinPartitions(col("__file"), col("__pos"))
      .rdd.mapPartitions { rows =>
        TableFiles.positionBitmaps(rows, uri => oldDvs.value.get(uri)
          .map(d => DeltaDeletionVectors
            .rowIndexes(conf.value, qualifiedRoot, d).iterator)
          .getOrElse(Iterator.empty))
          .map { case (uri, bytes, card) =>
            if (card >= totalsBc.value(uri)) (uri, None)
            else (uri, Some(DeltaDeletionVectors.writeSidecarBytes(
              conf.value, new Path(qualifiedRoot), bytes, card)))
          }
      }.collect().toSeq
    if (touched.isEmpty)
      return Committed(DeltaLogReader.latestVersion(spark, tablePath), 0)

    val adds = touched.collect { case (uri, Some(desc)) =>
      val f = byUri(uri)
      // add.size/modificationTime are the DATA file's (the protocol
      // requires them; engines plan with size) — carried from the log,
      // never the sidecar's, degenerate entries resolved by one stat
      val (size, mtime) = realSizeMtime(spark, tablePath, f)
      AddEntry(f.path, f.partitionValues, size, mtime,
        Some(desc), stats = f.stats, baseRowId = f.baseRowId,
        defaultRowCommitVersion = f.defaultRowCommitVersion)
    }
    val removes = touched.collect { case (uri, None) => byUri(uri).path }
    val p = snap.protocol
    val needsUpgrade = adds.nonEmpty && (p.minReaderVersion < 3 ||
      !p.readerFeatures.contains("deletionVectors") ||
      !p.writerFeatures.contains("deletionVectors"))
    val upgrade =
      if (needsUpgrade) Seq(readerWriterFeatureUpgrade(p, "deletionVectors"))
      else Nil
    // UPDATE: the replacement rows (live matched, assignments applied)
    // land in the same commit as the DVs that hide the old positions
    // the replacement frame is pinned ONCE (localCheckpoint) and shared
    // by the constraint check, the data write, and the CDF postimage —
    // three full DV-applied scans otherwise
    val updatedFrame: Option[DataFrame] = updateAssignments.map { asg0 =>
      val asg = asg0.toMap
      asg.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
        s"UPDATE assignment targets unknown column $c"))
      updatedLiveRows(spark, tablePath, snap, matcher, asg)
        .localCheckpoint()
    }
    val updatedAdds = updatedFrame match {
      case None => Nil
      case Some(upd) =>
        enforceConstraints(Some(snap), upd, "UPDATE")
        writeDataFiles(upd, tablePath, snap.partitionColumns, physOf,
          DeltaLogReader.mappingFieldIds(snap))
    }
    // CDF: the newly-deleted LIVE rows (the DV-applied current state
    // filtered by the predicate — raw matched positions would replay
    // already-deleted rows) go to `_change_data/` as `delete` changes;
    // an UPDATE records pre/post images instead
    val cdc =
      if (!cdfEnabled(snap)) Nil
      else {
        val live = matcher(DeltaLogReader.read(spark, tablePath))
        val changes = updatedFrame match {
          case None => live.withColumn("_change_type", lit("delete"))
          case Some(upd) =>
            live.withColumn("_change_type", lit("update_preimage"))
              .unionByName(
                upd.withColumn("_change_type", lit("update_postimage")))
        }
        cdcLines(writeDataFiles(changes,
          tablePath, snap.partitionColumns, physOf,
          DeltaLogReader.mappingFieldIds(snap), destPrefix = "_change_data"))
      }
    gate(spark, tablePath, adds ++ updatedAdds, cdc, beforeCommit)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds ++ updatedAdds,
      removes,
      if (updateAssignments.isDefined) "UPDATE" else "DELETE",
      emitMeta = false, extraActions = upgrade ++ cdc,
      priorConfig = Some(snap.configuration))
  }

  /** The replacement rows of an UPDATE: the live matched scan with the
    * assignments projected in, typed to the table schema. */
  private def updatedLiveRows(spark: SparkSession, tablePath: String,
      snap: DeltaLogReader.Snapshot,
      matcher: DataFrame => DataFrame,
      asg: Map[String, org.apache.spark.sql.Column]): DataFrame =
    matcher(DeltaLogReader.read(spark, tablePath))
      .select(snap.schema.fields.map { f =>
        asg.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)

  /** Per-file raw record counts, keyed by the given paths (relative to
    * `root` or absolute): a file's `stats.numRecords` where its stats
    * carry one, else one executor-side footer sweep of the rest. */
  private def recordCountsOf(spark: SparkSession, root: Path,
      files: Seq[(String, Option[String])]): Map[String, Long] = {
    val fromStats = files.flatMap { case (p, stats) => stats.flatMap { st =>
      try Option(mapper.readTree(st).get("numRecords"))
        .filter(_.isIntegralNumber).map(n => p -> n.asLong)
      catch { case _: Exception => None }
    }}.toMap
    val missing = files.map(_._1).filterNot(fromStats.contains)
    if (missing.isEmpty) fromStats
    else {
      def pathOf(p: String): String = new Path(root, p).toString
      val counted = TableFiles.recordCounts(spark, missing.map(pathOf))
      fromStats ++ missing.map(p => p -> counted(pathOf(p)))
    }
  }

  /** Features a legacy `minReaderVersion` implies, enumerated when an
    * upgrade crosses into the table-features range (delta.io PROTOCOL.md,
    * feature mapping of pre-feature protocol versions). */
  private def legacyReaderFeatures(v: Int): Set[String] =
    if (v >= 2) Set("columnMapping") else Set.empty

  /** Features a legacy `minWriterVersion` implies (same mapping). */
  private def legacyWriterFeatures(v: Int): Set[String] = {
    val b = Set.newBuilder[String]
    if (v >= 2) b ++= Seq("appendOnly", "invariants")
    if (v >= 3) b += "checkConstraints"
    if (v >= 4) b ++= Seq("generatedColumns", "changeDataFeed")
    if (v >= 5) b += "columnMapping"
    if (v >= 6) b += "identityColumns"
    b.result()
  }

  /** Run `beforeCommit`; when it throws, sweep what this commit staged
    * and rethrow, so the table neither moves nor keeps a staged file. */
  private def gate(spark: SparkSession, tablePath: String,
      adds: Seq[AddEntry], extraActions: Seq[String],
      beforeCommit: () => Unit): Unit =
    try beforeCommit()
    catch { case e: Throwable =>
      val root = new Path(tablePath)
      sweepUncommitted(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, adds, extraActions)
      throw e
    }

  /** Data files of a commit abandoned AFTER they were written (the
    * SetTransaction skip, a failed [[gate]]) are referenced by no
    * commit — delete them rather than leave orphans only a
    * retention-expired vacuum would find. Best-effort: a failed delete
    * costs storage, never correctness. An add that carries a deletion
    * vector re-adds a live file, which stays; only its `u`-storage
    * sidecar is swept (the only kind this writer stages fresh
    * alongside a pending commit). */
  private def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, adds: Seq[AddEntry], extraActions: Seq[String]): Unit = {
    def del(p: Path): Unit =
      try { fs.delete(p, false); () } catch { case _: java.io.IOException => () }
    def resolve(rel: String): Path =
      if (rel.contains("://") || rel.startsWith("/")) new Path(rel)
      else new Path(root, rel)
    adds.foreach { a =>
      if (a.deletionVector.isEmpty) del(resolve(a.path))
      a.deletionVector.filter(_.storageType == "u").foreach(d =>
        del(DeltaDeletionVectors.sidecarPath(fs.makeQualified(root), d)))
    }
    extraActions.foreach { line =>
      try {
        val node = mapper.readTree(line)
        Option(node.get("cdc")).flatMap(c => Option(c.get("path")))
          .foreach(p => del(resolve(TableFiles.fromLogPath(p.asText))))
      } catch { case _: Exception => () }
    }
  }

  /** Claim `<version>.json` with create-exclusive; on collision re-read
    * the log and retry at the next version. */
  private def commitLoop(spark: SparkSession, tablePath: String,
      schema: StructType, partCols: Seq[String], adds: Seq[AddEntry],
      removes: Seq[String], operation: String, emitMeta: Boolean,
      extraActions: Seq[String] = Nil,
      dataChange: Boolean = true,
      config: Map[String, String] = Map.empty,
      priorConfig: Option[Map[String, String]] = None,
      assignRowIds: Boolean = true,
      // (appId, txnVersion, tableVersionAtPreCheck): re-validate the
      // SetTransaction watermark whenever the table moved past the
      // caller's pre-check — not only on claim conflicts
      skipIfTxnCommitted: Option[(String, Long, Long)] = None): Committed = {
    val logDir = new Path(new Path(tablePath), "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir)
    // Row Tracking (PROTOCOL.md): on an enabled table every committed
    // add carries a baseRowId — fresh files take the next range above
    // the delta.rowTracking high watermark, re-committed files (DV
    // re-adds, RESTORE) keep theirs. Record counts come from the adds'
    // own stats; files without stats fall back to one footer sweep.
    val rtEnabled = assignRowIds &&
      (priorConfig.getOrElse(Map.empty) ++ config)
        .get("delta.enableRowTracking").contains("true")
    lazy val rtCounts: Map[String, Long] =
      recordCountsOf(spark, new Path(tablePath),
        adds.filter(_.baseRowId.isEmpty).map(a => a.path -> a.stats))
    var attempts = 0
    while (attempts < 20) {
      val version = DeltaLogReader.latestVersion(spark, tablePath) + 1
      // SetTransaction check-then-act closure: the table having moved
      // past the caller's pre-check (a competitor landed while we were
      // writing data files, OR a claim conflict bounced us here) means
      // the watermark must be re-validated against the ADVANCED
      // snapshot — otherwise two racing retries of the same
      // micro-batch both land
      skipIfTxnCommitted.foreach { case (appId, v, checkedAt) =>
        if ((version - 1 != checkedAt || attempts > 0) && version > 0 &&
            DeltaLogReader.snapshot(spark, tablePath)
              .transactions.get(appId).exists(_ >= v)) {
          // the skip fires AFTER the batch's data files were written:
          // sweep them (plus CDC files and fresh DV sidecars) so the
          // abandoned commit leaves no orphans lingering until a
          // vacuum past retention — the same losing-claim cleanup
          // rewriteManifests does
          sweepUncommitted(fs, new Path(tablePath), adds, extraActions)
          return Committed(version - 1, 0)
        }
      }
      val (adds2, rtExtra) =
        if (!rtEnabled || adds.forall(_.baseRowId.isDefined))
          (adds, Nil)
        else {
          // hwm re-read inside the loop: a competing commit advances it
          val hwm0 =
            (if (version == 0L) None
             else DeltaLogReader.snapshot(spark, tablePath)
               .domainMetadata.get("delta.rowTracking"))
              .flatMap(cfgStr =>
                Option(mapper.readTree(cfgStr).get("rowIdHighWaterMark"))
                  .map(_.asLong))
              .getOrElse(-1L)
          var next = hwm0 + 1
          val assigned = adds.map { a =>
            if (a.baseRowId.isDefined) a
            else {
              val b = next
              next += rtCounts.getOrElse(a.path, 0L)
              a.copy(baseRowId = Some(b),
                defaultRowCommitVersion = Some(version))
            }
          }
          val dmCfg = jstr(s"""{"rowIdHighWaterMark":${next - 1}}""")
          (assigned, Seq(
            s"""{"domainMetadata":{"domain":"delta.rowTracking","configuration":$dmCfg,"removed":false}}"""))
        }
      // PROTOCOL.md: storing TIMESTAMP_NTZ requires the `timestampNtz`
      // reader+writer feature — a table declaring only the baseline
      // protocol would have conformant readers misinterpret (or refuse)
      // the column. Declared at creation, or MERGED into the existing
      // protocol when evolution introduces the first NTZ column.
      val ntzUpgrade: Seq[String] =
        if (!hasNtz(schema)) Nil
        else {
          // a new table upgrades from the baseline 1/2 protocol
          val p =
            if (version == 0L) DeltaLogReader.Protocol(minWriterVersion = 2)
            else DeltaLogReader.snapshot(spark, tablePath).protocol
          if (p.minReaderVersion >= 3 &&
              p.readerFeatures.contains("timestampNtz")) Nil
          else Seq(readerWriterFeatureUpgrade(p, "timestampNtz"))
        }
      // In-Commit Timestamps (PROTOCOL.md): on an enabled table every
      // commitInfo carries a MONOTONIC inCommitTimestamp =
      // max(now, previous + 1) — wall-clock regressions cannot reorder
      // history. The enablement commit itself records the version and
      // timestamp it began at.
      val ictEnabled = (priorConfig.getOrElse(Map.empty) ++ config)
        .get("delta.enableInCommitTimestamps").contains("true")
      val ict: Option[Long] =
        if (!ictEnabled) None
        else {
          val prev =
            if (version == 0L) None
            else DeltaLogReader.commitInfoTimestamp(fs,
              new Path(logDir, f"${version - 1}%020d.json").toString)._1
          Some(math.max(System.currentTimeMillis(),
            prev.map(_ + 1).getOrElse(Long.MinValue)))
        }
      val isIctEnablement = ictEnabled &&
        config.get("delta.enableInCommitTimestamps").contains("true") &&
        !priorConfig.exists(
          _.get("delta.enableInCommitTimestamps").contains("true")) &&
        !config.contains("delta.inCommitTimestampEnablementVersion")
      val config2 =
        if (!isIctEnablement) config
        else config +
          ("delta.inCommitTimestampEnablementVersion" -> version.toString) +
          ("delta.inCommitTimestampEnablementTimestamp" -> ict.get.toString)
      val lines = actionLines(schema, partCols, adds2, removes, operation,
        emitMeta = emitMeta || version == 0L,
        ntzUpgrade ++ rtExtra ++ extraActions,
        dataChange,
        // re-declaring the baseline protocol on a LATER commit would
        // DOWNGRADE a feature-bearing table (DVs, column mapping) — the
        // last protocol action wins on replay. Only commit 0 declares
        // it; upgrades ride in as explicit extraActions.
        includeProtocol = version == 0L && ntzUpgrade.isEmpty, config2,
        inCommitTs = ict)
      val target = new Path(logDir, f"$version%020d.json")
      // AtomicWrite: local-FS create-exclusive is check-then-create in
      // Hadoop — a raw fs.create(_, false) race could double-claim the
      // version and silently drop one writer's commit
      if (AtomicWrite.claim(fs, target,
          lines.mkString("", "\n", "\n").getBytes("UTF-8"))) {
        maybeCheckpoint(spark, tablePath, version)
        return Committed(version, adds.length)
      } else attempts += 1 // lost the claim; retry
    }
    throw new java.io.IOException(
      s"could not claim a Delta commit after $attempts attempts at $tablePath")
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)

  private def jarr(xs: Seq[String]): String = xs.map(jstr).mkString("[", ",", "]")

  /** Does the schema carry TIMESTAMP_NTZ anywhere (including nested)? */
  private def hasNtz(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
  }

  private def actionLines(schema: StructType, partCols: Seq[String],
      adds: Seq[AddEntry], removes: Seq[String], operation: String,
      emitMeta: Boolean, extraActions: Seq[String] = Nil,
      dataChange: Boolean = true, includeProtocol: Boolean = true,
      config: Map[String, String] = Map.empty,
      inCommitTs: Option[Long] = None): Seq[String] = {
    val now = System.currentTimeMillis()
    val ict = inCommitTs.map(t => s""""inCommitTimestamp":$t,""").getOrElse("")
    val info =
      s"""{"commitInfo":{${ict}"timestamp":$now,"operation":${jstr(operation)},"operationParameters":{},"engineInfo":"graft"}}"""
    val cfg = config.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val metaLines = if (emitMeta)
      (if (includeProtocol)
         Seq(s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
       else Nil) :+
        s"""{"metaData":{"id":${jstr(UUID.randomUUID().toString)},"format":{"provider":"parquet","options":{}},"schemaString":${jstr(schema.json)},"partitionColumns":[${partCols.map(jstr).mkString(",")}],"configuration":$cfg,"createdTime":$now}}"""
    else Nil
    val removeLines = removes.map(p =>
      s"""{"remove":{"path":${jstr(TableFiles.toLogPath(p))},"deletionTimestamp":$now,"dataChange":$dataChange}}""")
    val addLines = adds.map { a =>
      val pv = a.partitionValues.map { case (k, v) =>
        s"${jstr(k)}:${v.map(jstr).getOrElse("null")}"
      }.mkString("{", ",", "}")
      val dv = a.deletionVector.map(d =>
        s""","deletionVector":{"storageType":${jstr(d.storageType)},"pathOrInlineDv":${jstr(d.pathOrInlineDv)},"offset":${d.offset.getOrElse(1)},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}""")
        .getOrElse("")
      val st = a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("")
      val rt = (a.baseRowId, a.defaultRowCommitVersion) match {
        case (Some(b), Some(v)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$v"""
        case (Some(b), None) => s""","baseRowId":$b"""
        case _ => ""
      }
      s"""{"add":{"path":${jstr(TableFiles.toLogPath(a.path))},"partitionValues":$pv,"size":${a.size},"modificationTime":${a.modificationTime},"dataChange":$dataChange$dv$st$rt}}"""
    }
    (info +: metaLines) ++ extraActions ++ removeLines ++ addLines
  }

  /** Every 10th version: compact the snapshot into a single
    * `<v>.checkpoint.parquet` file + `_last_checkpoint` pointer. */
  private def maybeCheckpoint(spark: SparkSession, tablePath: String,
      version: Long): Unit = {
    if (version == 0L || version % 10 != 0L) return
    val snap = DeltaLogReader.snapshot(spark, tablePath, Some(version))
    // a table opted into the v2 policy keeps getting sharded-sidecar
    // checkpoints (the protocol upgrade happened at opt-in)
    if (snap.configuration.get("delta.checkpointPolicy").contains("v2")) {
      writeV2CheckpointFiles(spark, tablePath, snap,
        sidecarMaxActions = 50000)
      return
    }
    import spark.implicits._
    // the checkpoint must reproduce the REAL protocol and every add's
    // deletion vector — compacting them away would silently resurrect
    // deleted rows once the json tail is vacuumed
    val p = snap.protocol
    val minWriter =
      if (p.minWriterVersion > 1) p.minWriterVersion
      else if (p.minReaderVersion >= 3) 7 else 2
    // the spec REQUIRES writerFeatures alongside minWriterVersion=7 —
    // conformant readers reject a checkpoint protocol missing it. The
    // empty-set fallback derives from the legacy writer version plus
    // the reader features KNOWN to be reader+writer — copying
    // readerFeatures wholesale would mislabel a future reader-only
    // feature as a writer feature and make conformant writers refuse
    // the table
    val readerWriterFeatures =
      Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint")
    val writerFeats =
      if (minWriter < 7) None
      else Some((if (p.writerFeatures.nonEmpty) p.writerFeatures
                 else legacyWriterFeatures(p.minWriterVersion) ++
                   (p.readerFeatures & readerWriterFeatures)).toSeq.sorted)
    val rows: Seq[CkptLine] =
      CkptLine(None,
        Some(CkptMetaData(UUID.randomUUID().toString, snap.schema.json,
          snap.partitionColumns, snap.configuration)),
        Some(CkptProtocol(p.minReaderVersion, minWriter,
          if (p.readerFeatures.isEmpty) None
          else Some(p.readerFeatures.toSeq.sorted),
          writerFeats)), None) +:
      (snap.domainMetadata.toSeq.sorted.map { case (dom, cfg) =>
        CkptLine(None, None, None,
          Some(CkptDomainMetadata(dom, cfg)))
      } ++
      snap.transactions.toSeq.sorted.map { case (app, v) =>
        CkptLine(None, None, None, None, Some(CkptTxn(app, v)))
      } ++
      snap.files.map { f =>
        val (sz, mt) = realSizeMtime(spark, tablePath, f)
        CkptLine(
          Some(CkptAddFile(TableFiles.toLogPath(f.path),
            f.partitionValues.map { case (k, v) => k -> v.orNull },
            sz, mt,
            dataChange = false,
            f.deletionVector.map(d => CkptDv(d.storageType, d.pathOrInlineDv,
              d.offset.getOrElse(1), d.sizeInBytes, d.cardinality)),
            f.stats, f.baseRowId, f.defaultRowCommitVersion)),
          None, None)
      })
    val logDir = new Path(new Path(tablePath), "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableFiles.writeStaged(rows.toDS().coalesce(1).toDF(), logDir, Nil)(_ =>
      new Path(logDir, f"$version%020d.checkpoint.parquet"))
    val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write(
      s"""{"version":$version,"size":${rows.length}}""".getBytes("UTF-8"))
    finally lc.close()
  }

  /** Write a V2 CHECKPOINT (PROTOCOL.md "V2 Spec Checkpoints") for the
    * current version: a uuid-named manifest holding `checkpointMetadata`
    * + `protocol` + `metaData` + `sidecar` references, with the file
    * actions sharded across `_delta_log/_sidecars/` parquet files. The
    * shape that scales past the classic single-file checkpoint: a
    * 100k-file snapshot splits into bounded sidecars that replay (and
    * later compact) independently, and the manifest itself stays
    * metadata-sized. Upgrades the protocol first when the table does
    * not yet carry the `v2Checkpoint` reader+writer feature (a real
    * commit — conformant readers refuse a v2 checkpoint on a table
    * whose protocol does not declare it). Classic checkpoints keep
    * being written by the every-10th-commit path; this is the opt-in
    * large-table form. Returns the checkpointed version. */
  def checkpointV2(spark: SparkSession, tablePath: String,
      sidecarMaxActions: Int = 50000): Long = {
    val snap0 = DeltaLogReader.snapshot(spark, tablePath)
    val p = snap0.protocol
    val needsUpgrade = p.minReaderVersion < 3 ||
      !p.readerFeatures.contains("v2Checkpoint") ||
      !p.writerFeatures.contains("v2Checkpoint")
    if (needsUpgrade)
      commitLoop(spark, tablePath, snap0.schema, snap0.partitionColumns,
        adds = Nil, removes = Nil, "UPGRADE PROTOCOL", emitMeta = false,
        extraActions = Seq(readerWriterFeatureUpgrade(p, "v2Checkpoint")),
        dataChange = false, priorConfig = Some(snap0.configuration))
    val snap = if (needsUpgrade) DeltaLogReader.snapshot(spark, tablePath)
               else snap0
    writeV2CheckpointFiles(spark, tablePath, snap, sidecarMaxActions)
    snap.version
  }

  /** Make V2 the table's ONGOING checkpoint form: sets
    * `delta.checkpointPolicy=v2` (with the protocol upgrade), so the
    * every-10th-commit path writes sharded-sidecar checkpoints instead
    * of the classic single file. */
  def setCheckpointPolicyV2(spark: SparkSession,
      tablePath: String): Committed = {
    checkpointV2(spark, tablePath) // upgrades protocol + seeds one
    val snap = DeltaLogReader.snapshot(spark, tablePath)
    if (snap.configuration.get("delta.checkpointPolicy").contains("v2"))
      return Committed(snap.version, 0)
    commitLoop(spark, tablePath, snap.schema, snap.partitionColumns,
      adds = Nil, removes = Nil, "SET TBLPROPERTIES", emitMeta = true,
      dataChange = false,
      config = snap.configuration + ("delta.checkpointPolicy" -> "v2"),
      priorConfig = Some(snap.configuration))
  }

  private def writeV2CheckpointFiles(spark: SparkSession,
      tablePath: String, snap: DeltaLogReader.Snapshot,
      sidecarMaxActions: Int): Unit = {
    val version = snap.version
    import spark.implicits._
    val logDir = new Path(new Path(tablePath), "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecarDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    // file actions sharded into bounded sidecar parquet files, written
    // as ONE spark job (a shard per partition), renamed in under fresh
    // uuids — sidecars are immutable and never overwritten
    val addRows: Seq[SidecarLine] = snap.files.map { f =>
      val (sz, mt) = realSizeMtime(spark, tablePath, f)
      SidecarLine(Some(
        CkptAddFile(TableFiles.toLogPath(f.path),
          f.partitionValues.map { case (k, v) => k -> v.orNull },
          sz, mt,
          dataChange = false,
          f.deletionVector.map(d => CkptDv(d.storageType, d.pathOrInlineDv,
            d.offset.getOrElse(1), d.sizeInBytes, d.cardinality)),
          f.stats, f.baseRowId, f.defaultRowCommitVersion)))
    }
    val nShards = math.max(1,
      (addRows.length + sidecarMaxActions - 1) / sidecarMaxActions)
    val sidecarNames = TableFiles.writeStaged(
        addRows.toDS().repartition(nShards).toDF(), logDir, Nil)(_ =>
        new Path(sidecarDir, s"${UUID.randomUUID()}.parquet"))
      .map(st => (new Path(st.path).getName, st.size))
    // the manifest: checkpointMetadata + protocol + metaData + sidecar
    // references (relative names resolve under _delta_log/_sidecars)
    val writerFeats = Some(snap.protocol.writerFeatures.toSeq.sorted)
    val readerFeats = Some(snap.protocol.readerFeatures.toSeq.sorted)
    val manifestRows: Seq[V2ManifestLine] =
      V2ManifestLine(Some(CkptV2Meta(version)), None, None, None) +:
      V2ManifestLine(None, None,
        Some(CkptProtocol(snap.protocol.minReaderVersion,
          snap.protocol.minWriterVersion, readerFeats, writerFeats)),
        None) +:
      V2ManifestLine(None,
        Some(CkptMetaData(UUID.randomUUID().toString, snap.schema.json,
          snap.partitionColumns, snap.configuration)), None, None) +:
      (snap.domainMetadata.toSeq.sorted.map { case (dom, cfg) =>
        V2ManifestLine(None, None, None, None,
          Some(CkptDomainMetadata(dom, cfg)))
      } ++
      snap.transactions.toSeq.sorted.map { case (app, v) =>
        V2ManifestLine(None, None, None, None, None, Some(CkptTxn(app, v)))
      } ++
      sidecarNames.map { case (name, len) =>
        V2ManifestLine(None, None, None, Some(CkptSidecar(name, len)))
      })
    TableFiles.writeStaged(manifestRows.toDS().coalesce(1).toDF(), logDir,
        Nil)(_ =>
      new Path(logDir, f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet"))
    val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
    try lc.write(
      s"""{"version":$version,"size":${manifestRows.length + addRows.length}}"""
        .getBytes("UTF-8"))
    finally lc.close()
  }

  final case class CkptV2Meta(version: Long)
  final case class CkptSidecar(path: String, sizeInBytes: Long)
  final case class SidecarLine(add: Option[CkptAddFile])
  final case class V2ManifestLine(
      checkpointMetadata: Option[CkptV2Meta],
      metaData: Option[CkptMetaData],
      protocol: Option[CkptProtocol],
      sidecar: Option[CkptSidecar],
      domainMetadata: Option[CkptDomainMetadata] = None,
      txn: Option[CkptTxn] = None)

  final case class CkptDv(storageType: String, pathOrInlineDv: String,
      offset: Int, sizeInBytes: Int, cardinality: Long)
  final case class CkptAddFile(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, dataChange: Boolean,
      deletionVector: Option[CkptDv] = None,
      stats: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)
  final case class CkptDomainMetadata(domain: String,
      configuration: String, removed: Boolean = false)
  final case class CkptTxn(appId: String, version: Long,
      lastUpdated: Option[Long] = None)
  // configuration must survive checkpointing — compacting it away would
  // drop delta.columnMapping.mode and make physical names unresolvable
  final case class CkptMetaData(id: String, schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String] = Map.empty)
  final case class CkptProtocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)
  final case class CkptLine(add: Option[CkptAddFile],
      metaData: Option[CkptMetaData], protocol: Option[CkptProtocol],
      domainMetadata: Option[CkptDomainMetadata] = None,
      txn: Option[CkptTxn] = None)
}
