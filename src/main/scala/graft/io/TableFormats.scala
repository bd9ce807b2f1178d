package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.table.TxnLog

/** User-facing table-format entry points with the reference's API names —
  * `s3.to_deltalake` / `read_deltalake` (`s3/_write_deltalake.py:51-226`,
  * `s3/_read_deltalake.py:38-136`) and `athena.to_iceberg` /
  * `from_iceberg` (`athena/_write_iceberg.py`, `s3/_s3_tables_iceberg.py`)
  * — [[toTable]] writes the in-repo snapshot log [[graft.table.TxnLog]]
  * (atomic manifest commits, optimistic concurrency, `VERSION AS OF`),
  * `toDeltalake`/`toIceberg` write the real formats through the in-repo
  * [[DeltaLogWriter]]/[[IcebergWriter]] (the engine depends on no Delta
  * or Iceberg library), and `read_deltalake` also reads real Delta
  * tables other engines wrote, via [[DeltaLogReader]].
  * A user of the reference keeps their call shape: mode strings, merge
  * keys, versioned reads.
  */
object TableFormats {

  /** `to_deltalake(df, path, mode=…)`; `mergeKeys` engages the MERGE
    * path (`athena.to_iceberg(merge_cols=…)` semantics); `partitionBy`
    * makes snapshots partition-granular (MERGE rewrites only the
    * partitions its rows land in or its matched keys live in —
    * `athena/_write_iceberg.py` partitioned tables). */
  def toTable(
      df: DataFrame,
      path: String,
      mode: String = "append",
      mergeKeys: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): TxnLog.Snapshot =
    if (mergeKeys.nonEmpty &&
      TxnLog.currentSnapshot(df.sparkSession, path).nonEmpty)
      TxnLog.merge(df.sparkSession, path, df, mergeKeys)
    else if (mergeKeys.nonEmpty) // upsert into a not-yet-existing table
      TxnLog.create(df, path, partitionBy)
    else mode match {
      case "append" =>
        if (TxnLog.currentSnapshot(df.sparkSession, path).isEmpty)
          TxnLog.create(df, path, partitionBy)
        else TxnLog.append(df, path, partitionBy)
      case "overwrite" =>
        if (TxnLog.currentSnapshot(df.sparkSession, path).isEmpty)
          TxnLog.create(df, path, partitionBy)
        else TxnLog.overwrite(df, path, partitionBy)
      case "error" | "errorifexists" =>
        TxnLog.create(df, path, partitionBy)
      case other =>
        throw new IllegalArgumentException(s"unsupported mode: $other")
    }

  /** `to_deltalake` in the REAL Delta format (`_delta_log` JSON actions +
    * periodic checkpoint parquet) — any Delta reader, not just this repo,
    * can open the result; [[DeltaLogReader]] is the in-repo consumer.
    * `mergeKeys` engages the partition-granular MERGE path;
    * `matchNulls` compiles the key joins to `<=>` (the reference's
    * `merge_match_nulls`); `schemaEvolution` (default true, reference
    * `schema_evolution=True`) lets appends widen the schema. */
  def toDeltalake(df: DataFrame, path: String, mode: String = "append",
      mergeKeys: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      matchNulls: Boolean = false,
      schemaEvolution: Boolean = true): DeltaLogWriter.Committed =
    if (mergeKeys.nonEmpty &&
      DeltaLogReader.latestVersion(df.sparkSession, path) >= 0)
      DeltaLogWriter.merge(df.sparkSession, path, df, mergeKeys, matchNulls)
    else if (mergeKeys.nonEmpty) // upsert into a not-yet-existing table
      DeltaLogWriter.write(df, path, mode = "error", partitionBy = partitionBy)
    else DeltaLogWriter.write(df, path, mode, partitionBy, schemaEvolution)

  /** `to_iceberg` — REAL Iceberg format (metadata json + avro manifests,
    * [[IcebergWriter]]) for new or already-Iceberg tables; a dir holding
    * an existing TxnLog table continues through TxnLog so mixed-format
    * dirs never fork. `mergeCols` engages partition-granular MERGE;
    * `matchNulls` compiles the key joins to `<=>` (the reference's
    * `merge_match_nulls`); `schemaEvolution` (default true, mirroring
    * the reference's diff-and-ALTER flow) lets appends widen the
    * schema with trailing nullable columns. */
  def toIceberg(df: DataFrame, path: String, mode: String = "append",
      mergeCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      matchNulls: Boolean = false,
      schemaEvolution: Boolean = true): Unit = {
    val spark = df.sparkSession
    val isTxn = !IcebergReader.isIcebergTable(spark, path) &&
      TxnLog.currentSnapshot(spark, path).nonEmpty
    if (isTxn) toTable(df, path, mode, mergeCols, partitionBy)
    else if (mergeCols.nonEmpty &&
      IcebergReader.isIcebergTable(spark, path))
      IcebergWriter.merge(spark, path, df, mergeCols, matchNulls)
    else if (mergeCols.nonEmpty)
      IcebergWriter.write(df, path, mode = "error", partitionBy = partitionBy)
    else IcebergWriter.write(df, path, mode, partitionBy, schemaEvolution)
  }

  /** `read_deltalake(path, version=…)` / Iceberg `VERSION AS OF`. */
  def readTable(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame =
    TxnLog.read(spark, path, version)

  /** `read_deltalake`: a table carrying a REAL `_delta_log` (written by
    * another engine) routes through the jar-free protocol reader
    * [[DeltaLogReader]]; otherwise it is one of ours, backed by TxnLog. */
  def readDeltalake(spark: SparkSession, path: String,
      version: Option[Int] = None,
      partitions: Seq[ScanFilter] = Nil): DataFrame = {
    val logDir = new org.apache.hadoop.fs.Path(path, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(logDir))
      DeltaLogReader.read(spark, path, version.map(_.toLong), partitions)
    else {
      val base = readTable(spark, path, version)
      ScanFilters.residual(partitions).map(base.filter).getOrElse(base)
    }
  }

  /** [[readDeltalake]] with an arbitrary Spark `Column` predicate — the
    * supported conjuncts prune files exactly like the `partitions`
    * tuple API; the rest stays residual ([[ScanFilters.fromColumn]]). */
  def readDeltalakeWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): DataFrame =
    DeltaLogReader.readWhere(spark, path, predicate)

  /** [[fromIceberg]] with an arbitrary Spark `Column` predicate — the
    * supported conjuncts prune manifests exactly like the `partitions`
    * tuple API; the rest stays residual. */
  def fromIcebergWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): DataFrame =
    IcebergReader.readWhere(spark, path, predicate)

  /** `from_iceberg`: a table carrying REAL Iceberg metadata (committed by
    * another engine) routes through the jar-free [[IcebergReader]] —
    * `version` is then Athena's `VERSION AS OF` snapshot id; otherwise it
    * is one of ours, backed by TxnLog. */
  def fromIceberg(spark: SparkSession, path: String,
      version: Option[Int] = None,
      partitions: Seq[ScanFilter] = Nil): DataFrame =
    if (IcebergReader.isIcebergTable(spark, path))
      IcebergReader.read(spark, path, version.map(_.toLong), partitions)
    else {
      val base = readTable(spark, path, version)
      ScanFilters.residual(partitions).map(base.filter).getOrElse(base)
    }

  /** `from_iceberg` at a specific snapshot id (ids exceed Int range in
    * real tables — Iceberg ids are random longs). */
  def fromIcebergSnapshot(spark: SparkSession, path: String,
      snapshotId: Long): DataFrame =
    IcebergReader.read(spark, path, Some(snapshotId))

  /** `FOR TIMESTAMP AS OF` (Athena's Iceberg time-travel): the snapshot
    * current at `tsMillis` per the metadata's snapshot-log. */
  def fromIcebergAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    IcebergReader.read(spark, path, asOfTimestamp = Some(tsMillis))

  /** Read a named Iceberg snapshot ref (spec v2 branches/tags); create
    * one with [[tagIcebergSnapshot]]. */
  def fromIcebergRef(spark: SparkSession, path: String,
      ref: String): DataFrame =
    IcebergReader.read(spark, path, asOfRef = Some(ref))

  /** Iceberg incremental append scan: the rows added after
    * `fromSnapshotId` (exclusive) up to `toSnapshotId` (inclusive;
    * default current) — the incremental-consumer entry point
    * ([[IcebergReader.incrementalAppendScan]]; the Delta twin is
    * [[readDeltalakeChanges]]). */
  def fromIcebergIncremental(spark: SparkSession, path: String,
      fromSnapshotId: Option[Long],
      toSnapshotId: Option[Long] = None): DataFrame =
    IcebergReader.incrementalAppendScan(spark, path, fromSnapshotId,
      toSnapshotId)

  /** Tag (or branch) a snapshot for reproducible reads — the `refs`
    * metadata commit ([[IcebergWriter.setRef]]); tagged snapshots
    * survive [[expireIcebergSnapshots]]. */
  def tagIcebergSnapshot(spark: SparkSession, path: String, name: String,
      snapshotId: Option[Long] = None, refType: String = "tag"): Long =
    IcebergWriter.setRef(spark, path, name, snapshotId, refType)

  /** Athena's Iceberg metadata relations (`SELECT * FROM "t$files"`,
    * `$snapshots`, `$history`, `$manifests`, `$partitions`, `$refs`) —
    * inspection queries over the table's own bookkeeping, metadata-scale
    * by construction. */
  def icebergMetadataTable(spark: SparkSession, path: String,
      name: String): DataFrame =
    IcebergReader.metadataTable(spark, path, name)

  /** Rename a Delta column without rewriting data — upgrades the table
    * to column-mapping `mode=name` on first use
    * ([[DeltaLogWriter.renameColumn]]); the Iceberg twin is
    * [[IcebergWriter.renameColumn]]. */
  def renameDeltalakeColumn(spark: SparkSession, path: String,
      from: String, to: String): DeltaLogWriter.Committed =
    DeltaLogWriter.renameColumn(spark, path, from, to)

  /** Evolve the Iceberg partition spec (`ALTER TABLE … ADD/DROP
    * PARTITION FIELD`): metadata-only — existing files stay under their
    * spec and prune under it; new appends lay out under the new spec;
    * [[rewriteIcebergDataFiles]] migrates old-spec files. */
  def updateIcebergPartitionSpec(spark: SparkSession, path: String,
      partitionBy: Seq[String]): Int =
    IcebergWriter.updatePartitionSpec(spark, path, partitionBy)

  /** `ALTER TABLE ADD CONSTRAINT` on a Delta table (PROTOCOL.md "CHECK
    * Constraints"): existing rows validated, later writes enforce. */
  def addDeltalakeCheckConstraint(spark: SparkSession, path: String,
      name: String, exprSql: String): Unit =
    DeltaLogWriter.addCheckConstraint(spark, path, name, exprSql)

  def dropDeltalakeCheckConstraint(spark: SparkSession, path: String,
      name: String): Unit =
    DeltaLogWriter.dropCheckConstraint(spark, path, name)

  /** Row tracking on a Delta table: stable `_row_id` identity
    * (PROTOCOL.md "Row Tracking") — the Delta twin of
    * [[fromIcebergWithLineage]]. */
  def enableDeltalakeRowTracking(spark: SparkSession, path: String): Unit =
    DeltaLogWriter.enableRowTracking(spark, path)

  def readDeltalakeWithRowIds(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    DeltaLogReader.readWithRowIds(spark, path, version)

  /** Shallow CLONE: zero-copy Delta fork referencing the source's
    * files; tables evolve independently afterwards. */
  def shallowCloneDeltalake(spark: SparkSession, srcPath: String,
      dstPath: String): Unit =
    DeltaLogWriter.shallowClone(spark, srcPath, dstPath)

  /** UniForm-style mirror: keep an Iceberg metadata mirror of a live
    * Delta table current ([[TableMigration.refreshUniform]]). */
  def refreshUniformIceberg(spark: SparkSession, deltaPath: String,
      icebergMirrorPath: String): Unit =
    TableMigration.refreshUniform(spark, deltaPath, icebergMirrorPath)

  /** `delta.appendOnly`: data-removing commits raise once set. */
  def setDeltalakeAppendOnly(spark: SparkSession, path: String,
      enabled: Boolean = true): Unit =
    DeltaLogWriter.setAppendOnly(spark, path, enabled)

  /** Upgrade an Iceberg table to format-version 3: DELETEs switch to
    * puffin deletion vectors, existing position-delete parquet converts
    * in the upgrade commit, and row lineage (`_row_id`) begins. */
  def upgradeIcebergFormatVersion(spark: SparkSession, path: String,
      version: Int = 3): Unit =
    IcebergWriter.setFormatVersion(spark, path, version)

  /** v3 row lineage: the table with `_row_id` /
    * `_last_updated_sequence_number` attached — stable row identity
    * across engines, the provenance key a training-data pipeline joins
    * incremental annotations on. */
  def fromIcebergWithLineage(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame =
    IcebergReader.readWithLineage(spark, path, version)

  /** `TIMESTAMP AS OF` on a real Delta table: the latest version whose
    * (monotonized) commit timestamp is at or before `tsMillis`. */
  def readDeltalakeAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    DeltaLogReader.read(spark, path, asOfTimestamp = Some(tsMillis))

  /** Zero-rewrite format migration, both directions ([[TableMigration]]):
    * the source's live files register into a fresh target-format log
    * with their partition tuples — a metadata commit, never a copy job.
    * Merge-on-read state (DVs / pos-eq deletes) must be compacted away
    * first; both raise loudly otherwise. */
  def convertDeltaToIceberg(spark: SparkSession, deltaPath: String,
      icebergPath: String): IcebergWriter.Committed =
    TableMigration.convertDeltaToIceberg(spark, deltaPath, icebergPath)

  def convertIcebergToDelta(spark: SparkSession, icebergPath: String,
      deltaPath: String): DeltaLogWriter.Committed =
    TableMigration.convertIcebergToDelta(spark, icebergPath, deltaPath)

  /** Stage an append on an Iceberg BRANCH (spec `refs`) — the write
    * half of write-audit-publish: main readers see nothing until
    * [[publishIcebergBranch]]; audit the staged state with
    * `fromIcebergRef(branch)` ([[IcebergWriter.write]] `toBranch`). */
  def writeIcebergBranch(df: DataFrame, path: String, branch: String,
      mode: String = "append"): IcebergWriter.Committed =
    IcebergWriter.write(df, path, mode = mode, toBranch = Some(branch))

  /** Publish a staged branch: fast-forward main to the branch head in
    * one metadata commit ([[IcebergWriter.fastForward]]). Returns the
    * published snapshot id. */
  def publishIcebergBranch(spark: SparkSession, path: String,
      branch: String): Long =
    IcebergWriter.fastForward(spark, path, branch)

  /** delta-spark's RESTORE: re-commit an earlier version's state as a
    * new version by file-level diff — metadata-only cost, history kept
    * ([[DeltaLogWriter.restore]]). */
  def restoreDeltalake(spark: SparkSession, path: String,
      version: Long): DeltaLogWriter.Committed =
    DeltaLogWriter.restore(spark, path, version)

  /** Iceberg's `rollback_to_snapshot`: move the current-snapshot
    * pointer back with a metadata-only commit; rolled-past snapshots
    * stay time-travelable until expiry ([[IcebergWriter.rollbackTo]]). */
  def rollbackIceberg(spark: SparkSession, path: String,
      snapshotId: Long): Unit =
    IcebergWriter.rollbackTo(spark, path, snapshotId)

  /** Turn the Change Data Feed on: from this commit forward, MERGE /
    * DELETE / overwrite record row-level changes under `_change_data/`
    * ([[DeltaLogWriter.enableChangeDataFeed]]). */
  def enableDeltaChangeDataFeed(spark: SparkSession,
      path: String): DeltaLogWriter.Committed =
    DeltaLogWriter.enableChangeDataFeed(spark, path)

  /** delta-spark's `readChangeFeed`: row-level changes between two table
    * versions with `_change_type` / `_commit_version` /
    * `_commit_timestamp` — the incremental-consumer entry point
    * ([[DeltaLogReader.changes]]). */
  def readDeltalakeChanges(spark: SparkSession, path: String,
      startVersion: Long, endVersion: Option[Long] = None): DataFrame =
    DeltaLogReader.changes(spark, path, startVersion, endVersion)

  /** `DELETE FROM` a real Delta table WITHOUT rewriting data files —
    * routes to [[DeltaLogWriter.deleteWhere]], which writes deletion
    * vectors (and removes fully-deleted files). The delete shape that
    * scales: matched-row bitmaps, not terabytes of rewritten parquet. */
  def deleteFromDeltalake(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): DeltaLogWriter.Committed =
    DeltaLogWriter.deleteWhere(spark, path, predicate)

  /** Zero-rewrite key UPSERT on a REAL Iceberg table: one commit adds
    * the new rows and an equality-delete file for their keys
    * ([[IcebergWriter.upsertByKey]] — the Flink-CDC shape); nothing is
    * rewritten, reads absorb the deletes with sequence ordering. */
  def upsertIceberg(spark: SparkSession, path: String,
      src: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): IcebergWriter.Committed =
    IcebergWriter.upsertByKey(spark, path, src, keys)

  /** `DELETE FROM … WHERE` on a real Iceberg table WITHOUT rewriting
    * data files — v2 position-delete files ([[IcebergWriter.deleteWhere]],
    * the Iceberg symmetry of [[deleteFromDeltalake]]'s DV delete). */
  def deleteFromIceberg(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): IcebergWriter.Committed =
    IcebergWriter.deleteWhere(spark, path, predicate)

  /** OPTIMIZE a REAL Delta table: compact small files and materialize
    * deletion vectors ([[DeltaLogWriter.optimize]]); commits with
    * `dataChange=false`. Pair with [[vacuumDeltalake]] to reclaim the
    * superseded files. */
  def optimizeDeltalake(spark: SparkSession, path: String,
      targetSize: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None)
      : DeltaLogWriter.Committed =
    DeltaLogWriter.optimize(spark, path, targetSize, sortBy, zorderBy,
      where)

  /** Compact a REAL Iceberg table (`rewrite_data_files`): bin-pack small
    * files and materialize position/equality delete files back into
    * plain data files ([[IcebergWriter.rewriteDataFiles]]). Pair with
    * [[expireIcebergSnapshots]] to reclaim the superseded files. */
  def rewriteIcebergDataFiles(spark: SparkSession, path: String,
      targetSize: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil): IcebergWriter.Committed =
    IcebergWriter.rewriteDataFiles(spark, path, targetSize, sortBy)

  /** Compact a real Iceberg table's METADATA (`rewrite_manifests`):
    * consolidate the current snapshot's data manifests into one per
    * spec — planning opens one manifest instead of one per historical
    * commit; no data file is touched ([[IcebergWriter.rewriteManifests]]). */
  def rewriteIcebergManifests(spark: SparkSession,
      path: String): IcebergWriter.Committed =
    IcebergWriter.rewriteManifests(spark, path)

  /** `VACUUM` a real Delta table: physically remove data files and DV
    * sidecars no current-snapshot reference, past the retention window. */
  def vacuumDeltalake(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] =
    DeltaLogWriter.vacuum(spark, path, retentionMs)

  /** Delta LOG retention (`delta.logRetentionDuration` semantics):
    * sweep commit JSON and superseded checkpoints below the newest
    * replayable checkpoint, past the retention window. Data files are
    * [[vacuumDeltalake]]'s job; this bounds the metadata. */
  def cleanupDeltaMetadata(spark: SparkSession, path: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000): Seq[String] =
    DeltaLogWriter.cleanupMetadata(spark, path, retentionMs)

  /** `expire_snapshots` + orphan cleanup on a real Iceberg table — the
    * Iceberg counterpart of [[vacuumDeltalake]]: drop snapshots past the
    * retention window (keeping the newest `retainLast` and the current
    * one) and physically delete the files only they referenced. */
  def expireIcebergSnapshots(spark: SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      retainLast: Int = 1): Seq[String] =
    IcebergWriter.expireSnapshots(spark, path, retentionMs, retainLast)

  /** `describe_history` parity. */
  /** delta-spark's `DESCRIBE DETAIL`: one-row table summary straight
    * from the log snapshot — metadata-only, never a data scan. */
  def describeDeltaDetail(spark: SparkSession, path: String): DataFrame = {
    val s = spark
    import s.implicits._
    val snap = DeltaLogReader.snapshot(spark, path)
    Seq((
      "delta", path, snap.version, snap.files.length.toLong,
      snap.files.map(f => math.max(f.size, 0L)).sum,
      snap.partitionColumns,
      snap.files.count(_.deletionVector.isDefined).toLong,
      snap.configuration.toSeq.sorted.map { case (k, v) => s"$k=$v" },
      s"${snap.protocol.minReaderVersion}/${snap.protocol.minWriterVersion}",
      (snap.protocol.readerFeatures ++ snap.protocol.writerFeatures)
        .toSeq.sorted))
      .toDF("format", "location", "version", "num_files",
        "size_in_bytes", "partition_columns", "num_files_with_dvs",
        "properties", "protocol", "table_features")
  }

  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    val s = spark
    import s.implicits._
    TxnLog.history(spark, path)
      .map(h => (h.version, h.op, h.timestampMs, h.dataDirs.length))
      .toDF("version", "operation", "timestamp_ms", "n_data_dirs")
  }
}
