package graft.io

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Writes REAL Apache Iceberg tables — the format counterpart of
  * [[IcebergReader]], covering the reference's `athena.to_iceberg`
  * (`athena/_write_iceberg.py:411-714`) / `s3.to_iceberg`
  * (`s3/_s3_tables_iceberg.py:160-250`), which commit tables ANY Iceberg
  * reader can open. The spec (iceberg.apache.org/spec/, format-version 1)
  * is plain files and the Spark distribution ships avro, so no Iceberg
  * jar is needed:
  *
  *  - data files are ordinary parquet written by Spark under `data/`
  *    (hive-style partition directories, partition columns kept IN the
  *    files as identity-transform Iceberg tables require);
  *  - each commit writes one manifest avro (entries: status + `data_file`
  *    struct with path/format/partition/record-count/size), one
  *    manifest-list avro for the snapshot, and claims the next
  *    `metadata/vN.metadata.json` with create-exclusive — a losing
  *    writer re-reads the log and retries (optimistic concurrency);
  *  - `version-hint.text` tracks the current version (Hadoop catalog
  *    convention); readers that ignore it fall back to the highest vN.
  *
  * Scale: per-file record counts come from DISTRIBUTED parquet-footer
  * reads (metadata-only, never the data pages); the driver holds one
  * manifest row per file — the same cost every Iceberg committer pays.
  * MERGE is partition-granular: untouched data files are carried into
  * the new snapshot as status=EXISTING manifest entries (metadata only,
  * zero data rewrite), exactly how Iceberg's own copy-on-write commits
  * keep unrelated partitions free.
  */
object IcebergWriter {

  import IcebergTransforms.PartitionField
  import IcebergReader.{fieldOpt, intOf, longOf}

  private val mapper = new ObjectMapper()

  final case class Committed(snapshotId: Long, version: Long, numFiles: Int)

  private final case class FileInfo(path: String,
      partitionValues: Map[String, Option[String]], size: Long,
      recordCount: Long,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      equalityIds: Seq[Int] = Nil,
      nullCounts: Map[Int, Long] = Map.empty,
      fileFormat: String = "PARQUET",
      // v3 deletion-vector triple (spec field-ids 143/144/145)
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeBytes: Option[Long] = None,
      // v3 row lineage: explicit first_row_id for EXISTING carried files
      // (ADDED files are assigned by the commit); None = let the commit
      // assign (adds) or leave null (pre-lineage files)
      firstRowId: Option[Long] = None)

  /** `to_iceberg(df, path, mode=…)` in the real format. `partitionBy`
    * entries are transform specs: a bare column name (identity),
    * `day/month/year/hour(col)`, or `bucket(n, col)` — the call shapes
    * the reference accepts (`athena/_write_iceberg.py:269-281`).
    *
    * Appends evolve additively by default, mirroring the reference's
    * diff-and-ALTER flow (`athena/_write_iceberg.py:112-234`): new
    * incoming columns join the table schema as trailing nullable fields.
    * Field-ids stay stable because id assignment is positional over the
    * merged schema (table order first, new fields appended) and the
    * incoming frame is re-aligned to that order before writing — old
    * files resolve the new ids to null via the reader's snapshot-schema
    * scan. Retyping a column still raises. Evolution appends a NEW
    * entry to the metadata's `schemas` history (next schema-id, ids
    * never reused) and stamps each snapshot with the schema-id it was
    * written under — a time-travel read of a pre-evolution snapshot
    * resolves its own narrower schema, per spec. */
  def write(df: DataFrame, tablePath: String, mode: String = "append",
      partitionBy: Seq[String] = Nil,
      schemaEvolution: Boolean = true,
      toBranch: Option[String] = None): Committed = {
    val spark = df.sparkSession
    val exists = IcebergReader.isIcebergTable(spark, tablePath)
    require(toBranch.isEmpty || exists,
      s"cannot write branch ${toBranch.getOrElse("")} of a table that " +
        s"does not exist yet: $tablePath")
    mode match {
      case "append" | "overwrite" => ()
      case "error" | "errorifexists" =>
        if (exists) throw new IllegalArgumentException(
          s"Iceberg table already exists at $tablePath")
      case other =>
        throw new IllegalArgumentException(s"unsupported mode: $other")
    }
    val requested = partitionBy.map(IcebergTransforms.parse)
    // declared schema/partitioning come from the metadata, not a
    // snapshot — a created-but-never-written table (S3 Tables
    // `create_table`) has no snapshot yet but its declaration binds
    val declared =
      if (exists) Some(IcebergReader.tableInfo(spark, tablePath)._1) else None
    val declaredFields =
      if (exists) IcebergReader.partitionFields(spark, tablePath) else Nil
    val partFields =
      if (declaredFields.nonEmpty) declaredFields else requested
    if (exists && partitionBy.nonEmpty && declaredFields != requested)
      throw new IllegalArgumentException(
        s"partitionBy ${partitionBy.mkString(",")} != table's " +
          declaredFields.map(f => s"${f.transform}(${f.source})").mkString(","))
    var outSchema = df.schema
    var outDf = df
    declared.foreach { tblSchema =>
      if (mode == "append") {
        // branch writes never evolve the TABLE schema — the metadata's
        // current schema is shared with main, so a staged write that
        // widened it would leak into main before publish
        outSchema = SchemaMerge.mergeAppend(tblSchema, df.schema,
          evolve = schemaEvolution && toBranch.isEmpty, promote = true)
        outDf = SchemaMerge.alignTo(df, outSchema)
      }
    }
    val adds = writeDataFiles(outDf, tablePath, partFields)
    // append CARRIES the current snapshot's manifest files, re-read at
    // claim time inside the commit loop — a concurrent writer's manifests
    // survive a retry (the lost-update hazard of flattening the file list
    // as seen before the claim); overwrite replaces whatever is current.
    // Branch appends carry the BRANCH head's manifests instead (resolved
    // in the loop), and only the branch ref moves.
    commit(spark, tablePath, outSchema, partFields, adds, kept = Nil,
      operation = if (mode == "overwrite" && exists) "overwrite" else "append",
      carryCurrentManifests = mode == "append" && exists,
      expectedParent = None, branch = toBranch)
  }

  /** S3 Tables `create_table`: declare an EMPTY Iceberg table — schema
    * and partition spec in v1.metadata.json, no snapshot. The first
    * append commits against the declaration (schema-checked). */
  def createEmpty(spark: SparkSession, tablePath: String,
      schema: StructType, partitionBy: Seq[String] = Nil,
      formatVersion: Int = 1): Unit = {
    require(!IcebergReader.isIcebergTable(spark, tablePath),
      s"Iceberg table already exists at $tablePath")
    require(formatVersion >= 1 && formatVersion <= 3,
      s"unsupported format-version $formatVersion")
    val partFields = partitionBy.map(IcebergTransforms.parse)
    partFields.foreach(f => require(schema.fieldNames.contains(f.source),
      s"partition source column ${f.source} not in schema"))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    val node = emptyMetadataJson(fs.makeQualified(root).toString, schema,
      partFields, System.currentTimeMillis(), formatVersion)
    if (!AtomicWrite.claim(fs, new Path(metaDir, "v1.metadata.json"),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)))
      throw new java.io.IOException(
        s"Iceberg table already being created at $tablePath")
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write("1".getBytes("UTF-8")) finally hint.close()
  }

  /** Raised when a commit's parent snapshot is no longer current — the
    * caller's file arithmetic is stale and must re-resolve. */
  final class ConcurrentCommit(msg: String) extends RuntimeException(msg)

  /** Run one snapshot-isolated resolution, re-running it from scratch
    * (up to three more times) while its commit finds that another
    * writer advanced the table first. */
  private def resolving[A](resolveOnce: => A): A = {
    var attempt = 0
    while (true) {
      try return resolveOnce
      catch { case _: ConcurrentCommit if attempt < 3 => attempt += 1 }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Upsert by key — partition-granular: untouched files are carried as
    * EXISTING manifest entries, only touched partitions are rewritten.
    * Snapshot-isolated: the commit validates that the snapshot the merge
    * resolved against is still current; if another writer advanced the
    * table, the whole resolution re-runs against the new snapshot.
    * `beforeCommit` runs once the new files are staged, before the
    * commit claims a version; when it throws, the staged files are
    * deleted and its error propagates with the table unchanged. */
  def merge(spark: SparkSession, tablePath: String, src: DataFrame,
      keys: Seq[String], matchNulls: Boolean = false,
      beforeCommit: () => Unit = () => ()): Committed =
    resolving(mergeOnce(spark, tablePath, src, keys, matchNulls, beforeCommit))

  private def mergeOnce(spark: SparkSession, tablePath: String,
      src: DataFrame, keys: Seq[String], matchNulls: Boolean,
      beforeCommit: () => Unit): Committed = {
    if (!IcebergReader.isIcebergTable(spark, tablePath)) {
      beforeCommit()
      return write(src, tablePath, mode = "error")
    }
    val snapOpt = IcebergReader.snapshotOpt(spark, tablePath)
    if (snapOpt.isEmpty) { // created-but-empty table: upsert = insert all
      beforeCommit()
      return write(src, tablePath, mode = "append")
    }
    val snap = snapOpt.get
    checkNoEqualityDeletes(snap, tablePath, "merge")
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val (plan, merged) = TableFiles.planMerge(target(spark, tablePath, snap, pfields),
      src.select(snap.schema.fieldNames.map(col).toSeq: _*), keys, matchNulls)
    val adds = writeDataFiles(merged, tablePath, pfields)
    gate(spark, tablePath, adds, beforeCommit)
    commit(spark, tablePath, snap.schema, pfields, adds, plan.kept.map(asInfo),
      operation = "overwrite", carryCurrentManifests = false,
      expectedParent = Some(snap.snapshotId))
  }

  /** Run `beforeCommit`; when it throws, delete the freshly written
    * `adds` and rethrow, so the table neither moves nor keeps a staged
    * file. */
  private def gate(spark: SparkSession, tablePath: String,
      adds: Seq[FileInfo], beforeCommit: () => Unit): Unit =
    try beforeCommit()
    catch { case e: Throwable =>
      val fs = new Path(tablePath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      adds.foreach(f => fs.delete(new Path(f.path), false))
      throw e
    }

  /** Rewrite paths (merge/delete-matched) drop the snapshot's delete
    * manifests, so they must materialize position deletes into the
    * rewritten files and refuse semantics they cannot materialize.
    * Equality deletes need the sequence-number join the READER implements
    * but a partition-granular rewrite cannot preserve — raise loudly
    * rather than resurrect rows. */
  private def checkNoEqualityDeletes(snap: IcebergReader.Snapshot,
      tablePath: String, op: String): Unit =
    if (snap.equalityDeleteFiles.nonEmpty)
      throw new UnsupportedIcebergFeatureException(
        s"$op on $tablePath: table carries equality delete files " +
          s"(${snap.equalityDeleteFiles.map(_.path).mkString(", ")}); " +
          "rewriting it here would resurrect deleted rows")

  /** Normalized data-file paths any live position-delete file targets —
    * a distributed scan of the (small) delete files, one distinct path
    * per row back to the driver (manifest-scale). v3 deletion vectors
    * name their target in the MANIFEST (`referenced_data_file`), so
    * their contribution costs no scan at all. */
  private def deleteTargetPaths(spark: SparkSession,
      snap: IcebergReader.Snapshot): Set[String] = {
    val fromParquet =
      if (snap.deleteFiles.isEmpty) Set.empty[String]
      else spark.read.parquet(snap.deleteFiles.map(_.path): _*)
        .select(TableFiles.schemeless(col("file_path")).as("f"))
        .distinct().collect().map(_.getString(0)).toSet
    fromParquet ++
      snap.dvFiles.flatMap(_.referencedDataFile).map(p => TableFiles.schemeless(p))
  }

  /** Scan of `files` with the snapshot's position deletes applied (the
    * reader's anti-join, restricted to the touched subset). */
  private def deleteAwareScan(spark: SparkSession,
      snap: IcebergReader.Snapshot,
      files: Seq[IcebergReader.DataFileEntry]): DataFrame = {
    val sub = snap.copy(files = files, equalityDeleteFiles = Nil)
    val scan =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
      else if (snap.deleteFiles.isEmpty && snap.dvFiles.isEmpty)
        IcebergReader.dataScan(spark, sub)
      else IcebergReader.applyDeletes(spark, sub)
    scan.select(snap.schema.fieldNames.map(col).toSeq: _*)
  }

  /** The snapshot as a rewrite target. A file's tuple is its manifest
    * partition tuple, whose values this writer records in Spark's
    * cast-to-string rendering; the table-row side computes the same
    * tuple through the partition transforms. Two kinds of file always
    * rewrite: one written under an OLDER partition spec, whose tuple
    * the current spec cannot express (carrying it as EXISTING into
    * this commit's current-spec manifest would mislabel its partition
    * values), and one a live position delete targets (the rewrite
    * commit drops the delete manifests, so carrying the file alone
    * would resurrect its deleted rows — it rewrites with the deletes
    * applied instead). */
  private def target(spark: SparkSession, tablePath: String,
      snap: IcebergReader.Snapshot, pfields: Seq[PartitionField])
      : TableFiles.Target[IcebergReader.DataFileEntry] = {
    lazy val targeted = deleteTargetPaths(spark, snap)
    TableFiles.Target(snap.files, deleteAwareScan(spark, snap, _),
      pfields.map(f =>
        IcebergTransforms.column(spark, f, snap.schema(f.source).dataType)),
      f =>
        if (f.specId != snap.defaultSpecId ||
            targeted.contains(TableFiles.schemeless(f.path))) None
        else Some(pfields.map(ff =>
          f.partition.get(ff.name).flatMap(Option(_)).map(_.toString))))
  }

  /** `athena.delete_from_iceberg_table`
    * (`athena/_write_iceberg.py:715-868`): remove rows whose key appears
    * in `keys` — partition-granular, same carry/rewrite split as
    * [[merge]]: untouched files become EXISTING manifest entries, only
    * partitions holding matched keys are rewritten. `beforeCommit`
    * gates the commit as in [[merge]]. */
  def deleteMatched(spark: SparkSession, tablePath: String, keys: DataFrame,
      keyCols: Seq[String], matchNulls: Boolean = false,
      beforeCommit: () => Unit = () => ()): Committed =
    resolving(deleteMatchedOnce(spark, tablePath, keys, keyCols, matchNulls,
      beforeCommit))

  private def deleteMatchedOnce(spark: SparkSession, tablePath: String,
      keys: DataFrame, keyCols: Seq[String],
      matchNulls: Boolean, beforeCommit: () => Unit): Committed = {
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val snapOpt = IcebergReader.snapshotOpt(spark, tablePath)
    if (snapOpt.isEmpty) // nothing to delete from; no-op, no new snapshot
      return Committed(-1L, 0L, 0)
    val snap = snapOpt.get
    checkNoEqualityDeletes(snap, tablePath, "delete_from_iceberg_table")
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val (plan, remaining) = TableFiles.planDeleteMatched(
      target(spark, tablePath, snap, pfields),
      keys.select(keyCols.map(col): _*).distinct(), keyCols, matchNulls)
    val adds = writeDataFiles(remaining, tablePath, pfields)
    gate(spark, tablePath, adds, beforeCommit)
    commit(spark, tablePath, snap.schema, pfields, adds, plan.kept.map(asInfo),
      operation = "delete", carryCurrentManifests = false,
      expectedParent = Some(snap.snapshotId))
  }

  /** `DELETE FROM … WHERE` by writing v2 POSITION-DELETE files — zero
    * data-file rewrite (iceberg spec §Position Delete Files; symmetry
    * with the Delta deletion-vector delete). The 100 TB delete shape:
    * only MATCHED (file, position) pairs shuffle (range-partitioned and
    * sorted by file_path, pos as the spec requires), the delete parquet
    * lands under `data/`, and one commit appends a content=1 delete
    * manifest while CARRYING every current manifest — untouched data
    * files and pages stay byte-identical. The commit upgrades the table
    * to format-version 2 (sequence numbers) the first time. Re-flagging
    * an already-deleted row is idempotent: the reader's (file, pos)
    * anti-join dedups. Snapshot-isolated like [[merge]]: a concurrent
    * rewrite invalidates matched positions, so the resolution re-runs. */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): Committed =
    resolving(deleteWhereOnce(spark, tablePath, predicate))

  /** `UPDATE … SET … WHERE` as ONE zero-rewrite commit (Athena's
    * Iceberg UPDATE shape): the matched LIVE rows are re-written with
    * the assignments applied as new data files, and their old positions
    * are flagged in the SAME commit — position-delete files on v1/v2,
    * puffin deletion vectors on v3. Untouched files stay byte-identical;
    * cost follows the matched rows, never the table. Assignments are
    * (column → expression) pairs evaluated against the current row.
    * v3 row-lineage caveat (shared with [[rewriteDataFiles]]): the
    * REPLACEMENT rows land in fresh files and take fresh `_row_id`s —
    * preserving ids across a rewrite requires materialized lineage
    * columns, which this writer does not emit yet; pipelines keying on
    * `_row_id` should treat an UPDATE as delete+insert. */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Committed = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    resolving(deleteWhereOnce(spark, tablePath, predicate, Some(assignments)))
  }

  /** The updated replacement rows of an UPDATE: the delete-applied
    * matched scan with the assignments projected in. */
  private def updatedRows(spark: SparkSession,
      snap: IcebergReader.Snapshot,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val asg = assignments.toMap
    asg.keys.foreach(c => require(snap.schema.fieldNames.contains(c),
      s"UPDATE assignment targets unknown column $c"))
    deleteAwareScan(spark, snap, snap.files)
      .filter(predicate)
      .select(snap.schema.fields.map { f =>
        asg.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
  }

  private def deleteWhereOnce(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      updateAssignments: Option[Seq[(String, org.apache.spark.sql.Column)]] =
        None): Committed = {
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val snapOpt = IcebergReader.snapshotOpt(spark, tablePath)
    if (snapOpt.isEmpty) return Committed(-1L, -1L, 0)
    val snap = snapOpt.get
    checkNoEqualityDeletes(snap, tablePath, "delete_where")
    if (snap.files.isEmpty) return Committed(snap.snapshotId, -1L, 0)
    // a v3 table deletes through DELETION VECTORS (position-delete FILES
    // must not be added to v3 tables, per spec)
    if (IcebergReader.formatVersion(spark, tablePath) >= 3)
      return deleteWhereDvOnce(spark, tablePath, predicate, snap,
        requireMatches = true, updateAssignments = updateAssignments)
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    // __file/__pos are attached inside the scan's branches (`_metadata`
    // does not resolve through a name-mapped union)
    val matched = IcebergReader.dataScan(spark, snap, withMeta = true)
      .filter(predicate)
      .select(col("__file").as("file_path"), col("__pos").cast("long").as("pos"))
    // the spec's reserved field-ids for position-delete columns,
    // embedded so field-id-resolving readers open these files
    val stamped = TableFiles.withFieldIds(matched,
      Map("file_path" -> 2147483546L, "pos" -> 2147483545L))
    val delFiles = writeDeleteFiles(
      stamped.repartitionByRange(col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos"),
      tablePath, "delete")
    if (delFiles.isEmpty) return Committed(snap.snapshotId, -1L, 0)
    // UPDATE: the replacement rows land as new data files in the SAME
    // commit that flags the old positions — one atomic snapshot
    val adds = updateAssignments match {
      case None => Nil
      case Some(asg) => writeDataFiles(
        updatedRows(spark, snap, predicate, asg), tablePath, pfields)
    }
    commit(spark, tablePath, snap.schema, pfields, adds = adds,
      kept = Nil,
      operation = if (updateAssignments.isDefined) "overwrite" else "delete",
      carryCurrentManifests = true,
      expectedParent = Some(snap.snapshotId), deleteAdds = delFiles)
  }

  /** Stage delete rows as Parquet and move each non-empty part file to
    * `data/<kind>-<uuid>.parquet` (an empty result writes one empty
    * part file, which is dropped). */
  private def writeDeleteFiles(rows: DataFrame, tablePath: String,
      kind: String, equalityIds: Seq[Int] = Nil): Seq[FileInfo] = {
    val spark = rows.sparkSession
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val moved = TableFiles.writeStaged(rows, root, Nil, _.getRecordCount)(_ =>
      new Path(new Path(root, "data"), s"$kind-${UUID.randomUUID()}.parquet"))
    val (nonEmpty, empty) = moved.partition(_.footer > 0L)
    empty.foreach(m => fs.delete(new Path(m.path), false))
    nonEmpty.map(m => FileInfo(m.path, Map.empty, m.size, m.footer,
      equalityIds = equalityIds))
  }

  /** v3 `DELETE FROM … WHERE` via DELETION VECTORS (iceberg spec
    * "Deletion Vectors"): matched positions are UNIONED with every
    * previously deleted position (prior DVs and any pre-upgrade
    * position-delete parquet) and re-encoded as one puffin DV blob per
    * touched data file — preserving the v3 invariant of AT MOST ONE DV
    * per data file, with each new DV superseding the old. The commit
    * appends one delete manifest of DV entries
    * (`referenced_data_file`/`content_offset`/`content_size_in_bytes`,
    * field-ids 143/144/145), carries data and equality-delete manifests,
    * and DROPS replaced positional delete manifests.
    *
    * Scale shape: only (file, position) pairs shuffle (hash-partitioned
    * by file); each task encodes its files' bitmaps and writes ONE
    * puffin with one blob per file; the driver receives blob descriptors
    * only. Delete cost is O(matched + previously deleted), never
    * O(table). */
  private def deleteWhereDvOnce(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      snap: IcebergReader.Snapshot,
      requireMatches: Boolean,
      updateAssignments: Option[Seq[(String, org.apache.spark.sql.Column)]] =
        None): Committed = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val matched = IcebergReader.dataScan(spark, snap, withMeta = true)
      .filter(predicate)
      .select(TableFiles.schemeless(col("__file")).as("f"),
        col("__pos").cast("long").as("p"))
    val priorParquet =
      if (snap.deleteFiles.isEmpty) None
      else Some(spark.read.parquet(snap.deleteFiles.map(_.path): _*)
        .select(TableFiles.schemeless(col("file_path")).as("f"),
          col("pos").cast("long").as("p")))
    val priorDvs =
      if (snap.dvFiles.isEmpty) None
      else Some(IcebergReader.dvPositions(spark, snap.dvFiles)
        .select(col("__file").as("f"), col("__pos").as("p")))
    val all = (Seq(matched) ++ priorParquet ++ priorDvs)
      .reduce(_ unionByName _)
    // the predicted snapshot identity, stamped into the puffin blob
    // metadata; a concurrent commit invalidates it and the claim loop's
    // expectedParent check forces a full re-resolution
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val predictedSeq = {
      val metaDir = new Path(root, "metadata")
      logState(fs, metaDir)._2.flatMap(p =>
        Option(p._2.get("last-sequence-number")).map(_.asLong))
        .getOrElse(0L) + 1
    }
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val dataDir = fs.makeQualified(new Path(root, "data")).toString
    fs.mkdirs(new Path(root, "data"))
    import spark.implicits._
    val blobs = all
      .repartition(col("f")).sortWithinPartitions(col("f"), col("p"))
      .mapPartitions { it =>
        val dvs = TableFiles.positionBitmaps(it)
          .map { case (f, bytes, card) => Puffin.DvBlob(f, bytes, card) }.toSeq
        if (dvs.isEmpty) Iterator.empty
        else {
          val p = new Path(dataDir, s"dv-${UUID.randomUUID()}.puffin")
          val located = Puffin.writeDvFile(confBc.value.value, p,
            dvs, snapshotId, predictedSeq)
          val size = p.getFileSystem(confBc.value.value)
            .getFileStatus(p).getLen
          val cardOf = dvs.map(d => d.referencedDataFile -> d.cardinality).toMap
          located.iterator.map { case (ref, off, len) =>
            (ref, p.toString, off, len, cardOf(ref), size)
          }
        }
      }.collect()
    if (blobs.isEmpty)
      return Committed(snap.snapshotId, -1L, 0)
    if (requireMatches) {
      // pure no-op only when nothing NEW matched and nothing converts:
      // identical DV state re-encoded would churn a snapshot
      val priorDeleted = snap.dvFiles.map(_.recordCount).sum +
        snap.deleteFiles.map(_.recordCount).sum
      val nowDeleted = blobs.map(_._5).sum
      if (nowDeleted == priorDeleted && snap.deleteFiles.isEmpty) {
        blobs.map(_._2).distinct.foreach(p => fs.delete(new Path(p), false))
        return Committed(snap.snapshotId, -1L, 0)
      }
    }
    val partOf: Map[String, Map[String, Option[String]]] =
      snap.files.map(f => TableFiles.schemeless(f.path) ->
        f.partition.map { case (k, v) => k -> Option(v).map(_.toString) })
        .toMap
    val dvInfos = blobs.toSeq.map { case (ref, puffin, off, len, card, size) =>
      FileInfo(puffin, partOf.getOrElse(ref, Map.empty), size, card,
        fileFormat = "PUFFIN", referencedDataFile = Some(ref),
        contentOffset = Some(off), contentSizeBytes = Some(len))
    }
    val adds = updateAssignments match {
      case None => Nil
      case Some(asg) => writeDataFiles(
        updatedRows(spark, snap, predicate, asg), tablePath, pfields)
    }
    try commit(spark, tablePath, snap.schema, pfields, adds = adds,
      kept = Nil,
      operation = if (updateAssignments.isDefined) "overwrite" else "delete",
      carryCurrentManifests = true,
      expectedParent = Some(snap.snapshotId), deleteAdds = dvInfos,
      snapshotIdOverride = Some(snapshotId), minFormatVersion = 3,
      dropPosDeleteManifests = true)
    catch {
      case e: Throwable =>
        // the commit never published: the staged puffins AND the
        // UPDATE's freshly written replacement files are orphans
        (blobs.map(_._2).distinct ++ adds.map(_.path)).foreach(p =>
          try fs.delete(new Path(p), false) catch { case _: Exception => () })
        throw e
    }
  }

  /** `ALTER TABLE ADD COLUMN ... DEFAULT` (v3 spec "Default values"):
    * a metadata-only commit appending the field — with
    * `initial-default` (the value rows in PRE-EXISTING files read,
    * instead of null) and optionally `write-default` (the value appends
    * lacking the column fill in) — to a NEW schemas-history entry.
    * Existing data files are never touched; the reader's shape-grouped
    * scan restores the default as a typed literal exactly for files
    * that predate the column. Adding a REQUIRED column to a non-empty
    * table demands an initial-default, per spec. */
  def addColumn(spark: SparkSession, tablePath: String, name: String,
      dataType: DataType, initialDefault: Option[Any] = None,
      writeDefault: Option[Any] = None,
      required: Boolean = false): Unit = {
    require(IcebergReader.formatVersion(spark, tablePath) >= 3,
      "column defaults require format-version 3 (setFormatVersion first)")
    require(!required || initialDefault.isDefined ||
        IcebergReader.snapshotOpt(spark, tablePath).forall(_.files.isEmpty),
      s"adding REQUIRED column $name to existing rows needs an initial-default")
    require(dataType match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: StructType => false
      case _ => true
    }, s"addColumn supports primitive types only, not ${dataType.simpleString}" +
      " (nested types consume field-ids; evolve through an append instead)")
    def renderDefault(v: Any): JsonNode = v match {
      case b: Boolean => mapper.getNodeFactory.booleanNode(b)
      case i: Int => mapper.getNodeFactory.numberNode(i)
      case l: Long => mapper.getNodeFactory.numberNode(l)
      case f: Float => mapper.getNodeFactory.numberNode(f.toDouble)
      case d: Double => mapper.getNodeFactory.numberNode(d)
      case s: String => mapper.getNodeFactory.textNode(s)
      case d: java.math.BigDecimal => mapper.getNodeFactory.numberNode(d)
      case other => throw new IllegalArgumentException(
        s"unsupported default value $other")
    }
    editMetadata(spark, tablePath, "an add-column commit") { node =>
      val current = currentSchema(node)
        .getOrElse(throw new IllegalStateException("no current schema"))
      require(!IcebergReader.jsonArray(current.get("fields"))
          .exists(_.get("name").asText == name),
        s"column $name already exists in $tablePath")
      val newId = Option(node.get("last-column-id")).map(_.asInt)
        .getOrElse(0) + 1
      val fieldNode = mapper.createObjectNode()
      fieldNode.put("id", newId)
      fieldNode.put("name", name)
      fieldNode.put("required", required)
      fieldNode.set[JsonNode]("type",
        icebergTypeJson(dataType,
          new java.util.concurrent.atomic.AtomicInteger(newId)))
      initialDefault.foreach(v =>
        fieldNode.set[JsonNode]("initial-default", renderDefault(v)))
      writeDefault.orElse(initialDefault).foreach(v =>
        fieldNode.set[JsonNode]("write-default", renderDefault(v)))
      val evolved = current.deepCopy()
      val schemas = child(node, "schemas")(mapper.createArrayNode())
      val newSchemaId = IcebergReader.jsonArray(schemas)
        .map(_.get("schema-id").asInt).foldLeft(-1)(math.max) + 1
      evolved.put("schema-id", newSchemaId)
      evolved.get("fields").asInstanceOf[ArrayNode].add(fieldNode)
      schemas.add(evolved)
      node.put("current-schema-id", newSchemaId)
      node.set[ObjectNode]("schema", evolved.deepCopy())
      node.put("last-column-id", newId)
      Successor(node, ())
    }
  }

  /** Upgrade a table's format version (only 2→3 / 1→3 supported). v3
    * requires positional delete state as DELETION VECTORS, so any
    * existing position-delete parquet converts in the upgrade commit
    * (one DV per targeted file); row lineage starts at
    * `next-row-id = 0` and existing manifests are re-stamped with
    * `first_row_id` lazily by the next commit's manifest-list rewrite
    * (explicitly, so external readers need no out-of-band state). A
    * v3 table keeps every v2 capability: equality-delete upserts,
    * rewrites, branches, spec evolution. */
  def setFormatVersion(spark: SparkSession, tablePath: String,
      version: Int): Unit = {
    require(version == 3,
      s"only upgrading to format-version 3 is supported, not $version")
    if (IcebergReader.formatVersion(spark, tablePath) >= 3) return
    IcebergReader.snapshotOpt(spark, tablePath)
      .filter(_.deleteFiles.nonEmpty) match {
      case Some(snap) =>
        // conversion commit: all pos-delete parquet positions re-encode
        // as DVs; minFormatVersion=3 lifts the metadata in the same claim
        deleteWhereDvOnce(spark, tablePath, lit(false), snap,
          requireMatches = false)
        ()
      case None =>
        // metadata-only bump: format-version 3 + row-lineage bookkeeping
        editMetadata(spark, tablePath, "a format-version upgrade") { node =>
          if (node.get("format-version").asInt >= 3) Unchanged(())
          else {
            node.put("format-version", 3)
            if (!node.has("next-row-id")) node.put("next-row-id", 0L)
            Successor(node, ())
          }
        }
    }
  }

  /** `rewrite_data_files` — Iceberg's compaction: rewrite small files
    * toward `targetFileSizeBytes` and MATERIALIZE accumulated delete
    * files back into plain data files, completing the CDC lifecycle
    * ([[upsertByKey]]'s equality deletes and [[deleteWhere]]'s position
    * deletes stack until exactly this maintenance pass). Candidates are
    * every active file under the target size plus every file a position
    * delete targets; a table with live EQUALITY deletes rewrites in
    * full (an untouched file's rows could match any key). Candidates
    * rewrite through the sequence-ordered delete-applying scan into
    * ~ceil(bytes/target) files; untouched files carry as EXISTING
    * manifest entries; NO delete manifest survives the commit — after
    * compaction the read plan is a bare scan again. */
  def rewriteDataFiles(spark: SparkSession, tablePath: String,
      targetFileSizeBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): Committed = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy (range clustering) and zorderBy are mutually exclusive")
    resolving(rewriteDataFilesOnce(spark, tablePath,
      targetFileSizeBytes, sortBy, zorderBy))
  }

  private def rewriteDataFilesOnce(spark: SparkSession, tablePath: String,
      targetFileSizeBytes: Long, sortBy: Seq[String],
      zorderBy: Seq[String] = Nil): Committed = {
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val snapOpt = IcebergReader.snapshotOpt(spark, tablePath)
    if (snapOpt.isEmpty || snapOpt.exists(_.files.isEmpty))
      return Committed(snapOpt.map(_.snapshotId).getOrElse(-1L), -1L, 0)
    val snap = snapOpt.get
    val hasEq = snap.equalityDeleteFiles.nonEmpty
    val posTargets = deleteTargetPaths(spark, snap)
    val candidates =
      if (hasEq) snap.files
      // old-spec files are compaction candidates regardless of size —
      // rewriting them migrates the table to one spec (the maintenance
      // pass Iceberg prescribes after partition evolution)
      else snap.files.filter(f => f.sizeBytes < targetFileSizeBytes ||
        posTargets.contains(TableFiles.schemeless(f.path)) ||
        f.specId != snap.defaultSpecId)
    val worthIt = hasEq || posTargets.nonEmpty || candidates.size >= 2 ||
      candidates.exists(_.specId != snap.defaultSpecId)
    if (candidates.isEmpty || !worthIt)
      return Committed(snap.snapshotId, -1L, 0)
    val kept = {
      val c = candidates.map(f => TableFiles.schemeless(f.path)).toSet
      snap.files.filterNot(f => c.contains(TableFiles.schemeless(f.path)))
    }
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val sub = snap.copy(files = candidates)
    val rows =
      if (snap.deleteFiles.isEmpty && snap.dvFiles.isEmpty && !hasEq)
        IcebergReader.dataScan(spark, sub)
          .select(snap.schema.fieldNames.map(col).toSeq: _*)
      else IcebergReader.applyDeletes(spark, sub)
    val outFiles = math.max(1L,
      (candidates.map(_.sizeBytes).sum + targetFileSizeBytes - 1) /
        targetFileSizeBytes).toInt
    // `sortBy` clusters the rewrite by value range so each output file's
    // manifest lower/upper bounds are narrow — the bounds-based file
    // skipping then prunes most files on selective reads
    // `zorderBy` = multi-dimension Morton clustering (the Iceberg
    // rewrite action's `zorder` strategy): quantile cuts per dimension,
    // the shared codegen'd [[graft.expr.ZOrderKey]], range-partition +
    // sort on it — the manifest lower/upper bounds become narrow in ALL
    // clustered dimensions, so bounds-based skipping prunes whichever
    // dimension a predicate hits
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
    val adds = writeDataFiles(shaped, tablePath, pfields)
    val committed = commit(spark, tablePath, snap.schema, pfields, adds,
      kept.map(asInfo), operation = "replace",
      carryCurrentManifests = false,
      expectedParent = Some(snap.snapshotId))
    // a range-clustered rewrite DECLARES its layout (spec sort-orders)
    // so external engines can exploit it; z-order has no spec transform
    // and keeps the default order
    if (sortBy.nonEmpty) declareSortOrder(spark, tablePath, sortBy)
    committed
  }

  /** Zero-rewrite UPSERT via v2 EQUALITY-DELETE files — the Flink-CDC
    * commit shape (iceberg spec "Equality Delete Files"): ONE commit
    * appends the new rows as data files and one equality-delete file
    * whose rows are the distinct key tuples of `src`, with
    * `equality_ids` naming the key columns' schema field-ids. Old rows
    * with those keys disappear by the reader's sequence rule (a delete
    * at sequence N removes only rows of data files with sequence < N —
    * the rows added in this same commit survive). NOTHING is rewritten:
    * upsert cost is O(src), not O(touched partitions), which at 100 TB
    * is the difference between a streaming upsert and a table rewrite.
    * Reads absorb the deletes until a compacting rewrite; the rewrite
    * paths (merge/deleteMatched) detect live equality deletes and raise
    * rather than resurrect. `src` must be key-unique (precombine
    * upstream, as [[graft.table.MergeOps]] does) — duplicate keys in
    * one batch would both survive. `src` is evaluated twice (data files,
    * then the key tuples for the delete file); a nondeterministic
    * source (`rand()`, `uuid()`, an unseeded `shuffle()`) is detected
    * from the analyzed plan and pinned with `localCheckpoint()`
    * automatically — otherwise the delete keys could silently disagree
    * with the written rows (lost or resurrected rows). Deterministic
    * sources take the plain two-evaluation path, unchanged. */
  def upsertByKey(spark: SparkSession, tablePath: String, src: DataFrame,
      keys: Seq[String]): Committed = {
    // pin ONCE, outside the concurrency retry loop — retries then also
    // reuse the materialized batch instead of re-running the source
    val pinned =
      if (src.queryExecution.analyzed
            .exists(_.expressions.exists(e => !e.deterministic)))
        src.localCheckpoint()
      else src
    resolving(upsertByKeyOnce(spark, tablePath, pinned, keys))
  }

  private def upsertByKeyOnce(spark: SparkSession, tablePath: String,
      src: DataFrame, keys: Seq[String]): Committed = {
    require(keys.nonEmpty, "upsertByKey needs at least one key column")
    keys.foreach(k => require(src.columns.contains(k),
      s"key column $k not in source"))
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val snapOpt = IcebergReader.snapshotOpt(spark, tablePath)
    if (snapOpt.isEmpty || snapOpt.exists(_.files.isEmpty))
      return write(src, tablePath, mode = "append")
    val snap = snapOpt.get
    SchemaMerge.checkAppendSchema(snap.schema, src.schema)
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val ids = topLevelFieldIds(snap.schema)
    val eqIds = keys.map(k => ids.getOrElse(k,
      throw new IllegalArgumentException(s"key $k not in table schema")))

    val adds = writeDataFiles(src, tablePath, pfields)
    // the equality-delete file: distinct key tuples, key columns only,
    // written distributed with the keys' field-ids embedded
    val keyDf = TableFiles.withFieldIds(src.select(keys.map(col): _*),
      keys.map(k => k -> ids(k).toLong).toMap).distinct()
    commit(spark, tablePath, snap.schema, pfields, adds, kept = Nil,
      operation = "overwrite", carryCurrentManifests = true,
      expectedParent = Some(snap.snapshotId),
      deleteAdds = writeDeleteFiles(keyDf, tablePath, "eqdelete", eqIds))
  }

  /** Create or move a named snapshot REF (spec v2 `refs` — `tag` pins a
    * snapshot for reproducible reads, `branch` names a movable head).
    * Defaults to tagging the current snapshot. A metadata-only commit
    * through the same create-exclusive claim loop as data commits, so
    * it composes with concurrent writers. Returns the tagged snapshot
    * id; [[IcebergReader.read]] resolves it via `asOfRef`. */
  def setRef(spark: SparkSession, tablePath: String, name: String,
      snapshotId: Option[Long] = None, refType: String = "tag"): Long = {
    require(refType == "tag" || refType == "branch",
      s"refType must be tag|branch, got $refType")
    require(name.nonEmpty, "ref name must be non-empty")
    editMetadata(spark, tablePath, "a ref commit") { node =>
      val known = IcebergReader.jsonArray(node.get("snapshots"))
        .map(_.get("snapshot-id").asLong).toSet
      val target = snapshotId.orElse(
        Option(node.get("current-snapshot-id")).map(_.asLong)
          .filter(_ >= 0)).getOrElse(throw new IllegalArgumentException(
        s"no snapshot to $refType at $tablePath"))
      require(known.contains(target),
        s"snapshot $target not in the log of $tablePath")
      val entry = child(node, "refs")(mapper.createObjectNode())
        .putObject(name)
      entry.put("snapshot-id", target)
      entry.put("type", refType)
      Successor(node, target)
    }
  }

  /** Iceberg's `rollback_to_snapshot`: make an earlier snapshot current
    * again with a metadata-only commit — the snapshot pointer moves, a
    * new snapshot-log entry records the rollback, and the `main` branch
    * ref (when present) follows. History is never rewritten: the
    * rolled-past snapshots stay in `snapshots` (time travel to them
    * still works) until `expireSnapshots` sweeps them. Same
    * create-exclusive claim loop as data commits, so it composes with
    * concurrent writers. */
  def rollbackTo(spark: SparkSession, tablePath: String,
      snapshotId: Long): Unit = {
    editMetadata(spark, tablePath, "a rollback commit") { node =>
      val known = IcebergReader.jsonArray(node.get("snapshots"))
        .map(_.get("snapshot-id").asLong).toSet
      require(known.contains(snapshotId),
        s"snapshot $snapshotId not in the log of $tablePath")
      advanceMain(node, Seq(snapshotId))
      Successor(node, ())
    }
  }

  /** Declare the table's ACTIVE sort order (spec `sort-orders` /
    * `default-sort-order-id`) — called after a `sortBy` rewrite so
    * external engines know the layout: an identity asc nulls-first
    * field per column, reusing an existing matching order's id or
    * appending with the next one. Metadata-only claim-loop commit. */
  def declareSortOrder(spark: SparkSession, tablePath: String,
      cols: Seq[String]): Int = {
    require(cols.nonEmpty, "declareSortOrder needs at least one column")
    editMetadata(spark, tablePath, "a sort-order commit") { node =>
      val idOf = currentSchema(node).toSeq
        .flatMap(s => IcebergReader.jsonArray(s.get("fields")))
        .map(f => f.get("name").asText -> f.get("id").asInt).toMap
      val srcIds = cols.map(c => idOf.getOrElse(c,
        throw new IllegalArgumentException(
          s"sort column $c not in the current schema of $tablePath")))
      val orders = child(node, "sort-orders")(mapper.createArrayNode())
      def matches(o: JsonNode): Boolean = {
        val fs0 = IcebergReader.jsonArray(o.get("fields"))
        fs0.size == srcIds.size && fs0.zip(srcIds).forall { case (f, id) =>
          f.get("source-id").asInt == id &&
            f.get("transform").asText == "identity" &&
            f.get("direction").asText == "asc"
        }
      }
      val existing = IcebergReader.jsonArray(orders)
        .find(matches).map(_.get("order-id").asInt)
      val orderId = existing.getOrElse {
        val next = IcebergReader.jsonArray(orders)
          .map(_.get("order-id").asInt).foldLeft(0)(math.max) + 1
        val o = orders.addObject()
        o.put("order-id", next)
        val fArr = o.putArray("fields")
        srcIds.foreach { id =>
          val f = fArr.addObject()
          f.put("transform", "identity")
          f.put("source-id", id)
          f.put("direction", "asc")
          f.put("null-order", "nulls-first")
        }
        next
      }
      node.put("default-sort-order-id", orderId)
      Successor(node, orderId)
    }
  }

  /** Remove a branch or tag ref — the ref-lifecycle closer: a dropped
    * WAP branch (or an abandoned audit) stops pinning its snapshots, so
    * the next [[expireSnapshots]] sweeps the staged files. Metadata-only
    * commit through the claim loop; dropping `main` or a missing ref
    * raises. */
  def dropRef(spark: SparkSession, tablePath: String,
      name: String): Unit = {
    require(name != "main", "cannot drop the main branch ref")
    editMetadata(spark, tablePath, "a drop-ref commit") { node =>
      require(Option(node.get("refs")).filter(_.isObject)
          .exists(_.has(name)),
        s"no ref '$name' in $tablePath")
      node.get("refs").asInstanceOf[ObjectNode].remove(name)
      Successor(node, ())
    }
  }

  /** PUBLISH a staged branch — Iceberg's `fast_forward(main, branch)`,
    * the second half of write-audit-publish: after auditing the branch
    * (`read(asOfRef = branch)`), one metadata-only commit moves
    * `current-snapshot-id` (and the `main` ref) to the branch head,
    * appending the snapshot-log entry main readers travel by. Requires
    * main's head to be an ANCESTOR of the branch head (walked over the
    * stamped `parent-snapshot-id` lineage) — a diverged main raises
    * instead of silently dropping its commits. The branch ref survives
    * the publish (matching the Java procedure); staged-but-never-
    * published snapshots stay pinned by their ref until the ref is
    * dropped and `expireSnapshots` sweeps them. */
  def fastForward(spark: SparkSession, tablePath: String,
      branch: String): Long = {
    editMetadata(spark, tablePath, "a fast-forward commit") { node =>
      val target = Option(node.get("refs")).filter(_.isObject)
        .flatMap(r => Option(r.get(branch)))
        .map(_.get("snapshot-id").asLong)
        .getOrElse(throw new IllegalArgumentException(
          s"no branch '$branch' in the refs of $tablePath"))
      val cur = Option(node.get("current-snapshot-id")).map(_.asLong)
        .filter(_ >= 0)
      if (cur.contains(target)) Unchanged(target) // already published
      else {
        val parentOf: Map[Long, Option[Long]] =
          IcebergReader.jsonArray(node.get("snapshots")).map(s =>
            s.get("snapshot-id").asLong ->
              Option(s.get("parent-snapshot-id")).filterNot(_.isNull)
                .map(_.asLong)).toMap
        // the branch chain from target back to main's head (exclusive) —
        // the fast-forward condition AND the history being published
        val chainBack = Iterator.iterate(Option(target))(
          _.flatMap(parentOf.get).flatten)
          .takeWhile(c => c.isDefined && c != cur).flatten.toSeq
        val reachedMain =
          cur.isEmpty || chainBack.lastOption.flatMap(parentOf.get)
            .flatten == cur
        require(reachedMain,
          s"cannot fast-forward $tablePath to branch '$branch': main " +
            s"(${cur.getOrElse(-1L)}) is not an ancestor of the branch " +
            s"head ($target) — main advanced since the branch forked; " +
            "rebase the branch")
        // the WHOLE published chain lands in the log, oldest first — the
        // log is main's history, and incremental consumers walk it; an
        // entry for the head alone would make the staged snapshots
        // invisible to a log-ranged scan
        advanceMain(node, chainBack.reverse)
        Successor(node, target)
      }
    }
  }

  /** Merge `props` into the table's `properties` map — a metadata-only
    * commit through the same create-exclusive claim loop as data
    * commits. The property every external engine cares about here is
    * `schema.name-mapping.default` (spec "Column Projection"), which
    * lets [[IcebergReader]] resolve data files written WITHOUT parquet
    * field-ids (imported via `add_files`-style registration) inside an
    * id-carrying table. */
  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty, "no properties to set")
    editMetadata(spark, tablePath, "a properties commit") { node =>
      val tgt = child(node, "properties")(mapper.createObjectNode())
      props.foreach { case (k, v) => tgt.put(k, v) }
      Successor(node, ())
    }
  }

  /** Rename a top-level column — a metadata-only commit that changes the
    * field's NAME while keeping its field-id, exactly the evolution
    * field-ids exist for: files written under the old name keep reading
    * correctly because resolution is by id (or, for id-less imported
    * files, through the name mapping, whose historical `names` list is
    * extended with the old name so those files keep resolving too). */
  def renameColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Unit = {
    require(from != to, "rename to the same name is a no-op")
    editMetadata(spark, tablePath, "a rename commit") { node =>
      var renamedId = -1
      def renameIn(schemaNode: JsonNode): Unit =
        IcebergReader.jsonArray(schemaNode.get("fields")).foreach { f =>
          if (f.get("name").asText == from) {
            renamedId = f.get("id").asInt
            f.asInstanceOf[ObjectNode].put("name", to)
          } else require(f.get("name").asText != to,
            s"column $to already exists in $tablePath")
        }
      Option(node.get("schema")).foreach(renameIn)
      Option(node.get("schemas"))
        .foreach(ss => IcebergReader.jsonArray(ss).foreach(renameIn))
      require(renamedId > 0, s"column $from not in the schema of $tablePath")
      // keep id-less imported files resolvable: the mapping entry for
      // this field keeps (or gains) the old name
      val propsNode = Option(node.get("properties")).filter(_.isObject)
        .map(_.asInstanceOf[ObjectNode])
      propsNode.flatMap(p =>
        Option(p.get("schema.name-mapping.default")).map(_.asText))
        .foreach { json =>
          val arr = mapper.readTree(json).asInstanceOf[ArrayNode]
          arr.elements().asScala.foreach { e =>
            if (Option(e.get("field-id")).exists(_.asInt == renamedId)) {
              val names = e.get("names").asInstanceOf[ArrayNode]
              val have = names.elements().asScala.map(_.asText).toSet
              if (!have.contains(from)) names.add(from)
            }
          }
          propsNode.get.put("schema.name-mapping.default",
            mapper.writeValueAsString(arr))
        }
      Successor(node, ())
    }
  }

  /** Evolve the table's partition spec (spec "Partition Evolution";
    * Athena's `ALTER TABLE … ADD/DROP PARTITION FIELD` surface): a
    * metadata-only commit that appends a new entry to `partition-specs`
    * and makes it the default. EXISTING data files are never rewritten —
    * they stay under the spec-id their manifests were committed with,
    * and the reader prunes each file under its OWN spec (a filter on a
    * newly-partitioned column keeps old-spec files; a filter on a
    * dropped partition column still prunes them). Subsequent appends lay
    * data out under the new spec. Partition field-ids are REUSED for
    * equivalent (transform, source) fields across history, as the spec
    * requires; new fields claim ids above `last-partition-id`.
    * Returns the now-default spec-id. */
  def updatePartitionSpec(spark: SparkSession, tablePath: String,
      partitionBy: Seq[String]): Int = {
    val requested = partitionBy.map(IcebergTransforms.parse)
    editMetadata(spark, tablePath, "a partition-spec commit") { node =>
      // source-ids from the CURRENT schema's field ids
      val schemaNode = currentSchema(node)
        .getOrElse(throw new IllegalStateException(
          s"no schema in Iceberg metadata at $tablePath"))
      val idByName: Map[String, Int] =
        IcebergReader.jsonArray(schemaNode.get("fields"))
          .map(f => f.get("name").asText -> f.get("id").asInt).toMap
      requested.foreach(pf => require(idByName.contains(pf.source),
        s"partition source column ${pf.source} not in schema of $tablePath"))
      // externally-written v1 metadata may carry only the singular
      // partition-spec — synthesize the history entry so the existing
      // files keep a spec to prune under
      val priorSpecs = {
        val arr = IcebergReader.jsonArray(node.get("partition-specs"))
          .collect { case o: ObjectNode => o }
        if (arr.nonEmpty) arr
        else Option(node.get("partition-spec")).filter(_.isArray).map { s =>
          val o = mapper.createObjectNode()
          o.put("spec-id",
            Option(node.get("default-spec-id")).map(_.asInt).getOrElse(0))
          o.set[ArrayNode]("fields",
            s.deepCopy[JsonNode]().asInstanceOf[ArrayNode])
          Seq(o)
        }.getOrElse(Nil)
      }
      var lastPartId = Option(node.get("last-partition-id")).map(_.asInt)
        .getOrElse(999)
      // reuse partition field-ids for equivalent (transform, source-id)
      // fields anywhere in history (spec requirement)
      val knownIds: Map[(String, Int), Int] = priorSpecs.flatMap(s =>
        IcebergReader.jsonArray(s.get("fields")).map(f =>
          (Option(f.get("transform")).map(_.asText).getOrElse("identity"),
            f.get("source-id").asInt) -> f.get("field-id").asInt)).toMap
      val newFields = mapper.createArrayNode()
      requested.foreach { pf =>
        val srcId = idByName(pf.source)
        val fid = knownIds.getOrElse((pf.transform, srcId),
          { lastPartId += 1; lastPartId })
        val f = mapper.createObjectNode()
        f.put("name", pf.name)
        f.put("transform", pf.transform)
        f.put("source-id", srcId)
        f.put("field-id", fid)
        newFields.add(f)
      }
      val existing = priorSpecs.find(s =>
        specKey(s.get("fields")) == specKey(newFields))
      val curDefault = Option(node.get("default-spec-id")).map(_.asInt)
        .getOrElse(0)
      val newDefault = existing match {
        case Some(e) => e.get("spec-id").asInt
        case None =>
          val id = priorSpecs.map(_.get("spec-id").asInt)
            .foldLeft(-1)(math.max) + 1
          val entry = mapper.createObjectNode()
          entry.put("spec-id", id)
          entry.set[ArrayNode]("fields", newFields)
          val specs = mapper.createArrayNode()
          priorSpecs.foreach(specs.add)
          specs.add(entry)
          node.set[ArrayNode]("partition-specs", specs)
          id
      }
      if (newDefault == curDefault && existing.nonEmpty) Unchanged(curDefault)
      else {
        node.put("default-spec-id", newDefault)
        // v1 compat: the singular partition-spec mirrors the default
        val defaultFields = existing.map(_.get("fields")).getOrElse(newFields)
        node.set[ArrayNode]("partition-spec",
          defaultFields.deepCopy[JsonNode]().asInstanceOf[ArrayNode])
        node.put("last-partition-id", lastPartId)
        Successor(node, newDefault)
      }
    }
  }

  /** Register EXISTING parquet files as table data — the `add_files`
    * import shape (reference: pyiceberg `add_files` through
    * `s3/_s3_tables_iceberg.py`). The files are not rewritten, not
    * moved, and usually carry NO parquet field-ids, so this also
    * installs `schema.name-mapping.default` (current schema's id→name,
    * preserved by later renames) unless the table already has one —
    * without it the reader would have no way to resolve the imported
    * columns next to native id-carrying files. Unpartitioned tables
    * only (imported files carry no manifest partition tuple). */
  def addFiles(spark: SparkSession, tablePath: String,
      files: Seq[String]): Committed = {
    require(files.nonEmpty, "no files to add")
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    require(pfields.isEmpty,
      "add_files supports unpartitioned tables (imported files carry no partition tuple)")
    val (schema, _) = IcebergReader.tableInfo(spark, tablePath)
    if (!IcebergReader.snapshotOpt(spark, tablePath)
          .exists(_.properties.contains("schema.name-mapping.default")))
      setProperties(spark, tablePath,
        Map("schema.name-mapping.default" -> defaultNameMapping(schema)))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val counts = TableFiles.recordCounts(spark, files)
    val adds = files.map { f =>
      val p = new Path(f)
      FileInfo(fs.makeQualified(p).toString, Map.empty,
        fs.getFileStatus(p).getLen, counts.getOrElse(f, 0L))
    }
    commit(spark, tablePath, schema, pfields, adds, kept = Nil,
      operation = "append", carryCurrentManifests = true,
      expectedParent = None)
  }

  /** [[addFiles]] generalized to PARTITIONED tables for callers that
    * know each file's partition tuple (the Delta→Iceberg migration path,
    * where the source log carries the tuples): register existing
    * parquet, tuples attached, without rewriting a byte. Identity
    * transforms only — a transformed spec's tuples are derived values a
    * registration cannot trust. */
  def registerFiles(spark: SparkSession, tablePath: String,
      files: Seq[(String, Map[String, Option[String]])],
      mode: String = "append",
      knownCounts: Map[String, Long] = Map.empty): Committed = {
    require(files.nonEmpty, "no files to register")
    require(mode == "append" || mode == "overwrite",
      s"registerFiles mode must be append|overwrite, not $mode")
    require(IcebergReader.isIcebergTable(spark, tablePath),
      s"no Iceberg table at $tablePath")
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    pfields.foreach(pf => require(pf.transform == "identity",
      s"registerFiles supports identity partitioning only; " +
        s"table has ${pf.transform}(${pf.source})"))
    val pnames = pfields.map(_.name).toSet
    files.foreach { case (f, pv) => require(pv.keySet == pnames,
      s"file $f carries partition keys ${pv.keySet.mkString(",")} != " +
        s"table's ${pnames.mkString(",")}") }
    val (schema, _) = IcebergReader.tableInfo(spark, tablePath)
    if (!IcebergReader.snapshotOpt(spark, tablePath)
          .exists(_.properties.contains("schema.name-mapping.default")))
      setProperties(spark, tablePath,
        Map("schema.name-mapping.default" -> defaultNameMapping(schema)))
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // counts the caller already knows (an incremental mirror refresh
    // carries them from the previous snapshot) skip the footer sweep —
    // the refresh then reads footers only for files NEW since last time
    val unknown = files.map(_._1).filterNot(knownCounts.contains)
    val counts = knownCounts ++ TableFiles.recordCounts(spark, unknown)
    val adds = files.map { case (f, pv) =>
      val p = new Path(f)
      FileInfo(fs.makeQualified(p).toString, pv,
        fs.getFileStatus(p).getLen, counts.getOrElse(f, 0L))
    }
    commit(spark, tablePath, schema, pfields, adds, kept = Nil,
      operation = if (mode == "overwrite") "overwrite" else "append",
      carryCurrentManifests = mode == "append",
      expectedParent = None)
  }

  /** The spec's name-mapping JSON for the current schema: each field-id
    * maps to its current name (renames later EXTEND the names list).
    * Ids come from the same walk [[icebergSchemaJson]] performs, so the
    * mapping agrees with the metadata's schema document. */
  private def defaultNameMapping(schema: StructType): String = {
    val ids = topLevelFieldIds(schema)
    val arr = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val e = mapper.createObjectNode()
      e.put("field-id", ids(f.name))
      e.set[ArrayNode]("names", mapper.createArrayNode().add(f.name))
      arr.add(e)
    }
    mapper.writeValueAsString(arr)
  }

  /** REWRITE MANIFESTS — Iceberg's metadata-compaction maintenance op
    * (the `rewrite_manifests` procedure): consolidate the current
    * snapshot's DATA manifests into one manifest per (partition-spec,
    * schema shape), committed as a `replace` snapshot that touches NO
    * data files. At 100 TB a table that has taken thousands of commits
    * carries thousands of manifests and every planning pass opens all
    * of them; after the rewrite a plan opens one (delete manifests are
    * carried unchanged — their entries must keep their own sequence
    * ordering anyway).
    *
    * The spec-subtle parts of moving entries between manifests:
    *  - merged entries become EXISTING (status 0) and keep their
    *    ORIGINAL `snapshot_id`, with EXPLICIT per-entry
    *    `sequence_number` / `file_sequence_number` (entry fields 3/4)
    *    written out — inherited values would re-bind to the NEW
    *    manifest's sequence number and change which position/equality
    *    deletes apply to which files;
    *  - v3 row lineage: a null `first_row_id` is MATERIALIZED from the
    *    source manifest's cumulative record_count walk before the move
    *    (DELETED entries consume ids in that walk too); a manifest
    *    whose lineage cannot be resolved is carried unmerged rather
    *    than guessed;
    *  - DELETED (status 2) entries drop — they exist for incremental
    *    consumption of PAST snapshots, which keep reading their own
    *    manifest lists;
    *  - each `data_file` record is carried under its source manifest's
    *    avro sub-schema byte-for-byte (grouping key = spec-id + schema
    *    + file metadata), so stats, bounds, equality ids and DV
    *    references survive whatever engine wrote them. */
  def rewriteManifests(spark: SparkSession, tablePath: String): Committed = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    val schema = IcebergReader.tableInfo(spark, tablePath)._1
    val pfields = IcebergReader.partitionFields(spark, tablePath)
    val lSchema = manifestListSchema
    val now = System.currentTimeMillis()
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    claimLoop(fs, tablePath, "a manifest rewrite") { (claimedMax, parsed, attempt) =>
      val meta = parsed.getOrElse(
        throw new IllegalArgumentException(s"no Iceberg table at $tablePath"))
      val fv = Option(meta.get("format-version")).map(_.asInt).getOrElse(1)
      val priorSeq = Option(meta.get("last-sequence-number"))
        .map(_.asLong).getOrElse(0L)
      val seq = if (fv >= 2) Some(priorSeq + 1) else None
      val curSnap = Option(meta.get("current-snapshot-id"))
        .map(_.asLong).filter(_ >= 0)
      val listRecs = currentManifestRecords(spark, fs, root, meta)
      val (dataMfs, deleteMfs) =
        listRecs.partition(r => intOf(r.get("content")).getOrElse(0) == 0)
      if (dataMfs.size <= 1)
        Unchanged(Committed(curSnap.getOrElse(-1L), claimedMax, 0))
      else {
        final case class MEntry(dseq: Long, fseq: Long, esnap: Option[Long],
          df: GenericRecord)
        val merged = mutable.LinkedHashMap
          .empty[(Int, org.apache.avro.Schema, Map[String, String]),
            mutable.ArrayBuffer[MEntry]]
        val carriedUnmerged = mutable.ArrayBuffer.empty[GenericRecord]
        dataMfs.foreach { lr =>
          val mPath = TableFiles.location(root,
            lr.get("manifest_path").toString)
          val (entries, fMeta) = IcebergReader.readAvroWithMeta(spark, mPath)
          if (entries.nonEmpty) {
            val dfSchema = entries.head.getSchema.getField("data_file").schema()
            val specId = intOf(lr.get("partition_spec_id")).getOrElse(0)
            val mSeq = longOf(lr.get("sequence_number"))
            val addedSnap = longOf(lr.get("added_snapshot_id"))
            val listFri = fieldOpt(lr, "first_row_id").flatMap(longOf)
            val hasFriField = dfSchema.getField("first_row_id") != null
            def dfOf(e: GenericRecord) =
              e.get("data_file").asInstanceOf[GenericRecord]
            def isData(df: GenericRecord): Boolean =
              dfSchema.getField("content") == null ||
                intOf(df.get("content")).getOrElse(0) == 0
            val needsFri = fv >= 3 && entries.exists { e =>
              val df = dfOf(e)
              isData(df) && (!hasFriField || df.get("first_row_id") == null)
            }
            if (needsFri && (listFri.isEmpty || !hasFriField)) {
              // lineage that cannot be materialized per-entry — either
              // un-stamped (pre-upgrade manifest before its lazy
              // re-stamp) or a v2-schema manifest whose data_file record
              // has no first_row_id field to make explicit: carry
              // unmerged, never guess or silently drop row ids
              carriedUnmerged += reencode(lSchema, lr)
            } else {
              var cursor = listFri.getOrElse(0L)
              val buf = merged.getOrElseUpdate((specId, dfSchema, fMeta),
                mutable.ArrayBuffer.empty[MEntry])
              entries.foreach { e =>
                val df = dfOf(e)
                if (fv >= 3 && isData(df) && hasFriField &&
                    df.get("first_row_id") == null) {
                  df.put("first_row_id", Long.box(cursor))
                  cursor += longOf(df.get("record_count")).getOrElse(0L)
                }
                if (intOf(e.get("status")).getOrElse(0) != 2) {
                  // a v1-era manifest under a v2+ table carries no
                  // sequence number — the spec's upgrade rule assigns
                  // DATA SEQUENCE 0 to pre-upgrade files, and that must
                  // become explicit here (inheriting the NEW manifest's
                  // sequence would let later deletes skip these files)
                  val inherited = mSeq.getOrElse(0L)
                  buf += MEntry(
                    fieldOpt(e, "sequence_number").flatMap(longOf)
                      .getOrElse(inherited),
                    fieldOpt(e, "file_sequence_number").flatMap(longOf)
                      .getOrElse(inherited),
                    longOf(e.get("snapshot_id")).orElse(addedSnap),
                    df)
                }
              }
            }
          }
        }

        var totalFiles = 0L
        val mergedList = merged.toSeq.zipWithIndex.map {
          case (((specId, dfSchema, fMeta), buf), i) =>
            val mSchema = new org.apache.avro.Schema.Parser().parse(
              s"""{"type":"record","name":"manifest_entry","fields":[
                 |  {"name":"status","type":"int","field-id":0},
                 |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
                 |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
                 |  {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
                 |  {"name":"data_file","field-id":2,"type":${dfSchema.toString}}
                 |]}""".stripMargin)
            val recs = buf.map { me =>
              val r = new GenericData.Record(mSchema)
              r.put("status", 0)
              r.put("snapshot_id", me.esnap.map(Long.box).orNull)
              r.put("sequence_number", if (fv >= 2) Long.box(me.dseq) else null)
              r.put("file_sequence_number",
                if (fv >= 2) Long.box(me.fseq) else null)
              r.put("data_file", me.df)
              r
            }
            val p = new Path(metaDir, s"manifest-rw-$snapshotId-$attempt-$i.avro")
            val len = writeAvro(fs, p, mSchema, recs.toSeq, fMeta)
            val rows = buf.map(me =>
              longOf(me.df.get("record_count")).getOrElse(0L)).sum
            totalFiles += buf.size
            val mf = new GenericData.Record(lSchema)
            mf.put("manifest_path", fs.makeQualified(p).toString)
            mf.put("manifest_length", len)
            mf.put("partition_spec_id", specId)
            mf.put("content", 0)
            mf.put("sequence_number", seq.map(Long.box).orNull)
            val minSeq = if (buf.isEmpty) seq else Some(buf.map(_.dseq).min)
            mf.put("min_sequence_number",
              if (fv >= 2) minSeq.map(Long.box).orNull else null)
            mf.put("added_snapshot_id", snapshotId)
            mf.put("added_data_files_count", 0)
            mf.put("existing_data_files_count", buf.size)
            mf.put("deleted_data_files_count", 0)
            mf.put("added_rows_count", 0L)
            mf.put("existing_rows_count", rows)
            // every entry carries an explicit first_row_id, so the merged
            // manifest needs no inheritance base
            mf.put("first_row_id", null)
            mf
        }
        val deleteCarried = deleteMfs.map(reencode(lSchema, _))
        val listPath = new Path(metaDir, s"snap-$snapshotId-$attempt.avro")
        writeAvro(fs, listPath, lSchema,
          mergedList ++ carriedUnmerged.toSeq ++ deleteCarried,
          Map("format-version" -> fv.toString,
            "snapshot-id" -> snapshotId.toString))
        val rowBase = Option(meta.get("next-row-id")).map(_.asLong).getOrElse(0L)
        val node = metadataJson(parsed,
          fs.makeQualified(root).toString, schema, pfields, snapshotId,
          fs.makeQualified(listPath).toString, "replace", now, fv, seq,
          firstRowId = if (fv >= 3) Some(rowBase) else None,
          nextRowId = if (fv >= 3) Some(rowBase) else None,
          summaryStats = Map(
            "manifests-replaced" ->
              (dataMfs.size - carriedUnmerged.size).toLong,
            "manifests-created" -> mergedList.size.toLong,
            "total-data-files" -> totalFiles))
        // a losing attempt sweeps EVERYTHING it wrote — the merged
        // manifests too, not just the list (they are referenced by nothing
        // and no later cleanup would find them)
        Successor(node, Committed(snapshotId, claimedMax + 1, totalFiles.toInt),
          staged = listPath +: mergedList.map(mf =>
            new Path(mf.get("manifest_path").toString)),
          snapshotId = Some(snapshotId))
      }
    }
  }

  /** `expire_snapshots` + orphan-file cleanup — the maintenance every
    * long-lived Iceberg table needs (the reference defers to S3 Tables
    * auto-maintenance; this engine owns the table). Two phases:
    *
    *  1. COMMIT a new metadata version whose `snapshots`/`snapshot-log`
    *     keep only: the current snapshot, the newest `retainLast`, and
    *     every snapshot younger than `retentionMs` (claimed with the
    *     same create-exclusive loop as data commits, so it composes
    *     with concurrent writers);
    *  2. DELETE files no retained snapshot references — expired
    *     manifest lists, manifests, data/delete files, and orphans from
    *     crashed commits — plus superseded `vN.metadata.json` documents,
    *     all gated on a modification time older than `retentionMs` so a
    *     concurrent writer's just-staged files are never swept. The
    *     table tree is listed and deleted AS A JOB (the driver holds
    *     only the live set — O(retained files), the cost every Iceberg
    *     expire pays); retained snapshots' trees are walked driver-side
    *     at manifest scale.
    *
    * Returns deleted paths. Time travel to an expired snapshot raises
    * afterwards (it is gone from the log); retained reads are
    * untouched. */
  def expireSnapshots(spark: SparkSession, tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      retainLast: Int = 1): Seq[String] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    val now = System.currentTimeMillis()
    editMetadata(spark, tablePath, "a snapshot expiry") { node =>
      val snaps = IcebergReader.jsonArray(node.get("snapshots"))
      val current = Option(node.get("current-snapshot-id"))
        .map(_.asLong).getOrElse(-1L)
      // refs PIN their snapshots (real Iceberg expiry honors branch/tag
      // retention) — expiring a tagged snapshot would dangle the ref
      val refIds = Option(node.get("refs")).toSeq
        .flatMap(r => r.elements().asScala.toSeq
          .map(_.get("snapshot-id").asLong))
      // retainLast / the retention window apply to snapshots REACHABLE
      // from current or a ref (real expiry's rule): an ORPHAN — a
      // dropped WAP branch's staged commits — must not ride the
      // newest-N slot just because it is recent. Tables whose snapshots
      // predate parent-snapshot-id stamping keep the conservative
      // everything-reachable reading.
      val parentOf: Map[Long, Option[Long]] = snaps.map(s =>
        s.get("snapshot-id").asLong ->
          Option(s.get("parent-snapshot-id")).filterNot(_.isNull)
            .map(_.asLong)).toMap
      val lineageKnown = snaps.size <= 1 ||
        snaps.exists(s => s.has("parent-snapshot-id"))
      val reachable: Set[Long] =
        if (!lineageKnown) parentOf.keySet
        else (refIds :+ current).filter(_ >= 0).flatMap { head =>
          Iterator.iterate(Option(head))(_.flatMap(parentOf.get).flatten)
            .takeWhile(_.isDefined).flatten.toSeq
        }.toSet
      val reachableSnaps = snaps.filter(s =>
        reachable.contains(s.get("snapshot-id").asLong))
      val keepIds = reachableSnaps.sortBy(-_.get("timestamp-ms").asLong)
        .take(math.max(retainLast, 1))
        .map(_.get("snapshot-id").asLong).toSet ++
        reachableSnaps
          .filter(_.get("timestamp-ms").asLong >= now - retentionMs)
          .map(_.get("snapshot-id").asLong) ++ refIds + current
      val expired = snaps.map(_.get("snapshot-id").asLong).toSet -- keepIds
      if (expired.isEmpty) Unchanged(())
      else {
        val log = IcebergReader.jsonArray(node.get("snapshot-log"))
        val newSnaps = node.putArray("snapshots")
        snaps.filter(s => keepIds.contains(s.get("snapshot-id").asLong))
          .foreach(newSnaps.add)
        val newLog = node.putArray("snapshot-log")
        log.filter(e => keepIds.contains(e.get("snapshot-id").asLong))
          .foreach(newLog.add)
        Successor(node, ())
      }
    }
    // live set: every file any RETAINED snapshot references, walked from
    // the post-expire metadata
    val (currentVersion, parsed2) = logState(fs, metaDir)
    val meta2 = parsed2.getOrElse(throw new IllegalStateException(
      s"no parseable Iceberg metadata at $tablePath"))._2
    val live = mutable.Set.empty[String]
    IcebergReader.jsonArray(meta2.get("snapshots")).foreach { s =>
      val listPath = TableFiles.location(root, s.get("manifest-list").asText)
      live += fs.makeQualified(listPath).toString
      IcebergReader.readAvro(spark, listPath).foreach { m =>
        val mp = TableFiles.location(root, m.get("manifest_path").toString)
        val q = fs.makeQualified(mp).toString
        if (!live.contains(q)) {
          live += q
          IcebergReader.readAvro(spark, mp).foreach { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            live += fs.makeQualified(
              TableFiles.location(root, df.get("file_path").toString)).toString
          }
        }
      }
    }
    val MetaFile = """v(\d+)\.metadata\.json""".r
    TableFiles.sweepOrphans(spark, tablePath, live.toSet, now - retentionMs) { p =>
      p.endsWith(".parquet") || p.endsWith(".avro") || p.endsWith(".puffin") ||
        (p.substring(p.lastIndexOf('/') + 1) match {
          case MetaFile(v) => v.toLong < currentVersion
          case _ => false
        })
    }
  }

  private def asInfo(f: IcebergReader.DataFileEntry): FileInfo =
    FileInfo(f.path,
      f.partition.map { case (k, v) => k -> Option(v).map(_.toString) },
      f.sizeBytes, f.recordCount, f.lowerBounds, f.upperBounds,
      nullCounts = f.nullCounts, fileFormat = f.fileFormat,
      referencedDataFile = f.referencedDataFile,
      contentOffset = f.contentOffset,
      contentSizeBytes = f.contentSizeBytes,
      // EXISTING carried files keep their effective first_row_id
      // explicitly (spec: carried entries must not be re-assigned)
      firstRowId = f.firstRowId)

  // ---- data files --------------------------------------------------------

  /** Stage as parquet (partition values computed into hidden path
    * columns — the transform result for `day`/`bucket`/…, the column
    * itself for identity — so the real source columns stay IN the files,
    * as Iceberg requires), move under `data/`, and take per-file stats
    * from each write task's fold over the footers it wrote. */
  private def writeDataFiles(df: DataFrame, tablePath: String,
      partFields: Seq[PartitionField]): Seq[FileInfo] = {
    val spark = df.sparkSession
    val root = new Path(tablePath)
    val Pt = "__ipt_"
    // embed the table's field-ids in the parquet files (the spec
    // requires them of native writers; field-id-resolving readers —
    // ours included — need them for rename-safe column resolution).
    // The id assignment is the same positional scheme commit() writes
    // into the metadata JSON and the manifest bounds use.
    val ids = topLevelFieldIds(df.schema)
    val withIds = TableFiles.withFieldIds(df, ids.map { case (n, id) => n -> id.toLong })
    val dup = partFields.foldLeft(withIds)((d, f) => d.withColumn(
      Pt + f.name,
      IcebergTransforms.column(spark, f, df.schema(f.source).dataType)))
    def relOf(staged: String) = staged.split('/').map(_.stripPrefix(Pt)).mkString("/")
    val moved = TableFiles.writeStaged(dup, root, partFields.map(Pt + _.name),
      dataFileStats)(rel => new Path(new Path(root, "data"), relOf(rel)))
    moved.map { m =>
      val (cnt, lo, hi, nulls) = m.footer
      FileInfo(m.path, TableFiles.partitionValuesOf(relOf(m.rel)), m.size, cnt,
        lo.flatMap { case (n, b) => ids.get(n).map(_ -> b) },
        hi.flatMap { case (n, b) => ids.get(n).map(_ -> b) },
        nullCounts = nulls.flatMap { case (n, c) => ids.get(n).map(_ -> c) })
    }
  }

  /** Top-level column name → Iceberg field-id, mirroring exactly the id
    * assignment [[icebergSchemaJson]] performs (each field takes the
    * next id, then its type consumes ids for nested elements). */
  private def topLevelFieldIds(schema: StructType): Map[String, Int] = {
    val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    def consume(dt: DataType): Unit = dt match {
      case a: ArrayType => ids.incrementAndGet(); consume(a.elementType)
      case s: StructType => s.fields.foreach { f =>
        ids.incrementAndGet(); consume(f.dataType)
      }
      case m: MapType =>
        ids.incrementAndGet(); consume(m.keyType)
        ids.incrementAndGet(); consume(m.valueType)
      case _ => ()
    }
    schema.fields.map { f =>
      val id = ids.incrementAndGet()
      consume(f.dataType)
      f.name -> id
    }.toMap
  }

  /** A data file's record count, lower and upper bounds and null
    * counts from its footer ([[TableFiles.columnStats]]), bounds as the
    * spec's Appendix-D single-value bytes, all keyed by top-level column
    * NAME (mapped to field-ids driver-side). Bounds whose type has no
    * safe encoding here (INT96, NaN or infinite floats, decimals) are
    * omitted; bounds are per-column optional. */
  private def dataFileStats(rdr: org.apache.parquet.hadoop.ParquetFileReader)
      : (Long, Map[String, Array[Byte]], Map[String, Array[Byte]],
         Map[String, Long]) = {
    val cols = TableFiles.columnStats(rdr)
    val bounds = for {
      c <- cols; (lo, hi) <- c.bounds
      l <- boundBytes(c.tpe, lo, upper = false)
      h <- boundBytes(c.tpe, hi, upper = true)
    } yield (c.name, l, h)
    (rdr.getRecordCount, bounds.map(b => b._1 -> b._2).toMap,
      bounds.map(b => b._1 -> b._3).toMap,
      cols.flatMap(c => c.nulls.map(c.name -> _)).toMap)
  }

  /** A statistics value as Appendix-D single-value bytes. A millisecond
    * timestamp becomes microseconds: the floor for a lower bound, +999
    * for an upper one, so the true values stay inside the interval. */
  private def boundBytes(tpe: org.apache.parquet.schema.PrimitiveType, v: Any,
      upper: Boolean): Option[Array[Byte]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def le(n: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fill(bb); bb.array()
    }
    (tpe.getPrimitiveTypeName, v, tpe.getLogicalTypeAnnotation) match {
      case (_, _, _: DecimalLogicalTypeAnnotation) => None
      case (INT32, i: java.lang.Integer, _) => Some(le(4)(_.putInt(i)))
      case (INT64, l: java.lang.Long, t: TimestampLogicalTypeAnnotation) =>
        t.getUnit match {
          case TimeUnit.MICROS => Some(le(8)(_.putLong(l)))
          case TimeUnit.MILLIS =>
            Some(le(8)(_.putLong(l * 1000L + (if (upper) 999L else 0L))))
          case _ => None
        }
      case (INT64, l: java.lang.Long, _) => Some(le(8)(_.putLong(l)))
      case (FLOAT, f: java.lang.Float, _) =>
        if (f.isNaN || f.isInfinite) None else Some(le(4)(_.putFloat(f)))
      case (DOUBLE, d: java.lang.Double, _) =>
        if (d.isNaN || d.isInfinite) None else Some(le(8)(_.putDouble(d)))
      case (BINARY, b: org.apache.parquet.io.api.Binary,
          _: StringLogicalTypeAnnotation) =>
        Some(b.toStringUsingUTF8.getBytes("UTF-8"))
      case (BOOLEAN, b: java.lang.Boolean, _) =>
        Some(Array[Byte](if (b) 1 else 0))
      case _ => None
    }
  }

  // ---- commit ------------------------------------------------------------

  /** Write the commit's manifest, then claim the next vN.metadata.json.
    * `kept` are carried files flattened as EXISTING entries (merge/delete,
    * valid only against an unchanged parent — `expectedParent` enforces
    * that, raising [[ConcurrentCommit]] when the table advanced).
    * `carryCurrentManifests` (append) instead re-reads the CURRENT
    * snapshot's manifest list inside the claim loop and includes those
    * manifests in the new list, so a retry after losing the claim
    * carries the winner's files rather than resurrecting a stale view. */
  private def commit(spark: SparkSession, tablePath: String,
      schema: StructType, partFields: Seq[PartitionField],
      adds: Seq[FileInfo],
      kept: Seq[FileInfo], operation: String,
      carryCurrentManifests: Boolean,
      expectedParent: Option[Long],
      deleteAdds: Seq[FileInfo] = Nil,
      branch: Option[String] = None,
      snapshotIdOverride: Option[Long] = None,
      minFormatVersion: Int = 1,
      dropPosDeleteManifests: Boolean = false): Committed = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new Path(root, "metadata")
    fs.mkdirs(metaDir)
    val snapshotId = snapshotIdOverride.getOrElse(
      math.abs(UUID.randomUUID().getMostSignificantBits))
    val now = System.currentTimeMillis()

    // one DATA manifest per commit (ADDED entries + carried EXISTING
    // entries), plus — for delete commits — one DELETE manifest whose
    // data_file entries carry content=1/2 (spec field-id 134). The v3
    // fields (first_row_id + the deletion-vector triple) join the
    // schema only on v3 commits, keeping v1/v2 manifests byte-stable.
    val hasDvAdds = deleteAdds.exists(_.fileFormat == "PUFFIN")
    def buildSchema(v3: Boolean): org.apache.avro.Schema =
      manifestSchema(partFields.map(_.name),
        withContent = deleteAdds.nonEmpty, withV3Fields = v3 || hasDvAdds)
    def entry(mSchema: org.apache.avro.Schema, f: FileInfo, status: Int,
        content: Int, firstRowId: Option[Long]): GenericRecord = {
      val dfSchema = mSchema.getField("data_file").schema()
      val pSchema = dfSchema.getField("partition").schema()
      val part = new GenericData.Record(pSchema)
      partFields.foreach(pf =>
        part.put(pf.name, f.partitionValues.get(pf.name).flatten.orNull))
      val dataFile = new GenericData.Record(dfSchema)
      if (dfSchema.getField("content") != null)
        dataFile.put("content", content)
      if (f.equalityIds.nonEmpty) {
        val sf = dfSchema.getField("equality_ids")
        require(sf != null, "equality_ids field missing from manifest schema")
        val arrSchema = sf.schema().getTypes.get(1) // [null, array]
        val arr = new GenericData.Array[Integer](f.equalityIds.size, arrSchema)
        f.equalityIds.foreach(id => arr.add(Int.box(id)))
        dataFile.put("equality_ids", arr)
      }
      dataFile.put("file_path", f.path)
      dataFile.put("file_format", f.fileFormat)
      dataFile.put("partition", part)
      dataFile.put("record_count", f.recordCount)
      dataFile.put("file_size_in_bytes", f.size)
      if (dfSchema.getField("first_row_id") != null)
        dataFile.put("first_row_id", firstRowId.map(Long.box).orNull)
      if (dfSchema.getField("referenced_data_file") != null) {
        dataFile.put("referenced_data_file", f.referencedDataFile.orNull)
        dataFile.put("content_offset",
          f.contentOffset.map(Long.box).orNull)
        dataFile.put("content_size_in_bytes",
          f.contentSizeBytes.map(Long.box).orNull)
      }
      def boundsArray(field: String,
          bounds: Map[Int, Array[Byte]]): Unit = {
        val sf = dfSchema.getField(field)
        if (sf != null && bounds.nonEmpty) {
          val arrSchema = sf.schema().getTypes.get(1) // [null, array]
          val itemSchema = arrSchema.getElementType
          val arr = new GenericData.Array[GenericRecord](
            bounds.size, arrSchema)
          bounds.toSeq.sortBy(_._1).foreach { case (k, v) =>
            val kv = new GenericData.Record(itemSchema)
            kv.put("key", k)
            kv.put("value", java.nio.ByteBuffer.wrap(v))
            arr.add(kv)
          }
          dataFile.put(field, arr)
        }
      }
      boundsArray("lower_bounds", f.lowerBounds)
      boundsArray("upper_bounds", f.upperBounds)
      // same array-encoded int-keyed map shape, long-valued
      val ncField = dfSchema.getField("null_value_counts")
      if (ncField != null && f.nullCounts.nonEmpty) {
        val arrSchema = ncField.schema().getTypes.get(1)
        val itemSchema = arrSchema.getElementType
        val arr = new GenericData.Array[GenericRecord](
          f.nullCounts.size, arrSchema)
        f.nullCounts.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val kv = new GenericData.Record(itemSchema)
          kv.put("key", k)
          kv.put("value", v)
          arr.add(kv)
        }
        dataFile.put("null_value_counts", arr)
      }
      val e = new GenericData.Record(mSchema)
      e.put("status", status)
      e.put("snapshot_id", snapshotId)
      e.put("data_file", dataFile)
      e
    }
    // spec-prescribed avro file metadata so field-id-driven readers can
    // resolve the manifest without our exact field names
    val schemaIds = new java.util.concurrent.atomic.AtomicInteger(0)
    def manifestMeta(content: String, fv: Int, specId: Int) = Map(
      "schema" -> mapper.writeValueAsString(icebergSchemaJson(schema, schemaIds)),
      "partition-spec" -> mapper.writeValueAsString(
        partitionSpecFields(schema, partFields)),
      "partition-spec-id" -> specId.toString,
      "content" -> content,
      "format-version" -> fv.toString)
    val needsV2 = deleteAdds.nonEmpty
    // a delete-only commit (position deletes carried beside untouched
    // manifests) writes no data manifest at all. The data manifest is
    // written INSIDE the claim loop (below) once the table's real
    // format version is resolved — labeling an append to an
    // already-v2 table `format-version=1` would be legal but
    // inconsistent with the metadata/manifest-list for external readers
    val hasDataManifest = !(adds.isEmpty && kept.isEmpty && deleteAdds.nonEmpty)
    // v3 row lineage: ADDED files take [rowBase, …); kept EXISTING files
    // without an explicit first_row_id (pre-lineage files carried into
    // our manifest) are assigned after them — leaving them null would
    // make the reader's inheritance walk overlap the adds' explicit ids.
    // Returns the entries and the next unassigned row id.
    def dataEntries(mSchema: org.apache.avro.Schema, v3: Boolean,
        rowBase: Long): (Seq[GenericRecord], Long) = {
      var cursor = rowBase
      def assign(f: FileInfo, status: Int): GenericRecord =
        if (!v3) entry(mSchema, f, status, 0, None)
        else f.firstRowId match {
          case Some(existing) => entry(mSchema, f, status, 0, Some(existing))
          case None =>
            val e = entry(mSchema, f, status, 0, Some(cursor))
            cursor += f.recordCount
            e
        }
      val es = adds.map(assign(_, 1)) ++ kept.map(assign(_, 0))
      (es, cursor)
    }
    var writtenDataKey: Option[(Int, Int, Long)] = None
    var dataManifestSlot: Option[(Path, Long, Long)] = None
    def dataManifest(fv: Int, specId: Int,
        rowBase: Long): Option[(Path, Long, Long)] = {
      if (hasDataManifest && !writtenDataKey.contains((fv, specId, rowBase))) {
        val p = new Path(metaDir, s"$snapshotId-m0.avro")
        if (writtenDataKey.nonEmpty) fs.delete(p, false)
        val mSchema = buildSchema(fv >= 3)
        val (es, nextRow) = dataEntries(mSchema, fv >= 3, rowBase)
        dataManifestSlot =
          Some((p, writeAvro(fs, p, mSchema, es,
            manifestMeta("data", fv, specId)), nextRow))
        writtenDataKey = Some((fv, specId, rowBase))
      }
      dataManifestSlot
    }
    var writtenDelKey: Option[(Int, Int)] = None
    var deleteManifestSlot: Option[(Path, Long)] = None
    def deleteManifest(fv: Int, specId: Int): Option[(Path, Long)] = {
      if (deleteAdds.nonEmpty && !writtenDelKey.contains((fv, specId))) {
        val p = new Path(metaDir, s"$snapshotId-m1.avro")
        if (writtenDelKey.nonEmpty) fs.delete(p, false)
        val mSchema = buildSchema(fv >= 3)
        deleteManifestSlot = Some(p -> writeAvro(fs, p, mSchema,
          deleteAdds.map(f =>
            entry(mSchema, f, 1,
              if (f.equalityIds.nonEmpty) 2 else 1, None)),
          manifestMeta("deletes", math.max(fv, 2), specId)))
        writtenDelKey = Some((fv, specId))
      }
      deleteManifestSlot
    }

    val lSchema = manifestListSchema
    def listEntry(path: Path, len: Long, content: Int, seq: Option[Long],
        nAdds: Int, nKept: Int, specId: Int,
        addedRows: Long = 0L, keptRows: Long = 0L,
        firstRowId: Option[Long] = None): GenericRecord = {
      val mf = new GenericData.Record(lSchema)
      mf.put("manifest_path", fs.makeQualified(path).toString)
      mf.put("manifest_length", len)
      mf.put("partition_spec_id", specId)
      mf.put("content", content)
      mf.put("sequence_number", seq.map(Long.box).orNull)
      mf.put("min_sequence_number", seq.map(Long.box).orNull)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_data_files_count", nAdds)
      mf.put("existing_data_files_count", nKept)
      mf.put("deleted_data_files_count", 0)
      mf.put("added_rows_count", addedRows)
      mf.put("existing_rows_count", keptRows)
      mf.put("first_row_id", firstRowId.map(Long.box).orNull)
      mf
    }
    // does a carried content=1 manifest hold position-delete state (pos
    // parquet or puffin DVs)? Read once per manifest, manifest-scale.
    def holdsPositionDeletes(listRec: GenericRecord): Boolean = {
      val entries = IcebergReader.readAvro(spark,
        TableFiles.location(root, listRec.get("manifest_path").toString))
      val kinds = entries.map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val hasEqIds = Option(df.getSchema.getField("equality_ids"))
          .flatMap(_ => Option(df.get("equality_ids"))).exists {
            case l: java.util.List[_] => !l.isEmpty
            case _ => false
          }
        !hasEqIds // true = positional (pos parquet or DV)
      }
      if (kinds.contains(true) && kinds.contains(false))
        throw new UnsupportedIcebergFeatureException(
          s"mixed position/equality delete manifest " +
            s"${listRec.get("manifest_path")} cannot be replaced by a " +
            "deletion-vector commit")
      kinds.contains(true)
    }

    // the manifest list is (re)built in every attempt, so appends
    // observe the manifests of whoever won a race
    claimLoop(fs, tablePath, "an Iceberg commit") { (claimedMax, parsed, attempt) =>
      expectedParent.foreach { p =>
        val cur = parsed.flatMap(m =>
          Option(m.get("current-snapshot-id")).map(_.asLong))
        if (!cur.contains(p))
          throw new ConcurrentCommit(
            s"table advanced past snapshot $p (now $cur); re-resolve")
      }
      // format-version and sequence numbers are PRESERVED: appending to a
      // v2/v3 table must not downgrade its metadata (external readers use
      // last-sequence-number to order deletes against data)
      val priorFv = parsed.flatMap(m =>
        Option(m.get("format-version")).map(_.asInt)).getOrElse(1)
      val fv =
        if (math.max(priorFv, minFormatVersion) >= 3) 3
        else if (needsV2 || priorFv >= 2) 2
        else 1
      val priorSeq = parsed.flatMap(m =>
        Option(m.get("last-sequence-number")).map(_.asLong)).getOrElse(0L)
      val seq = if (fv >= 2) Some(priorSeq + 1) else None
      // v3 row lineage: this snapshot's first-row-id is the table's
      // next-row-id; explicit ids are assigned to our adds (and to kept
      // files lacking one), then to carried manifests missing a
      // first_row_id (the post-upgrade lazy re-stamp)
      val rowBase: Long = parsed.flatMap(m =>
        Option(m.get("next-row-id")).map(_.asLong)).getOrElse(0L)
      // the spec-id OUR manifests are written under — resolved against
      // the freshly-claimed metadata so an evolution landing between
      // retries is observed; carried manifests keep their own spec-ids
      // through reencode
      val specId = resolveSpecId(parsed, schema, partFields)
      // a branch commit builds on the BRANCH head's state (falling back
      // to the fork point — the current snapshot — when the branch does
      // not exist yet), and its parent is that head, not main's
      val branchHead: Option[Long] = branch.flatMap { b =>
        parsed.flatMap(m => Option(m.get("refs")).filter(_.isObject))
          .flatMap(r => Option(r.get(b)))
          .map(_.get("snapshot-id").asLong)
      }
      val carried0: Seq[GenericRecord] =
        if (!carryCurrentManifests) Nil
        else parsed.toSeq.flatMap(m =>
          currentManifestRecords(spark, fs, root, m, branchHead)
            .map(reencode(lSchema, _)))
      // a deletion-vector commit REPLACES all positional delete state:
      // the new DVs already union every prior deleted position, so
      // carried pos/DV delete manifests drop (the invariant is at most
      // one DV per data file); equality-delete manifests carry through
      val carried =
        if (!dropPosDeleteManifests) carried0
        else carried0.filterNot { r =>
          intOf(r.get("content")).contains(1) && holdsPositionDeletes(r)
        }
      val ourData = dataManifest(fv, specId, rowBase)
      val afterOurs: Long = ourData.map(_._3).getOrElse(rowBase)
      // post-upgrade lazy re-stamp: carried data manifests without a
      // first_row_id get one here, advancing the cursor by their row
      // counts (summed from the manifest when the counts are absent)
      var rowCursor = afterOurs
      if (fv >= 3) carried.foreach { r =>
        if (intOf(r.get("content")).getOrElse(0) == 0 &&
            r.get("first_row_id") == null) {
          r.put("first_row_id", Long.box(rowCursor))
          // advance by EXACTLY what the reader's inheritance walk will
          // consume: record_count of every NULL-first_row_id data entry
          // in the manifest, DELETED entries included (the declared
          // added/existing row counts exclude them and would
          // under-reserve, colliding _row_id ranges)
          val rows = IcebergReader.readAvro(spark, TableFiles.location(root,
              r.get("manifest_path").toString))
            .map(e => e.get("data_file").asInstanceOf[GenericRecord])
            .filter { df =>
              val isData =
                fieldOpt(df, "content").flatMap(intOf).getOrElse(0) == 0
              val hasFri = df.getSchema.getField("first_row_id") != null &&
                df.get("first_row_id") != null
              isData && !hasFri
            }
            .map(df => longOf(df.get("record_count")).getOrElse(0L)).sum
          rowCursor += rows
        }
      }
      val nextRowId = rowCursor
      val ours = ourData.toSeq.map { case (p, len, _) =>
        listEntry(p, len, 0, seq, adds.length, kept.length, specId,
          addedRows = adds.map(_.recordCount).sum,
          keptRows = kept.map(_.recordCount).sum,
          firstRowId = if (fv >= 3) Some(rowBase) else None)
      } ++ deleteManifest(fv, specId).toSeq.map { case (p, len) =>
        listEntry(p, len, 1, seq, deleteAdds.length, 0, specId,
          addedRows = deleteAdds.map(_.recordCount).sum)
      }
      val listPath = new Path(metaDir, s"snap-$snapshotId-$attempt.avro")
      writeAvro(fs, listPath, lSchema, ours ++ carried,
        Map("format-version" -> fv.toString,
          "snapshot-id" -> snapshotId.toString))
      val node = metadataJson(parsed, fs.makeQualified(root).toString,
        schema, partFields, snapshotId,
        fs.makeQualified(listPath).toString, operation, now, fv, seq,
        branch, branchHead,
        firstRowId = if (fv >= 3) Some(rowBase) else None,
        nextRowId = if (fv >= 3) Some(nextRowId) else None,
        summaryStats = Map(
          "added-data-files" -> adds.length.toLong,
          "added-records" -> adds.map(_.recordCount).sum,
          "added-files-size" -> adds.map(_.size).sum,
          "added-delete-files" -> deleteAdds.length.toLong,
          "total-data-files" -> (adds.length + kept.length +
            (if (carryCurrentManifests)
               carried.map(c =>
                 longOf(c.get("added_data_files_count")).getOrElse(0L) +
                   longOf(c.get("existing_data_files_count")).getOrElse(0L)).sum
             else 0L))))
      // a lost claim deletes this attempt's list; the manifests are
      // rewritten only when the format version, spec or row base moves
      Successor(node, Committed(snapshotId, claimedMax + 1, adds.length),
        staged = Seq(listPath), snapshotId = Some(snapshotId))
    }
  }

  /** What one attempt of [[claimLoop]] decided. */
  private sealed trait Attempt[+A]

  /** Nothing to commit: the loop returns `answer` without a claim. */
  private final case class Unchanged[A](answer: A) extends Attempt[A]

  /** Claim `node` as the next metadata version, then return `answer`.
    * `staged` are the files written for this attempt alone, deleted when
    * the claim is lost; `snapshotId`, when set, must be in the visible
    * chain after the claim, or the attempt counts as lost. */
  private final case class Successor[A](node: ObjectNode, answer: A,
      staged: Seq[Path] = Nil, snapshotId: Option[Long] = None)
      extends Attempt[A]

  /** The optimistic-commit protocol under every Iceberg commit. Each
    * attempt reads the log, and `attempt` builds from the highest
    * claimed version, the newest parseable metadata and the attempt
    * number; the loop claims `v{max+1}.metadata.json` create-exclusive
    * and advances the version hint on a win. A lost claim deletes the
    * attempt's staged files and retries, up to 20 attempts. */
  private def claimLoop[A](fs: FileSystem, tablePath: String, what: String)(
      attempt: (Long, Option[JsonNode], Int) => Attempt[A]): A = {
    val metaDir = new Path(new Path(tablePath), "metadata")
    var attempts = 0
    while (attempts < 20) {
      val (claimedMax, parsed) = logState(fs, metaDir)
      attempt(claimedMax, parsed.map(_._2), attempts) match {
        case Unchanged(answer) => return answer
        case Successor(node, answer, staged, snapshotId) =>
          val version = claimedMax + 1
          if (AtomicWrite.claim(fs, new Path(metaDir, s"v$version.metadata.json"),
              mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))) {
            writeHint(fs, metaDir, version)
            // A writer paused between claiming vN and writing the body
            // past tornGraceMs has its claim SKIPPED by competitors —
            // returning success without checking would acknowledge a
            // dropped commit. If a competitor advanced past us without
            // carrying our snapshot, retry the whole claim (merge paths
            // re-raise ConcurrentCommit upstream).
            val visible = snapshotId.forall(id =>
              logState(fs, metaDir)._2.exists { case (_, meta) =>
                IcebergReader.jsonArray(meta.get("snapshots"))
                  .exists(_.get("snapshot-id").asLong == id)
              })
            if (visible) return answer
          } else staged.foreach(fs.delete(_, false))
          attempts += 1
      }
    }
    throw new java.io.IOException(
      s"could not claim $what after $attempts attempts at $tablePath")
  }

  /** A metadata-only commit through [[claimLoop]]: `edit` gets a deep
    * copy of the newest metadata, stamped with a new `last-updated-ms`,
    * and returns it as the [[Successor]] or answers [[Unchanged]]. Its
    * checks run against the metadata each attempt reads. */
  private def editMetadata[A](spark: SparkSession, tablePath: String,
      what: String)(edit: ObjectNode => Attempt[A]): A =
    claimLoop(new Path(tablePath).getFileSystem(
        spark.sparkContext.hadoopConfiguration), tablePath, what) {
      (_, parsed, _) =>
        val node = parsed.getOrElse(throw new IllegalStateException(
            s"no parseable Iceberg metadata at $tablePath"))
          .deepCopy[JsonNode]().asInstanceOf[ObjectNode]
        node.put("last-updated-ms", System.currentTimeMillis())
        edit(node)
    }

  /** The child `name` of `node`, created by `make` when it is absent or
    * of another kind. */
  private def child[N <: JsonNode: ClassTag](node: ObjectNode, name: String)(
      make: => N): N = node.get(name) match {
    case n: N => n
    case _ => val n = make; node.set[JsonNode](name, n); n
  }

  /** The current schema of a metadata document: the `schemas` entry
    * whose id is `current-schema-id` (0 when absent), else the singular
    * v1 `schema`. */
  private def currentSchema(meta: JsonNode): Option[ObjectNode] = {
    val curId = Option(meta.get("current-schema-id")).map(_.asInt).getOrElse(0)
    IcebergReader.jsonArray(meta.get("schemas"))
      .find(s => Option(s.get("schema-id")).exists(_.asInt == curId))
      .orElse(Option(meta.get("schema")))
      .collect { case o: ObjectNode => o }
  }

  /** Advance main through `ids` (oldest first) to `ids.last`: set
    * `current-snapshot-id`, append one snapshot-log entry per id stamped
    * with the document's `last-updated-ms`, and move a `main` ref of
    * type branch. */
  private def advanceMain(node: ObjectNode, ids: Seq[Long]): Unit = {
    val now = node.get("last-updated-ms").asLong
    node.put("current-snapshot-id", ids.last)
    val log = child(node, "snapshot-log")(mapper.createArrayNode())
    ids.foreach { id =>
      val entry = log.addObject()
      entry.put("timestamp-ms", now)
      entry.put("snapshot-id", id)
    }
    Option(node.get("refs")).flatMap(r => Option(r.get("main")))
      .collect { case m: ObjectNode => m }
      .filter(m => Option(m.get("type")).forall(_.asText == "branch"))
      .foreach(_.put("snapshot-id", ids.last))
  }

  /** Advance `version-hint.text` monotonically: a slow writer must not
    * regress the hint below a newer committed version. The hint is a
    * non-authoritative fast-forward pointer ([[IcebergReader]] resolves
    * by listing and skips torn claims), so the benign read-then-write
    * race here costs at most a lagging hint, never a wrong read. */
  private def writeHint(fs: FileSystem, metaDir: Path, version: Long): Unit = {
    val hintPath = new Path(metaDir, "version-hint.text")
    val existing =
      try {
        val in = fs.open(hintPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        Some(text.trim.toLong)
      } catch { case _: Exception => None }
    if (existing.forall(_ < version)) {
      try {
        val out = fs.create(hintPath, true)
        try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      } catch { case _: java.io.IOException => () } // advisory only
    }
  }

  /** The manifest-list records of `meta`'s current snapshot (empty for a
    * table with no current snapshot). */
  private def currentManifestRecords(spark: SparkSession, fs: FileSystem,
      root: Path, meta: JsonNode,
      atSnapshot: Option[Long] = None): Seq[GenericRecord] = {
    val cur = atSnapshot.orElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong).filter(_ >= 0))
      .getOrElse(return Nil)
    IcebergReader.jsonArray(meta.get("snapshots"))
      .find(_.get("snapshot-id").asLong == cur)
      .map(s => IcebergReader.readAvro(spark,
        TableFiles.location(root, s.get("manifest-list").asText)))
      .getOrElse(Nil)
  }

  /** Re-encode a manifest-list record (possibly written by another engine
    * with a wider schema) onto this writer's field set. The v2 fields
    * (`content`, `sequence_number`, `min_sequence_number`) are CARRIED,
    * not dropped — flattening a delete manifest's content to 0 would
    * resurrect deleted rows on the next append. Fields absent from the
    * source's writer schema read through the schema guard (avro `get`
    * throws on unknown names). */
  private def reencode(lSchema: org.apache.avro.Schema,
      r: GenericRecord): GenericRecord = {
    val out = new GenericData.Record(lSchema)
    def long(f: String) = fieldOpt(r, f).flatMap(longOf)
    def int(f: String) = fieldOpt(r, f).flatMap(intOf)
    out.put("manifest_path", r.get("manifest_path").toString)
    out.put("manifest_length", long("manifest_length").getOrElse(0L))
    out.put("partition_spec_id", int("partition_spec_id").getOrElse(0))
    out.put("content", int("content").getOrElse(0))
    Seq("sequence_number", "min_sequence_number", "added_snapshot_id",
      // v3 row lineage: a carried manifest KEEPS its first_row_id (and
      // the row counts the assignment walk advances by)
      "added_rows_count", "existing_rows_count", "first_row_id")
      .foreach(f => out.put(f, long(f).map(Long.box).orNull))
    Seq("added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count")
      .foreach(f => out.put(f, int(f).map(Int.box).orNull))
    out
  }

  /** How long a claimed-but-unparseable metadata file is treated as an
    * in-flight writer (waited out) rather than a dead leftover. */
  private[io] var tornGraceMs = 10000L

  /** (highest CLAIMED version, latest PARSEABLE metadata). Metadata
    * publication is create-exclusive-then-write, so a concurrent reader
    * can observe a claimed file whose body has not landed (the torn
    * window). A young torn claim is an in-flight writer — wait for its
    * body; a stale one is a dead crash leftover — its STATE is skipped
    * (the writer never returned success, so nothing acknowledged is
    * lost) but its version number is never reused. Without this, a torn
    * read parses as an empty node and an append silently carries
    * nothing — the lost-update this method exists to prevent. */
  private def logState(fs: FileSystem, metaDir: Path)
      : (Long, Option[(Long, JsonNode)]) = {
    val Meta = """v(\d+)\.metadata\.json""".r
    val deadline = System.currentTimeMillis() + tornGraceMs
    while (true) {
      if (!fs.exists(metaDir)) return (0L, None)
      val versions = fs.listStatus(metaDir).collect {
        case st if Meta.matches(st.getPath.getName) =>
          (Meta.findFirstMatchIn(st.getPath.getName).get.group(1).toLong, st)
      }.sortBy(-_._1)
      if (versions.isEmpty) return (0L, None)
      val claimedMax = versions.head._1
      var waitForInflight = false
      var parsed: Option[(Long, JsonNode)] = None
      val it = versions.iterator
      while (it.hasNext && parsed.isEmpty && !waitForInflight) {
        val (v, st) = it.next()
        tryParse(fs, st.getPath) match {
          case Some(node) => parsed = Some(v -> node)
          case None =>
            val young = System.currentTimeMillis() -
              st.getModificationTime < tornGraceMs
            if (young && System.currentTimeMillis() < deadline)
              waitForInflight = true
            // else: stale torn claim — skip its state, keep its number
        }
      }
      if (waitForInflight) Thread.sleep(50L)
      else return (claimedMax, parsed)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Parse a metadata json; None when torn/incomplete (missing body or
    * not yet a full Iceberg metadata document). */
  private def tryParse(fs: FileSystem, p: Path)
      : Option[JsonNode] =
    try {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val node = mapper.readTree(text)
      if (node != null && node.isObject && node.has("format-version"))
        Some(node)
      else None
    } catch { case _: Exception => None }

  /** Fields shared by every metadata document (identity, schema,
    * partition spec). */
  private def baseMetadata(
      prior: Option[JsonNode],
      location: String, schema: StructType, partFields: Seq[PartitionField],
      now: Long, formatVersion: Int = 1): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("format-version", formatVersion)
    node.put("table-uuid", prior.flatMap(p =>
      Option(p.get("table-uuid")).map(_.asText))
      .getOrElse(UUID.randomUUID().toString))
    node.put("location", location)
    node.put("last-updated-ms", now)
    // spec `sort-orders` + `default-sort-order-id` (required fields in
    // v2 metadata): carried from the prior document; a new table
    // declares the unsorted order 0. A sorted rewrite declares its
    // identity order via [[declareSortOrder]].
    prior.flatMap(p => Option(p.get("sort-orders")).filter(_.isArray)) match {
      case Some(a) =>
        node.set[ObjectNode]("sort-orders",
          a.deepCopy[JsonNode]())
        ()
      case None =>
        val arr = mapper.createArrayNode()
        val o = mapper.createObjectNode()
        o.put("order-id", 0)
        o.set[ObjectNode]("fields", mapper.createArrayNode())
        arr.add(o)
        node.set[ObjectNode]("sort-orders", arr)
        ()
    }
    node.put("default-sort-order-id", prior.flatMap(p =>
      Option(p.get("default-sort-order-id")).map(_.asInt)).getOrElse(0))
    val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    val schemaNode = icebergSchemaJson(schema, ids)
    // Schema history (spec `schemas` + `current-schema-id`): additive
    // evolution APPENDS a new schema entry with the next schema-id so
    // pre-evolution snapshots keep resolving their own schema (the
    // reader already looks snapshots' schema-id up in this array).
    // Positional id assignment stays consistent along the evolution
    // path because the merged schema preserves table field order and
    // appends new fields — new columns take ids above the prior
    // last-column-id, never reusing one. A non-extending overwrite
    // REPLACES the history (ids would conflict across entries
    // otherwise) — the existing replace-world semantics.
    val priorSchemas: Seq[ObjectNode] = prior.toSeq.flatMap { p =>
      val arr = IcebergReader.jsonArray(p.get("schemas"))
        .collect { case o: ObjectNode => o.deepCopy() }
      if (arr.nonEmpty) arr
      else Option(p.get("schema")).collect { case o: ObjectNode =>
        val c = o.deepCopy(); if (!c.has("schema-id")) c.put("schema-id", 0); c
      }.toSeq
    }
    val priorCurrentId = prior.flatMap(p =>
      Option(p.get("current-schema-id")).map(_.asInt)).getOrElse(0)
    val priorCurrent = priorSchemas.find(_.get("schema-id").asInt == priorCurrentId)
    def fieldsOf(s: ObjectNode) = IcebergReader.jsonArray(s.get("fields"))
    val newFields = fieldsOf(schemaNode)
    // a prior field matches when identical OR legally promoted in place
    // (int→long, float→double, decimal precision widening — the spec's
    // in-history type evolution; ids/names/positions never change)
    def promotedType(a: String, b: String): Boolean =
      (a == "int" && b == "long") || (a == "float" && b == "double") ||
        (a.startsWith("decimal(") && b.startsWith("decimal(") && {
          def ps(s: String) = s.stripPrefix("decimal(").stripSuffix(")")
            .split(",").map(_.trim.toInt)
          val (pa, pb) = (ps(a), ps(b))
          pa(1) == pb(1) && pa(0) <= pb(0)
        })
    def compatible(prior: Seq[JsonNode]): Boolean =
      prior.size <= newFields.size && prior.zip(newFields).forall {
        case (p, n) =>
          p.get("id") == n.get("id") && p.get("name") == n.get("name") &&
            p.get("required") == n.get("required") &&
            (p.get("type") == n.get("type") ||
              (p.get("type").isTextual && n.get("type").isTextual &&
                promotedType(p.get("type").asText, n.get("type").asText)))
      }
    val (schemasArr, currentId) = priorCurrent match {
      case Some(pc) if fieldsOf(pc) == newFields =>
        (priorSchemas, priorCurrentId) // unchanged schema: carry history
      case Some(pc) if compatible(fieldsOf(pc)) =>
        // additive extension / in-place promotion: new entry, history kept
        val newId = priorSchemas.map(_.get("schema-id").asInt).max + 1
        schemaNode.put("schema-id", newId)
        (priorSchemas :+ schemaNode, newId)
      case _ =>
        schemaNode.put("schema-id", 0)
        (Seq(schemaNode), 0)
    }
    // last-column-id is monotonic over the table's whole life
    node.put("last-column-id", math.max(ids.get(),
      prior.flatMap(p => Option(p.get("last-column-id")).map(_.asInt))
        .getOrElse(0)))
    val currentNode =
      schemasArr.find(_.get("schema-id").asInt == currentId).get
    node.set[ObjectNode]("schema", currentNode.deepCopy())
    val schemasJson = mapper.createArrayNode()
    schemasArr.foreach(schemasJson.add)
    node.set[ArrayNode]("schemas", schemasJson)
    node.put("current-schema-id", currentId)
    // Partition-spec history (spec `partition-specs` + `default-spec-id`):
    // a data commit writes under the table's CURRENT spec, so when the
    // committed partitioning matches a spec already in history (compared
    // on name/transform/source-id — field-ids belong to the history
    // entry), the whole array and default id carry forward; evolution
    // entries appended by [[updatePartitionSpec]] survive every data
    // commit. No match (fresh table, or overwrite re-declaring the
    // partitioning) replaces the history, like schemas.
    val specFields = partitionSpecFields(schema, partFields)
    val priorSpecs: Seq[ObjectNode] = prior.toSeq.flatMap(p =>
      IcebergReader.jsonArray(p.get("partition-specs"))
        .collect { case o: ObjectNode => o.deepCopy() })
    val matchedSpec = priorSpecs.find(s =>
      specKey(s.get("fields")) == specKey(specFields))
    matchedSpec match {
      case Some(m) =>
        val specsJson = mapper.createArrayNode()
        priorSpecs.foreach(specsJson.add)
        node.set[ArrayNode]("partition-spec",
          m.get("fields").deepCopy[JsonNode]().asInstanceOf[ArrayNode])
        node.set[ArrayNode]("partition-specs", specsJson)
        node.put("default-spec-id", m.get("spec-id").asInt)
      case None =>
        val spec = mapper.createObjectNode()
        spec.put("spec-id", 0)
        spec.set[ArrayNode]("fields", specFields)
        // v1 requires the SINGULAR partition-spec (a bare field array)
        // next to the newer partition-specs list — readers predating the
        // list resolve only the singular form
        node.set[ArrayNode]("partition-spec", specFields.deepCopy())
        node.set[ArrayNode]("partition-specs",
          mapper.createArrayNode().add(spec))
        node.put("default-spec-id", 0)
    }
    node.put("last-partition-id", math.max(
      1000 + partFields.length - 1,
      prior.flatMap(p => Option(p.get("last-partition-id")).map(_.asInt))
        .getOrElse(999)))
    // properties SURVIVE data commits (like refs) — wiping them would
    // silently drop schema.name-mapping.default and break id-less reads
    node.set[ObjectNode]("properties",
      prior.flatMap(p => Option(p.get("properties")).filter(_.isObject))
        .map(_.deepCopy[JsonNode]().asInstanceOf[ObjectNode])
        .getOrElse(mapper.createObjectNode()))
    node
  }

  /** Identity of a partition spec for history matching: the
    * (name, transform, source-id) triple list — field-ids belong to the
    * history entry that first declared the field, not to the shape. */
  private def specKey(fields: JsonNode)
      : Seq[(String, String, Int)] =
    IcebergReader.jsonArray(fields).map(f =>
      (f.get("name").asText,
        Option(f.get("transform")).map(_.asText).getOrElse("identity"),
        Option(f.get("source-id")).map(_.asInt).getOrElse(-1)))

  /** The spec-id this (schema, partFields) combination resolves to in
    * `prior`'s partition-spec history: the matching entry's id, or 0
    * when the history has no such spec (fresh table / redeclaring
    * overwrite, which resets the history to a single spec 0). */
  private def resolveSpecId(
      prior: Option[JsonNode],
      schema: StructType, partFields: Seq[PartitionField]): Int =
    prior.flatMap { p =>
      val key = specKey(partitionSpecFields(schema, partFields))
      IcebergReader.jsonArray(p.get("partition-specs"))
        .find(s => specKey(s.get("fields")) == key)
        .map(_.get("spec-id").asInt)
    }.getOrElse(0)

  /** The partition-spec field array: name, transform string
    * (`identity`/`day`/`bucket[n]`/…), 1-based source-id into the
    * schema, and the 1000-based partition field-id the spec assigns. */
  private def partitionSpecFields(schema: StructType,
      partFields: Seq[PartitionField]): ArrayNode = {
    // source-id = the source column's ACTUAL schema field id (positional
    // only for flat schemas — nested fields consume ids in between), so
    // spec-history matching agrees with [[updatePartitionSpec]]'s
    // id-resolved entries
    val ids = topLevelFieldIds(schema)
    val specFields = mapper.createArrayNode()
    partFields.zipWithIndex.foreach { case (pf, i) =>
      val f = mapper.createObjectNode()
      f.put("name", pf.name)
      f.put("transform", pf.transform)
      f.put("source-id", ids.getOrElse(pf.source,
        schema.fieldNames.indexOf(pf.source) + 1))
      f.put("field-id", 1000 + i)
      specFields.add(f)
    }
    specFields
  }

  /** Initial metadata of an empty table (S3 Tables `create_table`): the
    * declared schema and partition spec, no snapshot yet. */
  private def emptyMetadataJson(location: String, schema: StructType,
      partFields: Seq[PartitionField], now: Long,
      formatVersion: Int = 1): ObjectNode = {
    val node = baseMetadata(None, location, schema, partFields, now,
      formatVersion)
    if (formatVersion >= 2) node.put("last-sequence-number", 0L)
    if (formatVersion >= 3) node.put("next-row-id", 0L)
    node.set[ArrayNode]("snapshots", mapper.createArrayNode())
    node.put("current-snapshot-id", -1L)
    node.set[ArrayNode]("snapshot-log", mapper.createArrayNode())
    node
  }

  /** Next metadata document: prior snapshots carried, the new one
    * appended and made current — or, for a BRANCH commit (spec `refs`;
    * the write-audit-publish staging pattern), appended with only the
    * branch ref moved: `current-snapshot-id`, the snapshot-log, and the
    * `main` ref are untouched, so main readers never see staged data
    * until [[IcebergWriter.fastForward]] publishes it. */
  private def metadataJson(
      prior: Option[JsonNode],
      location: String, schema: StructType, partFields: Seq[PartitionField],
      snapshotId: Long, manifestList: String, operation: String,
      now: Long, formatVersion: Int = 1,
      sequenceNumber: Option[Long] = None,
      branch: Option[String] = None,
      branchParent: Option[Long] = None,
      firstRowId: Option[Long] = None,
      nextRowId: Option[Long] = None,
      summaryStats: Map[String, Long] = Map.empty): ObjectNode = {
    val node = baseMetadata(prior, location, schema, partFields, now,
      formatVersion)
    sequenceNumber.foreach(node.put("last-sequence-number", _))
    // v3 row lineage: next-row-id is required table metadata; the
    // committing snapshot records its assigned base as first-row-id
    nextRowId.foreach(node.put("next-row-id", _))
    val snaps = mapper.createArrayNode()
    prior.foreach(p => IcebergReader.jsonArray(p.get("snapshots"))
      .foreach(s => snaps.add(s)))
    val snap = mapper.createObjectNode()
    snap.put("snapshot-id", snapshotId)
    // spec's optional lineage field — incremental consumers (and this
    // reader's append scan) walk ancestry with it where available.
    // A branch commit's parent is the BRANCH head, not main's.
    val priorCurrent = prior.flatMap(p => Option(p.get("current-snapshot-id")))
      .filterNot(_.isNull).map(_.asLong).filter(_ >= 0)
    val parent =
      if (branch.isDefined) branchParent.orElse(priorCurrent) else priorCurrent
    parent.foreach(snap.put("parent-snapshot-id", _))
    snap.put("timestamp-ms", now)
    sequenceNumber.foreach(snap.put("sequence-number", _))
    firstRowId.foreach(snap.put("first-row-id", _))
    // stamp the snapshot with the schema it was written under, so
    // time-travel reads resolve the pre-evolution schema from history
    snap.put("schema-id", node.get("current-schema-id").asInt)
    val summary = mapper.createObjectNode()
    summary.put("operation", operation)
    // the metrics real Iceberg stamps on every snapshot (spec
    // "Snapshots" summary fields) — external engines and humans read
    // commit sizes here without touching a manifest
    summaryStats.toSeq.sortBy(_._1).foreach { case (k, v) =>
      summary.put(k, v.toString)
    }
    snap.set[ObjectNode]("summary", summary)
    snap.put("manifest-list", manifestList)
    snaps.add(snap)
    node.set[ArrayNode]("snapshots", snaps)
    // main's pointer, history and refs carry over; a main commit then
    // advances main, while a BRANCH commit (staged: main readers never
    // see it until fastForward publishes it) moves only its branch ref
    priorCurrent.foreach(node.put("current-snapshot-id", _))
    val log = node.putArray("snapshot-log")
    prior.foreach(p => IcebergReader.jsonArray(p.get("snapshot-log"))
      .foreach(log.add))
    prior.flatMap(p => Option(p.get("refs")).filter(_.isObject))
      .foreach(r => node.set[JsonNode]("refs", r.deepCopy[JsonNode]()))
    branch match {
      case None => advanceMain(node, Seq(snapshotId))
      case Some(b) =>
        val entry = child(node, "refs")(mapper.createObjectNode()).putObject(b)
        entry.put("snapshot-id", snapshotId)
        entry.put("type", "branch")
    }
    node
  }

  // ---- Spark schema → Iceberg schema JSON (inverse of the reader) -------

  private def icebergSchemaJson(schema: StructType,
      ids: java.util.concurrent.atomic.AtomicInteger): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    val fields = mapper.createArrayNode()
    schema.fields.foreach { f =>
      val fn = mapper.createObjectNode()
      fn.put("id", ids.incrementAndGet())
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.set[JsonNode]("type", icebergTypeJson(f.dataType, ids))
      // v3 column defaults survive re-rendered schema history
      if (f.metadata.contains("iceberg.initial-default"))
        fn.set[JsonNode]("initial-default",
          mapper.readTree(f.metadata.getString("iceberg.initial-default")))
      if (f.metadata.contains("iceberg.write-default"))
        fn.set[JsonNode]("write-default",
          mapper.readTree(f.metadata.getString("iceberg.write-default")))
      fields.add(fn)
    }
    node.set[ArrayNode]("fields", fields)
    node
  }

  private def icebergTypeJson(dt: DataType,
      ids: java.util.concurrent.atomic.AtomicInteger)
      : JsonNode = dt match {
    case BooleanType => mapper.getNodeFactory.textNode("boolean")
    case ByteType | ShortType | IntegerType =>
      mapper.getNodeFactory.textNode("int")
    case LongType => mapper.getNodeFactory.textNode("long")
    case FloatType => mapper.getNodeFactory.textNode("float")
    case DoubleType => mapper.getNodeFactory.textNode("double")
    case DateType => mapper.getNodeFactory.textNode("date")
    case TimestampNTZType => mapper.getNodeFactory.textNode("timestamp")
    case TimestampType => mapper.getNodeFactory.textNode("timestamptz")
    case StringType => mapper.getNodeFactory.textNode("string")
    case BinaryType => mapper.getNodeFactory.textNode("binary")
    case d: DecimalType =>
      mapper.getNodeFactory.textNode(s"decimal(${d.precision}, ${d.scale})")
    case a: ArrayType =>
      val n = mapper.createObjectNode()
      n.put("type", "list")
      n.put("element-id", ids.incrementAndGet())
      n.set[JsonNode]("element", icebergTypeJson(a.elementType, ids))
      n.put("element-required", !a.containsNull)
      n
    case s: StructType => icebergSchemaJson(s, ids)
    case m: MapType =>
      val n = mapper.createObjectNode()
      n.put("type", "map")
      n.put("key-id", ids.incrementAndGet())
      n.set[JsonNode]("key", icebergTypeJson(m.keyType, ids))
      n.put("value-id", ids.incrementAndGet())
      n.set[JsonNode]("value", icebergTypeJson(m.valueType, ids))
      n.put("value-required", !m.valueContainsNull)
      n
    case other => throw new IllegalArgumentException(
      s"unsupported type for Iceberg: ${other.simpleString}")
  }

  // ---- avro --------------------------------------------------------------

  private def writeAvro(fs: FileSystem, path: Path,
      schema: org.apache.avro.Schema, records: Seq[GenericRecord],
      meta: Map[String, String] = Map.empty): Long = {
    val out = fs.create(path, false)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    try {
      meta.foreach { case (k, v) => writer.setMeta(k, v) }
      writer.create(schema, out)
      records.foreach(writer.append)
    } finally writer.close() // closes the stream too
    fs.getFileStatus(path).getLen
  }

  /** Iceberg manifest-entry schema: the spec's field names AND field-ids
    * (status=0, snapshot_id=1, data_file=2; file_path=100,
    * file_format=101, partition=102, record_count=103,
    * file_size_in_bytes=104; partition fields 1000+i) over the stats
    * this writer tracks — spec-conformant readers resolve manifest
    * columns by field-id, not name. Partition values are carried as
    * nullable strings (hive-encoded transform results). */
  private def manifestSchema(partNames: Seq[String],
      withContent: Boolean = false,
      withV3Fields: Boolean = false): org.apache.avro.Schema = {
    val partFields = partNames.zipWithIndex.map { case (c, i) =>
      s"""{"name":${mapper.writeValueAsString(c)},"type":["null","string"],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    // v2 delete manifests distinguish position/equality delete files by
    // data_file.content (spec field-id 134); v1 manifests omit it
    // equality_ids (spec field-id 135, element 136): the schema field-ids
    // an equality-delete file's rows match on; null for data/pos-delete
    val contentField =
      if (withContent)
        """{"name":"content","type":"int","default":0,"field-id":134},
          |{"name":"equality_ids","field-id":135,"default":null,"type":["null",{"type":"array","items":"int","element-id":136}]},""".stripMargin
      else ""
    // v3 additions (spec data_file table): first_row_id=142 (row
    // lineage), and the deletion-vector triple referenced_data_file=143,
    // content_offset=144, content_size_in_bytes=145
    val v3Fields =
      if (withV3Fields)
        """,{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
          |{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
          |{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
          |{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""".stripMargin
      else ""
    // lower/upper_bounds: int-keyed maps, encoded (as Iceberg does) as
    // arrays of key/value records with the spec's field-ids
    // null_value_counts (spec field-id 110, key 121 / value 122): per
    // field-id null totals — what lets a reader prune IS NULL / IS NOT
    // NULL predicates without opening a footer
    val boundsFields =
      """,{"name":"null_value_counts","field-id":110,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]}}]},
        |{"name":"lower_bounds","field-id":125,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]}}]},
        |{"name":"upper_bounds","field-id":128,"default":null,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]}}]}""".stripMargin
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int","field-id":0},
         |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |    $contentField
         |    {"name":"file_path","type":"string","field-id":100},
         |    {"name":"file_format","type":"string","field-id":101},
         |    {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |    {"name":"record_count","type":"long","field-id":103},
         |    {"name":"file_size_in_bytes","type":"long","field-id":104}
         |    $boundsFields
         |    $v3Fields
         |  ]}}
         |]}""".stripMargin)
  }

  /** Manifest-list schema with the spec's field-ids (manifest_path=500,
    * manifest_length=501, partition_spec_id=502, added_snapshot_id=503,
    * added/existing/deleted counts 504-506) plus the v2 fields that
    * distinguish DATA from DELETE manifests and order them:
    * content=517 (0=data, 1=deletes), sequence_number=515,
    * min_sequence_number=516. v1 snapshots simply leave them at the
    * defaults — carrying a delete manifest through an append without
    * these fields would silently replay it as data. */
  private val manifestListSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string","field-id":500},
        |  {"name":"manifest_length","type":"long","field-id":501},
        |  {"name":"partition_spec_id","type":"int","field-id":502},
        |  {"name":"content","type":"int","default":0,"field-id":517},
        |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":515},
        |  {"name":"min_sequence_number","type":["null","long"],"default":null,"field-id":516},
        |  {"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503},
        |  {"name":"added_data_files_count","type":["null","int"],"default":null,"field-id":504},
        |  {"name":"existing_data_files_count","type":["null","int"],"default":null,"field-id":505},
        |  {"name":"deleted_data_files_count","type":["null","int"],"default":null,"field-id":506},
        |  {"name":"added_rows_count","type":["null","long"],"default":null,"field-id":512},
        |  {"name":"existing_rows_count","type":["null","long"],"default":null,"field-id":513},
        |  {"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}
        |]}""".stripMargin)
}
