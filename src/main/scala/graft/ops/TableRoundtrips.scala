package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.io.{DeltaLogReader, DeltaLogWriter, IcebergReader, IcebergWriter, TableMigration}

/** Oracle-gated end-to-end roundtrips through the REAL table formats:
  * seed a table from `customer`, run a partition-granular MERGE through
  * the format writer, read the final state back through the jar-free
  * protocol reader. The DuckDB oracle reconstructs the same final state
  * from the raw table — any divergence in the log (lost update, stale
  * file resurfacing, dropped partition) hash-mismatches. The same gate
  * shape as `kv_upsert_roundtrip`, pointed at the Delta and Iceberg
  * log machinery instead of the staged-commit dataset. */
object TableRoundtrips {

  /** Materialize `df` into a local relation and delete the roundtrip's
    * temp table tree — these ops run in every bench/correctness sweep,
    * and leaving a full table copy per invocation accumulates unbounded
    * /tmp garbage. The result is row-count-bounded by construction
    * (≤ ~60 rows: a keyed merge over a filtered `customer`/`orders`
    * slice), so the collect is metadata-scale, not a data move. */
  private def materializedWithoutTemp(s: SparkSession, df: DataFrame,
      tmpRoot: String): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    val out = s.createDataFrame(rows, df.schema)
    val p = new org.apache.hadoop.fs.Path(tmpRoot)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    out
  }

  private def seedAndMerge(s: SparkSession, dir: String)(
      create: DataFrame => Unit, merge: DataFrame => Unit): Unit = {
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    create(base)
    val src = Tables.customer(s, dir)
      .filter(col("c_custkey") >= 40L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal") + lit(1000.0)).as("c_acctbal"))
    merge(src)
  }

  private val cols = Seq("c_custkey", "c_mktsegment", "c_acctbal")

  /** Real `_delta_log` commit + partition-granular MERGE + protocol read. */
  def deltaMergeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-rt")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => DeltaLogWriter.write(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => DeltaLogWriter.merge(s, tmp, src, keys = Seq("c_custkey")))
    materializedWithoutTemp(s,
      DeltaLogReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** Real Iceberg metadata commit + partition-granular MERGE + spec read. */
  def icebergMergeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-rt")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => IcebergWriter.write(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => IcebergWriter.merge(s, tmp, src, keys = Seq("c_custkey")))
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** In-repo snapshot log (TxnLog) commit + snapshot-isolated MERGE +
    * versioned read — the same gate over the third transaction layer. */
  def txnMergeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-txn-rt")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => graft.table.TxnLog.create(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => graft.table.TxnLog.merge(s, tmp, src, keys = Seq("c_custkey")))
    materializedWithoutTemp(s,
      graft.table.TxnLog.read(s, tmp).select(cols.map(col): _*), root)
  }

  def mergeRoundtripOracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CASE WHEN c_custkey >= 40 THEN c_acctbal + 1000.0 ELSE c_acctbal END
      |    AS c_acctbal
      |FROM customer WHERE c_custkey <= 60""".stripMargin

  /** Deletion-vector delete roundtrip: seed a partitioned Delta table,
    * delete a key slice via [[graft.io.DeltaLogWriter.deleteWhere]] —
    * which writes DV bitmap sidecars and rewrites ZERO data files — and
    * read the survivors back through the protocol reader (which applies
    * each file's DV as a filter on row index inside the scan,
    * [[graft.io.TableFiles.withoutDeleted]]). The oracle reconstructs the same
    * survivor set relationally, so a mis-decoded bitmap, an off-by-one
    * row index, or a dropped DV hash-mismatches. */
  def deltaDvDeleteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-dv")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
    DeltaLogWriter.deleteWhere(s, tmp, col("c_custkey") % 7 === 0)
    materializedWithoutTemp(s,
      DeltaLogReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  def deltaDvDeleteOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE c_custkey <= 50 AND c_custkey % 7 <> 0""".stripMargin

  /** Compaction invariance, Delta: seed partitioned, DV-delete a key
    * slice, OPTIMIZE (DVs materialized, small files folded), read. The
    * final state must equal the plain DV-delete state — compaction that
    * loses or resurrects a row hash-mismatches. */
  def deltaOptimizeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-opt")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
    DeltaLogWriter.deleteWhere(s, tmp, col("c_custkey") % 7 === 0)
    DeltaLogWriter.optimize(s, tmp)
    materializedWithoutTemp(s,
      DeltaLogReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** Compaction invariance, Iceberg: seed partitioned, equality-upsert
    * a key slice, rewrite_data_files (deletes materialized, gates
    * lifted), read — must equal the plain upsert state. */
  def icebergRewriteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-rw")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => IcebergWriter.write(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => IcebergWriter.upsertByKey(s, tmp, src, keys = Seq("c_custkey")))
    IcebergWriter.rewriteDataFiles(s, tmp)
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** `rewrite_manifests` roundtrip: multi-commit table (partitioned
    * seed + eq-delete upsert + append) whose data manifests consolidate
    * into one, then a full read — content identical, eq-delete
    * ordering preserved through the entries' explicit sequence numbers,
    * zero data files touched ([[IcebergWriter.rewriteManifests]]). */
  def icebergRwManifestsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-rwm")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => IcebergWriter.write(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => IcebergWriter.upsertByKey(s, tmp, src, keys = Seq("c_custkey")))
    IcebergWriter.rewriteManifests(s, tmp)
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** Iceberg `day(ts)` partition-transform roundtrip: a timestamp-keyed
    * table partitioned by the day transform, merged on a 3-day slice —
    * the merge must rewrite ONLY the matched day partitions (EXISTING
    * manifest carry for the rest) and the transform arithmetic must agree
    * with the oracle's calendar (`athena/_write_iceberg.py:269-281` is
    * the reference call shape). */
  def icebergDayRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-day")
    val tmp = root + "/t"
    val base = Tables.orders(s, dir)
      .filter(col("o_orderdate").between("1995-03-01", "1995-03-10"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_ts"), col("o_totalprice"))
    IcebergWriter.write(base, tmp, partitionBy = Seq("day(o_ts)"))
    val src = Tables.orders(s, dir)
      .filter(col("o_orderdate").between("1995-03-05", "1995-03-07"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_ts"),
        (col("o_totalprice") + lit(100.0)).as("o_totalprice"))
    IcebergWriter.merge(s, tmp, src, keys = Seq("o_orderkey"))
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp)
        .select(col("o_orderkey"), col("o_ts"), col("o_totalprice")), root)
  }

  /** Metadata-pruned Delta read (`read_deltalake(partitions=…)`,
    * `s3/_read_deltalake.py:41`): seed a segment-partitioned table, then
    * read back through [[graft.io.DeltaLogReader.read]]'s filter
    * parameter — the partition conjunct prunes whole files from the
    * log's `partitionValues` and the key conjunct prunes by the adds'
    * `stats` min/max, all before the scan is built; the oracle
    * reconstructs the same slice relationally, so a file wrongly pruned
    * (missing rows) or wrongly kept without the residual filter (extra
    * rows) hash-mismatches. */
  def deltaPrunedReadRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-pr")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 200L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
    val out = DeltaLogReader.read(s, tmp, filters = Seq(
      graft.io.ScanFilter("c_mktsegment", "=", "BUILDING"),
      graft.io.ScanFilter("c_custkey", "<=", 150L)))
    materializedWithoutTemp(s, out.select(cols.map(col): _*), root)
  }

  def deltaPrunedReadOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE c_custkey <= 150 AND c_mktsegment = 'BUILDING'""".stripMargin

  /** Manifest-pruned Iceberg read over a `day(ts)` transform: the
    * timestamp range conjunct prunes whole day partitions from the
    * manifest partition values (transform-aware: the filter value runs
    * through the same day arithmetic the writer used), before any
    * parquet footer is opened. */
  def icebergPrunedReadRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-pr")
    val tmp = root + "/t"
    val base = Tables.orders(s, dir)
      .filter(col("o_orderdate").between("1995-03-01", "1995-03-10"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_ts"), col("o_totalprice"))
    IcebergWriter.write(base, tmp, partitionBy = Seq("day(o_ts)"))
    val out = IcebergReader.read(s, tmp, filters = Seq(
      graft.io.ScanFilter("o_ts", ">=", "1995-03-05 00:00:00")))
    materializedWithoutTemp(s,
      out.select(col("o_orderkey"), col("o_ts"), col("o_totalprice")), root)
  }

  /** `add_files` import + name-mapping + rename, oracled: seed an
    * Iceberg table with one customer slice, register an id-less parquet
    * file of the adjacent slice WITHOUT rewriting it (pyiceberg's
    * `add_files` import shape — the registration installs
    * `schema.name-mapping.default`), rename a column (metadata-only
    * commit), and read the final table back through the spec reader.
    * Field-id resolution must serve the native file, the name mapping
    * the imported one, and BOTH must survive the rename — a dropped
    * mapping null-projects the imported rows and hash-mismatches. */
  def icebergAddFilesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-af")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir).filter(col("c_custkey") <= 30L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(base, tmp, mode = "error")
    // a PLAIN Spark parquet write carries no field-ids — the id-less
    // import shape
    val staging = root + "/import"
    Tables.customer(s, dir)
      .filter(col("c_custkey") > 30L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .coalesce(1).write.parquet(staging)
    val imported = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    IcebergWriter.addFiles(s, tmp, imported)
    IcebergWriter.renameColumn(s, tmp, "c_acctbal", "bal")
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp)
        .select(col("c_custkey"), col("c_mktsegment"), col("bal")), root)
  }

  def icebergAddFilesOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal AS bal
      |FROM customer WHERE c_custkey <= 60""".stripMargin

  /** Zero-rewrite Iceberg DELETE roundtrip: seed a partitioned table,
    * delete a key slice via [[graft.io.IcebergWriter.deleteWhere]] —
    * which writes v2 POSITION-DELETE files and a delete manifest while
    * carrying every data manifest untouched — and read the survivors
    * back through the spec reader (which applies them as a (file, pos)
    * anti-join). A mis-written delete row, a dropped delete manifest on
    * the later append, or a wrong sequence field hash-mismatches. The
    * follow-up APPEND proves delete manifests survive manifest carry. */
  def icebergPosDeleteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-pd")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
    IcebergWriter.deleteWhere(s, tmp, col("c_custkey") % 7 === 0)
    val extra = Tables.customer(s, dir)
      .filter(col("c_custkey") > 50L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(extra, tmp, mode = "append")
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** Zero-rewrite Iceberg UPSERT via v2 equality-delete files: seed,
    * then one commit that appends updated+new rows and equality-deletes
    * their keys from the older files (no data-file rewrite); the spec
    * reader applies the deletes with sequence ordering. */
  def icebergEqUpsertRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-eq")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => IcebergWriter.write(base, tmp,
        partitionBy = Seq("c_mktsegment")),
      src => IcebergWriter.upsertByKey(s, tmp, src, keys = Seq("c_custkey")))
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  def icebergPosDeleteOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE (c_custkey <= 50 AND c_custkey % 7 <> 0)
      |   OR (c_custkey > 50 AND c_custkey <= 60)""".stripMargin

  /** Iceberg v3 DELETION-VECTOR roundtrip: a format-version-3 table
    * deletes through puffin DV blobs (spec "Deletion Vectors") — two
    * stacked DELETEs, the second superseding the first's DV per file
    * (positions unioned, at most one DV per data file), then an append
    * whose commit carries the DV manifest and assigns row-lineage ids.
    * Zero data-file rewrite throughout; the read applies each file's DV
    * as a filter on row index inside the scan, decoded on executors
    * ([[graft.io.TableFiles.withoutDeleted]]). */
  def icebergV3DvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-dv")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.createEmpty(s, tmp, base.schema,
      partitionBy = Seq("c_mktsegment"), formatVersion = 3)
    IcebergWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
    IcebergWriter.deleteWhere(s, tmp, col("c_custkey") % 7 === 0)
    IcebergWriter.deleteWhere(s, tmp, col("c_custkey") % 5 === 0)
    val extra = Tables.customer(s, dir)
      .filter(col("c_custkey") > 50L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(extra, tmp, mode = "append")
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  /** v3 ROW LINEAGE differential: a fresh format-version-3 table built
    * from two single-file sorted appends must assign `_row_id` exactly
    * as the spec's explicit-assignment rule prescribes — batch 1 takes
    * [0, n₁), batch 2 [n₁, n₁+n₂) in file row order — which, with the
    * batches key-ordered and key-disjoint, equals the global dense rank.
    * The DuckDB oracle computes that rank independently; a mis-assigned
    * base, a re-assigned carried file, or a lost next-row-id advance
    * all hash-mismatch. */
  def icebergLineageRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-rl")
    val tmp = root + "/t"
    val b1 = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 80L)
      .select(col("c_custkey"), col("c_acctbal"))
      .coalesce(1).sortWithinPartitions("c_custkey")
    IcebergWriter.createEmpty(s, tmp, b1.schema, formatVersion = 3)
    IcebergWriter.write(b1, tmp)
    val b2 = Tables.customer(s, dir)
      .filter(col("c_custkey") > 80L && col("c_custkey") <= 100L)
      .select(col("c_custkey"), col("c_acctbal"))
      .coalesce(1).sortWithinPartitions("c_custkey")
    IcebergWriter.write(b2, tmp, mode = "append")
    materializedWithoutTemp(s,
      IcebergReader.readWithLineage(s, tmp)
        .select(col("c_custkey"), col("c_acctbal"), col("_row_id")), root)
  }

  /** Shallow-CLONE differential: seed + DV-delete a source, clone it
    * (zero copies — absolute-path adds), append to the CLONE, read the
    * clone. The oracle reconstructs source-after-delete plus the
    * clone-only append; a DV lost in the clone, a path that fails to
    * resolve, or cross-contamination with the source hash-mismatches. */
  def deltaCloneRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-clone-rt")
    val (src, dst) = (root + "/src", root + "/clone")
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(base, src)
    DeltaLogWriter.deleteWhere(s, src, col("c_custkey") % 7 === 0)
    DeltaLogWriter.shallowClone(s, src, dst)
    val extra = Tables.customer(s, dir)
      .filter(col("c_custkey") > 50L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(extra, dst)
    materializedWithoutTemp(s,
      DeltaLogReader.read(s, dst).select(cols.map(col): _*), root)
  }

  def deltaCloneOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE (c_custkey <= 50 AND c_custkey % 7 <> 0)
      |   OR (c_custkey > 50 AND c_custkey <= 60)""".stripMargin

  /** UniForm-mirror differential: a LIVE Delta table (seed + append +
    * MERGE) mirrored into Iceberg metadata by
    * [[graft.io.TableMigration.refreshUniform]] — the ICEBERG reader
    * must see exactly the Delta state, through registered (not copied)
    * files, across two refreshes. */
  def uniformMirrorRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-uniform")
    val (d, m) = (root + "/d", root + "/m")
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 40L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(base, d)
    TableMigration.refreshUniform(s, d, m)
    val extra = Tables.customer(s, dir)
      .filter(col("c_custkey") > 40L && col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    DeltaLogWriter.write(extra, d)
    DeltaLogWriter.merge(s, d,
      base.filter(col("c_custkey") <= 5L)
        .withColumn("c_acctbal", col("c_acctbal") + 100),
      Seq("c_custkey"))
    TableMigration.refreshUniform(s, d, m)
    materializedWithoutTemp(s,
      IcebergReader.read(s, m).select(cols.map(col): _*), root)
  }

  def uniformMirrorOracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CASE WHEN c_custkey <= 5 THEN c_acctbal + 100
      |       ELSE c_acctbal END AS c_acctbal
      |FROM customer WHERE c_custkey <= 50""".stripMargin

  /** SQL DML differential: Athena's `UPDATE` / `DELETE FROM` /
    * `MERGE INTO` statements ([[graft.sql.TableDml]]) driven as SQL
    * STRINGS against a real Iceberg table — the update lands as a
    * single zero-rewrite commit, the delete as position deletes, the
    * merge inserts through the partition-granular path. The oracle
    * replays all three relationally. */
  def sqlDmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-sqldml")
    val tmp = root + "/t"
    val base = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(base, tmp)
    val reg = Map("t" -> tmp)
    graft.sql.TableDml.execute(s,
      "UPDATE t SET c_acctbal = c_acctbal + 100 WHERE c_custkey <= 10", reg)
    graft.sql.TableDml.execute(s,
      "DELETE FROM t WHERE c_custkey % 9 = 0", reg)
    Tables.customer(s, dir)
      .filter(col("c_custkey") > 60L && col("c_custkey") <= 65L)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .createOrReplaceTempView("sqldml_src")
    graft.sql.TableDml.execute(s,
      """MERGE INTO t USING (SELECT * FROM sqldml_src) s ON t.c_custkey = s.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin, reg)
    // the reference's own generated MERGE, replayed VERBATIM
    // (athena/_write_iceberg.py:376-385: explicit per-column
    // assignments, quoted identifiers, INSERT (cols) VALUES)
    Tables.customer(s, dir)
      .filter((col("c_custkey") >= 1L && col("c_custkey") <= 3L) ||
        (col("c_custkey") > 65L && col("c_custkey") <= 70L))
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal") + 500).as("c_acctbal"))
      .createOrReplaceTempView("sqldml_src2")
    graft.sql.TableDml.execute(s,
      """
        |            MERGE INTO "t" target
        |            USING "sqldml_src2" source
        |            ON (target."c_custkey" = source."c_custkey")
        |            WHEN MATCHED THEN
        |                UPDATE SET "c_custkey" = source."c_custkey", "c_mktsegment" = source."c_mktsegment", "c_acctbal" = source."c_acctbal"
        |            WHEN NOT MATCHED THEN
        |                INSERT ("c_custkey", "c_mktsegment", "c_acctbal")
        |                VALUES (source."c_custkey", source."c_mktsegment", source."c_acctbal")
        |        """.stripMargin, reg)
    // correlated DELETE — the WHERE EXISTS shape
    Tables.customer(s, dir).filter(col("c_custkey") === 50L)
      .select(col("c_custkey"))
      .createOrReplaceTempView("sqldml_del")
    graft.sql.TableDml.execute(s,
      "DELETE FROM t WHERE EXISTS " +
        "(SELECT 1 FROM sqldml_del s WHERE s.c_custkey = t.c_custkey)", reg)
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  def sqlDmlOracle: String =
    """SELECT c_custkey, c_mktsegment,
      |  CASE WHEN (c_custkey BETWEEN 1 AND 3) OR c_custkey > 65
      |         THEN c_acctbal + 500
      |       WHEN c_custkey <= 10 THEN c_acctbal + 100
      |       ELSE c_acctbal END AS c_acctbal
      |FROM customer
      |WHERE c_custkey <= 70
      |  AND NOT (c_custkey % 9 = 0 AND c_custkey <= 60)
      |  AND c_custkey <> 50""".stripMargin

  /** v3 COLUMN DEFAULTS differential (spec "Default values"): add a
    * column with an initial-default to a populated v3 table —
    * pre-existing rows must read the DEFAULT (never null, and never a
    * rewrite), later rows their explicit values. The oracle computes
    * the same split relationally. */
  def icebergDefaultsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-dflt")
    val tmp = root + "/t"
    val b1 = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50L)
      .select(col("c_custkey"), col("c_acctbal"))
    IcebergWriter.createEmpty(s, tmp, b1.schema, formatVersion = 3)
    IcebergWriter.write(b1, tmp)
    IcebergWriter.addColumn(s, tmp, "bonus",
      org.apache.spark.sql.types.IntegerType, initialDefault = Some(5))
    val b2 = Tables.customer(s, dir)
      .filter(col("c_custkey") > 50L && col("c_custkey") <= 60L)
      .select(col("c_custkey"), col("c_acctbal"),
        (col("c_custkey") % 3).cast("int").as("bonus"))
    IcebergWriter.write(b2, tmp, mode = "append")
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp)
        .select(col("c_custkey"), col("c_acctbal"), col("bonus")), root)
  }

  def icebergDefaultsOracle: String =
    """SELECT c_custkey, c_acctbal,
      |  CAST(CASE WHEN c_custkey <= 50 THEN 5
      |       ELSE c_custkey % 3 END AS INT) AS bonus
      |FROM customer WHERE c_custkey <= 60""".stripMargin

  /** Delta ROW-TRACKING differential (the [[icebergLineageRoundtrip]]
    * twin): enable tracking, append one key-sorted file, DV-DELETE a
    * slice — surviving rows must keep the `_row_id` they were assigned
    * at append (a deletion vector never shifts the physical index). The
    * oracle ranks independently and filters; a shifted or re-assigned
    * id hash-mismatches. */
  def deltaRowIdsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-rt")
    val tmp = root + "/t"
    val b1 = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 100L)
      .select(col("c_custkey"), col("c_acctbal"))
      .coalesce(1).sortWithinPartitions("c_custkey")
    DeltaLogWriter.write(b1.limit(0), tmp)
    DeltaLogWriter.enableRowTracking(s, tmp)
    DeltaLogWriter.write(b1, tmp)
    DeltaLogWriter.deleteWhere(s, tmp, col("c_custkey") % 7 === 0)
    materializedWithoutTemp(s,
      DeltaLogReader.readWithRowIds(s, tmp)
        .select(col("c_custkey"), col("c_acctbal"), col("_row_id")), root)
  }

  def deltaRowIdsOracle: String =
    """SELECT c_custkey, c_acctbal, _row_id FROM (
      |  SELECT c_custkey, c_acctbal,
      |    row_number() OVER (ORDER BY c_custkey) - 1 AS _row_id
      |  FROM customer WHERE c_custkey <= 100)
      |WHERE c_custkey % 7 <> 0""".stripMargin

  def icebergLineageOracle: String =
    """SELECT c_custkey, c_acctbal,
      |  row_number() OVER (ORDER BY c_custkey) - 1 AS _row_id
      |FROM customer WHERE c_custkey <= 100""".stripMargin

  def icebergV3DvOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE (c_custkey <= 50 AND c_custkey % 7 <> 0 AND c_custkey % 5 <> 0)
      |   OR (c_custkey > 50 AND c_custkey <= 60)""".stripMargin

  def icebergPrunedReadOracle: String =
    """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_ts, o_totalprice
      |FROM orders
      |WHERE o_orderdate BETWEEN '1995-03-05' AND '1995-03-10'""".stripMargin

  def icebergDayRoundtripOracle: String =
    """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_ts,
      |  CASE WHEN o_orderdate BETWEEN '1995-03-05' AND '1995-03-07'
      |       THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice
      |FROM orders
      |WHERE o_orderdate BETWEEN '1995-03-01' AND '1995-03-10'""".stripMargin

  /** Change-Data-Feed roundtrip: seed a partitioned Delta table (v0),
    * enable the feed (v1), MERGE an overlapping slice (v2 — cdc files
    * with pre/post images and inserts), DELETE a whole partition (v3 —
    * cdc delete rows), then read the feed from version 0. The v0
    * inserts come from the DERIVED add-action path, v2/v3 from real
    * `_change_data/` parquet — the oracle reconstructs every change row
    * relationally, so a wrong preimage, a lost insert, or a replayed
    * already-deleted row hash-mismatches. */
  def deltaCdfRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-delta-cdf")
    val tmp = root + "/t"
    seedAndMerge(s, dir)(
      base => {
        DeltaLogWriter.write(base, tmp, partitionBy = Seq("c_mktsegment"))
        DeltaLogWriter.enableChangeDataFeed(s, tmp)
        ()
      },
      src => DeltaLogWriter.merge(s, tmp, src, keys = Seq("c_custkey")))
    DeltaLogWriter.deleteWhere(s, tmp, col("c_mktsegment") === "BUILDING")
    materializedWithoutTemp(s,
      DeltaLogReader.changes(s, tmp, 0L)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version")), root)
  }

  /** Incremental-append roundtrip: seed an Iceberg table (snapshot 1),
    * append two disjoint slices (snapshots 2 and 3), compact
    * (`rewrite_data_files` — a `replace` snapshot the scan must skip
    * without re-reporting rows), then incrementally scan everything
    * after snapshot 1. The oracle is the two appended slices exactly —
    * a scan that leaks seed rows (provenance bug), double-counts after
    * compaction, or drops an append hash-mismatches. */
  def icebergIncrementalRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-inc")
    val tmp = root + "/t"
    def slice(lo: Long, hi: Long) = Tables.customer(s, dir)
      .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(slice(1, 30), tmp,
      partitionBy = Seq("c_mktsegment"))
    val seedSnap = IcebergReader.snapshot(s, tmp).snapshotId
    IcebergWriter.write(slice(31, 45), tmp, mode = "append")
    IcebergWriter.write(slice(46, 60), tmp, mode = "append")
    IcebergWriter.rewriteDataFiles(s, tmp) // replace snapshot: skipped
    materializedWithoutTemp(s,
      IcebergReader.incrementalAppendScan(s, tmp, Some(seedSnap))
        .select(cols.map(col): _*), root)
  }

  def icebergIncrementalOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer WHERE c_custkey BETWEEN 31 AND 60""".stripMargin

  /** Write-audit-publish roundtrip: seed main, stage TWO branch appends
    * (invisible to main), verify main still reads the seed alone mid-
    * stage (a leak would change the returned row set), then publish via
    * fast-forward and read main. The oracle is seed + both staged
    * slices — a dropped staged commit, a partial publish, or a staged
    * row leaking early all hash-mismatch. */
  def icebergWapRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = graft.session.Scratch.dir("graft-iceberg-wap")
    val tmp = root + "/t"
    def slice(lo: Long, hi: Long) = Tables.customer(s, dir)
      .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    IcebergWriter.write(slice(1, 20), tmp, partitionBy = Seq("c_mktsegment"))
    IcebergWriter.write(slice(21, 35), tmp, toBranch = Some("audit"))
    IcebergWriter.write(slice(36, 50), tmp, toBranch = Some("audit"))
    val mainMidStage = IcebergReader.read(s, tmp).count()
    require(mainMidStage == slice(1, 20).count(),
      s"staged branch rows leaked into main: $mainMidStage")
    IcebergWriter.fastForward(s, tmp, "audit")
    materializedWithoutTemp(s,
      IcebergReader.read(s, tmp).select(cols.map(col): _*), root)
  }

  def icebergWapOracle: String =
    """SELECT c_custkey, c_mktsegment, c_acctbal
      |FROM customer WHERE c_custkey BETWEEN 1 AND 50""".stripMargin

  def deltaCdfOracle: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal
      |  FROM customer WHERE c_custkey <= 50
      |), src AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal + 1000.0 AS c_acctbal
      |  FROM customer WHERE c_custkey BETWEEN 40 AND 60
      |), merged AS (
      |  SELECT b.* FROM base b
      |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM src)
      |  UNION ALL SELECT * FROM src
      |)
      |SELECT c_custkey, c_mktsegment, c_acctbal,
      |  'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version
      |FROM base
      |UNION ALL
      |SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal,
      |  'update_preimage', CAST(2 AS BIGINT)
      |FROM base b JOIN src s ON b.c_custkey = s.c_custkey
      |UNION ALL
      |SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
      |  'update_postimage', CAST(2 AS BIGINT)
      |FROM src s JOIN base b ON s.c_custkey = b.c_custkey
      |UNION ALL
      |SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
      |  'insert', CAST(2 AS BIGINT)
      |FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM base)
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_acctbal,
      |  'delete', CAST(3 AS BIGINT)
      |FROM merged WHERE c_mktsegment = 'BUILDING'""".stripMargin
}
