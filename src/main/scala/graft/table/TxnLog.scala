package graft.table

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.io.TableFiles

/** A minimal snapshot transaction log — the table-format layer the
  * reference gets from Delta/Iceberg (`s3/_read_deltalake.py:38-136`
  * versioned reads, `s3/_write_deltalake.py:51-226` atomic commits,
  * `s3/_s3_tables_iceberg.py:29-250` snapshot / `VERSION AS OF`), built
  * on the one primitive every format bottoms out on: data files first,
  * then an atomically-created manifest that makes them visible.
  *
  * Layout:
  * {{{
  *   <table>/files/<commit-uuid>/part-*.parquet        unpartitioned commit
  *   <table>/files/<commit-uuid>/__pt_c=v/part-*.parquet  partitioned commit
  *   <table>/_graft_log/v00000001.manifest             snapshot manifests
  *   <table>/_graft_log/ckpt-v00000010.history         compacted checkpoints
  *   <table>/_graft_log/_last_checkpoint               checkpoint pointer
  * }}}
  *
  * A manifest names the data directories visible in that snapshot. For a
  * partitioned table the entries are PARTITION-level directories
  * (`files/<uuid>/__pt_c=v`), so a snapshot is a set of immutable
  * partition dirs contributed by possibly many commits: MERGE rewrites
  * only the partitions its source lands in or holds a matched key in,
  * and carries every other partition's directory forward by reference
  * — copy-on-write at partition granularity, the Iceberg model.
  * Partition values are duplicated into hidden `__pt_*` path columns so
  * the data files keep the real columns and leaf dirs read back
  * standalone; the manifest itself carries the partition values, so
  * reads prune partitions from metadata alone, with zero listing of
  * pruned directories.
  *
  * Commit = exclusive-create of `v{N+1}`: two concurrent writers race on
  * the version number and exactly one wins; the loser re-resolves the
  * table state and retries (optimistic concurrency — the Delta protocol).
  * Every [[CheckpointInterval]] commits the writer also compacts the full
  * snapshot history into a checkpoint file and repoints
  * `_last_checkpoint`, so [[history]] parses one checkpoint plus the tail
  * manifests after it, not O(all commits).
  *
  * Readers resolve the highest PARSEABLE manifest, so a torn write (crash
  * mid-manifest) is invisible. Old snapshots stay readable (`VERSION AS
  * OF`) until [[vacuum]] drops their unreferenced data dirs.
  *
  * Publication atomicity is per-scheme: on `file://` the manifest is
  * hard-linked into place (link(2) is atomic AND exclusive — claim and
  * content are one operation). Elsewhere the body is written to a temp
  * object and renamed into place, which is atomic on HDFS; on stores
  * where rename is copy (S3A) a reader can still observe a
  * claimed-but-partial manifest, so [[logState]] treats an unparseable
  * claimed manifest YOUNGER than [[tornGraceMs]] as an in-flight writer
  * and waits for it to land before building a successor — skipping it
  * immediately would silently drop that commit's data from the next
  * snapshot (a lost update). Only stale torn manifests are skipped as
  * dead.
  */
object TxnLog {

  final case class Snapshot(
      version: Int,
      op: String,
      timestampMs: Long,
      dataDirs: Seq[String],
      partitionCols: Seq[String] = Nil)

  final class CommitConflict(message: String) extends RuntimeException(message)

  private val LogDir = "_graft_log"
  private val MaxRetries = 10
  private val CheckpointInterval = 10
  private val PtPrefix = "__pt_"
  private val CkptPointer = "_last_checkpoint"

  /** Grace window (ms) during which an unparseable claimed manifest on a
    * non-atomic-publish store is presumed in-flight, not dead. */
  private[graft] var tornGraceMs = 30000L
  private[graft] var tornPollMs = 100L
  /** Test hook: route file:// publication through the non-atomic
    * temp+rename path to exercise the torn-manifest grace logic. */
  private[graft] var forceNonAtomicClaims = false
  /** Manifest-file parses since process start (checkpoint efficiency spec). */
  private[graft] val manifestParses = new AtomicLong

  // ---- commits ------------------------------------------------------------

  /** Create a new table (version 1). Fails if a log already exists. */
  def create(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Snapshot = {
    val (fs, root) = fsFor(df.sparkSession, path)
    require(!fs.exists(new Path(root, LogDir)),
      s"table already exists at $path")
    commitData(df, path, "create", partitionBy, base = Some(Nil))
  }

  /** Append rows as a new snapshot. */
  def append(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Snapshot =
    commitData(df, path, "append", partitionBy, base = None)

  /** Replace the table contents as a new snapshot. */
  def overwrite(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Snapshot =
    commitData(df, path, "overwrite", partitionBy, base = Some(Nil))

  /** Replace the table contents as a new snapshot ONLY IF the table is
    * still at `expectedVersion` — the optimistic maintenance commit
    * (compaction, index fold): the replacement was computed from a
    * pinned snapshot, so a concurrent append landing in between must
    * raise [[CommitConflict]] (caller re-reads and retries) instead of
    * being silently dropped from the successor. The losing attempt's
    * data files are unreferenced by any manifest and reclaimed by
    * [[vacuum]]. */
  def rewrite(df: DataFrame, path: String, partitionBy: Seq[String],
      expectedVersion: Int): Snapshot =
    commitData(df, path, "rewrite", partitionBy, base = Some(Nil),
      expectedParent = Some(expectedVersion))

  /** MERGE (upsert by key) as a single snapshot: rows of the current
    * snapshot not matched by `source` keys, plus `source`, read and
    * published at one pinned version ([[pinned]]).
    *
    * [[graft.io.TableFiles.planMerge]] plans the rewrite over the
    * snapshot's data dirs. On a partitioned table the rewritten
    * partitions are those `source` rows land in plus those holding a
    * matched key, so a key whose partition value changed leaves its old
    * partition; every other partition's directory is carried forward by
    * reference. An unpartitioned table is rewritten whole. */
  def merge(
      spark: SparkSession,
      path: String,
      source: DataFrame,
      keys: Seq[String]): Snapshot =
    pinned(spark, path, "merge") { snap =>
      val (_, root) = fsFor(spark, path)
      val whole =
        if (snap.dataDirs.isEmpty) source.limit(0)
        else readSnapshot(spark, path, snap)
      val (plan, merged) = TableFiles.planMerge(
        TableFiles.Target[String](snap.dataDirs,
          TableFiles.subsetScan(whole, root, snap.dataDirs),
          snap.partitionCols.map(col), d => Some(partValuesOf(d))),
        source.select(whole.columns.map(col).toSeq: _*), keys,
        matchNulls = false)
      commitData(merged, path, "merge", snap.partitionCols,
        base = Some(plan.kept), expectedParent = Some(snap.version))
    }.getOrElse(throw new IllegalArgumentException(s"no table at $path"))

  /** The one loop under every commit computed from a pinned snapshot
    * (MERGE, index compaction, index folds): resolve the current
    * snapshot, let `attempt` build the successor from it and publish
    * with `expectedVersion`, and when a commit landed in between
    * ([[CommitConflict]]) re-resolve and run `attempt` again, up to
    * [[MaxRetries]] times. A losing attempt's data dirs are referenced
    * by no manifest; [[vacuum]] reclaims them once they age past
    * [[stagedGraceMs]]. None when `path` holds no table. */
  private[graft] def pinned[T](spark: SparkSession, path: String, op: String)(
      attempt: Snapshot => T): Option[T] = {
    var conflicts = 0
    while (true) {
      val snap = currentSnapshot(spark, path).getOrElse(return None)
      try return Some(attempt(snap))
      catch {
        case _: CommitConflict if conflicts < MaxRetries => conflicts += 1
        case e: CommitConflict =>
          throw new IllegalStateException(s"$op at $path lost the commit " +
            s"race ${conflicts + 1} times; pause concurrent writers and re-run", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write data under files/<uuid> then publish a manifest. `base` =
    * Some(dirs): the new snapshot is exactly `dirs` + the new data
    * (create/overwrite/merge); None: carry the current snapshot's dirs
    * (append). */
  private def commitData(
      df: DataFrame,
      path: String,
      op: String,
      partitionBy: Seq[String],
      base: Option[Seq[String]],
      expectedParent: Option[Int] = None): Snapshot = {
    val spark = df.sparkSession
    val (fs, root) = fsFor(spark, path)
    // a partitioned table's layout is a table property: writes that omit
    // partitionBy inherit it (else one unpartitioned dir would poison the
    // snapshot's carry-forward granularity), and a conflicting spec is
    // rejected rather than silently mixed
    val current = currentSnapshot(spark, path).map(_.partitionCols)
      .getOrElse(Nil)
    val effPartBy = if (partitionBy.nonEmpty) partitionBy else current
    require(current.isEmpty || op == "overwrite" || effPartBy == current,
      s"table is partitioned by $current, not $partitionBy")
    val dirName = s"files/${UUID.randomUUID()}"
    val dest = new Path(root, dirName)
    // data files first, invisible until the manifest lands
    val newDirs =
      if (effPartBy.isEmpty) {
        df.write.mode("overwrite").parquet(dest.toString)
        Seq(dirName)
      } else {
        // duplicate partition values into hidden __pt_* path columns:
        // partitionBy consumes those, the real columns stay in the files,
        // so each leaf dir reads back standalone (no partition inference)
        val dup = effPartBy.foldLeft(df)((d, c) =>
          d.withColumn(PtPrefix + c, col(c)))
        dup.write.mode("overwrite")
          .partitionBy(effPartBy.map(PtPrefix + _): _*)
          .parquet(dest.toString)
        leafPartitionDirs(fs, dest, effPartBy.length)
          .map(rel => s"$dirName/$rel")
      }
    publish(spark, path, op, newDirs, effPartBy, base, expectedParent)
  }

  /** Publish already-written data dirs (paths relative to the table
    * root) as ONE snapshot — the single-transaction streaming commit
    * path: micro-batches stage dirs, this makes them all visible
    * atomically. `replace = true` makes the new snapshot EXACTLY the
    * staged dirs (an atomic whole-table swap — the index-rebuild path)
    * instead of appending them to the current snapshot.
    * `expectedVersion` gates the publish like [[rewrite]]: a
    * maintenance swap computed from a pinned snapshot raises
    * [[CommitConflict]] if any commit landed in between (the caller
    * re-reads and retries) instead of silently dropping it. */
  def commitStagedDirs(
      spark: SparkSession,
      path: String,
      dirs: Seq[String],
      op: String = "append",
      replace: Boolean = false,
      expectedVersion: Option[Int] = None): Snapshot =
    publish(spark, path, op, dirs, Nil,
      base = if (replace) Some(Nil) else None,
      expectedParent = expectedVersion)

  /** Optimistic manifest publication loop. */
  private def publish(
      spark: SparkSession,
      path: String,
      op: String,
      newDirs: Seq[String],
      partitionBy: Seq[String],
      base: Option[Seq[String]],
      expectedParent: Option[Int]): Snapshot = {
    val (fs, root) = fsFor(spark, path)
    var attempt = 0
    while (attempt <= MaxRetries) {
      // ONE listing yields both the latest parseable snapshot and the
      // highest claimed version number. Two separate listings race: a
      // commit completing between them would be skipped over and its
      // data dirs dropped from the successor (a lost update). From a
      // single listing, every claimed manifest is either complete
      // (atomic publication), an in-flight write logState has already
      // waited out, or a dead torn leftover that is safe to skip.
      val (current, claimed) = logState(fs, root)
      // Legacy-layout guard: starting a FRESH log in a directory that
      // already holds data (raw parquet written before this path was a
      // TxnLog table — e.g. an unversioned dedup index) would publish a
      // v1 that silently shadows every pre-existing row for all TxnLog
      // readers. Read paths fall back loudly or resolve the raw layout;
      // the write path must not orphan it quietly. All legitimate
      // layouts keep data under `files/` only, so any other root entry
      // means "this is not (yet) a TxnLog table" — fail and point at
      // the migration step (create() from a full read of the old data).
      if (current.isEmpty && claimed == 0 && fs.exists(root)) {
        val foreign = fs.listStatus(root).map(_.getPath.getName)
          .filterNot(n => n == LogDir || n == "files")
        require(foreign.isEmpty,
          s"$path holds pre-existing data (${foreign.take(3).mkString(", ")}" +
            s"${if (foreign.length > 3) ", ..." else ""}) but no $LogDir: " +
            "refusing to start a log that would shadow it. Migrate first: " +
            "read the legacy layout and TxnLog.create(df, <new path>) " +
            "(or clear the directory if the old data is disposable).")
      }
      expectedParent.foreach { p =>
        if (current.map(_.version).getOrElse(0) != p)
          throw new CommitConflict(
            s"table advanced past v$p; re-resolve and retry")
      }
      val version = math.max(current.map(_.version).getOrElse(0),
        claimed) + 1
      val dirs = base.getOrElse(current.map(_.dataDirs).getOrElse(Nil)) ++
        newDirs
      val partCols =
        if (partitionBy.nonEmpty) partitionBy
        else current.map(_.partitionCols).getOrElse(Nil)
      val snap =
        Snapshot(version, op, System.currentTimeMillis(), dirs, partCols)
      if (tryPublish(fs, root, snap)) {
        if (version % CheckpointInterval == 0)
          writeCheckpoint(spark, fs, root, version)
        return snap
      }
      attempt += 1
      if (expectedParent.isDefined)
        throw new CommitConflict(s"lost the race for v$version")
    }
    throw new CommitConflict(s"could not commit after $MaxRetries retries")
  }

  /** One listing → (latest parseable snapshot, highest claimed version
    * number — parseable or torn). On stores with non-atomic publication,
    * waits up to [[tornGraceMs]] for young unparseable claimed manifests
    * (in-flight writers) to land before treating them as dead. */
  private def logState(fs: FileSystem, root: Path): (Option[Snapshot], Int) = {
    val logDir = new Path(root, LogDir)
    val deadline = System.currentTimeMillis() + tornGraceMs
    while (true) {
      if (!fs.exists(logDir)) return (None, 0)
      val manifests = fs.listStatus(logDir)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("v") && n.endsWith(".manifest")
        }
        .sortBy(_.getPath.getName)
      val claimed = manifests.map(_.getPath.getName)
        .map(_.stripPrefix("v").stripSuffix(".manifest").toInt)
        .foldLeft(0)(math.max)
      // lazy reverse scan: stop at the first parseable manifest, so the
      // steady-state cost is ONE parse, not O(all commits). The failures
      // seen before that success are exactly the claimed-but-unparseable
      // manifests above the latest version — the in-flight candidates.
      var latest: Option[Snapshot] = None
      val tornAbove = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      val it = manifests.reverseIterator
      while (latest.isEmpty && it.hasNext) {
        val st = it.next()
        parseManifest(fs, st.getPath) match {
          case Some(s) => latest = Some(s)
          case None => tornAbove += st
        }
      }
      if (tornAbove.isEmpty || claimIsAtomic(root))
        return (latest, claimed)
      val now = System.currentTimeMillis()
      val inFlight = tornAbove.exists(st =>
        now - st.getModificationTime < tornGraceMs)
      if (!inFlight || now > deadline) return (latest, claimed)
      Thread.sleep(tornPollMs)
    }
    throw new IllegalStateException("unreachable")
  }

  private def claimIsAtomic(root: Path): Boolean = {
    val scheme = root.toUri.getScheme
    (scheme == null || scheme == "file") && !forceNonAtomicClaims
  }

  /** Exclusive-create of the manifest: exactly one writer can own a
    * version number. On local filesystems the body is hard-linked into
    * place — link(2) is atomic AND exclusive, so claim and content are
    * one operation. Elsewhere the body is written to a temp object and
    * renamed in (atomic exclusive on HDFS; on rename-as-copy stores the
    * residual torn window is covered by [[logState]]'s grace wait). */
  private def tryPublish(fs: FileSystem, root: Path, s: Snapshot): Boolean = {
    val logDir = new Path(root, LogDir)
    if (!fs.exists(logDir)) fs.mkdirs(logDir)
    val manifest = new Path(logDir, f"v${s.version}%08d.manifest")
    val body = manifestBody(s).getBytes("UTF-8")
    if (claimIsAtomic(root)) {
      val dst = java.nio.file.Paths.get(manifest.toUri.getPath)
      val tmp = dst.resolveSibling(s".tmp-${UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, body)
      try {
        java.nio.file.Files.createLink(dst, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      if (fs.exists(manifest)) return false
      val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(body) finally out.close()
      try fs.rename(tmp, manifest)
      finally if (fs.exists(tmp)) fs.delete(tmp, false)
    }
  }

  private def manifestBody(s: Snapshot): String =
    (Seq(s"version=${s.version}", s"op=${s.op}", s"ts=${s.timestampMs}") ++
      (if (s.partitionCols.nonEmpty)
        Seq(s"partcols=${s.partitionCols.mkString(",")}")
      else Nil) ++
      Seq("END_HEADER") ++ s.dataDirs :+ "END_MANIFEST").mkString("\n")

  // ---- reads --------------------------------------------------------------

  /** Read the table — latest snapshot, or `VERSION AS OF asOfVersion`.
    * `partitionFilter` (values as path strings, null for the hive default
    * partition) prunes partition directories from the MANIFEST alone —
    * pruned dirs are never listed or opened. */
  def read(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None,
      partitionFilter: Map[String, String] => Boolean = null): DataFrame = {
    val snap = asOfVersion match {
      case Some(v) => snapshotAt(spark, path, v).getOrElse(
        throw new IllegalArgumentException(s"no snapshot v$v at $path"))
      case None => currentSnapshot(spark, path).getOrElse(
        throw new IllegalArgumentException(s"no table at $path"))
    }
    if (partitionFilter == null || snap.partitionCols.isEmpty)
      readSnapshot(spark, path, snap)
    else {
      val kept = snap.dataDirs.filter { d =>
        val values = snap.partitionCols.zip(partValuesOf(d))
          .map { case (c, v) => c -> v.orNull }.toMap
        partitionFilter(values)
      }
      val (_, root) = fsFor(spark, path)
      if (kept.isEmpty) readSnapshot(spark, path, snap).limit(0)
      else spark.read.parquet(kept.map(d => new Path(root, d).toString): _*)
    }
  }

  /** Cache of RESOLVED parquet relations, keyed by table root and the
    * snapshot's data directories. Those are unique `files/<uuid>/…`
    * directories, immutable once a manifest names them, so the relation
    * resolved for them — the file listing plus the footer
    * schema-inference job — serves every later read of the same set,
    * and a table deleted and recreated at the same path never shares a
    * key with its old incarnation. The streaming ingest loops re-read
    * the SAME index snapshot every micro-batch (probe path: two
    * sub-tables per batch), and without this each read re-lists the
    * data dirs and re-runs schema inference. This caches table METADATA
    * (a logical plan) within one JVM, the twin of Spark's own
    * `filesourceTableRelationCacheSize` — never query results. An entry
    * serves only the session that resolved it; version resolution
    * itself (manifest listing/parse) stays uncached, so a new commit is
    * always picked up. */
  private val RelationCacheMax = 512
  private val relationCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), DataFrame]()

  private def readSnapshot(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame = {
    val (_, root) = fsFor(spark, path)
    val key = (root.toString, snap.dataDirs)
    val cached = relationCache.get(key)
    if (cached != null && (cached.sparkSession eq spark)) cached
    else {
      val df = spark.read.parquet(snap.dataDirs.map(d => new Path(root, d).toString): _*)
      if (relationCache.size >= RelationCacheMax) relationCache.clear()
      relationCache.put(key, df)
      df
    }
  }

  /** Partition values (path-string form, None = hive default/null) of a
    * partition-level manifest entry `files/<uuid>/__pt_a=1/__pt_b=x`. */
  private def partValuesOf(dir: String): List[Option[String]] =
    dir.split("/").drop(2).toList.map { seg =>
      val v = ExternalCatalogUtils.unescapePathName(seg.split("=", 2)(1))
      if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(v)
    }

  /** Leaf partition dirs (relative to `base`) of a partitioned write. */
  private def leafPartitionDirs(fs: FileSystem, base: Path,
      depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq(p.toString.stripPrefix(base.toString).stripPrefix("/"))
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => walk(st.getPath, d - 1))
    walk(fs.makeQualified(base), depth)
  }

  /** All valid snapshots, oldest first (`describe_history`). Reads the
    * latest checkpoint plus only the manifests after it. */
  def history(spark: SparkSession, path: String): Seq[Snapshot] = {
    val (fs, root) = fsFor(spark, path)
    val logDir = new Path(root, LogDir)
    if (!fs.exists(logDir)) return Nil
    val ckpt = readCheckpoint(fs, logDir)
    val floor = ckpt.map(_._1).getOrElse(0)
    val tail = fs.listStatus(logDir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.endsWith(".manifest") &&
          n.stripPrefix("v").stripSuffix(".manifest").toInt > floor
      }
      .sortBy(_.getPath.getName)
      .flatMap(st => parseManifest(fs, st.getPath))
    ckpt.map(_._2).getOrElse(Nil) ++ tail
  }

  def currentSnapshot(spark: SparkSession, path: String): Option[Snapshot] =
    history(spark, path).lastOption

  private def snapshotAt(spark: SparkSession, path: String,
      v: Int): Option[Snapshot] =
    history(spark, path).find(_.version == v)

  /** A torn manifest (crash mid-write) parses to None and is skipped. */
  private def parseManifest(fs: FileSystem, p: Path): Option[Snapshot] = {
    manifestParses.incrementAndGet()
    try parseManifestText(readFully(fs, p))
    catch { case _: Exception => None }
  }

  private def parseManifestText(text: String): Option[Snapshot] = {
    val lines = text.split("\n").toSeq
    if (lines.lastOption.contains("END_MANIFEST")) {
      val header = lines.takeWhile(_ != "END_HEADER")
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      val dirs = lines.dropWhile(_ != "END_HEADER").drop(1).dropRight(1)
      Some(Snapshot(header("version").toInt, header("op"),
        header("ts").toLong, dirs,
        header.get("partcols").map(_.split(",").toSeq).getOrElse(Nil)))
    } else None
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
  }

  // ---- checkpoints --------------------------------------------------------

  private val SnapSep = "---SNAPSHOT---"

  /** Compact the full history ≤ `version` into one checkpoint file and
    * repoint `_last_checkpoint`. Best-effort: a failure just leaves the
    * previous checkpoint in force. */
  private def writeCheckpoint(spark: SparkSession, fs: FileSystem,
      root: Path, version: Int): Unit =
    try {
      val snaps = history(spark, root.toString).filter(_.version <= version)
      val logDir = new Path(root, LogDir)
      val ckpt = new Path(logDir, f"ckpt-v$version%08d.history")
      val body = snaps.map(manifestBody).mkString("\n" + SnapSep + "\n")
      val tmp = new Path(logDir, s".ckpt-tmp-${UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, ckpt)) { fs.delete(tmp, false); return }
      val ptr = fs.create(new Path(logDir, CkptPointer), true)
      try ptr.write(version.toString.getBytes("UTF-8")) finally ptr.close()
    } catch { case _: Exception => () }

  /** (checkpoint version, its snapshots), or None → full manifest parse. */
  private def readCheckpoint(fs: FileSystem,
      logDir: Path): Option[(Int, Seq[Snapshot])] =
    try {
      val ptr = new Path(logDir, CkptPointer)
      if (!fs.exists(ptr)) return None
      val version = readFully(fs, ptr).trim.toInt
      val ckpt = new Path(logDir, f"ckpt-v$version%08d.history")
      if (!fs.exists(ckpt)) return None
      val parsed = readFully(fs, ckpt).split(SnapSep)
        .map(_.trim).filter(_.nonEmpty).toSeq
        .map(parseManifestText)
      if (parsed.exists(_.isEmpty)) None
      else Some((version, parsed.flatten))
    } catch { case _: Exception => None }

  // ---- maintenance --------------------------------------------------------

  /** Grace window (ms) protecting NEVER-referenced `files/<dir>` trees from
    * [[vacuum]]: a dir that no manifest (live or expired) mentions is
    * either an in-flight writer's staged tree — an [[commitStagedDirs]]
    * append/fold that has written its data but not yet published its
    * manifest — or a dead leftover of a crashed/conflicted commit.
    * The two are indistinguishable by listing, so vacuum keeps such
    * dirs until they age past this window (a staged tree publishes
    * within its build time; a leftover only gets older). Without the
    * grace, a vacuum racing a concurrent append deletes the append's
    * staged data dir and the append then publishes a manifest pointing
    * at missing files — a corrupted snapshot. Dirs referenced by
    * EXPIRED manifests are not in-flight by construction and are
    * reclaimed immediately. Test-overridable. */
  private[graft] var stagedGraceMs: Long = 15 * 60 * 1000L

  /** Drop data directories referenced by no retained snapshot, the
    * manifests of expired snapshots, and any checkpoints (they may cover
    * expired versions; the next interval commit rebuilds one). Keeps the
    * newest `keepVersions`. A partitioned commit's `files/<uuid>` dir is
    * removed only when NO retained snapshot references any of its
    * partition dirs. Dirs never referenced by ANY manifest are kept
    * while younger than [[stagedGraceMs]] — they may be a concurrent
    * commit's staged-but-unpublished data (see the var's scaladoc). */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1): Int = {
    val (fs, root) = fsFor(spark, path)
    val logDir = new Path(root, LogDir)
    // checkpoints first, so history() reflects manifests alone below
    if (fs.exists(logDir))
      fs.listStatus(logDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("ckpt-") || n == CkptPointer)
          fs.delete(st.getPath, false)
      }
    val snaps = history(spark, path)
    if (snaps.isEmpty) return 0
    val keep = snaps.takeRight(math.max(1, keepVersions))
    // a referenced dir pins its commit-uuid root (first two segments)
    val referenced = keep.flatMap(_.dataDirs)
      .map(_.split("/").take(2).mkString("/")).toSet
    // dirs referenced by ANY surviving manifest (incl. expired ones):
    // reclaimable the moment they fall out of retention. Anything
    // outside this set was never published — possibly an in-flight
    // commit's staged tree — and gets the stagedGraceMs protection.
    val everReferenced = snaps.flatMap(_.dataDirs)
      .map(_.split("/").take(2).mkString("/")).toSet
    val now = System.currentTimeMillis()
    val filesDir = new Path(root, "files")
    var removed = 0
    if (fs.exists(filesDir))
      fs.listStatus(filesDir).foreach { st =>
        val rel = s"files/${st.getPath.getName}"
        val reclaimable = !referenced.contains(rel) &&
          (everReferenced.contains(rel) ||
            now - st.getModificationTime > stagedGraceMs)
        if (reclaimable) { fs.delete(st.getPath, true); removed += 1 }
      }
    val keepNames = keep.map(s => f"v${s.version}%08d.manifest").toSet
    fs.listStatus(logDir).foreach { st =>
      if (st.getPath.getName.endsWith(".manifest") &&
        !keepNames.contains(st.getPath.getName)) fs.delete(st.getPath, false)
    }
    removed
  }

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }
}
