package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Whole-tree snapshots for persisted INDEX structures — the thin layer
  * [[TxnLog]] needs to version an arbitrary directory tree instead of a
  * columnar table.
  *
  * An index build produces SEVERAL artifacts that are only correct as
  * a unit: PQ codes under their codebook, IVF assignments under their
  * centroids, BM25 postings under their bucket-count + corpus-stats
  * sidecars. Versioning each artifact separately cannot express that:
  * two sub-tables can each be internally consistent and still be from
  * different generations. Here a rebuild stages one SELF-CONTAINED tree
  * under `files/idx-<uuid>/` and publishes it with ONE manifest
  * ([[TxnLog.commitStagedDirs]] replace mode), so readers that resolve
  * [[root]] once observe one generation, atomically, no matter when a
  * rebuild lands. Superseded trees stay readable for pinned readers
  * until [[vacuum]].
  *
  * A LAYERED index (the postings and IVF/IVF-PQ incremental loops) is a
  * snapshot of several trees: a head tree, then one `files/batch-<id>`
  * layer per appended ingest batch ([[appendLayer]]), consolidated from
  * time to time into one `files/fold-<uuid>` tree ([[foldLayers]]).
  * Each tree carries its index's own meta sidecar; the lifecycle here
  * reads from it only the `foldedUpto` replay watermark — every batch
  * id below it is already inside the head tree. */
object SnapshotTree {

  /** Stage a fresh tree, let `build` populate it, publish atomically. */
  def publish(spark: SparkSession, indexPath: String)(
      build: String => Unit): Unit = {
    val dir = s"files/idx-${java.util.UUID.randomUUID()}"
    build(qualifier(spark, indexPath)(dir))
    TxnLog.commitStagedDirs(spark, indexPath, Seq(dir),
      op = "rebuild", replace = true)
  }

  /** The CURRENT snapshot's tree root — resolution happens here, once
    * per query, so everything read under the returned path is one
    * consistent generation. Paths without a TxnLog resolve to
    * themselves. */
  def root(spark: SparkSession, indexPath: String): String =
    roots(spark, indexPath).head

  /** ALL tree roots of the current snapshot, head first, then the layers
    * in commit order; a query unions the layers. Single-tree indexes get
    * a one-element list; paths without a TxnLog resolve to themselves.
    * Like [[root]], ONE resolution per query pins one consistent
    * generation across every layer. */
  def roots(spark: SparkSession, indexPath: String): Seq[String] =
    TxnLog.currentSnapshot(spark, indexPath) match {
      case Some(s) => s.dataDirs.map(qualifier(spark, indexPath))
      case None => Seq(indexPath)
    }

  /** Reclaim superseded trees; retention is the concurrency contract
    * (keep ≥ 2 when queries can overlap a rebuild). */
  def vacuum(spark: SparkSession, indexPath: String,
      keepVersions: Int = 2): Int =
    TxnLog.vacuum(spark, indexPath, keepVersions)

  /** Append ingest batch `batchId` as a layer tree: `build` gets the
    * current tree roots (head first) and the layer's root to write, and
    * the layer publishes with one manifest append. Replay-idempotent
    * under the streaming ingest contract (batch ids monotone, only the
    * latest can replay after a crash): a batch whose layer is already in
    * the manifest, or whose id is below the head's `foldedUpto`, is
    * skipped and false returned; a crash between the build and the
    * publish leaves an unreferenced dir the replay overwrites. */
  def appendLayer(spark: SparkSession, indexPath: String, batchId: Long)(
      foldedUpto: String => Long)(build: (Seq[String], String) => Unit)
      : Boolean = {
    val snap = TxnLog.currentSnapshot(spark, indexPath).getOrElse(
      throw new IllegalStateException(s"no index at $indexPath; build it first"))
    val dir = s"files/batch-$batchId"
    val q = qualifier(spark, indexPath)
    val roots = snap.dataDirs.map(q)
    if (snap.dataDirs.contains(dir) || batchId < foldedUpto(roots.head)) false
    else {
      build(roots, q(dir))
      TxnLog.commitStagedDirs(spark, indexPath, Seq(dir), op = "batch-append")
      true
    }
  }

  /** Fold every tree of the current snapshot into ONE: `merge` gets the
    * tree roots (head first), the watermark past every folded batch id
    * (to record as the new tree's `foldedUpto`) and the new tree's root
    * to write; `barrier` runs after the merge, before the publish. The
    * fold publishes as a whole-snapshot replace pinned at the version it
    * read ([[TxnLog.pinned]]), so a batch appended mid-fold makes it
    * re-resolve and fold again instead of dropping the batch; then
    * superseded trees beyond `keepVersions` are vacuumed. A crash
    * anywhere re-converges: the staged tree is invisible until its
    * manifest. Returns the number of trees folded (0 = nothing to do). */
  def foldLayers(spark: SparkSession, indexPath: String, keepVersions: Int)(
      foldedUpto: String => Long, barrier: () => Unit)(
      merge: (Seq[String], Long, String) => Unit): Int =
    TxnLog.pinned(spark, indexPath, "fold") { snap =>
      if (snap.dataDirs.size <= 1) 0
      else {
        val q = qualifier(spark, indexPath)
        val roots = snap.dataDirs.map(q)
        val maxBatch = snap.dataDirs.collect { case BatchDir(id) => id.toLong }
          .foldLeft(-1L)(math.max)
        val dir = s"files/fold-${java.util.UUID.randomUUID()}"
        merge(roots, math.max(foldedUpto(roots.head), maxBatch + 1), q(dir))
        barrier()
        TxnLog.commitStagedDirs(spark, indexPath, Seq(dir), op = "fold",
          replace = true, expectedVersion = Some(snap.version))
        TxnLog.vacuum(spark, indexPath, keepVersions)
        roots.size
      }
    }.getOrElse(0)

  private val BatchDir = """files/batch-(-?\d+)""".r

  /** A dir relative to `indexPath` as a qualified path string. */
  private def qualifier(spark: SparkSession,
      indexPath: String): String => String = {
    val r = new Path(indexPath)
    val fs = r.getFileSystem(spark.sessionState.newHadoopConf())
    d => fs.makeQualified(new Path(r, d)).toString
  }
}
