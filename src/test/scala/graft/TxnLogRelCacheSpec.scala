package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.table.TxnLog

/** TxnLog reads cache the RESOLVED parquet relation per table root and
  * snapshot data directories — those are immutable, so the
  * per-micro-batch probe path stops re-listing and re-inferring the
  * same index every batch. The contracts under test:
  *  - a cached read returns the SAME rows as a fresh resolve;
  *  - a new commit (new version) is never served stale;
  *  - a table DELETED and RECREATED at the same path — version numbers
  *    restart at 1, and the commit timestamp may repeat — is never
  *    served the old incarnation's files. */
class TxnLogRelCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(path: String): Set[String] =
    TxnLog.read(spark, path).collect().map(_.toString).toSet

  test("version advance and same-path recreation are never served stale") {
    val root = graft.session.Scratch.dir("txnlog-relcache") + "/t"
    val a = spark.range(0, 5).select(col("id"), lit("a").as("tag"))
    val b = spark.range(5, 9).select(col("id"), lit("b").as("tag"))
    TxnLog.create(a, root)
    assert(rows(root) == a.collect().map(_.toString).toSet)
    // same snapshot read twice: second read serves the cached relation
    assert(rows(root) == a.collect().map(_.toString).toSet)
    // a new commit must be picked up (version resolution is uncached)
    TxnLog.append(b, root)
    assert(rows(root) ==
      a.unionByName(b).collect().map(_.toString).toSet)
    // delete + recreate at the SAME path: versions restart at 1, and
    // the old v1 relation must not leak out of the cache
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    // commit timestamps have millisecond resolution — the recreate must
    // not land in the same tick as the original create
    Thread.sleep(5)
    TxnLog.create(b, root)
    assert(rows(root) == b.collect().map(_.toString).toSet)
  }

  test("a recreate with the old incarnation's version and commit timestamp reads its own files") {
    val root = graft.session.Scratch.dir("txnlog-relcache-ts") + "/t"
    val a = spark.range(0, 5).select(col("id"), lit("a").as("tag"))
    val b = spark.range(5, 9).select(col("id"), lit("b").as("tag"))
    TxnLog.create(a, root)
    assert(rows(root) == a.collect().map(_.toString).toSet)
    val manifest = Paths.get(root, "_graft_log", "v00000001.manifest")
    def text = new String(Files.readAllBytes(manifest), UTF_8)
    val ts = "(?m)^ts=\\d+$".r.findFirstIn(text).get
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TxnLog.create(b, root)
    // same version and the same millisecond as the first incarnation
    Files.write(manifest, text.replaceFirst("(?m)^ts=\\d+$", ts).getBytes(UTF_8))
    assert(rows(root) == b.collect().map(_.toString).toSet)
  }
}
