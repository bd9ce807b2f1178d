package graft

import java.io.File
import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one claim loop under every Iceberg commit: metadata-only edits
  * and snapshot commits race for the same `vN.metadata.json` claims,
  * each re-reads the log on a lost claim, and none drops another's
  * change; a torn claim left by a crashed writer keeps its number. */
class IcebergCommitLoopSpec extends AnyFunSuite {
  import TestSpark._

  private val mapper = new ObjectMapper()

  private def tmp(): String =
    Files.createTempDirectory("graft-iceberg-claim").toString + "/tbl"

  private def df(rows: (Long, String)*): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("id", "v")
  }

  private def rows(dir: String): Set[(Long, String)] = {
    val spark0 = spark
    import spark0.implicits._
    io.IcebergReader.read(spark, dir).select("id", "v")
      .as[(Long, String)].collect().toSet
  }

  private val MetaFile = """v(\d+)\.metadata\.json""".r

  /** Claimed versions with their files, oldest first. */
  private def versions(dir: String): Seq[(Long, File)] =
    new File(s"$dir/metadata").listFiles().toSeq.collect {
      case f if MetaFile.matches(f.getName) =>
        (MetaFile.findFirstMatchIn(f.getName).get.group(1).toLong, f)
    }.sortBy(_._1)

  private def newest(dir: String) =
    mapper.readTree(versions(dir).filter(_._2.length > 0).last._2)

  test("concurrent metadata edits and appends all land, one version each") {
    val dir = tmp()
    io.IcebergWriter.write(df((0L, "base")), dir)
    val before = versions(dir).size
    implicit val ec: ExecutionContext = ExecutionContext.global
    val ops: Seq[() => Unit] = Seq(
      () => io.IcebergWriter.setProperties(spark, dir, Map("k1" -> "v1")),
      () => io.IcebergWriter.setProperties(spark, dir, Map("k2" -> "v2")),
      () => { io.IcebergWriter.setRef(spark, dir, "t1"); () },
      () => { io.IcebergWriter.write(df((1L, "a")), dir); () },
      () => { io.IcebergWriter.write(df((2L, "b")), dir); () })
    Await.result(Future.sequence(ops.map(op => Future(op()))), 180.seconds)
    val vs = versions(dir)
    assert(vs.size == before + ops.size, vs.map(_._1))
    assert(vs.map(_._1).distinct.size == vs.size)
    assert(vs.forall(_._2.length > 0), "every claim has its body")
    val meta = newest(dir)
    assert(meta.get("properties").get("k1").asText == "v1")
    assert(meta.get("properties").get("k2").asText == "v2")
    assert(meta.get("refs").has("t1"))
    assert(rows(dir) == Set((0L, "base"), (1L, "a"), (2L, "b")))
  }

  test("a stale torn claim keeps its number; later commits land above it") {
    val dir = tmp()
    val n = io.IcebergWriter.write(df((0L, "base")), dir).version
    // a crashed writer's claim: an empty body, older than the grace
    // window in which a torn claim counts as an in-flight writer
    val torn = new File(s"$dir/metadata/v${n + 1}.metadata.json")
    assert(torn.createNewFile())
    assert(torn.setLastModified(System.currentTimeMillis() - 60000L))
    io.IcebergWriter.setProperties(spark, dir, Map("k" -> "v"))
    val appended = io.IcebergWriter.write(df((1L, "a")), dir)
    assert(appended.version == n + 3)
    assert(versions(dir).map(_._1).takeRight(4) == Seq(n, n + 1, n + 2, n + 3))
    assert(torn.length == 0, "the torn claim is never rewritten")
    assert(newest(dir).get("properties").get("k").asText == "v")
    assert(rows(dir) == Set((0L, "base"), (1L, "a")))
  }

  /** Every file below `dir/sub`, Hadoop's hidden checksum files aside. */
  private def filesUnder(dir: String, sub: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.startsWith(".")) Nil
      else Seq(f)
    walk(new File(s"$dir/$sub"))
  }

  private def localPath(uri: String): String =
    new org.apache.hadoop.fs.Path(uri).toUri.getPath

  private val seedRows = (1L to 20L).map(i => (i, s"r$i"))

  private def mergeTwo(d: String, gate: () => Unit): Unit = {
    io.IcebergWriter.merge(spark, d, df((2L, "B"), (50L, "new")),
      Seq("id"), beforeCommit = gate); ()
  }

  private def deleteTwo(d: String, gate: () => Unit): Unit = {
    io.IcebergWriter.deleteMatched(spark, d,
      df((2L, ""), (3L, "")).select("id"), Seq("id"), beforeCommit = gate); ()
  }

  /** A statement retried after losing its snapshot to a concurrent
    * append: the first attempt's `beforeCommit` lands the append, so
    * its commit raises `ConcurrentCommit` and the statement re-resolves
    * against the new snapshot. What the abandoned attempt staged (data,
    * position-delete and puffin files, manifests) must be gone. */
  private val retried: Seq[(String, Int, (String, () => Unit) => Unit,
      Set[(Long, String)])] = {
    val after = seedRows.toSet + ((100L, "c"))
    val deleted = after - ((2L, "r2")) - ((3L, "r3"))
    Seq(
      ("merge", 1, mergeTwo _,
        after - ((2L, "r2")) + ((2L, "B")) + ((50L, "new"))),
      ("deleteMatched on a v2 table", 2, deleteTwo _, deleted),
      ("deleteMatched on a v3 table", 3, deleteTwo _, deleted))
  }

  for ((name, fv, stmt, expected) <- retried)
    test(s"$name retried after a concurrent append leaves no staged file") {
      val dir = tmp()
      val seed = df(seedRows: _*)
      io.IcebergWriter.createEmpty(spark, dir, seed.schema, formatVersion = fv)
      io.IcebergWriter.write(seed.repartition(2), dir)
      var attempts = 0
      stmt(dir, () => {
        attempts += 1
        if (attempts == 1) { io.IcebergWriter.write(df((100L, "c")), dir); () }
      })
      assert(attempts == 2, "the statement re-resolved once")
      assert(rows(dir) == expected)
      // a merge's replaced files stay with the snapshots before it until
      // an expiry, so a file is live when any snapshot holds it
      import scala.jdk.CollectionConverters._
      val snapshots = newest(dir).get("snapshots").elements().asScala.toSeq
      val live = snapshots.flatMap { s =>
        val snap = io.IcebergReader.snapshot(spark, dir,
          Some(s.get("snapshot-id").asLong))
        snap.files ++ snap.deleteFiles ++ snap.dvFiles ++ snap.equalityDeleteFiles
      }.map(f => localPath(f.path)).toSet
      val stray = filesUnder(dir, "data").map(_.getPath).filterNot(live)
      assert(stray.isEmpty, s"files under data/ no snapshot holds: $stray")
      val listed = snapshots
        .flatMap { s =>
          val reader = new org.apache.avro.file.DataFileReader(
            new File(localPath(s.get("manifest-list").asText)),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          try reader.iterator().asScala
            .map(r => localPath(r.get("manifest_path").toString)).toList
          finally reader.close()
        }.toSet
      val manifests = filesUnder(dir, "metadata").map(_.getPath)
        .filter(p => p.endsWith("-m0.avro") || p.endsWith("-m1.avro"))
      assert(manifests.nonEmpty)
      assert(manifests.filterNot(listed).isEmpty,
        s"manifests no snapshot lists: ${manifests.filterNot(listed)}")
    }
}
