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
}
