package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.{SqlLexer, TrinoCompat}
import graft.types.AthenaTypes

/** Byte-for-byte regression record of the SQL front door's text layer.
  * `front_door_golden.jsonl` pairs every SQL string that the Trino
  * queries, the oracled entries, the `perfbench` Athena and lake-merge
  * workloads and the dialect/DML specs pass to [[TrinoCompat.rewrite]]
  * with the text it returned, plus the DDL column-list splits of
  * `CREATE EXTERNAL TABLE` / `ADD COLUMNS` and the Athena type strings
  * given to [[AthenaTypes.fromAthena]]. An output starting with `!`
  * names the exception class the input raised. No Spark session is
  * needed: every check is a pure function of the text. */
class FrontDoorGoldenSpec extends AnyFunSuite {

  private case class Golden(kind: String, in: String, out: String)

  private lazy val golden: Seq[Golden] = {
    val om = new ObjectMapper()
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/sql/front_door_golden.jsonl"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val n = om.readTree(line)
      Golden(n.get("kind").asText, n.get("in").asText, n.get("out").asText)
    }.toList
    finally src.close()
  }

  private def outcome(f: => String): String =
    try f catch { case e: Exception => "!" + e.getClass.getName }

  private def check(kind: String)(actual: String => String): Unit = {
    val cases = golden.filter(_.kind == kind)
    assert(cases.nonEmpty, s"no recorded $kind cases")
    val diffs = cases.flatMap { g =>
      val got = outcome(actual(g.in))
      if (got == g.out) None
      else Some(s"IN:  ${g.in}\nWANT: ${g.out}\nGOT:  $got")
    }
    assert(diffs.isEmpty,
      s"${diffs.size} of ${cases.size} $kind outputs differ:\n" +
        diffs.take(5).mkString("\n---\n"))
  }

  test("TrinoCompat.rewrite reproduces every recorded output byte for byte") {
    check("rewrite")(TrinoCompat.rewrite)
  }

  test("DDL column lists split exactly as recorded") {
    check("splitCols")(s =>
      SqlLexer.splitTop(s, angles = true).mkString("\u0000"))
  }

  test("AthenaTypes.fromAthena returns every recorded type") {
    check("fromAthena")(s => AthenaTypes.fromAthena(s).json)
  }
}
