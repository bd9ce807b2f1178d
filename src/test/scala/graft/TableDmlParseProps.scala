package graft.sql

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property tests for the DML dialect's lexical layer: the parser must
  * be invariant under the formatting freedom SQL allows (case,
  * whitespace, identifier quoting, conjunct parenthesization) and must
  * never split/match inside parens or string literals — exactly the
  * variety reference-generated statements and hand-written ones mix. */
object TableDmlParseProps extends Properties("TableDml") {

  private val ident: Gen[String] = for {
    h <- Gen.alphaLowerChar
    t <- Gen.listOfN(5, Gen.oneOf(Gen.alphaNumChar, Gen.const('_')))
  } yield (h :: t).mkString

  private val ws: Gen[String] = Gen.chooseNum(1, 3)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf(" ", "\n", "\t")).map(_.mkString))

  private def quoted(s: String, q: Boolean): String = if (q) "\"" + s + "\"" else s

  private def mixCase(s: String, flips: Seq[Boolean]): String =
    s.zipAll(flips, ' ', false).map { case (c, f) =>
      if (f) c.toUpper else c
    }.mkString

  property("parseOn: keys and null-safety invariant under formatting") =
    forAll(
      Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, ident)),
      ident, ident, Gen.oneOf(true, false), Gen.oneOf(true, false),
      Gen.oneOf(true, false), ws
    ) { (keys0, tA, sA, nullSafe, parens, quote, sp) =>
      val keys = keys0.distinct
      (tA != sA && keys.nonEmpty) ==> {
        val op = if (nullSafe) s"${sp}IS${sp}NOT${sp}DISTINCT${sp}FROM$sp"
                 else s"$sp=$sp"
        val conjs = keys.map { k =>
          val c = s"${quoted(tA, quote)}.${quoted(k, quote)}$op" +
            s"${quoted(sA, quote)}.${quoted(k, quote)}"
          if (parens) s"($c)" else c
        }
        val cond = conjs.mkString(s"${sp}AND$sp")
        val (got, ns) = TableDml.parseOn(cond, tA, sA)
        got == keys && ns == nullSafe
      }
    }

  property("parseOn: sides may appear in either order") =
    forAll(ident, ident, ident) { (k, tA, sA) =>
      (tA != sA) ==> {
        val (got, _) = TableDml.parseOn(s"$sA.$k = $tA.$k", tA, sA)
        got == Seq(k)
      }
    }

  property("splitTop: never splits inside parens or quotes") =
    forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(
        ident,
        ident.map(i => s"f($i, 1)"),
        ident.map(i => s"'$i, lit'"),
        ident.map(i => s"g(h($i), ',')"))))) { parts =>
      SqlLexer.splitTop(parts.mkString(" , ")) == parts
    }

  property("dequoteExpr: quoted idents become backticks, strings survive") =
    forAll(ident, ident, ident) { (a, b, lit) =>
      SqlLexer.dequoteExpr(s"""$a."$b" = '$lit "not an ident"'""") ==
        s"""$a.`$b` = '$lit "not an ident"'"""
    }

  property("qnameKey: quoting-insensitive dotted names") =
    forAll(ident, ident, Gen.oneOf(true, false), Gen.oneOf(true, false)) {
      (db, t, q1, q2) =>
        TableDml.qnameKey(s"${quoted(db, q1)}.${quoted(t, q2)}") == s"$db.$t"
    }

  property("topWordIndices: blind inside parens and quotes, case-blind outside") =
    forAll(ident, Gen.listOfN(4, Gen.oneOf(true, false))) { (w, flips) =>
      val kw = "WHEN"
      val s = s"(a $kw b) '$kw' x ${mixCase(kw.toLowerCase, flips)} y"
      val idx = SqlLexer.topWordIndices(s, kw)
      idx.size == 1 && s.regionMatches(true, idx.head, kw, 0, kw.length)
    }

  property("topWordIndices: never matches inside a longer word") =
    forAll(ident) { w =>
      val s = s"${w}WHEN WHEN${w} WHEN"
      SqlLexer.topWordIndices(s, "WHEN") == Seq(s.length - 4)
    }
}
