package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.2): CSV quoting is reversible and
  * minimal; the null overlay is total; JSON escaping yields parseable
  * strings for arbitrary input. Raw ScalaCheck generators with a
  * fixed seed (the scalatest/scalacheck bridge artifact isn't a
  * declared dependency).
  */
class FormatterPropertySpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("a", StringType)))

  /** Go's `unicode.IsSpace`: the runes Go's CSV writer quotes when
    * they start a field.
    */
  private val goSpaces =
    "\t\n\u000b\u000c\r \u0085\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005" +
      "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"

  private val fieldGen: Gen[String] =
    Gen.frequency(
      20 -> Gen.listOf(Gen.frequency(
        8 -> Gen.alphaNumChar,
        2 -> Gen.oneOf(',', '"', '\n', '\r', ' ', '\t', '\\', '\'', '<', '&', '>', '.'),
        1 -> Gen.oneOf(goSpaces.toSeq),
        1 -> Gen.asciiPrintableChar)).map(_.mkString),
      1 -> Gen.oneOf("\\.", "\\.x", "x\\.", "\\", "."))

  private def samples(n: Int): Seq[String] =
    (0 until n).flatMap(i =>
      fieldGen.apply(Gen.Parameters.default, Seed(42L + i)))

  /** Inverse of Go-style CSV quoting for a single field. */
  private def parseCsvField(s: String): String =
    if (s.startsWith("\"") && s.endsWith("\"") && s.length >= 2)
      s.substring(1, s.length - 1).replace("\"\"", "\"")
    else s

  private def unescapeJson(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      if (p(i) == '\\') {
        p(i + 1) match {
          case '"' => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' =>
            sb += Integer.parseInt(p.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => fail(s"unexpected escape: \\$other")
        }
      } else { sb += p(i); i += 1 }
    }
    sb.toString
  }

  test("CSV quote/unquote round-trips 500 arbitrary fields") {
    samples(500).foreach { s =>
      val line = CsvFormatter.row(schema, Row(s), None)
      assert(line.endsWith("\n"))
      assert(parseCsvField(line.dropRight(1)) == s, s"field: ${s.toList}")
    }
  }

  test("CSV quotes exactly when Go's encoding/csv would") {
    samples(500).foreach { s =>
      val rendered = CsvFormatter.row(schema, Row(s), None).dropRight(1)
      // writer.go fieldNeedsQuotes
      val mustQuote = s.nonEmpty && (s == "\\." || s.exists(c => ",\"\n\r".contains(c)) ||
        goSpaces.contains(s.head))
      assert(rendered.startsWith("\"") == mustQuote, s"field: ${s.toList}")
    }
  }

  test("null overlay is total: null cell always renders the placeholder") {
    samples(200).filter(_.nonEmpty).foreach { placeholder =>
      val line = CsvFormatter.row(schema, Row(null), Some(placeholder)).dropRight(1)
      assert(parseCsvField(line) == placeholder)
    }
    assert(CsvFormatter.row(schema, Row(null), None) == "\n")
  }

  test("JSON string escaping is ASCII-safe and reversible") {
    samples(500).foreach { s =>
      val obj = JsonArrayFormatter.row(schema, Row(s), None)
      assert(obj.startsWith("{\"a\":\"") && obj.endsWith("\"}"))
      val payload = obj.stripPrefix("{\"a\":\"").stripSuffix("\"}")
      assert(!payload.exists(c => c < ' ' || c == '<' || c == '>' || c == '&'))
      assert(unescapeJson(payload) == s, s"field: ${s.toList}")
    }
  }
}
