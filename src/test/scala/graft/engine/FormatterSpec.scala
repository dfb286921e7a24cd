package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.Instant

/** Byte-exact golden-corpus tests for the formatters, ported from the
  * reference's integration suite (chiv_integration_test.go:28–322 vs
  * testdata/postgres; fixtures copied to test resources).
  */
class FormatterSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("text_column", StringType),
    StructField("char_column", StringType),
    StructField("int_column", IntegerType),
    StructField("float_column", DoubleType),
    StructField("bool_column", BooleanType),
    StructField("ts_column", TimestampType),
    StructField("json_column", StringType)))

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private val rows = Seq(
    Row("ea09d13c-f441-4550-9492-115f8b409c96", "some text", "some chars",
      42, 3.14, true, ts("2018-01-04T00:00:00Z"), """{"key":"value","num":42}"""),
    Row("4289a9e3-32d5-4bad-b79b-034c528e8f41", "some other text", null,
      100, 3.141592, true, ts("2018-02-04T00:00:00Z"), """{"other":"value"}"""),
    Row("7530a381-526a-42aa-a9ba-97fb2bca283f", "some more text", "some more chars",
      101, null, false, ts("2018-02-05T00:00:00Z"),
      """[{"item":"in an array"},{"num":999}]"""))

  private def golden(name: String): String =
    new String(
      getClass.getResourceAsStream(s"/golden/$name").readAllBytes(),
      StandardCharsets.UTF_8)

  private def render(fmt: RowFormatter, schema: StructType, rows: Seq[Row],
      nullValue: Option[String] = None): String =
    fmt.open(schema) +
      rows.map(fmt.row(schema, _, nullValue)).mkString(fmt.separator) +
      fmt.close

  test("CSV matches postgres.csv byte-for-byte") {
    assert(render(CsvFormatter, schema, rows) == golden("postgres.csv"))
  }

  test("CSV null placeholder matches postgres_with_null.csv") {
    assert(render(CsvFormatter, schema, rows, Some("custom_null")) ==
      golden("postgres_with_null.csv"))
  }

  test("column projection matches postgres_subset.csv") {
    val sub = StructType(Seq(schema("id"), schema("text_column"), schema("int_column")))
    val subRows = rows.map(r => Row(r.get(0), r.get(1), r.get(3)))
    assert(render(CsvFormatter, sub, subRows) == golden("postgres_subset.csv"))
  }

  test("JSON array with sorted keys matches postgres.json") {
    assert(render(JsonArrayFormatter, schema, rows) == golden("postgres.json"))
  }

  test("YAML block sequence matches postgres.yaml") {
    assert(render(YamlFormatter, schema, rows) == golden("postgres.yaml"))
  }

  test("CSV quotes only when needed (Go encoding/csv rules)") {
    val s = StructType(Seq(StructField("a", StringType)))
    def one(v: String) =
      CsvFormatter.row(s, Row(v), None).stripSuffix("\n")
    assert(one("plain") == "plain")
    assert(one("with,comma") == "\"with,comma\"")
    assert(one("with\"quote") == "\"with\"\"quote\"")
    assert(one("line\nbreak") == "\"line\nbreak\"")
    assert(one(" leading") == "\" leading\"")
    assert(one("trailing ") == "trailing ")
    // Go's fieldNeedsQuotes also quotes `\.` and a leading unicode.IsSpace
    assert(one("\\.") == "\"\\.\"")
    assert(one("\\.x") == "\\.x")
    assert(one("\u00a0nbsp") == "\"\u00a0nbsp\"")
    assert(one("\u3000wide") == "\"\u3000wide\"")
    assert(one("mid\u00a0space") == "mid\u00a0space")
    assert(CsvFormatter.open(StructType(Seq(StructField("\\.", StringType)))) == "\"\\.\"\n")
  }

  test("JSON escapes HTML characters like Go json.Marshal") {
    val s = StructType(Seq(StructField("a", StringType)))
    assert(JsonArrayFormatter.row(s, Row("<a&b>"), None) ==
      "{\"a\":\"\\u003ca\\u0026b\\u003e\"}")
  }

  test("JSON escapes U+2028 and U+2029 in values and keys like Go json.Marshal") {
    val s = StructType(Seq(StructField("k\u2029", StringType)))
    assert(JsonArrayFormatter.row(s, Row("a\u2028b\u2029"), None) ==
      "{\"k\\u2029\":\"a\\u2028b\\u2029\"}")
    assert(JsonArrayFormatter.row(s, Row(null), Some("\u2028")) == "{\"k\\u2029\":\"\\u2028\"}")
  }

  test("YAML represents control characters faithfully (double-quoted escapes)") {
    val s = StructType(Seq(StructField("a", StringType)))
    def one(v: String) = YamlFormatter.row(s, Row(v), None).stripPrefix("- a: ").stripSuffix("\n")
    assert(one("line1\nline2") == "\"line1\\nline2\"")
    assert(one("tab\there") == "\"tab\\there\"")
  }

  test("float cells render their shortest form, not double-widened noise") {
    val s = StructType(Seq(StructField("a", FloatType)))
    assert(CsvFormatter.row(s, Row(3.14f), None) == "3.14\n")
    assert(JsonArrayFormatter.row(s, Row(1.0f), None) == "{\"a\":1}")
  }

  test("YAML quoting styles: typed-looking → double, flow chars → single, else plain") {
    val s = StructType(Seq(StructField("a", StringType)))
    def one(v: String) = YamlFormatter.row(s, Row(v), None).stripPrefix("- a: ").stripSuffix("\n")
    assert(one("hello world") == "hello world")
    assert(one("true") == "\"true\"")
    assert(one("123") == "\"123\"")
    assert(one("2018-01-04T00:00:00Z") == "\"2018-01-04T00:00:00Z\"")
    assert(one("{\"k\":1}") == "'{\"k\":1}'")
    assert(one("it's") == "'it''s'")
  }

  // MariaDB corpus (reference testdata/mariadb/happy.*): the driver
  // surfaces BOOLEAN as TINYINT, so bool cells arrive as Byte 1/0 and
  // must render as bare integers — the driver-dependent rendering
  // SURVEY §1.2 calls out (vs postgres true/false above).
  private val mariaSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("text_column", StringType),
    StructField("char_column", StringType),
    StructField("int_column", IntegerType),
    StructField("float_column", DoubleType),
    StructField("bool_column", ByteType),
    StructField("ts_column", TimestampType)))

  private val mariaRows = Seq(
    Row(1, "some text", "some chars", 42, 3.14, 1.toByte,
      ts("2018-01-04T00:00:00Z")),
    Row(2, "some other text", null, 100, 3.141592, 1.toByte,
      ts("2018-02-04T00:00:00Z")),
    Row(3, "some more text", "some more chars", 101, null, 0.toByte,
      ts("2018-02-05T00:00:00Z")))

  test("CSV matches mariadb happy.csv byte-for-byte (TINYINT bools as 1/0)") {
    assert(render(CsvFormatter, mariaSchema, mariaRows) == golden("mariadb.csv"))
  }

  test("JSON matches mariadb happy.json byte-for-byte") {
    assert(render(JsonArrayFormatter, mariaSchema, mariaRows) == golden("mariadb.json"))
  }

  test("YAML matches mariadb happy.yaml byte-for-byte") {
    assert(render(YamlFormatter, mariaSchema, mariaRows) == golden("mariadb.yaml"))
  }

  test("YAML quoting does not depend on the JVM's default locale (tr-TR)") {
    import java.util.Locale
    val s = StructType(Seq(StructField("a", StringType)))
    def one(v: String) = YamlFormatter.row(s, Row(v), None).stripPrefix("- a: ").stripSuffix("\n")
    val saved = Seq(Locale.Category.DISPLAY, Locale.Category.FORMAT).map(c => c -> Locale.getDefault(c))
    val savedDefault = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      // tr-TR lowercases 'I' to dotless 'ı': ".INF" would miss the
      // typed-looking rule and come out plain
      assert(".INF".toLowerCase == ".ınf")
      assert(one(".INF") == "\".INF\"")
      assert(one("-.Inf") == "\"-.Inf\"")
      assert(one("INFO") == "INFO")
    } finally {
      Locale.setDefault(savedDefault)
      saved.foreach { case (c, l) => Locale.setDefault(c, l) }
    }
  }
}
