package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.util.TimeZone
import java.util.concurrent.{Callable, Executors, TimeUnit}

/** The planned formatters against the per-row reference
  * ([[ReferenceCsv]], [[ReferenceJson]], [[ReferenceYaml]]): byte
  * equality on generated rows of every cell type, on awkward schemas,
  * with and without a placeholder, and from threads that share the
  * memoized plans. The plans' binary leg is held to their own `row`
  * over the `Row` Spark deserializes from the same binary row.
  */
class FormatterDifferentialSpec extends AnyFunSuite {

  private val pairs: Seq[(String, RowFormatter, RowFormatter)] = Seq(
    ("csv", CsvFormatter, ReferenceCsv),
    ("json", JsonArrayFormatter, ReferenceJson),
    ("yaml", YamlFormatter, ReferenceYaml))

  private val placeholders: Seq[Option[String]] =
    Seq(None, Some("NULL"), Some(""), Some("a,b"), Some("true"), Some(" lead"), Some("<&>"))

  // -- values -----------------------------------------------------------

  private val awkwardStrings = Seq(
    "", " ", "plain", "true", "TRUE", "False", "yes", "No", "on", "OFF", "null", "NULL", "~",
    "N", "F", "O", "t", "7", ".", "+", "FALSE", "falsey", "NULLs", "on ", "ye\u017f", "~x",
    "-.5", "+.5", "1e5", ".5e-3", "123", "-0", "+12", ".inf", ".INF", "-.Inf", ".NaN",
    "2024-01-01", "2024-01-01T00:00:00Z", "2024-01-01 12:00:00+01:00", "0x1F",
    "a,b", "say \"hi\"", "it's", "line1\nline2", "cr\r\nlf", "tab\tsep", "bell\u0007",
    "\u0000nul", "\u001fus", "- dash", "-", "key: value", "trail:", "a:b", "#hash", "@at",
    "`tick`", "{\"k\":1}", "[1]", "%pct", "* star", "!bang", "|pipe", ">gt", "<lt", "&amp",
    "back\\slash", "\\.", "\\.x", "trail ", "\u00a0nbsp", "\u2005en", "\u3000wide",
    "\u000bvt", "\u0085nel", "\u2028ls", "\u2029ps", "\tlead", "\u00fcn\u00efc\u00f8d\u00e9", "\u65e5\u672c\u8a9e",
    "emoji \ud83d\ude80", "\ud83d\ude80", "\u0130stanbul", "\u212aelvin", "\u03a9mega", "\u0131nf")

  private val stringGen: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf(awkwardStrings),
    2 -> Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(",\"\n\r\t ':-#{}[]&*!|>%@`.\\<~+".toSeq),
      1 -> Gen.choose('\u0000', '\u001f'),
      1 -> Gen.choose('\u0080', '\u3000'))).map(_.mkString))

  private val doubleGen: Gen[Double] = Gen.frequency(
    3 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      1e15, -1e15, Math.nextDown(1e15), Math.nextUp(1e15), 999999999999999.0, 1e15 + 2,
      1e15 - 0.5, 3.14, 1.0, -42.0, 1e-7, Double.MinPositiveValue, Double.MaxValue),
    2 -> Gen.choose(-1e16, 1e16),
    1 -> Gen.choose(-1000L, 1000L).map(_.toDouble))

  private val floatGen: Gen[Float] = Gen.frequency(
    3 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
      1e15f, -1e15f, Math.nextDown(1e15f), Math.nextUp(1e15f), 3.14f, 1.0f, 1e-7f, Float.MaxValue),
    2 -> Gen.choose(-1e16f, 1e16f))

  private val decimalGen: Gen[java.math.BigDecimal] = Gen.frequency(
    1 -> Gen.oneOf("1.500", "0E-10", "-0.000", "1E+5", "123456789012345678901234567890.12",
      "-0.5", "100").map(new java.math.BigDecimal(_)),
    2 -> Gen.zip(Gen.choose(-1000000000L, 1000000000L), Gen.choose(-3, 8))
      .map { case (u, sc) => java.math.BigDecimal.valueOf(u, sc) })

  // years 0, 1, 9999 and 10000 (either side of the four-digit range),
  // plus ordinary ones; nanos zero, whole micros, and sub-micro
  private val epochSecGen: Gen[Long] = Gen.frequency(
    2 -> Gen.oneOf(0, 1, 1970, 2024, 9999, 10000, -5).flatMap { y =>
      val from = LocalDateTime.of(y, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
      val to = LocalDateTime.of(y + 1, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
      Gen.frequency(1 -> Gen.oneOf(from, to - 1), 3 -> Gen.choose(from, to - 1))
    },
    2 -> Gen.choose(-62135596800L - 86400L * 400, 253402300800L + 86400L * 400))
  private val nanoGen: Gen[Int] = Gen.frequency(
    2 -> Gen.const(0),
    2 -> Gen.choose(0, 999999).map(_ * 1000),
    1 -> Gen.choose(1, 999999999),
    1 -> Gen.oneOf(500, 999999999, 1000))
  private val instantGen: Gen[Instant] =
    Gen.zip(epochSecGen, nanoGen).map { case (s, n) => Instant.ofEpochSecond(s, n) }
  private val localDateGen: Gen[LocalDate] =
    epochSecGen.map(s => LocalDate.ofEpochDay(Math.floorDiv(s, 86400L)))
  // java.sql.Date counts days in the Julian calendar before 1582, so
  // early proleptic dates (0000-02-29) do not survive it: 1900–9999 only
  private val sqlDateGen: Gen[java.sql.Date] =
    Gen.choose(LocalDate.of(1900, 1, 1).toEpochDay, LocalDate.of(9999, 12, 31).toEpochDay)
      .map(d => java.sql.Date.valueOf(LocalDate.ofEpochDay(d)))

  private val binaryGen: Gen[Array[Byte]] =
    Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  /** A value for a cell of type `t`, in each of the JVM classes Spark
    * hands a row formatter for it; NULL one time in eight.
    */
  private def valueGen(t: DataType): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 7 -> (t match {
    case StringType => stringGen
    case BooleanType => Gen.oneOf(true, false)
    case ByteType => Gen.choose(Byte.MinValue, Byte.MaxValue)
    case ShortType => Gen.choose(Short.MinValue, Short.MaxValue)
    case IntegerType => Gen.oneOf(Gen.choose(Int.MinValue, Int.MaxValue), Gen.oneOf(0, -1, 1))
    case LongType => Gen.oneOf(Gen.choose(Long.MinValue, Long.MaxValue), Gen.oneOf(0L, -1L))
    case DoubleType => doubleGen
    case FloatType => floatGen
    case _: DecimalType => decimalGen
    case DateType => Gen.oneOf(localDateGen, sqlDateGen)
    case TimestampType => Gen.oneOf(instantGen, instantGen.map(java.sql.Timestamp.from))
    case TimestampNTZType =>
      Gen.zip(epochSecGen, nanoGen).map { case (s, n) => LocalDateTime.ofEpochSecond(s, n, ZoneOffset.UTC) }
    case BinaryType => binaryGen
    case ArrayType(IntegerType, _) =>
      Gen.listOf(Gen.choose(-9, 9)).map(xs => scala.collection.mutable.ArraySeq.make(xs.toArray))
    case MapType(StringType, IntegerType, _) =>
      Gen.mapOf(Gen.zip(stringGen, Gen.choose(0, 9)))
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }))

  // -- schemas ----------------------------------------------------------

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val wide = schemaOf(
    "zeta" -> StringType, "bool" -> BooleanType, "b" -> ByteType, "s" -> ShortType,
    "Int" -> IntegerType, "long" -> LongType, "dbl" -> DoubleType, "flt" -> FloatType,
    "dec" -> DecimalType(38, 10), "date" -> DateType, "ts" -> TimestampType,
    "ntz" -> TimestampNTZType, "bin" -> BinaryType, "arr" -> ArrayType(IntegerType),
    "map" -> MapType(StringType, IntegerType), "Alpha" -> StringType, "_u" -> StringType)

  private val duplicates = schemaOf(
    "k" -> StringType, "a" -> IntegerType, "k" -> TimestampType, "a" -> StringType,
    "k" -> DoubleType, "b\"q" -> StringType)

  private val empty = StructType(Nil)

  private def rowsGen(schema: StructType): Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fields.map(f => valueGen(f.dataType)).toSeq).map(Row.fromSeq)

  private def rows(schema: StructType, n: Int, seed: Long): Seq[Row] =
    (0 until n).map(i => rowsGen(schema).apply(Gen.Parameters.default, Seed(seed + i)).get)

  /** Values of one column's type in a column declared as another:
    * every cell takes its appender's fallback to the value's own type.
    */
  private def mislabelled(schema: StructType, rs: Seq[Row]): (StructType, Seq[Row]) = {
    val types = schema.fields.map(_.dataType)
    val shifted = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(dataType = types((i + 1) % types.length)) })
    (shifted, rs)
  }

  private def assertSame(schema: StructType, rs: Seq[Row], what: String): Unit =
    for ((name, planned, reference) <- pairs; nul <- placeholders) {
      assert(planned.open(schema) == reference.open(schema), s"$name open, $what")
      assert(planned.separator == reference.separator && planned.close == reference.close)
      rs.foreach { r =>
        val got = planned.row(schema, r, nul)
        val want = reference.row(schema, r, nul)
        assert(got == want, s"$name, $what, placeholder $nul, row ${r.toSeq.map(String.valueOf)}")
      }
    }

  test("every cell type renders byte-identical to the per-row reference") {
    assertSame(wide, rows(wide, 1500, 1000L), "wide schema")
  }

  test("unsorted and duplicate field names, the empty schema, mislabelled column types") {
    assertSame(duplicates, rows(duplicates, 500, 5000L), "duplicate names")
    assertSame(empty, Seq(Row(), Row()), "empty schema")
    val (shifted, rs) = mislabelled(wide, rows(wide, 300, 9000L))
    assertSame(shifted, rs, "mislabelled types")
  }

  test("timestamps either side of the four-digit years, zero and non-zero fractions") {
    val ts = schemaOf("i" -> TimestampType, "n" -> TimestampNTZType, "d" -> DateType)
    val edges = for {
      y <- Seq(0, 1, 1969, 1970, 9999, 10000)
      (mo, d, h, mi, s) <- Seq((1, 1, 0, 0, 0), (12, 31, 23, 59, 59), (2, 29, 12, 30, 5))
      if !(mo == 2 && !java.time.Year.isLeap(y.toLong))
      nano <- Seq(0, 1000, 500, 123456789, 999999999)
    } yield {
      val ldt = LocalDateTime.of(y, mo, d, h, mi, s, nano)
      val i = ldt.toInstant(ZoneOffset.UTC)
      Seq(Row(i, ldt, ldt.toLocalDate), Row(java.sql.Timestamp.from(i), ldt,
        if (y >= 1900) java.sql.Date.valueOf(ldt.toLocalDate) else ldt.toLocalDate))
    }
    assertSame(ts, edges.flatten, "temporal edges")
    // the fast path's text, spelled out
    val one = schemaOf("t" -> TimestampType)
    def csv(i: Instant) = CsvFormatter.row(one, Row(i), None)
    assert(csv(Instant.parse("0001-01-01T00:00:00Z")) == "0001-01-01T00:00:00Z\n")
    assert(csv(Instant.parse("9999-12-31T23:59:59.000000500Z")) == "9999-12-31T23:59:59.000000Z\n")
    assert(csv(Instant.parse("2024-02-29T01:02:03.456Z")) == "2024-02-29T01:02:03.456000Z\n")
    assert(csv(Instant.parse("+10000-01-01T00:00:00Z")) == "+10000-01-01T00:00:00Z\n")
  }

  // -- the binary leg ---------------------------------------------------

  /** The rows of `rs` in Spark's binary form, written by every built-in
    * plan and each placeholder, against that formatter's `row` over the
    * `Row` that Spark's deserializer makes of the same binary row: with
    * `spark.sql.datetime.java8API.enabled` off and on, each under two
    * JVM default zones that are not UTC.
    */
  private def assertBinarySame(schema: StructType, rs: Seq[Row], what: String): Unit =
    for (zone <- Seq("America/Los_Angeles", "Asia/Kolkata"); java8 <- Seq(false, true)) {
      val saved = TimeZone.getDefault
      TimeZone.setDefault(TimeZone.getTimeZone(zone))
      try {
        val conf = new SQLConf
        conf.setConf(SQLConf.DATETIME_JAVA8API_ENABLED, java8)
        val encoder = SQLConf.withExistingConf(conf) {
          ExpressionEncoder(RowEncoder.encoderFor(schema, lenient = true))
        }
        val serialize = encoder.createSerializer()
        assertBinaryRows(schema, rs.map(r => serialize(storable(schema, r)).copy()), encoder,
          s"$what, $zone, java8API $java8")
      } finally TimeZone.setDefault(saved)
    }

  /** Every row renders on the `Row` path, whichever classes the
    * deserializer makes of its dates and timestamps (a `java.sql.Date`
    * of a year before 1 once threw there), and its binary row writes
    * the bytes of that `Row` as [[held]] mends it.
    */
  private def assertBinaryRows(schema: StructType, irs: Seq[InternalRow],
      encoder: ExpressionEncoder[Row], what: String): Unit = {
    val deserialize = encoder.resolveAndBind().createDeserializer()
    val rows = irs.map(deserialize(_).copy())
    val stored = irs.zip(rows).map { case (ir, r) => held(schema, ir, r) }
    for ((name, planned, _) <- pairs; nul <- placeholders) {
      val write = RowFormatter.writer(planned, schema, nul)
      val failing = rows.filter(r => scala.util.Try(planned.row(schema, r, nul)).isFailure)
      assert(failing.isEmpty, s"$name, $what, placeholder $nul: the Row path throws on " +
        failing.take(3).map(_.toSeq.map(String.valueOf)).mkString("; "))
      val bytes = new java.io.ByteArrayOutputStream
      val out = new RowOut(bytes, encoder)
      irs.foreach(write(out, _))
      out.close()
      val want = stored.map(r => planned.row(schema, r, nul).getBytes(StandardCharsets.UTF_8))
      val got = bytes.toByteArray
      if (!(got sameElements want.flatten)) {
        val ends = want.scanLeft(0)(_ + _.length).tail
        val k = want.indices.find(k => !got.slice(ends(k) - want(k).length, ends(k)).sameElements(want(k)))
          .getOrElse(want.length - 1)
        fail(s"$name, $what, placeholder $nul, row ${stored(k).toSeq.map(String.valueOf)}: got " +
          new String(got.slice(ends(k) - want(k).length, ends(k)), StandardCharsets.UTF_8) +
          " want " + new String(want(k), StandardCharsets.UTF_8))
      }
    }
  }

  /** `r`, the `Row` Spark's deserializer made of `ir`, with each
    * `java.sql` date or timestamp that does not read back as the value
    * `ir` stores replaced by that value's `java.time` form. Only a value
    * whose date in the JVM zone falls in the days the 1582 switch skips
    * (10-05 to 10-14) may be replaced: the hybrid calendar of `java.sql`
    * has no such day, so no `java.sql` value holds it.
    */
  private def held(schema: StructType, ir: InternalRow, r: Row): Row = {
    def skipped(d: LocalDate) =
      !d.isBefore(LocalDate.of(1582, 10, 5)) && !d.isAfter(LocalDate.of(1582, 10, 14))
    Row.fromSeq(schema.fields.indices.map { c =>
      r.get(c) match {
        case t: java.sql.Timestamp if DateTimeUtils.fromJavaTimestamp(t) != ir.getLong(c) =>
          val instant = DateTimeUtils.microsToInstant(ir.getLong(c))
          assert(skipped(instant.atZone(ZoneId.systemDefault).toLocalDate), s"$t does not hold $instant")
          instant
        case d: java.sql.Date if DateTimeUtils.fromJavaDate(d) != ir.getInt(c) =>
          val date = LocalDate.ofEpochDay(ir.getInt(c))
          assert(skipped(date), s"$d does not hold $date")
          date
        case v => v
      }
    })
  }

  /** `r` without the decimals a `DecimalType(38, 10)` cannot hold. */
  private def storable(schema: StructType, r: Row): Row =
    Row.fromSeq(schema.fields.toSeq.zip(r.toSeq).map {
      case (StructField(_, t: DecimalType, _, _), d: java.math.BigDecimal)
          if d.precision - d.scale > t.precision - t.scale => null
      case (_, v) => v
    })

  test("binary rows: every cell type and duplicate names write the bytes of the Row path") {
    assertBinarySame(wide, rows(wide, 400, 30000L), "wide schema")
    assertBinarySame(duplicates, rows(duplicates, 300, 40000L), "duplicate names")
    assertBinarySame(empty, Seq(Row(), Row()), "empty schema")
  }

  test("binary rows: dates and timestamps around the calendar switch and the four-digit years") {
    val ts = schemaOf("i" -> TimestampType, "n" -> TimestampNTZType, "d" -> DateType)
    val edges = for {
      y <- Seq(-5, 0, 1, 1000, 1500, 1582, 1583, 1900, 1969, 9999, 10000)
      (mo, d, h, mi, s) <- Seq((1, 1, 0, 0, 0), (10, 4, 23, 59, 59), (10, 15, 0, 0, 0),
        (12, 31, 23, 59, 59), (2, 29, 12, 30, 5))
      if !(mo == 2 && !java.time.Year.isLeap(y.toLong))
      nano <- Seq(0, 1000, 123456000)
    } yield {
      val ldt = LocalDateTime.of(y, mo, d, h, mi, s, nano)
      Row(ldt.toInstant(ZoneOffset.UTC), ldt, ldt.toLocalDate)
    }
    assertBinarySame(ts, edges, "temporal edges")
  }

  test("binary rows: strings that are not valid UTF-8") {
    val s = schemaOf("s" -> StringType, "t" -> StringType)
    val encoder = ExpressionEncoder(RowEncoder.encoderFor(s))
    def utf8(bytes: Int*) = UTF8String.fromBytes(bytes.map(_.toByte).toArray)
    val irs = Seq(
      InternalRow(utf8(0xff), utf8('a', 0xc3)),
      InternalRow(utf8(0xc3, 0x28), utf8(0xed, 0xa0, 0x80)),
      InternalRow(utf8(' ', 0xf0, 0x9f, 0x9a), utf8('<', 0x80, '>')),
      InternalRow(utf8('t', 'r', 'u', 0xe9), utf8(0xe2, 0x80, 0xa8)))
    assertBinaryRows(s, irs, encoder, "invalid UTF-8")
  }

  test("4 threads alternating between 2 schemas and placeholders share the memoized plans") {
    val schemas = Seq(wide, duplicates)
    val cases = for {
      (schema, k) <- schemas.zipWithIndex
      r <- rows(schema, 200, 20000L + 1000L * k)
      nul <- Seq(None, Some("NULL"))
      (name, planned, reference) <- pairs
    } yield (name, planned, schema, r, nul, reference.row(schema, r, nul))
    // interleave the two schemas and the two placeholders, so that
    // every thread keeps changing the key of every formatter's memo
    val order = cases.groupBy(c => (c._3, c._5)).values.toSeq.map(_.toIndexedSeq)
    val interleaved = (0 until order.map(_.size).max).flatMap(i => order.flatMap(_.lift(i)))
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 5).flatMap { rep =>
            val mine = if ((t + rep) % 2 == 0) interleaved else interleaved.reverse
            mine.collect {
              case (name, planned, schema, r, nul, want) if planned.row(schema, r, nul) != want =>
                s"thread $t: $name, placeholder $nul, row ${r.toSeq.map(String.valueOf)}"
            }
          }
        })
      }
      val mismatches = futures.flatMap(_.get(300, TimeUnit.SECONDS))
      assert(mismatches.isEmpty, mismatches.take(5).mkString("\n"))
    } finally pool.shutdownNow()
  }
}
