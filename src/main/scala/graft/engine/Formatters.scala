package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import java.lang.{StringBuilder => JStringBuilder}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.Locale

/** Row-to-text encoders replicating the reference formatters'
  * byte-level output (chiv_formatters.go: CSV 42–96, YAML 98–143,
  * JSON 145–221) against the golden corpus in
  * /root/reference/testdata/postgres/.
  *
  * Pure functions over (schema, row) — no Spark execution here, so
  * they unit-test without a session and run inside any partition
  * iterator. Typed rendering replaces the reference's bytes+regex
  * re-parsing (chiv_formatters.go:244–276): Spark rows are already
  * typed (SURVEY.md §1.4).
  *
  * A date renders from its day count and a timestamp from its micros
  * since the epoch, as Spark stores them, whichever class carries the
  * value: a `java.sql` value is read back into Spark's storage first.
  *
  * Each built-in formatter renders through a [[Plan]] built once per
  * (schema, placeholder) and memoized in a
  * [[PlanMemo]]. A plan renders a `Row` into one `StringBuilder`
  * (OPTIMIZATION_r09.md §10), and writes Spark's binary `InternalRow`
  * straight into a task's [[RowOut]] bytes (§11).
  */
object Render {

  // `uuuu`: the proleptic year, signed as `LocalDate` prints it
  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss'Z'")
  private val tsFracFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  /** Scalar → text; None = SQL NULL. Numeric rendering matches Go's
    * strconv/json.Marshal shortest forms (42, 3.14, integral doubles
    * without ".0").
    */
  def scalar(v: Any): Option[String] = v match {
    case null => None
    case s: String => Some(s)
    case other => Some(text(other))
  }

  /** Null overlay (chiv.go:175–181): placeholder replaces NULL in any
    * column and is rendered as a plain string downstream.
    */
  def cell(v: Any, nullValue: Option[String]): Option[String] =
    scalar(v).orElse(nullValue)

  /** [[scalar]]'s text of a non-null value. */
  private[engine] def text(v: Any): String = v match {
    case s: String => s
    case other =>
      val sb = new JStringBuilder(32)
      append(sb, other)
      sb.toString
  }

  /** Appends [[scalar]]'s text of a non-null value. */
  private[engine] def append(sb: JStringBuilder, v: Any): Unit = v match {
    case s: String => sb.append(s)
    case l: Long => sb.append(l)
    case i: Int => sb.append(i)
    case d: Double => appendDouble(sb, d)
    case f: Float => appendFloat(sb, f)
    case dec: java.math.BigDecimal => sb.append(dec.stripTrailingZeros.toPlainString)
    case i: Instant => if (!appendIso(sb, i)) sb.append(ts(i))
    case t: java.sql.Timestamp =>
      if (!appendIso(sb, t)) sb.append(ts(Instant.ofEpochSecond(seconds(t), t.getNanos)))
    case ldt: LocalDateTime => if (!appendIso(sb, ldt)) sb.append(ts(ldt.toInstant(ZoneOffset.UTC)))
    case d: LocalDate => if (!appendDate(sb, d)) sb.append(d.toString)
    case d: java.sql.Date => append(sb, localDate(d))
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b))
    case other => sb.append(other.toString)
  }

  private[engine] def appendDouble(sb: JStringBuilder, d: Double): Unit =
    if (d.isWhole && math.abs(d) < 1e15) sb.append(d.toLong) else sb.append(d)

  // floats keep their own shortest form — widening to double would
  // print binary noise (3.14f.toDouble = 3.140000104904175)
  private[engine] def appendFloat(sb: JStringBuilder, f: Float): Unit =
    if (f.isWhole && math.abs(f) < 1e15f) sb.append(f.toLong) else sb.append(f)

  private def ts(i: Instant): String = {
    val utc = i.atZone(ZoneOffset.UTC)
    if (i.getNano == 0) tsFmt.format(utc) else tsFracFmt.format(utc)
  }

  // A `java.sql` value is read as Spark stores it: `fromJavaTimestamp`
  // and `fromJavaDate` undo the Julian-calendar rebase its deserializer
  // applies before 1582-10-15. That rebase moves whole seconds, so a
  // Timestamp keeps its own nanos as the fraction.
  private def seconds(t: java.sql.Timestamp): Long =
    Math.floorDiv(DateTimeUtils.fromJavaTimestamp(t), 1000000L)

  private def localDate(d: java.sql.Date): LocalDate =
    LocalDate.ofEpochDay(DateTimeUtils.fromJavaDate(d))

  // 0001-01-01T00:00:00Z and 10000-01-01T00:00:00Z in epoch seconds
  private val IsoFromSec = -62135596800L
  private val IsoUntilSec = 253402300800L

  /** Appends the text [[scalar]] gives a date or timestamp whose year is
    * 1–9999, digit by digit, and returns true; returns false and
    * appends nothing for any other value. That text is ISO with a
    * four-digit year, so JSON never escapes it and YAML always resolves
    * it as a timestamp.
    */
  private[engine] def appendIso(sb: JStringBuilder, v: Any): Boolean = v match {
    case i: Instant => appendEpoch(sb, i.getEpochSecond, i.getNano)
    case t: java.sql.Timestamp => appendEpoch(sb, seconds(t), t.getNanos)
    case ldt: LocalDateTime =>
      val y = ldt.getYear
      (y >= 1 && y <= 9999) && {
        appendDateTime(sb, y, ldt.getMonthValue, ldt.getDayOfMonth,
          ldt.getHour * 3600 + ldt.getMinute * 60 + ldt.getSecond, ldt.getNano)
        true
      }
    case d: LocalDate => appendDate(sb, d)
    case d: java.sql.Date => appendDate(sb, localDate(d))
    case _ => false
  }

  /** [[appendIso]] of the instant `sec` seconds and `nano` nanoseconds
    * after the epoch.
    */
  private def appendEpoch(sb: JStringBuilder, sec: Long, nano: Int): Boolean =
    (sec >= IsoFromSec && sec < IsoUntilSec) && {
      val date = LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
      appendDateTime(sb, date.getYear, date.getMonthValue, date.getDayOfMonth,
        Math.floorMod(sec, 86400L).toInt, nano)
      true
    }

  private def appendDate(sb: JStringBuilder, d: LocalDate): Boolean = {
    val y = d.getYear
    (y >= 1 && y <= 9999) && { ymd(sb, y, d.getMonthValue, d.getDayOfMonth); true }
  }

  private def ymd(sb: JStringBuilder, year: Int, month: Int, day: Int): Unit = {
    twoDigits(sb, year / 100); twoDigits(sb, year % 100); sb.append('-')
    twoDigits(sb, month); sb.append('-'); twoDigits(sb, day)
  }

  private def appendDateTime(sb: JStringBuilder, year: Int, month: Int, day: Int,
      secOfDay: Int, nano: Int): Unit = {
    ymd(sb, year, month, day); sb.append('T')
    twoDigits(sb, secOfDay / 3600); sb.append(':')
    twoDigits(sb, secOfDay / 60 % 60); sb.append(':'); twoDigits(sb, secOfDay % 60)
    // `SSSSSS`: the fraction truncated to micros, printed whenever the
    // nanos are non-zero (even when the micros are zero)
    if (nano != 0) {
      val micros = nano / 1000
      sb.append('.'); twoDigits(sb, micros / 10000); twoDigits(sb, micros / 100 % 100)
      twoDigits(sb, micros % 100)
    }
    sb.append('Z')
  }

  // constant divisors: the JIT turns them into multiplications
  private def twoDigits(sb: JStringBuilder, v: Int): Unit =
    sb.append(('0' + v / 10).toChar).append(('0' + v % 10).toChar)

  private[engine] def hex(sb: JStringBuilder, c: Char, width: Int): Unit = {
    var shift = 4 * (width - 1)
    while (shift >= 0) { sb.append(Character.forDigit((c >> shift) & 0xf, 16)); shift -= 4 }
  }
}

/** Formatter SPI (reference `Formatter`: Open/Format/Close,
  * chiv_formatters.go:23–35): optional prologue, per-row text, row
  * separator, optional epilogue. OPEN for user implementations — the
  * reference accepts any `Formatter`/`FormatterFunc` via `WithFormat`
  * (chiv_formatters.go:23–40, chiv_options.go:7–12); the Spark-side
  * equivalent is `Format.Custom(myFormatter, ext)` in [[ArchiveConfig]],
  * flowing through both the single-object and sharded row paths.
  * Implementations run inside partition iterators on executors, hence
  * `Serializable`; they must be pure functions of (schema, row) — any
  * speculative re-execution must produce identical bytes.
  */
trait RowFormatter extends Serializable {
  def open(schema: StructType): String
  def row(schema: StructType, r: Row, nullValue: Option[String]): String
  def separator: String
  def close: String
}

/** Writes one non-null cell into a row's `StringBuilder`. */
private[engine] trait Cell {
  def append(sb: JStringBuilder, v: Any): Unit
}

/** Writes the non-null cell at ordinal `c` of a binary row into `out`. */
private[engine] trait BinaryCell {
  def write(out: RowOut, r: InternalRow, c: Int): Unit
}

/** A built-in format: the rules its [[Plan]]s follow. A row is
  * [[rowOpen]], then each column's [[prefix]] and cell, then
  * [[rowClose]]. Booleans and numbers are written bare, a date or
  * timestamp with a four-digit year as ISO text between [[isoQuote]]s,
  * and any other text, including the placeholder of a NULL cell,
  * through [[text]].
  */
private[engine] abstract class PlannedFormatter extends RowFormatter {
  private[engine] def rowOpen: String
  private[engine] def rowClose: String
  /** Columns in name order (stable, so duplicate names keep schema
    * order), or else in schema order.
    */
  private[engine] def sorted: Boolean
  /** Written before column `k`, whose name [[text]] renders as `name`. */
  private[engine] def prefix(name: String, k: Int): String
  /** A NULL cell without a placeholder. */
  private[engine] def nullText: String
  /** ISO text with a four-digit year holds nothing CSV quotes or JSON
    * escapes, and YAML resolves it as a timestamp: it is written as is
    * between these quotes.
    */
  private[engine] def isoQuote: String
  private[engine] def text(sb: JStringBuilder, s: String): Unit
  /** True only when [[text]] writes the ASCII text `s` as
    * `quote + s + quote`: the binary plan then copies a string's bytes
    * as they are.
    */
  private[engine] def plain(s: CharSequence): Boolean
  private[engine] def quote: String

  private[engine] val plans = new PlanMemo(new Plan(this, _, _))

  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    plans(schema, nullValue).row(r)
}

/** A built-in formatter's rendering of one (schema, placeholder):
  * everything that depends only on them is worked out when the plan is
  * built. Immutable, so one plan is safely shared by threads.
  *
  * [[write]] gives the bytes of [[row]] over a `Row` that holds the
  * binary row's values: strings, numbers, dates and timestamps are read
  * from the binary row; every other cell is first converted as Spark's
  * deserializer converts it.
  */
private[engine] final class Plan(f: PlannedFormatter, val schema: StructType,
    val nullValue: Option[String]) {
  private val valueCell: Cell = (sb, v) => v match {
    case _: Boolean | _: Int | _: Long | _: Short | _: Byte | _: Double | _: Float |
        _: java.math.BigDecimal => Render.append(sb, v)
    case other => f.text(sb, Render.text(other))
  }
  private val stringCell: Cell = (sb, v) => v match {
    case s: String => f.text(sb, s)
    case other => valueCell.append(sb, other)
  }
  private val isoCell: Cell = (sb, v) => {
    val from = sb.length
    sb.append(f.isoQuote)
    if (Render.appendIso(sb, v)) sb.append(f.isoQuote)
    else { sb.setLength(from); valueCell.append(sb, v) }
  }

  private val order = {
    val fields = schema.fields.zipWithIndex
    if (f.sorted) fields.sortBy(_._1.name) else fields
  }
  private val columns = order.map(_._2)
  private val prefixes = order.zipWithIndex.map { case ((field, _), k) => f.prefix(rendered(field.name), k) }
  private val cells = order.map { case (field, _) =>
    field.dataType match {
      case StringType => stringCell
      case DateType | TimestampType | TimestampNTZType => isoCell
      case _ => valueCell
    }
  }
  private val nullCell = nullValue.fold(f.nullText)(rendered)

  private def rendered(s: String): String = {
    val sb = new JStringBuilder
    f.text(sb, s)
    sb.toString
  }

  def row(r: Row): String = {
    val sb = new JStringBuilder(64 * (columns.length + 1))
    sb.append(f.rowOpen)
    var k = 0
    while (k < columns.length) {
      sb.append(prefixes(k))
      val v = r.get(columns(k))
      if (v == null) sb.append(nullCell) else cells(k).append(sb, v)
      k += 1
    }
    sb.append(f.rowClose).toString
  }

  private val binaryCells = order.zip(cells).map { case ((field, _), cell) => binaryCell(field.dataType, cell) }

  def write(out: RowOut, r: InternalRow): Unit = {
    out.startRow()
    val sb = out.text
    sb.append(f.rowOpen)
    var k = 0
    while (k < columns.length) {
      sb.append(prefixes(k))
      val c = columns(k)
      if (r.isNullAt(c)) sb.append(nullCell) else binaryCells(k).write(out, r, c)
      k += 1
    }
    sb.append(f.rowClose)
  }

  private def binaryCell(t: DataType, cell: Cell): BinaryCell = t match {
    case BooleanType => (out, r, c) => out.text.append(r.getBoolean(c))
    case ByteType => (out, r, c) => out.text.append(r.getByte(c).toInt)
    case ShortType => (out, r, c) => out.text.append(r.getShort(c).toInt)
    case IntegerType => (out, r, c) => out.text.append(r.getInt(c))
    case LongType => (out, r, c) => out.text.append(r.getLong(c))
    case DoubleType => (out, r, c) => Render.appendDouble(out.text, r.getDouble(c))
    case FloatType => (out, r, c) => Render.appendFloat(out.text, r.getFloat(c))
    case StringType => (out, r, c) => {
      val s = r.getUTF8String(c)
      if (!out.plain(s, f)) cell.append(out.text, s.toString)
    }
    case DateType => (out, r, c) => cell.append(out.text, LocalDate.ofEpochDay(r.getInt(c)))
    // an Instant has the text of the LocalDateTime at UTC of the same micros
    case TimestampType | TimestampNTZType =>
      (out, r, c) => cell.append(out.text, DateTimeUtils.microsToInstant(r.getLong(c)))
    case d: DecimalType => (out, r, c) => cell.append(out.text, r.getDecimal(c, d.precision, d.scale).toJavaBigDecimal)
    case BinaryType => (out, r, c) => cell.append(out.text, r.getBinary(c))
    case _ => (out, r, c) => cell.append(out.text, out.row(r).get(c))
  }
}

/** The last plan a formatter built, reused while the schema (by
  * equality) and the placeholder stay the same.
  * The plan is published through a volatile field: threads that race
  * on a change of key each build a correct plan, and the last one
  * stays.
  */
private[engine] final class PlanMemo(build: (StructType, Option[String]) => Plan)
    extends Serializable {
  @transient @volatile private var last: Plan = _

  def apply(schema: StructType, nullValue: Option[String]): Plan = {
    val p = last
    if (p != null && ((p.schema eq schema) || p.schema == schema) && p.nullValue == nullValue) p
    else {
      val fresh = build(schema, nullValue)
      last = fresh
      fresh
    }
  }
}

/** One task's output: text appended to [[text]], and the bytes of
  * strings [[plain]] copies as they are, go in order into a reused
  * buffer, which is written to `sink` when it is full, on [[flush]] and
  * on [[close]];
  * a failed write is an upload error. `encoder` is the DataFrame's
  * `Row` encoder, made on the driver; it is bound and its deserializer
  * made on first use.
  */
private[engine] final class RowOut(sink: java.io.OutputStream, encoder: ExpressionEncoder[Row]) {
  private val buf = new Array[Byte](1 << 20)
  private var pos = 0
  private var utf16 = new Array[Char](1 << 12)
  private val view = new AsciiView
  private lazy val deserializer = encoder.resolveAndBind().createDeserializer()
  private var current: Row = _

  /** Text not yet encoded into the buffer. */
  val text = new JStringBuilder(1 << 12)

  /** Writes `s` between `f.quote`s, its bytes as they are, and returns
    * true when it is ASCII that `f` writes as is; otherwise writes
    * nothing and returns false.
    */
  def plain(s: UTF8String, f: PlannedFormatter): Boolean =
    s.isFullAscii && f.plain(view.of(s)) && {
      text.append(f.quote)
      emit()
      val n = s.numBytes
      if (n > buf.length - pos) write()
      if (n > buf.length) upload(s.writeTo(sink))
      else { s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos); pos += n }
      text.append(f.quote)
      true
    }

  /** Starts a row: forgets the row [[row]] deserialized, and writes the
    * text of earlier rows once it has grown.
    */
  def startRow(): Unit = {
    current = null
    if (text.length >= (1 << 12)) emit()
  }

  /** `r` as Spark's deserializer makes it, once per [[startRow]]. */
  def row(r: InternalRow): Row = {
    if (current == null) current = deserializer(r)
    current
  }

  /** Writes everything so far to `sink`. */
  def flush(): Unit = { emit(); write() }

  def close(): Unit = try flush() finally sink.close()

  /** Writes [[text]] as UTF-8, as `String.getBytes` encodes it (an
    * unpaired surrogate becomes `?`), and empties it.
    */
  private def emit(): Unit = {
    val n = text.length
    if (utf16.length < n) utf16 = new Array[Char](math.max(n, 2 * utf16.length))
    text.getChars(0, n, utf16, 0)
    text.setLength(0)
    val cs = utf16
    var i = 0
    while (i < n) {
      if (buf.length - pos < 4) write()
      val c = cs(i)
      if (c < 0x80) {
        // the ASCII run, as far as the buffer holds it
        val end = math.min(n, i + buf.length - pos)
        var p = pos
        while (i < end && cs(i) < 0x80) { buf(p) = cs(i).toByte; p += 1; i += 1 }
        pos = p
      } else {
        if (c < 0x800) {
          buf(pos) = (0xc0 | c >> 6).toByte; buf(pos + 1) = (0x80 | c & 0x3f).toByte; pos += 2
        } else if (!Character.isSurrogate(c)) {
          buf(pos) = (0xe0 | c >> 12).toByte; buf(pos + 1) = (0x80 | c >> 6 & 0x3f).toByte
          buf(pos + 2) = (0x80 | c & 0x3f).toByte; pos += 3
        } else if (Character.isHighSurrogate(c) && i + 1 < n && Character.isLowSurrogate(cs(i + 1))) {
          val cp = Character.toCodePoint(c, cs(i + 1))
          buf(pos) = (0xf0 | cp >> 18).toByte; buf(pos + 1) = (0x80 | cp >> 12 & 0x3f).toByte
          buf(pos + 2) = (0x80 | cp >> 6 & 0x3f).toByte; buf(pos + 3) = (0x80 | cp & 0x3f).toByte
          pos += 4; i += 1
        } else { buf(pos) = '?'; pos += 1 }
        i += 1
      }
    }
  }

  private def write(): Unit = {
    if (pos > 0) upload(sink.write(buf, 0, pos))
    pos = 0
  }

  private def upload(io: => Unit): Unit =
    try io catch { case e: java.io.IOException => throw new ArchiveException("upload", e) }
}

/** The bytes of an ASCII `UTF8String`, read as chars. */
private final class AsciiView extends CharSequence {
  private var s: UTF8String = _

  def of(s: UTF8String): AsciiView = { this.s = s; this }
  def length: Int = s.numBytes
  def charAt(i: Int): Char = s.getByte(i).toChar
  def subSequence(start: Int, end: Int): CharSequence = toString.substring(start, end)
  override def toString: String = s.toString
}

/** Go encoding/csv semantics: comma delimiter, `\n` terminator,
  * minimal quoting (`fieldNeedsQuotes`: a field containing `"` `,` CR
  * or LF, the field `\.`, or a first character that is
  * `unicode.IsSpace`), `"` escaped by doubling. Header on open.
  */
object CsvFormatter extends PlannedFormatter {
  def open(schema: StructType): String = schema.fieldNames.map(field).mkString(",") + "\n"
  val separator = ""
  val close = ""

  private[engine] val rowOpen = ""
  private[engine] val rowClose = "\n"
  private[engine] val sorted = false
  private[engine] def prefix(name: String, k: Int): String = if (k == 0) "" else ","
  private[engine] val nullText = ""
  private[engine] val isoQuote = ""
  private[engine] val quote = ""
  private[engine] def plain(s: CharSequence): Boolean = !needsQuotes(s)

  private[engine] def text(sb: JStringBuilder, s: String): Unit =
    if (!needsQuotes(s)) sb.append(s) else quote(sb, s)

  private def field(s: String): String =
    if (!needsQuotes(s)) s
    else {
      val sb = new JStringBuilder(s.length + 8)
      quote(sb, s)
      sb.toString
    }

  private def quote(sb: JStringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') sb.append("\"\"") else sb.append(c)
      i += 1
    }
    sb.append('"')
  }

  /** Go's `fieldNeedsQuotes`. */
  private def needsQuotes(s: CharSequence): Boolean = {
    val n = s.length
    if (n == 0) return false
    if (n == 2 && s.charAt(0) == '\\' && s.charAt(1) == '.') return true
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ',' || c == '"' || c == '\n' || c == '\r') return true
      i += 1
    }
    goSpace(s.charAt(0))
  }

  /** Go's `unicode.IsSpace` (every such rune is one UTF-16 char). */
  private def goSpace(c: Char): Boolean =
    if (c <= '\u00ff') c == ' ' || (c >= '\t' && c <= '\r') || c == '\u0085' || c == '\u00a0'
    else c == '\u1680' || (c >= '\u2000' && c <= '\u200a') || c == '\u2028' ||
      c == '\u2029' || c == '\u202f' || c == '\u205f' || c == '\u3000'
}

/** One JSON array of objects with alphabetically ordered keys (Go map
  * marshaling order), Go's HTML-escaping of `<` `>` `&` (json.Marshal
  * default) and its escapes of U+2028 and U+2029 — byte-compatible
  * with the golden corpus.
  */
object JsonArrayFormatter extends PlannedFormatter {
  def open(schema: StructType): String = "["
  val separator = ","
  val close = "]"

  private[engine] val rowOpen = "{"
  private[engine] val rowClose = "}"
  private[engine] val sorted = true
  private[engine] def prefix(name: String, k: Int): String = (if (k == 0) "" else ",") + name + ":"
  private[engine] val nullText = "null"
  private[engine] val isoQuote = "\""
  private[engine] val quote = "\""

  private[engine] def plain(s: CharSequence): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < ' ' || c == '"' || c == '\\' || c == '<' || c == '>' || c == '&' ||
        c == '\u2028' || c == '\u2029') return false
      i += 1
    }
    true
  }

  private[engine] def text(sb: JStringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '<' => sb.append("\\u003c")
        case '>' => sb.append("\\u003e")
        case '&' => sb.append("\\u0026")
        case '\u2028' => sb.append("\\u2028")
        case '\u2029' => sb.append("\\u2029")
        case c if c < ' ' => sb.append("\\u"); Render.hex(sb, c, 4)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** go-yaml block-sequence style: `- key: value` entries, keys sorted,
  * `null` for NULL; strings quoted only when plain style would
  * misresolve — double quotes when the text resolves to another type
  * (timestamp/bool/number/null), single quotes when it contains flow
  * punctuation (golden: ts_column double-quoted, json_column
  * single-quoted, plain strings bare).
  */
object YamlFormatter extends PlannedFormatter {
  def open(schema: StructType): String = ""
  val separator = ""
  val close = ""

  private[engine] val rowOpen = ""
  private[engine] val rowClose = "\n"
  private[engine] val sorted = true
  private[engine] def prefix(name: String, k: Int): String = (if (k == 0) "- " else "\n  ") + name + ": "
  private[engine] val nullText = "null"
  private[engine] val isoQuote = "\""
  private[engine] val quote = ""
  private[engine] def plain(s: CharSequence): Boolean =
    !control(s) && !mayLookTyped(s) && plainSafe(s)

  private val typedLike =
    ("^(true|false|yes|no|on|off|null|~|[-+]?[0-9]+|[-+]?(\\.inf)|\\.nan|" +
      "[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|" +
      "[0-9]{4}-[0-9]{2}-[0-9]{2}([Tt ][0-9:.]+([Zz]|[-+][0-9:]+)?)?)$").r

  /** False when `s` lowercased cannot match [[typedLike]]: the regex
    * then need not run. A letter starts only the words, of 2–5 letters
    * (lowercasing never shortens a text); non-ASCII is left to the regex.
    */
  private def mayLookTyped(s: CharSequence): Boolean = s.length > 0 && {
    val c = s.charAt(0)
    if (c >= 0x80) true
    else if ("tfynoTFYNO".indexOf(c) >= 0) s.length >= 2 && s.length <= 5
    else "~+-.0123456789".indexOf(c) >= 0
  }

  private val flow = {
    val t = new Array[Boolean](128)
    "{}[]#&*!|>'\"%@`,\n\r\t".foreach(c => t(c) = true)
    t
  }

  private def plainSafe(s: CharSequence): Boolean = {
    val n = s.length
    if (n == 0 || s.charAt(0) == ' ' || s.charAt(n - 1) == ' ' || s.charAt(n - 1) == ':' ||
      (n >= 2 && s.charAt(0) == '-' && s.charAt(1) == ' ')) return false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c < 128 && flow(c)) || (c == ':' && i + 1 < n && s.charAt(i + 1) == ' ')) return false
      i += 1
    }
    true
  }

  private def control(s: CharSequence): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) < ' ') return true; i += 1 }
    false
  }

  private[engine] def text(sb: JStringBuilder, s: String): Unit =
    if (control(s) || (mayLookTyped(s) && typedLike.matches(s.toLowerCase(Locale.ROOT)))) {
      // double-quoted style: the only style that represents control
      // characters faithfully (single-quoted folds raw newlines)
      sb.append('"')
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' => sb.append("\\\\")
          case '"' => sb.append("\\\"")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append("\\x"); Render.hex(sb, c, 2)
          case c => sb.append(c)
        }
        i += 1
      }
      sb.append('"')
    } else if (!plainSafe(s)) {
      sb.append('\'')
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\'') sb.append("''") else sb.append(c)
        i += 1
      }
      sb.append('\'')
    } else sb.append(s)
}

object RowFormatter {
  def of(format: Format): RowFormatter = format match {
    case Format.Csv => CsvFormatter
    case Format.JsonArray => JsonArrayFormatter
    case Format.Yaml => YamlFormatter
    case Format.Custom(formatter, _) => formatter
    case columnar => throw new IllegalArgumentException(
      s"$columnar has no row formatter — columnar formats go through Spark's writers")
  }

  /** How a task writes `fmt`'s rows of `schema` from Spark's binary
    * rows: a built-in format through its plan, any other through its
    * own `row` over the `Row` that `out` deserializes. With `lines`, each
    * row's text ends in exactly one newline: one is added unless the
    * text already ends in one. A built-in row's text ends in its
    * non-empty `rowClose` (a YAML entry's is a newline); a custom row's
    * is its `row` string.
    */
  private[engine] def writer(fmt: RowFormatter, schema: StructType,
      nullValue: Option[String], lines: Boolean = false): (RowOut, InternalRow) => Unit = fmt match {
    case p: PlannedFormatter =>
      val plan = p.plans(schema, nullValue)
      if (!lines || p.rowClose.endsWith("\n")) plan.write
      else (out, r) => { plan.write(out, r); out.text.append('\n') }
    case custom => (out, r) => {
      out.startRow()
      val text = custom.row(schema, out.row(r), nullValue)
      out.text.append(text)
      if (lines && !text.endsWith("\n")) out.text.append('\n')
    }
  }
}
