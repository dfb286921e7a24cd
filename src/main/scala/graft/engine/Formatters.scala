package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

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
  * Each built-in formatter renders through a [[Plan]] built once per
  * (schema, placeholder) and memoized in a [[PlanMemo]]; the per-row
  * work is appending cells into one `StringBuilder`
  * (OPTIMIZATION_r09.md §10).
  */
object Render {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val tsFracFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

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
    case d: Double =>
      if (d.isWhole && math.abs(d) < 1e15) sb.append(d.toLong) else sb.append(d)
    // floats keep their own shortest form — widening to double would
    // print binary noise (3.14f.toDouble = 3.140000104904175)
    case f: Float =>
      if (f.isWhole && math.abs(f) < 1e15f) sb.append(f.toLong) else sb.append(f)
    case dec: java.math.BigDecimal => sb.append(dec.stripTrailingZeros.toPlainString)
    case i: Instant => if (!appendIso(sb, i)) sb.append(ts(i))
    case t: java.sql.Timestamp => if (!appendIso(sb, t)) sb.append(ts(t.toInstant))
    case ldt: LocalDateTime => if (!appendIso(sb, ldt)) sb.append(ts(ldt.toInstant(ZoneOffset.UTC)))
    case d: LocalDate => if (!appendDate(sb, d)) sb.append(d.toString)
    case d: java.sql.Date =>
      val ld = d.toLocalDate
      if (!appendDate(sb, ld)) sb.append(ld.toString)
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b))
    case other => sb.append(other.toString)
  }

  private def ts(i: Instant): String = {
    val utc = i.atZone(ZoneOffset.UTC)
    if (i.getNano == 0) tsFmt.format(utc) else tsFracFmt.format(utc)
  }

  // 0001-01-01T00:00:00Z and 10000-01-01T00:00:00Z in epoch seconds:
  // the years whose `yyyy` (year-of-era) text is four plain digits
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
    // Timestamp.getTime includes the millis of getNanos: its floor in
    // seconds is toInstant's epoch second
    case t: java.sql.Timestamp => appendEpoch(sb, Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case ldt: LocalDateTime =>
      val y = ldt.getYear
      (y >= 1 && y <= 9999) && {
        appendDateTime(sb, y, ldt.getMonthValue, ldt.getDayOfMonth,
          ldt.getHour * 3600 + ldt.getMinute * 60 + ldt.getSecond, ldt.getNano)
        true
      }
    case d: LocalDate => appendDate(sb, d)
    case d: java.sql.Date => appendDate(sb, d.toLocalDate)
    case _ => false
  }

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

/** A built-in formatter's rendering of one (schema, placeholder):
  * everything that depends only on them is worked out when the plan
  * is built. Immutable, so one plan is safely shared by threads.
  */
private[engine] abstract class Plan(val schema: StructType, val nullValue: Option[String]) {
  def row(r: Row): String
}

/** JSON and YAML: cells in name order (stable, so duplicate names keep
  * schema order), each after its pre-rendered key, between `open` and
  * `close`. Each key is the field name through `text`, as Go escapes a
  * map key like a value; `key` adds the separators. Booleans and
  * numbers are written bare; any other text, including the
  * placeholder of a NULL cell, through `text`.
  */
private[engine] final class SortedPlan(schema: StructType, nullValue: Option[String],
    open: String, key: (String, Int) => String, text: (JStringBuilder, String) => Unit,
    close: String) extends Plan(schema, nullValue) {
  private val valueCell: Cell = (sb, v) => v match {
    case _: Boolean | _: Int | _: Long | _: Short | _: Byte | _: Double | _: Float |
        _: java.math.BigDecimal => Render.append(sb, v)
    case other => text(sb, Render.text(other))
  }
  private val stringCell: Cell = (sb, v) => v match {
    case s: String => text(sb, s)
    case other => valueCell.append(sb, other)
  }
  // ISO text with a four-digit year holds nothing JSON escapes and
  // resolves as a YAML timestamp: both write it double-quoted as is
  private val isoCell: Cell = (sb, v) => {
    val from = sb.length
    sb.append('"')
    if (Render.appendIso(sb, v)) sb.append('"')
    else { sb.setLength(from); valueCell.append(sb, v) }
  }

  private val sorted = schema.fields.zipWithIndex.sortBy(_._1.name)
  private val columns = sorted.map(_._2)
  private val keys = sorted.zipWithIndex.map { case ((f, _), k) => key(rendered(f.name), k) }
  private val cells = sorted.map { case (f, _) =>
    f.dataType match {
      case StringType => stringCell
      case DateType | TimestampType | TimestampNTZType => isoCell
      case _ => valueCell
    }
  }
  private val nullText = nullValue.fold("null")(rendered)

  private def rendered(s: String): String = {
    val sb = new JStringBuilder
    text(sb, s)
    sb.toString
  }

  def row(r: Row): String = {
    val sb = new JStringBuilder(64 * (columns.length + 1))
    sb.append(open)
    var k = 0
    while (k < columns.length) {
      sb.append(keys(k))
      val v = r.get(columns(k))
      if (v == null) sb.append(nullText) else cells(k).append(sb, v)
      k += 1
    }
    sb.append(close).toString
  }
}

/** The last plan a formatter built, reused while the schema (by
  * equality) and the placeholder stay the same. The plan is published
  * through a volatile field: threads that race on a change of schema
  * each build a correct plan, and the last one stays.
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

/** Go encoding/csv semantics: comma delimiter, `\n` terminator,
  * minimal quoting (`fieldNeedsQuotes`: a field containing `"` `,` CR
  * or LF, the field `\.`, or a first character that is
  * `unicode.IsSpace`), `"` escaped by doubling. Header on open.
  */
object CsvFormatter extends RowFormatter {
  def open(schema: StructType): String = schema.fieldNames.map(field).mkString(",") + "\n"
  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    plans(schema, nullValue).row(r)
  val separator = ""
  val close = ""

  private val plans = new PlanMemo(new CsvPlan(_, _))

  /** Every cell of the row, in row order, after its comma. */
  private final class CsvPlan(schema: StructType, nullValue: Option[String])
      extends Plan(schema, nullValue) {
    private val nullText = nullValue.fold("")(field)

    def row(r: Row): String = {
      val sb = new JStringBuilder(32 * (r.length + 1))
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        val v = r.get(i)
        if (v == null) sb.append(nullText)
        else {
          // render in place; quote only the rare cell that needs it
          val from = sb.length
          Render.append(sb, v)
          if (needsQuotes(sb, from)) {
            val s = sb.substring(from)
            sb.setLength(from)
            quote(sb, s)
          }
        }
        i += 1
      }
      sb.append('\n').toString
    }
  }

  private def field(s: String): String =
    if (!needsQuotes(s, 0)) s
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

  /** Go's `fieldNeedsQuotes` for the field `s.subSequence(from)`. */
  private def needsQuotes(s: CharSequence, from: Int): Boolean = {
    val n = s.length - from
    if (n == 0) return false
    if (n == 2 && s.charAt(from) == '\\' && s.charAt(from + 1) == '.') return true
    var i = from
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ',' || c == '"' || c == '\n' || c == '\r') return true
      i += 1
    }
    goSpace(s.charAt(from))
  }

  /** Go's `unicode.IsSpace` (every such rune is one UTF-16 char). */
  private def goSpace(c: Char): Boolean =
    if (c <= '\u00ff') c == ' ' || (c >= '\t' && c <= '\r') || c == '\u0085' || c == '\u00a0'
    else c == '\u1680' || (c >= '\u2000' && c <= '\u200a') || c == '\u2028' ||
      c == '\u2029' || c == '\u202f' || c == '\u205f' || c == '\u3000'
}

/** One JSON array of objects with alphabetically ordered keys (Go map
  * marshaling order) and Go's HTML-escaping of `<` `>` `&`
  * (json.Marshal default) — byte-compatible with the golden corpus.
  */
object JsonArrayFormatter extends RowFormatter {
  def open(schema: StructType): String = "["
  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    plans(schema, nullValue).row(r)
  val separator = ","
  val close = "]"

  private val plans = new PlanMemo((schema, nullValue) =>
    new SortedPlan(schema, nullValue, "{",
      (name, k) => (if (k == 0) "" else ",") + name + ":", string, "}"))

  private def string(sb: JStringBuilder, s: String): Unit = {
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
object YamlFormatter extends RowFormatter {
  def open(schema: StructType): String = ""
  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    plans(schema, nullValue).row(r)
  val separator = ""
  val close = ""

  private val plans = new PlanMemo((schema, nullValue) =>
    new SortedPlan(schema, nullValue, "",
      (name, k) => (if (k == 0) "- " else "\n  ") + name + ": ", scalar, "\n"))

  private val typedLike =
    ("^(true|false|yes|no|on|off|null|~|[-+]?[0-9]+|[-+]?(\\.inf)|\\.nan|" +
      "[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|" +
      "[0-9]{4}-[0-9]{2}-[0-9]{2}([Tt ][0-9:.]+([Zz]|[-+][0-9:]+)?)?)$").r

  /** False when `s` lowercased cannot match [[typedLike]]: the regex
    * then need not run. A letter starts only the words, of 2–5 letters
    * (lowercasing never shortens a text); non-ASCII is left to the regex.
    */
  private def mayLookTyped(s: String): Boolean = s.nonEmpty && {
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

  private def plainSafe(s: String): Boolean = {
    val n = s.length
    if (n == 0 || s.charAt(0) == ' ' || s.charAt(n - 1) == ' ' || s.charAt(n - 1) == ':' ||
      s.startsWith("- ")) return false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c < 128 && flow(c)) || (c == ':' && i + 1 < n && s.charAt(i + 1) == ' ')) return false
      i += 1
    }
    true
  }

  private def scalar(sb: JStringBuilder, s: String): Unit = {
    var control = false
    var i = 0
    while (!control && i < s.length) { control = s.charAt(i) < ' '; i += 1 }
    if (control || (mayLookTyped(s) && typedLike.matches(s.toLowerCase(Locale.ROOT)))) {
      // double-quoted style: the only style that represents control
      // characters faithfully (single-quoted folds raw newlines)
      sb.append('"')
      i = 0
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
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\'') sb.append("''") else sb.append(c)
        i += 1
      }
      sb.append('\'')
    } else sb.append(s)
  }
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
}
