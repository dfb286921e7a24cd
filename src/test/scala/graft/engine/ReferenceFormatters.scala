package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

/** The per-row formatters as they were before the per-schema plans:
  * the byte reference that `FormatterDifferentialSpec` holds the
  * planned formatters to. Verbatim except for the rules the plans
  * change on purpose, each marked `DELIBERATE`: CSV quotes a field Go's
  * `encoding/csv` quotes (`\.`, a leading Unicode space), YAML
  * lowercases in `Locale.ROOT`, not the JVM's default locale, JSON
  * and YAML keys are escaped and quoted like values, JSON escapes
  * U+2028 and U+2029, a `java.sql` date or timestamp is read as Spark
  * stores it, and a timestamp prints its proleptic year.
  */
object ReferenceRender {

  // DELIBERATE: `uuuu`, the proleptic year, not `yyyy` (year-of-era),
  // which printed year 0 as 0001 and year -5 as 0006
  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss'Z'")
  private val tsFracFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  def scalar(v: Any): Option[String] = v match {
    case null => None
    case d: Double => Some(num(d))
    case f: Float =>
      Some(if (f.isWhole && math.abs(f) < 1e15f) f.toLong.toString else f.toString)
    case dec: java.math.BigDecimal => Some(dec.stripTrailingZeros.toPlainString)
    case i: Instant => Some(ts(i))
    // DELIBERATE: a java.sql.Timestamp is the micros Spark stores for
    // it (undoing the Julian rebase before 1582-10-15), not its own
    // instant, with its own nanos as the fraction
    case t: java.sql.Timestamp =>
      Some(ts(Instant.ofEpochSecond(Math.floorDiv(DateTimeUtils.fromJavaTimestamp(t), 1000000L), t.getNanos)))
    case ldt: LocalDateTime => Some(ts(ldt.toInstant(ZoneOffset.UTC)))
    case d: java.time.LocalDate => Some(d.toString)
    // DELIBERATE: a java.sql.Date is the day count Spark stores for it,
    // not `toLocalDate`, which threw before year 1
    case d: java.sql.Date => Some(java.time.LocalDate.ofEpochDay(DateTimeUtils.fromJavaDate(d)).toString)
    case b: Array[Byte] => Some(java.util.Base64.getEncoder.encodeToString(b))
    case other => Some(other.toString)
  }

  private def num(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def ts(i: Instant): String = {
    val utc = i.atZone(ZoneOffset.UTC)
    if (i.getNano == 0) tsFmt.format(utc) else tsFracFmt.format(utc)
  }

  def cell(v: Any, nullValue: Option[String]): Option[String] =
    scalar(v).orElse(nullValue)
}

object ReferenceCsv extends RowFormatter {
  def open(schema: StructType): String =
    schema.fieldNames.map(quoteIfNeeded).mkString(",") + "\n"
  def row(schema: StructType, r: Row, nullValue: Option[String]): String =
    (0 until r.length)
      .map(i => ReferenceRender.cell(r.get(i), nullValue).fold("")(quoteIfNeeded))
      .mkString(",") + "\n"
  val separator = ""
  val close = ""

  private def quoteIfNeeded(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r') ||
      s.startsWith(" ") || s.startsWith("\t") ||
      // DELIBERATE: Go's fieldNeedsQuotes also quotes `\.` and any
      // field whose first rune is unicode.IsSpace
      s == "\\." || s.headOption.exists(c =>
        "\u000b\u000c\u0085\u00a0\u1680\u2028\u2029\u202f\u205f\u3000".contains(c) ||
        (c >= '\u2000' && c <= '\u200a')))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}

object ReferenceJson extends RowFormatter {
  def open(schema: StructType): String = "["
  def row(schema: StructType, r: Row, nullValue: Option[String]): String = {
    val fields = schema.fields.zipWithIndex
      .sortBy(_._1.name)
      .map { case (f, i) =>
        val v = r.get(i) match {
          case null => nullValue.map(escape).getOrElse("null")
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
          case d: Double => ReferenceRender.scalar(d).get
          case fl: Float => ReferenceRender.scalar(fl).get
          case dec: java.math.BigDecimal => dec.stripTrailingZeros.toPlainString
          case other => escape(ReferenceRender.scalar(other).get)
        }
        // DELIBERATE: the key escaped like a value, as Go's encoding/json does
        escape(f.name) + ":" + v
      }
    "{" + fields.mkString(",") + "}"
  }
  val separator = ","
  val close = "]"

  private def escape(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '<' => sb.append("\\u003c")
      case '>' => sb.append("\\u003e")
      case '&' => sb.append("\\u0026")
      // DELIBERATE: Go's encoding/json always escapes U+2028 and U+2029
      case '\u2028' => sb.append("\\u2028")
      case '\u2029' => sb.append("\\u2029")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }
}

object ReferenceYaml extends RowFormatter {
  def open(schema: StructType): String = ""
  def row(schema: StructType, r: Row, nullValue: Option[String]): String = {
    val fields = schema.fields.zipWithIndex
      .sortBy(_._1.name)
      .map { case (f, i) =>
        val v = r.get(i) match {
          case null => nullValue.map(scalarStyle).getOrElse("null")
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
          case d: Double => ReferenceRender.scalar(d).get
          case fl: Float => ReferenceRender.scalar(fl).get
          case dec: java.math.BigDecimal => dec.stripTrailingZeros.toPlainString
          case other => scalarStyle(ReferenceRender.scalar(other).get)
        }
        // DELIBERATE: the key quoted like a value, as go-yaml does
        s"${scalarStyle(f.name)}: $v"
      }
    fields.zipWithIndex
      .map { case (line, idx) => (if (idx == 0) "- " else "  ") + line }
      .mkString("", "\n", "\n")
  }
  val separator = ""
  val close = ""

  private val typedLike =
    ("^(true|false|yes|no|on|off|null|~|[-+]?[0-9]+|[-+]?(\\.inf)|\\.nan|" +
      "[-+]?[0-9]*\\.[0-9]+([eE][-+]?[0-9]+)?|" +
      "[0-9]{4}-[0-9]{2}-[0-9]{2}([Tt ][0-9:.]+([Zz]|[-+][0-9:]+)?)?)$").r

  private def plainSafe(s: String): Boolean =
    s.nonEmpty && !s.exists(c => "{}[]#&*!|>'\"%@`,\n\r\t".contains(c)) &&
      !s.startsWith(" ") && !s.endsWith(" ") && !s.startsWith("- ") &&
      !s.contains(": ") && !s.endsWith(":")

  private def scalarStyle(s: String): String =
    if (s.exists(c => c == '\n' || c == '\r' || c == '\t' || c < ' ') ||
      // DELIBERATE: Locale.ROOT, so the style cannot depend on the JVM locale
      typedLike.matches(s.toLowerCase(java.util.Locale.ROOT)))
      "\"" + s.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\x${c.toInt}%02x"
        case c => c.toString
      } + "\""
    else if (!plainSafe(s))
      "'" + s.replace("'", "''") + "'"
    else s
}
