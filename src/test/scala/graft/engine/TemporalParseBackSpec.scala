package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, date_from_unix_date, timestamp_micros}
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampNTZType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.TimeZone
import scala.jdk.CollectionConverters._

/** Dates and timestamps archive as the text of the values Spark
  * stores, at Spark's default conf (java8API off, so every `Row` holds
  * `java.sql` values): a parquet table whose TIMESTAMP, TIMESTAMP_NTZ
  * and DATE columns hold years -5, 0, 1, 1000, both sides of the 1582
  * calendar switch and 2024 is archived as single CSV, JSON and YAML
  * objects and as sharded JSON and YAML, and rendered by the `Row` SPI
  * from collected rows. Each output is parsed back with an independent
  * reader: Spark's CSV reader, Jackson, SnakeYAML.
  */
class TemporalParseBackSpec extends SparkSpec {

  private val stored = Seq(
    LocalDateTime.of(-5, 3, 1, 1, 2, 3),
    LocalDateTime.of(0, 2, 29, 12, 0, 0),
    LocalDateTime.of(1, 1, 1, 0, 0, 0),
    LocalDateTime.of(1000, 6, 1, 12, 0, 0),
    LocalDateTime.of(1582, 10, 4, 23, 59, 59, 123456000),
    LocalDateTime.of(1582, 10, 15, 0, 0, 0),
    LocalDateTime.of(2024, 2, 29, 1, 2, 3, 456789000))

  /** Row `id`'s temporal cells as `java.time` prints the stored values;
    * a TIMESTAMP_NTZ prints as the instant of its wall clock at UTC.
    */
  private def expected(id: Int): Map[String, String] = {
    val instant = stored(id).toInstant(ZoneOffset.UTC).toString
    Map("ts" -> instant, "ntz" -> instant, "d" -> stored(id).toLocalDate.toString)
  }

  /** The directory that holds `temporal.parquet`. */
  private lazy val source: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-temporal-source")
    stored.zipWithIndex.map { case (ldt, id) =>
      val instant = ldt.toInstant(ZoneOffset.UTC)
      (id, Math.addExact(Math.multiplyExact(instant.getEpochSecond, 1000000L), instant.getNano / 1000L),
        ldt.toLocalDate.toEpochDay.toInt)
    }.toDF("id", "us", "days")
      .select(col("id"), timestamp_micros(col("us")).as("ts"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ntz"), date_from_unix_date(col("days")).as("d"))
      .repartition(2)
      .write.parquet(dir.resolve("temporal.parquet").toString)
    dir.toString
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** The archive's destination: one object, or a directory of parts. */
  private def archive(format: Format, sharded: Boolean): String = {
    val out = Files.createTempDirectory("graft-temporal-out").toString
    new Engine(spark, ArchiveConfig(format = format, sharded = sharded)).archive(source, "temporal", out)
  }

  /** The single object, or the sharded parts in name order. */
  private def text(dest: String, sharded: Boolean): String =
    if (!sharded) read(Paths.get(dest))
    else Files.list(Paths.get(dest)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.toString).map(read).mkString

  private val names = Seq("id", "ts", "ntz", "d")

  private def csvReader =
    spark.read.option("header", "true").schema(StructType(names.map(StructField(_, StringType))))

  private def csvObjects(rows: Array[org.apache.spark.sql.Row]): Seq[Map[String, String]] =
    rows.toSeq.map(r => names.zipWithIndex.map { case (n, i) => n -> r.getString(i) }.toMap)

  /** Jackson's untyped reading of a JSON array or of JSON lines. */
  private def jsonObjects(text: String): Seq[Map[String, String]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val parser = mapper.getFactory.createParser(text)
    try mapper.readValues(parser, classOf[Object]).asScala.toSeq.flatMap {
      case a: java.util.List[_] => a.asScala.toSeq
      case o => Seq(o)
    }.map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap.map { case (k, v) => k -> String.valueOf(v) })
    finally parser.close()
  }

  private def yamlObjects(text: String): Seq[Map[String, String]] =
    new org.yaml.snakeyaml.Yaml().load[java.util.List[java.util.Map[Any, Any]]](text)
      .asScala.toSeq.map(_.asScala.toMap.map { case (k, v) => String.valueOf(k) -> String.valueOf(v) })

  private def assertStored(objects: Seq[Map[String, String]], what: String): Unit = {
    assert(objects.map(_("id").toInt).sorted == stored.indices, what)
    objects.foreach { o =>
      val id = o("id").toInt
      assert(o - "id" == expected(id), s"$what, row $id")
    }
  }

  /** Runs `body` with the JVM's default zone set to `zone`. */
  private def inZone[T](zone: String)(body: => T): T = {
    val saved = TimeZone.getDefault
    TimeZone.setDefault(TimeZone.getTimeZone(zone))
    try body finally TimeZone.setDefault(saved)
  }

  private val zones = Seq(TimeZone.getDefault.getID, "America/Los_Angeles")

  test("single CSV, JSON and YAML objects parse back to the stored dates and timestamps") {
    for (zone <- zones) inZone(zone) {
      assertStored(csvObjects(csvReader.csv(archive(Format.Csv, sharded = false)).collect()),
        s"single CSV, $zone")
      assertStored(jsonObjects(text(archive(Format.JsonArray, sharded = false), sharded = false)),
        s"single JSON, $zone")
      assertStored(yamlObjects(text(archive(Format.Yaml, sharded = false), sharded = false)),
        s"single YAML, $zone")
    }
  }

  test("sharded JSON and YAML parts parse back to the stored dates and timestamps") {
    for (zone <- zones) inZone(zone) {
      assertStored(jsonObjects(text(archive(Format.JsonArray, sharded = true), sharded = true)),
        s"sharded JSON, $zone")
      assertStored(yamlObjects(text(archive(Format.Yaml, sharded = true), sharded = true)),
        s"sharded YAML, $zone")
    }
  }

  test("the Row SPI renders collected rows as the stored dates and timestamps") {
    // the rows hold java.sql values, in the JVM zone's hybrid calendar;
    // it has no local day 1582-10-05 to 10-14, which in a zone other
    // than UTC holds one of the values on either side of the switch,
    // so no java.sql value can carry it: the archives above, which read
    // binary rows, are the paths checked in such a zone
    inZone("UTC") {
      val df = spark.read.parquet(s"$source/temporal.parquet")
      val rows = df.collect()
      def rendered(f: Format) = {
        val fmt = RowFormatter.of(f)
        rows.map(fmt.row(df.schema, _, None)).mkString(fmt.open(df.schema), fmt.separator, fmt.close)
      }
      import spark.implicits._
      val csv = rendered(Format.Csv).split("\n").toSeq
      assertStored(csvObjects(csvReader.csv(csv.toDS()).collect()), "Row SPI, CSV")
      assertStored(jsonObjects(rendered(Format.JsonArray)), "Row SPI, JSON")
      assertStored(yamlObjects(rendered(Format.Yaml)), "Row SPI, YAML")
    }
  }

  test("java8API off and on archive the same bytes") {
    val key = "spark.sql.datetime.java8API.enabled"
    for (zone <- zones; f <- Seq(Format.Csv, Format.JsonArray, Format.Yaml); sharded <- Seq(false, true)
        if !(sharded && f == Format.Csv)) inZone(zone) {
      def bytes(java8: Boolean): String = {
        spark.conf.set(key, java8)
        try text(archive(f, sharded), sharded) finally spark.conf.unset(key)
      }
      assert(bytes(java8 = false) == bytes(java8 = true), s"$f, sharded $sharded, $zone")
    }
  }
}
