package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._

/** End-to-end archive tests: DataFrame → format → exact-key object,
  * mirroring the reference's integration flow (archive → download →
  * compare golden, chiv_integration_test.go:313–319).
  */
class EngineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  private lazy val df: DataFrame = {
    val rows = Seq(
      ("ea09d13c-f441-4550-9492-115f8b409c96", "some text", Option("some chars"),
        42, Option(3.14), true, ts("2018-01-04T00:00:00Z"), """{"key":"value","num":42}"""),
      ("4289a9e3-32d5-4bad-b79b-034c528e8f41", "some other text", Option.empty[String],
        100, Option(3.141592), true, ts("2018-02-04T00:00:00Z"), """{"other":"value"}"""),
      ("7530a381-526a-42aa-a9ba-97fb2bca283f", "some more text", Option("some more chars"),
        101, Option.empty[Double], false, ts("2018-02-05T00:00:00Z"),
        """[{"item":"in an array"},{"num":999}]"""))
    import spark.implicits._
    rows.toDF("id", "text_column", "char_column", "int_column",
      "float_column", "bool_column", "ts_column", "json_column")
  }

  private def golden(name: String): String =
    new String(
      getClass.getResourceAsStream(s"/golden/$name").readAllBytes(),
      StandardCharsets.UTF_8)

  private def tmpDir: Path = Files.createTempDirectory("graft-engine-spec")

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  test("archiveDF writes one exact-named CSV object matching golden") {
    val dir = tmpDir
    val dest = new Engine(spark).archiveDF(df, dir.toString, "postgres_table")
    assert(dest == s"$dir/postgres_table.csv")
    assert(read(dest) == golden("postgres.csv"))
  }

  test("two tables archived sequentially through one Engine (chiv two-tables case)") {
    // chiv_integration_test.go:193–218: one Archiver, two Archive calls
    // into the same bucket, each object matching its own golden.
    import spark.implicits._
    val first = Seq(
      ("some second text", 22), ("lorem second ipsum", 23), ("final row", 24))
      .toDF("text_column", "integer_column")
    val second = Seq(("some text", 12), ("lorem ipsum", 13))
      .toDF("text_column", "integer_column")
    val dir = tmpDir
    val e = new Engine(spark)
    val d1 = e.archiveDF(first, dir.toString, "first_table")
    val d2 = e.archiveDF(second, dir.toString, "second_table")
    assert(d1 == s"$dir/first_table.csv" && d2 == s"$dir/second_table.csv")
    assert(read(d1) == golden("two_tables_first.csv"))
    assert(read(d2) == golden("two_tables_second.csv"))
  }

  test("format + key/extension options follow chiv defaulting") {
    val dir = tmpDir
    val e = new Engine(spark, ArchiveConfig(format = Format.JsonArray))
    assert(e.archiveDF(df, dir.toString, "t").endsWith("/t.json"))
    assert(e.archiveDF(df, dir.toString, "t", _.copy(extension = Some("dat")))
      .endsWith("/t.dat"))
    assert(e.archiveDF(df, dir.toString, "t", _.copy(key = Some("exact-key")))
      .endsWith("/exact-key"))
    // per-call override shadows constructor config, like chiv.go:87–91
    val y = e.archiveDF(df, dir.toString, "t", _.copy(format = Format.Yaml))
    assert(y.endsWith("/t.yaml") && read(y) == golden("postgres.yaml"))
  }

  test("JSON array framing matches golden (single object, no JSONL)") {
    val dir = tmpDir
    val dest = new Engine(spark, ArchiveConfig(format = Format.JsonArray))
      .archiveDF(df, dir.toString, "postgres_table")
    assert(read(dest) == golden("postgres.json"))
  }

  test("null placeholder overlay matches golden") {
    val dir = tmpDir
    val dest = new Engine(spark, ArchiveConfig(nullValue = Some("custom_null")))
      .archiveDF(df, dir.toString, "postgres_table")
    assert(read(dest) == golden("postgres_with_null.csv"))
  }

  test("column projection pushes to the plan and matches golden") {
    val dir = tmpDir
    val dest = new Engine(spark,
      ArchiveConfig(columns = Seq("id", "text_column", "int_column")))
      .archiveDF(df, dir.toString, "postgres_table")
    assert(read(dest) == golden("postgres_subset.csv"))
  }

  test("archiveDF of a join result matches join.csv (ArchiveRows parity)") {
    import spark.implicits._
    val first = Seq(
      ("eb3898fc-6727-4264-a3eb-0ec1f96fc511", "first row", 22),
      ("34182855-aef8-4cfa-a299-d442b30dbfd1", "lorem ipsum", 23),
      ("ddd09249-9461-4177-8b31-12bd0c21271a", "final row", 24))
      .toDF("id", "first_text", "first_int")
    val second = Seq(
      ("eb3898fc-6727-4264-a3eb-0ec1f96fc511", "some text", 12),
      ("34182855-aef8-4cfa-a299-d442b30dbfd1", "dolor est", 13))
      .toDF("id", "second_text", "second_int")
    val joined = first.join(second, "id")
      .orderBy("id") // golden row order
    val dir = tmpDir
    val dest = new Engine(spark).archiveDF(joined, dir.toString, "first_table_second_table")
    assert(read(dest) == golden("join.csv"))
  }

  test("errors carry the stage prefix (chiv error contract)") {
    // columns stage (≈ chiv_test.go's per-stage wrapped-error matrix)
    val e = intercept[ArchiveException] {
      new Engine(spark, ArchiveConfig(columns = Seq("nope")))
        .archiveDF(df, tmpDir.toString, "t")
    }
    assert(e.getMessage.startsWith("graft: columns: "))
    // query stage: missing source table
    val q = intercept[ArchiveException] {
      new Engine(spark).archive("/nonexistent-dir", "ghost", tmpDir.toString)
    }
    assert(q.getMessage.startsWith("graft: query: "))
    // upload stage: unwritable destination
    val u = intercept[ArchiveException] {
      new Engine(spark).archiveDF(df, "/proc/graft-cannot-write", "t")
    }
    assert(u.getMessage.startsWith("graft: upload: "))
  }

  test("archive() reads a named parquet table end-to-end") {
    val dir = tmpDir
    val dest = new Engine(spark,
      ArchiveConfig(columns = Seq("r_regionkey", "r_name")))
      .archive("/root/testdata/sf0.001", "region", dir.toString)
    val content = read(dest)
    assert(content.startsWith("r_regionkey,r_name\n"))
    assert(content.linesIterator.size == 6) // header + 5 regions
  }

  test("archiving an sf0.001 table submits exactly one Spark job: single CSV, JSON, YAML and custom objects, sharded Parquet") {
    // a new driver-side job (a schema probe, a count) fails here
    val dir = tmpDir.toString
    // a custom format sees the value classes of the Row path's cells:
    // a java.sql.Timestamp here, not a count of micros
    object Classes extends RowFormatter {
      def open(schema: org.apache.spark.sql.types.StructType): String = "#\n"
      def row(schema: org.apache.spark.sql.types.StructType,
          r: org.apache.spark.sql.Row, nullValue: Option[String]): String =
        r.toSeq.map(v => s"${v.getClass.getSimpleName}:$v").mkString("|", "|", "\n")
      val separator = ""
      val close = "#\n"
    }
    // single Parquet and ORC objects land through the row formats'
    // staging and commit routine too, so they are pinned here as well
    for (f <- Seq(Format.Csv, Format.JsonArray, Format.Yaml, Format.Custom(Classes, "cls"), Format.Parquet, Format.Orc)) {
      val single = jobsDuring(new Engine(spark, ArchiveConfig(format = f)).archive(sf0001, "orders", dir))
      assert(single._2 == 1, s"single $f object: ${single._2} jobs")
    }
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val rendered = src.rdd.collect().map(Classes.row(src.schema, _, None)).mkString
    assert(read(s"$dir/orders.cls") == "#\n" + rendered + "#\n")
    // sharded JSON and YAML run the single objects' task into a staged directory
    for (f <- Seq(Format.JsonArray, Format.Yaml)) {
      val sharded = jobsDuring(new Engine(spark, ArchiveConfig(format = f, sharded = true))
        .archive(sf0001, "orders", dir))
      assert(sharded._2 == 1, s"sharded $f archive: ${sharded._2} jobs")
    }
    val sharded = jobsDuring(new Engine(spark, ArchiveConfig(format = Format.Parquet, sharded = true))
      .archive(sf0001, "orders", dir))
    assert(sharded._2 == 1, s"sharded Parquet archive: ${sharded._2} jobs")
    assert(spark.read.parquet(sharded._1).count() ==
      spark.read.parquet(s"$sf0001/orders.parquet").count())
  }

  test("lint: Engine.scala formats the one planned query, never a second deserializing one") {
    val source = new String(Files.readAllBytes(Paths.get("src/main/scala/graft/engine/Engine.scala")),
      StandardCharsets.UTF_8)
    val offenders = source.linesIterator.zipWithIndex.collect {
      case (line, i) if """\.rdd\b""".r.findFirstIn(line).isDefined => s"${i + 1}: ${line.trim}"
    }.toList
    assert(offenders.isEmpty, s".rdd in Engine.scala:\n  ${offenders.mkString("\n  ")}")
  }

  test("lint: the engine spells each staging name shape once and parses no manifest with a regex") {
    // code lines only: whole-line comments and trailing // comments are skipped
    def code(p: Path): Seq[String] =
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
        .filterNot(l => Seq("//", "*", "/*").exists(l.trim.startsWith))
        .map(_.replaceAll("""\s//.*$""", "")).toSeq
    val engine = Files.list(Paths.get("src/main/scala/graft/engine")).iterator().asScala.toList
    assert(engine.exists(_.getFileName.toString == "Engine.scala"))
    val all = engine.flatMap(code)
    for (shape <- Seq(".staging-", ".compact-"))
      assert(all.map(java.util.regex.Pattern.quote(shape).r.findAllIn(_).size).sum == 1,
        s"$shape in:\n  ${all.filter(_.contains(shape)).mkString("\n  ")}")
    val manifestRegex = code(Paths.get("src/main/scala/graft/engine/Engine.scala"))
      .filter(l => l.contains("\"bytes\": (") || l.contains("\"rows\": ("))
    assert(manifestRegex.isEmpty, manifestRegex.mkString("\n  "))
  }

  test("lint: the engine renders dates and timestamps from their stored values") {
    // no datetime-API switch or calendar rebase to choose a rendering
    val banned = """java8|RebaseDateTime|datetimeJava8ApiEnabled""".r
    val sources = Files.list(Paths.get("src/main/scala/graft/engine")).iterator().asScala.toList.sortBy(_.toString)
    assert(sources.exists(_.getFileName.toString == "Formatters.scala"))
    val offenders = sources.flatMap { p =>
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n  "))
  }

  test("columnar formats: exact-key parquet object round-trips") {
    val dir = tmpDir
    val dest = new Engine(spark, ArchiveConfig(format = Format.Parquet))
      .archiveDF(df, dir.toString, "postgres_table")
    assert(dest.endsWith("/postgres_table.parquet"))
    assert(Files.isRegularFile(Paths.get(dest))) // one object, not a dir
    val back = spark.read.parquet(dest)
    assert(back.count() == 3)
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    // sharded ORC writes a directory through the committer
    val orcDest = new Engine(spark,
      ArchiveConfig(format = Format.Orc, sharded = true))
      .archiveDF(df, dir.toString, "t")
    assert(spark.read.orc(orcDest).count() == 3)
  }

  test("empty input: CSV is header-only, JSON is [], YAML is empty (chiv parity)") {
    val dir = tmpDir
    val none = df.where("1 = 0")
    val e = new Engine(spark)
    assert(read(e.archiveDF(none, dir.toString, "t"))
      == "id,text_column,char_column,int_column,float_column,bool_column,ts_column,json_column\n")
    assert(read(e.archiveDF(none, dir.toString, "t", _.copy(format = Format.JsonArray))) == "[]")
    assert(read(e.archiveDF(none, dir.toString, "t", _.copy(format = Format.Yaml))) == "")
  }

  test("empty input, sharded: JSON lands one empty shard, CSV one header-only shard") {
    val dir = tmpDir
    val none = df.where("1 = 0")
    def shards(dest: String): List[String] = {
      assert(Files.isDirectory(Paths.get(dest)), dest)
      Files.list(Paths.get(dest)).iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toList
        .map(n => read(s"$dest/$n"))
    }
    val json = new Engine(spark, ArchiveConfig(format = Format.JsonArray, sharded = true))
    assert(shards(json.archiveDF(none, dir.toString, "t")) == List(""))
    val csv = new Engine(spark, ArchiveConfig(format = Format.Csv, sharded = true))
    assert(shards(csv.archiveDF(none, dir.toString, "t")) ==
      List("id,text_column,char_column,int_column,float_column,bool_column,ts_column,json_column\n"))
  }

  test("sharded mode writes a part directory with headers") {
    val dir = tmpDir
    val dest = new Engine(spark, ArchiveConfig(sharded = true))
      .archiveDF(df.repartition(2), dir.toString, "postgres_table")
    val parts = Files.list(Paths.get(dest)).toArray.map(_.toString)
      .filter(_.contains("part-"))
    assert(parts.nonEmpty)
    val all = parts.sorted.map(read).mkString
    assert(all.contains("id,text_column"))
    assert(all.contains("ea09d13c-f441-4550-9492-115f8b409c96"))
  }

  test("partitionBy lays out hive-style directories, prunable and round-trippable") {
    import spark.implicits._
    val dir = tmpDir
    val src = Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"))
      .toDF("id", "lang", "text")
    val dest = new Engine(spark,
      ArchiveConfig(format = Format.Parquet, sharded = true, partitionBy = Seq("lang")))
      .archiveDF(src, dir.toString, "docs")
    val subdirs = Files.list(Paths.get(dest)).toArray.map(_.toString)
    assert(subdirs.exists(_.endsWith("lang=en")) && subdirs.exists(_.endsWith("lang=de")))
    // a partition-filtered read back sees only that directory's rows
    val back = graft.sources.Sources.parquet(spark, dest)
      .where(org.apache.spark.sql.functions.col("lang") === "en")
    assert(back.count() == 2)
    assert(back.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(lang"))
    // single-object mode cannot carry a layout
    val e = intercept[ArchiveException] {
      new Engine(spark, ArchiveConfig(partitionBy = Seq("lang")))
        .archiveDF(src, dir.toString, "docs2")
    }
    assert(e.getMessage.startsWith("graft: upload:"))
    // row-formatted shards reject it too, with guidance
    val y = intercept[ArchiveException] {
      new Engine(spark, ArchiveConfig(format = Format.Yaml, sharded = true,
        partitionBy = Seq("lang"))).archiveDF(src, dir.toString, "docs3")
    }
    assert(y.getMessage.contains("parquet/orc/csv"))
  }

  test("orc source reads back an orc archive") {
    import spark.implicits._
    val dir = tmpDir
    val src = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val dest = new Engine(spark, ArchiveConfig(format = Format.Orc))
      .archiveDF(src, dir.toString, "t")
    assert(dest.endsWith("/t.orc"))
    val back = graft.sources.Sources.orc(spark, dest).orderBy("id")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
  }

  test("user-supplied formatter rides both sink paths (open SPI, WithFormat parity)") {
    import spark.implicits._
    // a pipe-separated format with full framing — exercises every SPI
    // member (open/row/separator/close), none of which the shipped
    // formats use all at once
    object PipeFormatter extends RowFormatter {
      def open(schema: org.apache.spark.sql.types.StructType): String =
        schema.fieldNames.mkString("#", "|", "\n")
      def row(schema: org.apache.spark.sql.types.StructType,
          r: org.apache.spark.sql.Row, nullValue: Option[String]): String =
        (0 until r.length)
          .map(i => Render.cell(r.get(i), nullValue).getOrElse("NULL"))
          .mkString("|")
      val separator = "\n"
      val close = "\n#end\n"
    }
    val dir = tmpDir
    val src = Seq((1L, "x", Option.empty[String]), (2L, "y", Option("z")))
      .toDF("id", "v", "w")
    val cfg = ArchiveConfig(format = Format.Custom(PipeFormatter, "psv"))
    // single exact-named object: extension negotiation + framing
    val dest = new Engine(spark, cfg).archiveDF(src.coalesce(1), dir.toString, "t")
    assert(dest.endsWith("/t.psv"))
    assert(read(dest) == "#id|v|w\n1|x|NULL\n2|y|z\n#end\n")
    // null overlay flows through the custom row fn like any built-in
    val overlaid = new Engine(spark, cfg.copy(nullValue = Some("\\N")))
      .archiveDF(src.coalesce(1), dir.toString, "t2")
    assert(read(overlaid).contains("1|x|\\N"))
    // sharded path: rows only (framing has no parallel equivalent,
    // same degradation the JSON-lines sharded mode documents)
    val sharded = new Engine(spark, cfg.copy(sharded = true))
      .archiveDF(src.repartition(2), dir.toString, "t3")
    val parts = Files.list(Paths.get(sharded)).toArray.map(_.toString)
      .filter(_.contains("part-"))
    assert(parts.nonEmpty)
    val all = parts.sorted.map(read).mkString
    assert(all.contains("1|x|NULL") && all.contains("2|y|z"))
  }
}
