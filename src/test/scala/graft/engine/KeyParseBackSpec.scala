package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** JSON and YAML archives parse back, with independent readers from
  * Spark's own jars (Jackson, SnakeYAML), to exactly the column names
  * as keys, in the plan's (sorted) order, on the single-object and the
  * sharded path. The names are the ones a raw key would break: quotes,
  * `: `, markup, YAML indicators and typed-looking words, a control
  * character, non-ASCII and a digit run.
  */
class KeyParseBackSpec extends SparkSpec {

  private val names = Seq("b\"q", "k: v", "<a&b>", "true", "#x", "- y", "x\ty", "ü", "12")

  private val schema = StructType(names.map(StructField(_, StringType)))

  /** Row `r` holds `"v<r>_<i>"` in column `i`. */
  private def expected(r: Int): Seq[(String, String)] =
    names.indices.map(i => names(i) -> s"v${r}_$i").sortBy(_._1)

  private lazy val df = spark.createDataFrame(
    java.util.Arrays.asList((0 until 4).map(r => Row.fromSeq(names.indices.map(i => s"v${r}_$i"))): _*),
    schema)

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** The single object, or the sharded parts in name order. */
  private def archived(format: Format, sharded: Boolean): String = {
    val dir = Files.createTempDirectory("graft-key-parse-back")
    val dest = new Engine(spark, ArchiveConfig(format = format, sharded = sharded))
      .archiveDF(df.repartition(2), dir.toString, "t")
    if (!sharded) read(Paths.get(dest))
    else Files.list(Paths.get(dest)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.toString).map(read).mkString
  }

  private def assertRows(objects: Seq[Seq[(String, String)]], what: String): Unit = {
    assert(objects.size == 4, what)
    val byFirstValue = objects.sortBy(_.head._2)
    byFirstValue.zipWithIndex.foreach { case (got, r) =>
      assert(got == expected(r), s"$what, row $r")
    }
  }

  /** Jackson's untyped reading: objects become insertion-ordered maps. */
  private def jsonObjects(text: String): Seq[Seq[(String, String)]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val parser = mapper.getFactory.createParser(text)
    try mapper.readValues(parser, classOf[Object]).asScala.toSeq.flatMap {
      case a: java.util.List[_] => a.asScala.toSeq
      case o => Seq(o)
    }.map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toSeq.map {
      case (k, v) => k -> String.valueOf(v)
    })
    finally parser.close()
  }

  private def yamlObjects(text: String): Seq[Seq[(String, String)]] =
    new org.yaml.snakeyaml.Yaml().load[java.util.List[java.util.Map[Any, Any]]](text)
      .asScala.toSeq.map(_.asScala.toSeq.map { case (k, v) =>
        (k match { case s: String => s; case other => s"<${other.getClass.getSimpleName}> $other" },
          String.valueOf(v))
      })

  test("JSON keys parse back exactly and in order: single object and sharded JSON lines") {
    assertRows(jsonObjects(archived(Format.JsonArray, sharded = false)), "single JSON")
    assertRows(jsonObjects(archived(Format.JsonArray, sharded = true)), "sharded JSON")
  }

  test("YAML keys parse back exactly and in order: single object and sharded parts") {
    assertRows(yamlObjects(archived(Format.Yaml, sharded = false)), "single YAML")
    assertRows(yamlObjects(archived(Format.Yaml, sharded = true)), "sharded YAML")
  }
}
