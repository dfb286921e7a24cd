package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  private val sf = sf0001
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** The footer-resolved schema is used, and the read's schema equals
    * inference's, nullability and field metadata included.
    */
  private def assertFooterMatchesInference(path: String): Unit = {
    assert(Sources.footerSchema(spark, path).isDefined, s"$path fell back")
    assert(Sources.parquet(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  /** A case left to Spark: no footer schema, and the same schema or the
    * same exception class as the plain read.
    */
  private def assertFallsBack(path: String): Unit = {
    assert(Sources.footerSchema(spark, path).isEmpty, path)
    def outcome(schema: => StructType): Either[Class[_], StructType] =
      try Right(schema) catch { case e: Exception => Left(e.getClass) }
    assert(outcome(Sources.parquet(spark, path).schema) ==
      outcome(spark.read.parquet(path).schema), path)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("footer schema equals inferred schema for every testdata table") {
    tables.foreach(t => assertFooterMatchesInference(s"$sf/$t.parquet"))
  }

  test("footer schema follows nanosAsLong on events, both settings") {
    for (v <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
        assertFooterMatchesInference(s"$sf/events.parquet")
      }
  }

  test("footer schema of Spark-written files: decimal, timestamp, nested, metadata, several files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footer").toString
    val described = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "kept by the Spark metadata key").build()
    (1 to 30).toDF("id")
      .selectExpr("id", "CAST(id * 1.25 AS DECIMAL(12, 2)) AS amount",
        "timestamp_micros(id * 1000000L) AS ts", "CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ts_ntz",
        "named_struct('k', id, 'tags', array(CAST(id AS STRING))) AS nested",
        "map(CAST(id AS STRING), CAST(id AS DOUBLE)) AS m")
      .withColumn("id", $"id".as("id", described))
      .repartition(3).write.parquet(s"$dir/several")
    assert(new java.io.File(s"$dir/several").list().count(_.startsWith("part-")) == 3)
    assertFooterMatchesInference(s"$dir/several")
    assert(Sources.parquet(spark, s"$dir/several").schema("id").metadata == described)
    assert(Sources.parquet(spark, s"$dir/several").orderBy("id").collect().toSeq ==
      spark.read.parquet(s"$dir/several").orderBy("id").collect().toSeq)
  }

  test("globs, partitioned dirs, mergeSchema, missing and empty paths fall back to the plain read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fallback").toString
    Seq((1L, 10.0)).toDF("id", "v").write.parquet(s"$dir/flat")
    Seq((1L, 10.0)).toDF("id", "v").write.parquet(s"$dir/parted/g=1")
    Seq((2L, 20.0, "new")).toDF("id", "v", "tag").write.parquet(s"$dir/parted/g=2")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/empty"))
    assertFallsBack(s"$dir/flat/part-*")
    assertFallsBack(s"$dir/parted")
    withConf("spark.sql.parquet.mergeSchema", "true")(assertFallsBack(s"$dir/parted"))
    withConf("spark.sql.parquet.mergeSchema", "true")(assertFallsBack(s"$dir/flat"))
    assertFallsBack(s"$dir/missing")
    assertFallsBack(s"$dir/empty")
  }

  test("resolving the parquet schema submits no Spark job") {
    // the listener counts the one-task inference job of a plain read
    assert(jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet").schema)._2 == 1)
    tables.foreach { t =>
      assert(jobsDuring(Sources.parquet(spark, s"$sf/$t.parquet").schema)._2 == 0, t)
    }
  }

  test("parquet source reads the driver testdata") {
    val df = Sources.parquet(spark, "/root/testdata/sf0.001/region.parquet")
    assert(df.count() == 5)
  }

  test("csv round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft-sources").toString
    val path = s"$dir/t.csv"
    Files.writeString(java.nio.file.Paths.get(path),
      "id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    val df = Sources.csv(spark, path, Some("id INT, name STRING, score DOUBLE"))
    assert(df.schema.simpleString == "struct<id:int,name:string,score:double>")
    assert(df.count() == 2)
    assert(df.where("name = 'beta'").head().getDouble(2) == 2.5)
  }

  test("json lines source") {
    val dir = Files.createTempDirectory("graft-sources").toString
    val path = s"$dir/t.json"
    Files.writeString(java.nio.file.Paths.get(path),
      """{"id":1,"tag":"x"}""" + "\n" + """{"id":2,"tag":"y"}""" + "\n")
    val df = Sources.jsonLines(spark, path, Some("id BIGINT, tag STRING"))
    assert(df.count() == 2)
  }

  test("parquetMerged unions evolving schemas; default read would drop the new column") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    // generation 1: (id, v); generation 2 adds `tag`
    Seq((1L, 10.0)).toDF("id", "v").write.parquet(s"$dir/g=1")
    Seq((2L, 20.0, "new")).toDF("id", "v", "tag").write.parquet(s"$dir/g=2")
    val merged = Sources.parquetMerged(spark, dir)
    assert(merged.columns.toSet == Set("id", "v", "tag", "g"))
    val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("tag"))).toMap
    assert(byId == Map(1L -> None, 2L -> Some("new"))) // old files null-fill
  }

  test("xml source round-trip (native Spark 4 XML), attributes and nesting") {
    val dir = Files.createTempDirectory("graft-sources").toString
    val path = s"$dir/t.xml"
    Files.writeString(java.nio.file.Paths.get(path),
      """<rows><row id="1"><name>alpha</name><m><k>7</k></m></row>""" +
        """<row id="2"><name>beta &amp; co</name><m><k>9</k></m></row></rows>""")
    val df = Sources.xml(spark, path, "row",
      Some("_id BIGINT, name STRING, m STRUCT<k: BIGINT>"))
    assert(df.count() == 2)
    val beta = df.where("_id = 2").selectExpr("name", "m.k").head()
    assert(beta.getString(0) == "beta & co") // entity decoded by the parser
    assert(beta.getLong(1) == 9L)
  }

  test("jdbc builders construct without a live database") {
    // No DB in this container: assert the reader wiring fails only at
    // connect time with the JDBC stage's error, not a plan error.
    val e = intercept[Exception] {
      Sources.jdbcTable(spark, "jdbc:postgresql://nohost/db", "t").count()
    }
    assert(e.getMessage != null)
  }
}
