package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import java.util.Properties
import scala.util.control.NonFatal

/** Source surface (SURVEY.md §2.1). The reference reads exactly one
  * kind of source — a `database/sql` cursor over Postgres/MariaDB
  * (chiv.go:200–215 builds `SELECT <cols> FROM <table>;`,
  * cmd/chiv/main.go:16–17 registers the two drivers). Spark's JDBC
  * source issues the same SELECT with projection and predicate
  * pushdown, plus what the reference cannot do: partitioned parallel
  * reads (the 100 TB scan path) and file formats.
  */
object Sources {

  /** Full-table scan (S1): `SELECT <cols> FROM <table>` at the
    * source. `columns` narrows the SELECT list exactly like
    * `WithColumns` (chiv_options.go:35–39) — Catalyst pushes the
    * pruning into the JDBC query.
    */
  def jdbcTable(spark: SparkSession, url: String, table: String,
      columns: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): DataFrame = {
    val df = spark.read.jdbc(url, table, toProps(props))
    if (columns.nonEmpty) df.select(columns.map(df.col): _*) else df
  }

  /** Partitioned full-table scan: N executors each read one stride of
    * `partitionColumn` — the scale path the reference's single cursor
    * cannot express.
    */
  def jdbcTablePartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int,
      props: Map[String, String] = Map.empty): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, toProps(props))

  /** Arbitrary-query scan (S2, ≈ `ArchiveRows`): the caller's SQL
    * runs at the source; Spark reads the cursor.
    */
  def jdbcQuery(spark: SparkSession, url: String, query: String,
      props: Map[String, String] = Map.empty): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("query", query)
      .options(props)
      .load()

  /** File sources (S6): self-describing parquet, header'd CSV with
    * schema inference or an explicit DDL schema, JSON lines.
    *
    * `parquet` is the one plain-parquet reader. Why: Spark infers a
    * missing schema through a one-task job; reading that footer on the
    * driver ([[footerSchema]]) spares every table read and archive it.
    * Layouts it leaves to Spark fall back to the plain read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema Spark's inference would give a plain read of `path`
    * (`ParquetUtils.inferSchema` with `mergeSchema` off), from one
    * footer read on the driver. It picks the file inference reads:
    * `_common_metadata`, else `_metadata`, else the first data file by
    * sorted path, among the entries the file index keeps. `None` for
    * every case it leaves to Spark: a glob, `mergeSchema` on, a
    * missing or hidden path, a directory with sub-directories (nested
    * or `k=v` partitioned), a streaming sink's output, no data file,
    * an unreadable footer, or an empty schema.
    */
  private[sources] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf)
      val rootStatus = fs.getFileStatus(root)
      val leaves =
        if (rootStatus.isFile) Option.when(!hidden(root.getName))(Seq(rootStatus))
        else {
          val children = fs.listStatus(root).toSeq
          val kept = children.filterNot(c => hidden(c.getPath.getName))
          val streamSink = children.exists(_.getPath.getName == "_spark_metadata")
          if (streamSink || kept.exists(_.isDirectory)) None else Some(kept)
        }
      leaves.flatMap { files =>
        val sorted = files.sortBy(_.getPath.toString)
        summaryFiles.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
          .orElse(sorted.find(f => !summaryFiles.contains(f.getPath.getName)))
      }.map { file =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        // the converter inference builds (`mergeSchemasInParallel`):
        // these five settings from the session, the rest at defaults
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
      }.filter(_.nonEmpty)
    } catch { case NonFatal(_) => None }
  }

  /** Summary files, in the order inference prefers them. */
  private val summaryFiles =
    Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)

  /** Names the file index leaves out (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
  }

  /** Parquet read across an EVOLVING schema: union the footer schemas
    * of every file (`mergeSchema`), so a column added mid-history is
    * null-filled for older files instead of silently dropped (the
    * default reads only one footer). The flag costs one footer read
    * per file at planning — fine for a lake directory, which is why it
    * is an explicit entry point rather than the parquet() default.
    */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def csv(spark: SparkSession, path: String, schemaDDL: Option[String] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schemaDDL.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  def jsonLines(spark: SparkSession, path: String, schemaDDL: Option[String] = None): DataFrame = {
    val r = spark.read
    schemaDDL.fold(r)(s => r.schema(s)).json(path)
  }

  /** XML file source (native in Spark 4 — the merged spark-xml): one
    * row per `rowTag` element, schema inferred or supplied. Scale
    * note: XML files split per top-level record like JSON lines, so
    * the scan parallelizes; prefer columnar for anything hot — this
    * exists because lakes ingest what they're given.
    */
  def xml(spark: SparkSession, path: String, rowTag: String = "row",
      schemaDDL: Option[String] = None): DataFrame = {
    val r = spark.read.option("rowTag", rowTag)
    schemaDDL.fold(r)(s => r.schema(s)).format("xml").load(path)
  }

  private def toProps(m: Map[String, String]): Properties = {
    val p = new Properties()
    m.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }
}
