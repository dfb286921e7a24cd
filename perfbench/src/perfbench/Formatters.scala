package perfbench

import graft.engine.{Format, RowFormatter}
import org.apache.spark.sql.SparkSession

/** Kernel timing of the row formatters, outside Spark: `RowFormatter.row`
  * over a fixed in-memory sample of lineitem and synthetic rows.
  */
object Formatters {
  private val SampleRows = 2000
  private val Reps = 5

  /** `formatters.<csv|json|yaml>_ns_per_row`, each the median of [[Reps]]
    * timed loops of at least 50 ms.
    */
  def nsPerRow(spark: SparkSession, dataDir: String): Seq[(String, Double)] = {
    val samples = Seq("lineitem", "synthetic").map { t =>
      val df = spark.read.parquet(s"$dataDir/$t.parquet").limit(SampleRows)
      (df.schema, df.collect())
    }
    Seq("csv" -> Format.Csv, "json" -> Format.JsonArray, "yaml" -> Format.Yaml).map { case (k, f) =>
      val fmt = RowFormatter.of(f)
      val nul = Some("NULL")
      var sink = 0L
      val times = (1 to Reps).map { _ =>
        var rows = 0L
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 50000000L) {
          samples.foreach { case (schema, rs) =>
            rs.foreach(r => sink += fmt.row(schema, r, nul).length)
            rows += rs.length
          }
        }
        (System.nanoTime() - t0).toDouble / rows
      }.sorted
      require(sink > 0)
      s"formatters.${k}_ns_per_row" -> times(Reps / 2)
    }
  }
}
