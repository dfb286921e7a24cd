package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order clustered layout: key correctness + the data-skipping
  * evidence the layout exists for — the SAME 2-D range predicate over
  * the same rows reads far fewer rows from the clustered layout than
  * from an unsorted one (Parquet row-group min/max pruning), and a
  * bloom-filtered point probe prunes further than stats alone allow.
  */
class ZorderSpec extends SparkSpec {

  /** Rows the Parquet reader actually produced (post row-group/page
    * pruning, pre any Spark-side Filter) — summed over the plan's file
    * scans after execution.
    */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
  }

  test("zOrder interleaves bits: locality in both dimensions") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
      .select(col("a"), col("b"), Engine.zOrder(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(df((0L, 0L)) == 0L)
    assert(df((1L, 0L)) == 2L) // a bit 0 → z bit 1
    assert(df((0L, 1L)) == 1L) // b bit 0 → z bit 0
    // 3 = 0b11, 5 = 0b101 → z = 0b10 11 11 -> a bits at odd, b at even:
    // a=011, b=101 → z = (0·2+1)·16 + ... = 0b011011 reordered: compute directly
    val expected = (0 until 16).map { i =>
      (((3L >> i) & 1L) << (2 * i + 1)) | (((5L >> i) & 1L) << (2 * i))
    }.reduce(_ | _)
    assert(df((3L, 5L)) == expected)
    assert(df((65535L, 65535L)) == (1L << 32) - 1)
  }

  /** Both layouts built once, on demand, so every test (and any
    * subset run in isolation) can depend on them.
    */
  private lazy val layoutsReady: Unit = {
    val dir = "/root/testdata/sf0.01"
    val li = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    new Engine(spark).archiveClustered(li, "graft_zspec_clustered",
      "l_partkey", "l_suppkey", bloomCol = Some("l_orderkey"))
    // control: same rows, same 128 KiB row groups, insertion order
    spark.sql("DROP TABLE IF EXISTS graft_zspec_unsorted")
    li.write.format("parquet").mode("overwrite")
      .option("parquet.block.size", 128 * 1024)
      .saveAsTable("graft_zspec_unsorted")
  }

  test("clustered layout prunes a 2-D range scan that an unsorted layout cannot") {
    layoutsReady
    def q(t: String): DataFrame = spark.table(t)
      .filter(col("l_partkey").between(100, 300) && col("l_suppkey").between(10, 40))
    // identical answers…
    assert(q("graft_zspec_clustered").agg(sum("l_quantity")).collect().toSeq ==
      q("graft_zspec_unsorted").agg(sum("l_quantity")).collect().toSeq)
    // …but the clustered scan reads a fraction of the rows
    val total = spark.table("graft_zspec_unsorted").count()
    val clustered = scanRows(q("graft_zspec_clustered"))
    val unsorted = scanRows(q("graft_zspec_unsorted"))
    assert(clustered * 4 < unsorted,
      s"row-group pruning should read <1/4 of the unsorted scan: clustered=$clustered unsorted=$unsorted total=$total")
  }

  test("pruning survives key domains beyond 2^16 (range-normalized codes)") {
    import spark.implicits._
    // keys up to ~4M: raw low-16-bit interleaving would alias values
    // 65536 apart into identical Z positions and pruning would collapse
    val big = spark.range(200000L)
      .select((col("id") * 21L).as("a"), pmod(col("id") * 977L, lit(4000000L)).as("b"),
        col("id").as("payload"))
    new Engine(spark).archiveClustered(big, "graft_zspec_bigdomain", "a", "b",
      rangePartitions = 4)
    val q = spark.table("graft_zspec_bigdomain")
      .filter(col("a").between(1000000L, 1200000L) && col("b").between(0L, 200000L))
    val read = scanRows(q)
    val total = 200000L
    assert(read * 4 < total,
      s"pruning should survive a 4M-wide domain: read=$read of $total")
  }

  test("bloom-filtered point probe reads fewer rows than the full table") {
    layoutsReady
    // the probe key (l_orderkey) is uncorrelated with the Z-order sort,
    // so min/max stats barely help — the bloom filter does the pruning
    val probe = spark.table("graft_zspec_clustered").select("l_orderkey")
      .orderBy("l_orderkey").limit(1).collect()(0).getLong(0)
    val read = scanRows(
      spark.table("graft_zspec_clustered").filter(col("l_orderkey") === probe))
    val total = spark.table("graft_zspec_clustered").count()
    assert(read * 2 < total,
      s"bloom probe should skip row groups: read=$read of $total")
  }
}
