package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver's parquet testdata
  * (/root/testdata/sf*, see TESTDATA.md / FIXTURES.md §B).
  *
  * All tables are plain parquet reads; `events` needs special handling
  * because its `ts` column has shipped in two vintages: parquet
  * TIMESTAMP(NANOS) (rounds ≤ 4), which Spark only reads as raw BIGINT
  * nanos under the legacy flag, and plain timestamp[us] (round 5+),
  * which reads as TIMESTAMP_NTZ. Both normalize to the same
  * (ts TIMESTAMP, ts_us BIGINT) pair, matching DuckDB's `epoch_us(ts)`
  * on the same file so oracle queries agree bit-for-bit.
  */
object Tables {

  /** Why through [[graft.sources.Sources.parquet]]: its driver-side
    * footer read spares every table read Spark's schema-inference job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` normalized:
    *   - ts_us : epoch microseconds (BIGINT), exact
    *   - ts    : TIMESTAMP at microsecond precision (for window/session ops)
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** ts (BIGINT nanos | TIMESTAMP[_NTZ] µs) → (ts TIMESTAMP µs,
    * ts_us BIGINT), dispatching on the column's actual type:
    *   - BIGINT nanos (legacy-flag read of TIMESTAMP(NANOS)): raw
    *     nanos are > 2^53, so the division must be integral (`div`),
    *     never a double divide;
    *   - TIMESTAMP_NTZ (timestamp[us] files): the session timezone is
    *     pinned UTC everywhere (build.sbt / Verify / Bench / specs),
    *     so the NTZ→LTZ cast is the identity on the stored micros and
    *     unix_micros recovers exactly DuckDB's `epoch_us(ts)`.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** Total on-disk bytes of a source table — the cheap scale signal
    * SF-adaptive plan choices key on (one filesystem metadata call,
    * no Spark job): e.g. q80 materializes its twice-referenced CTE
    * only when the fact table is large enough that a second full
    * aggregate costs more than caching the first (guide §3.3). 0 for
    * a missing table.
    */
  def inputBytes(s: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Adaptive compute-spread for CPU-dense narrow stages over tiny
    * scans (optimization guide §2.5 "input skew" / §2.6 stragglers).
    * `documents.parquet` is ONE parquet row group at every test SF,
    * so every downstream tokenize / shingle / codec-synthesis /
    * decode / DP stage inherits a ONE-task scan and runs
    * single-threaded regardless of core count — the per-row work,
    * not the bytes, is the cost. When the plan yields fewer
    * partitions than the session's parallelism, hash-repartition on
    * `key` (deterministic placement — no round-robin, so no
    * sort-before-repartition pass and retry-safe row assignment)
    * with an EXPLICIT partition count, which AQE's byte-based
    * coalescing (blind to per-row CPU cost) never re-merges. At
    * scale the scan already splits into ≥ parallelism tasks and this
    * returns the input unchanged — no exchange is ever added on the
    * 100 TB path, where moving payload bytes twice would be the real
    * cost (guide §8).
    */
  def spreadForCompute(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, key)
  }

  /** [[documents]] with [[spreadForCompute]] applied — the loader for
    * operators whose per-row CPU (shingling, tokenization, simhash,
    * codec work) dominates the scan. Cheap metadata-style readers
    * keep using [[documents]]: for them the exchange would be pure
    * overhead.
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spreadForCompute(documents(s, d), col("doc_id"))
}
