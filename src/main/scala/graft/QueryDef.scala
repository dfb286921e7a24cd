package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One named operator/query exposed through [[SparkEntry]].
  *
  * Cache-lifetime contract (r9, VERDICT item 7): an entry's `fn` MAY
  * `cache()` intermediates its plan consumes more than once (q83's
  * `val` view, e17's row-numbered base, e27/x25's multi-consumer
  * frames, d03's shingle table, c07's pair table). Release is owned
  * by the CALLER's session hygiene: Bench and Verify clear all Spark
  * caches before every entry (Bench.scala/Verify.scala `clearCache()`
  * per entry), so no entry's timing or memory ever includes another's
  * cached frames. A library user composing several operators in one
  * session owns the same hygiene —
  * `spark.sharedState.cacheManager.clearCache()` between operators,
  * or unpersist of frames it holds. All entry-level caches are
  * Spark-default MEMORY_AND_DISK, so accumulation under the LRU
  * degrades SPEED, never correctness. CacheScopeSpec pins that one
  * clearCache releases everything an entry cached.
  *
  * @param body   builds the result from (session, testdata dir); the
  *               entry's `fn` runs it after
  *               [[graft.functions.GraftFunctions.register]] has given
  *               the session graft's functions and TopK rules, so an
  *               entry works from a session built without
  *               [[graft.functions.GraftExtensions]]
  * @param oracle equivalent ANSI SQL the driver runs in DuckDB over the
  *               same parquet tables; None → driver falls back to a
  *               rows-only check (used for ops whose results depend on
  *               engine-internal hash functions, e.g. HLL / xxhash LSH).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String])(
    body: (SparkSession, String) => DataFrame) {
  val fn: (SparkSession, String) => DataFrame = { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    body(s, d)
  }
}

/** Shared helpers that keep Spark results hash-comparable with DuckDB.
  *
  * Determinism rules used across all queries (see SURVEY.md §7.3):
  *   - every query ends in a total ORDER BY over a unique key
  *   - NO DECIMAL output columns, ever. The driver renders the oracle
  *     side through float64 (shortest repr, '147196.0') but a Spark
  *     parquet DECIMAL keeps its scale ('147196.00'), so any value
  *     with a trailing zero in its last place hash-mismatches — this
  *     was the entire round-1 red set (17 queries, CORRECTNESS_r01).
  *     Aggregates therefore SUM IN THE DECIMAL DOMAIN (exact,
  *     order-independent) and emit the result CAST AS DOUBLE: the
  *     decimal→double conversion is correctly rounded in both engines
  *     (verified bit-exact incl. unscaled > 2^53 at scale 0), so both
  *     sides produce the identical float64.
  *   - per-row doubles (prices, cosines from strict-fold dots) are
  *     emitted raw — bit-identical across engines by construction
  *   - integer-ish outputs are BIGINT on both sides (DuckDB sum(int) is
  *     HUGEINT, Spark length() is INT — both need explicit casts)
  */
object Qdsl {
  /** per-row money value, exact at 2 decimals (tight precision so
    * decimal products never exceed precision 38 → no rounding) */
  val m2: DecimalType = DecimalType(12, 2)
  /** per-row rate in [0,1), exact at 2 decimals */
  val r2: DecimalType = DecimalType(4, 2)
  /** exact decimal-domain sum emitted as double — order-independent,
    * ≡ DuckDB `CAST(sum(CAST(x AS DECIMAL(12,2))) AS DOUBLE)`.
    *
    * Contract bound: cross-engine bit-equality of the emitted double
    * is verified for scale-2 sums whose unscaled (cent) value stays
    * within 2^52 (≈ $45 T per GROUP). Below that, both engines'
    * decimal→double conversions are exact or correctly rounded to the
    * same float64; beyond it DuckDB's two-step (double)unscaled/100.0
    * can differ from the JVM's correctly-rounded BigDecimal.doubleValue
    * by 1 ulp. No group sum approaches the bound at any TPC-H SF that
    * fits 100 TB; a pipeline that genuinely aggregates beyond $45 T in
    * one group should emit the decimal as a STRING instead. */
  def xsum2(c: Column): Column = sum(c.cast(m2)).cast("double")
  /** exact decimal-domain average emitted as double: decimal sum →
    * double, then one IEEE division by the group count */
  def xavg2(c: Column): Column = xsum2(c) / count(c)
  def big(c: Column): Column = c.cast("long")
}

/** Vector helpers shared by the dedup / similarity operators.
  *
  * Both the Spark side and the DuckDB oracles compute dot products and
  * norms as a strict left fold over doubles in element order, so the
  * resulting doubles are bit-identical across engines (same float→
  * double widening, same multiply, same sequential adds).
  */
object Vec {
  /** Spark SQL: left-fold dot product of two double arrays, via the
    * native codegen'd [[graft.functions.VecDot]] (bit-identical to the
    * `aggregate(zip_with(...))` HOF formulation, ~100× faster).
    */
  def dot(a: String, b: String): String = s"vec_dot($a, $b)"

  /** embeddings → (vec_id, label, v: array<double>, nrm: double). */
  def withNorm(embeddings: DataFrame): DataFrame = {
    embeddings.select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${dot("v", "v")})"))
  }

  /** DuckDB: same fold over a 64-element list (1-based indexing). */
  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** The (vec_id, label, v, nrm) projection by itself, for oracles
    * that need to SPLIT the corpus before the standard `n` alias
    * (s14's base/arrival partition).
    */
  val duckNormSelect: String =
    """SELECT vec_id, label,
      |  list_transform(embedding, x -> x::DOUBLE) AS v,
      |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings""".stripMargin

  /** DuckDB CTE producing (vec_id, label, v, nrm) from embeddings. */
  val duckNormCte: String = s"WITH n AS ($duckNormSelect)"
}
