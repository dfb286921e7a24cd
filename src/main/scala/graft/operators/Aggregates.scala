package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.functions._

/** Aggregation variants beyond the plain hash agg (SURVEY.md §2.5):
  * exact & approximate distinct counts, rollup, cube, grouping sets.
  */
object Aggregates {

  def queries: Seq[QueryDef] =
    Seq(q09, q10, q11, q12, q21, q26, q27, q28, q29, q35, q36, q38, q40, q41,
      q45, q47, q51, q52, q56, q57, q62, q77)

  /** q51: exact equi-depth binning (feature discretization) — assign
    * every row its decile of `l_extendedprice`, then summarize each
    * bin. The quantile-binning step of a feature pipeline, exact: bin
    * of a row = floor(rank·10 / N) over the TOTAL order (price, order
    * key, line number), so bucket sizes differ by at most one with
    * larger buckets first — ntile semantics, but written as an
    * explicit rank formula so both engines share one definition
    * instead of two ntile implementations.
    *
    * Scale shape: a global rank is a sequential prefix — the naive
    * form (one window over ()) is a single-task sort. This is the
    * x12/e14 two-phase technique again: range-partition on the full
    * sort key, per-partition COUNTS prefix-summed on the driver
    * (P longs), then a narrow pass assigns rank = partition offset +
    * local position. No global sort, no single-task stage. The
    * sketch alternative when exactness isn't required is q36/q38
    * (mergeable quantiles); this is the exact baseline, the same
    * relationship d03 bears to d02.
    *
    * Duplicate full sort keys (the testdata's duplicated (orderkey,
    * linenumber) pairs — memory lesson) are harmless here: identical
    * keys may swap ranks across runs, but they carry identical
    * emitted values, so the (bin, price) multiset is deterministic.
    */
  val q51 = QueryDef(
    "q51_equidepth_bins",
    Some("""WITH t AS MATERIALIZED (
      SELECT l_extendedprice AS p,
        row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS rn,
        count(*) OVER () AS n
      FROM lineitem)
    SELECT CAST((rn * 10) // n AS BIGINT) AS bin, count(*) AS n_rows,
      min(p) AS lo, max(p) AS hi
    FROM t GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val li = Tables.lineitem(s, d)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val n = li.count()
    val tEnc = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong,
      Encoders.scalaLong)
    // TwoPhase invariants: range-partitioned + sorted + persisted
    val ordered = li
      .repartitionByRange(TwoPhase.sizedParts(s, n), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_extendedprice", "l_orderkey", "l_linenumber")
      .as[(Double, Long, Long)](tEnc)
      .persist()
    val byPid = TwoPhase.partitionPrefix[(Double, Long, Long)](
      ordered, 0L, (c, _) => c + 1L, _ + _)
    ordered.mapPartitions { it =>
      var rn = byPid(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (p, _, _) =>
        val bin = rn * 10L / n
        rn += 1L
        (bin, p)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("bin", "p")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"), min("p").as("lo"), max("p").as("hi"))
      .orderBy("bin")
  }

  /** q52: sweep-line interval concurrency — peak simultaneous
    * in-flight intervals per hour. Each event opens an interval of
    * 1–7 minutes (duration = 1 + event_id % 7, synthesized
    * deterministically since the source has no duration column — the
    * e14 perturbation discipline); the classic sweep turns each
    * interval into a +1/−1 point pair, and the RUNNING SUM of deltas
    * over the total point order (t, delta, id — ends sort before
    * starts at the same instant, so back-to-back intervals never
    * overlap) is the live concurrency at every boundary. The
    * capacity-planning / peak-load primitive (concurrent sessions,
    * GPU-slot demand, connection-pool sizing).
    *
    * Scale shape: a global running sum is the same sequential-prefix
    * problem as q51's global rank — a window over () would be a
    * single-task sort. TwoPhase again, with a SUM fold this time:
    * range-partition on the full point order, per-partition delta
    * totals prefix-summed on the driver (P longs), then one narrow
    * pass seeds each partition with its opening concurrency. Peaks
    * are then a plain per-hour max — partial+final aggregation.
    * Contract note: a window with no interval BOUNDARY inside it does
    * not appear in the output (both engines share the rule); the max
    * is over post-delta values, which is exact because a peak is
    * always attained immediately after some +1 point.
    */
  val q52 = QueryDef(
    "q52_sweepline_concurrency",
    Some("""WITH iv AS MATERIALIZED (
      SELECT event_id, epoch_us(ts) AS s_us,
        epoch_us(ts) + (1 + event_id % 7) * 60000000 AS e_us
      FROM events),
    pts AS MATERIALIZED (
      SELECT s_us AS t_us, CAST(1 AS BIGINT) AS delta, event_id FROM iv
      UNION ALL
      SELECT e_us AS t_us, CAST(-1 AS BIGINT) AS delta, event_id FROM iv),
    run AS MATERIALIZED (
      SELECT t_us, CAST(sum(delta) OVER (ORDER BY t_us, delta, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
      FROM pts)
    SELECT (t_us - t_us % 3600000000) AS win_start_us,
      max(conc) AS max_concurrency
    FROM run GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val iv = Tables.events(s, d).select(col("event_id"),
      col("ts_us").as("s_us"),
      (col("ts_us") + (lit(1L) + col("event_id") % 7L) * 60000000L)
        .as("e_us"))
    val pts = iv.select(col("s_us").as("t_us"), lit(1L).as("delta"),
        col("event_id"))
      .unionByName(iv.select(col("e_us").as("t_us"), lit(-1L).as("delta"),
        col("event_id")))
    val tEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    // TwoPhase invariants: range-partitioned + sorted + persisted
    val ordered = pts
      .repartitionByRange(TwoPhase.sizedParts(s, pts.count()),
        col("t_us"), col("delta"), col("event_id"))
      .sortWithinPartitions("t_us", "delta", "event_id")
      .as[(Long, Long, Long)](tEnc)
      .persist()
    val byPid = TwoPhase.partitionPrefix[(Long, Long, Long)](
      ordered, 0L, (c, r) => c + r._2, _ + _)
    ordered.mapPartitions { it =>
      var conc = byPid(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (t, dl, _) =>
        conc += dl
        (t - t % 3600000000L, conc)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("win_start_us", "conc")
      .groupBy("win_start_us")
      .agg(max("conc").as("max_concurrency"))
      .orderBy("win_start_us")
  }

  /** Changelog compaction / latest-wins upsert: the newest event per
    * key via `max_by(payload, (ts, id))` — ONE partial-aggregating
    * aggregate (a SortAggregate here, since the struct buffer isn't
    * hash-agg representable, but still with the partial/final split:
    * each partition shuffles ONE candidate per key, versus the window
    * formulation shuffling every input row; 20M-row A/B in
    * docs/MICROBENCH.md). At 100 TB this is how CDC streams compact
    * into a current-state table. The (ts_us, event_id) struct ordering
    * makes the winner deterministic under timestamp ties, which is
    * what lets the oracle (a rn=1 window with the same tiebreak) match
    * exactly.
    */
  val q41 = QueryDef(
    "q41_latest_per_key",
    Some("""WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
          event_type, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id AS last_event_id, ts_us AS last_ts_us,
        event_type AS last_type, value AS last_value
      FROM r WHERE rn = 1 ORDER BY user_id""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("ts_us"), col("event_type"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.ts_us").as("last_ts_us"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
      .orderBy("user_id")
  }

  /** UNPIVOT / melt — the inverse of e04's pivot: a wide per-group
    * aggregate reshaped to (group, metric, value) rows via
    * `Dataset.unpivot` (plans as a single Expand over the aggregate —
    * no join, no extra shuffle; the melt is free at any scale). The
    * count melts through DOUBLE like the sums so the value column has
    * one type, exactly as the oracle's UNION ALL does.
    */
  val q40 = QueryDef(
    "q40_unpivot",
    Some("""WITH w AS (SELECT l_returnflag,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        CAST(count(*) AS DOUBLE) AS n
      FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
      UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
      UNION ALL SELECT l_returnflag, 'n', n FROM w
      ORDER BY l_returnflag, metric""")) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(xsum2(col("l_quantity")).as("sum_qty"),
        xsum2(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Skew-resistant two-phase (salted) aggregation: phase 1 groups on
    * (key, salt) so a hot key spreads over 8 reducers, phase 2 merges
    * the partials. The salt derives deterministically from a
    * high-cardinality column (not rand()) so results are reproducible
    * — and provably equal to the direct aggregation, which is exactly
    * what the oracle asserts. The technique for 100 TB heavy-hitter
    * keys; here shown on l_returnflag (3 keys → 3 reducers unsalted).
    */
  val q28 = QueryDef(
    "q28_salted_agg",
    Some("""SELECT l_returnflag,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy("l_returnflag", "salt")
      .agg(sum(col("l_quantity").cast(m2)).as("pq"),
        sum(col("l_extendedprice").cast(m2)).as("pp"),
        count(lit(1)).as("pn"))
      .groupBy("l_returnflag")
      .agg(sum("pq").cast("double").as("sum_qty"),
        sum("pp").cast("double").as("sum_price"),
        sum("pn").as("n"))
      .orderBy("l_returnflag")
  }

  /** [[q29]]'s documented rank tolerance: approx_percentile at
    * accuracy 10000 guarantees rank error ≤ n/10000; the pin allows
    * 0.01 of rank fraction (100× the nominal bound) because
    * `count(x ≤ v)` overshoots the estimate's rank by the size of
    * v's tie class — generous for real money values, still two
    * orders below a wrong-percentile answer.
    */
  private val PctRankTolerance = 0.01

  /** Approximate percentiles — the sketch path for q26 at 100 TB
    * (mergeable fixed-size summaries instead of a full sort). The
    * returned values are engine-internal, so the ORACLE-FACING
    * contract is the RANK PIN: per group, the exact row count
    * (oracle-computed) plus booleans asserting each estimate's
    * MEASURED rank fraction — count(x ≤ estimate)/n, one broadcast
    * join of the 3-row estimate table back over the group — lands
    * within [[PctRankTolerance]] of its target φ. That is the
    * sketch's actual contract (rank error, not value error), checked
    * against the data rather than trusted (rounds ≤ 6 carried this
    * entry rows-only; exactness on the same grouping is q26, and q36
    * is the graft-native sketch checked digit-for-digit).
    */
  val q29 = QueryDef(
    "q29_approx_percentile",
    Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        true AS p50_rank_ok, true AS p90_rank_ok, true AS p99_rank_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val est = li.groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 10000)").as("p"))
      .select(col("l_returnflag").as("rf"),
        element_at(col("p"), 1).as("e50"),
        element_at(col("p"), 2).as("e90"),
        element_at(col("p"), 3).as("e99"))
    def rankOk(r: org.apache.spark.sql.Column, phi: Double) =
      abs(r.cast("double") / col("n").cast("double") - lit(phi)) <=
        lit(PctRankTolerance)
    li.join(broadcast(est), col("l_returnflag") === col("rf"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("e50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("l_extendedprice") <= col("e90"), 1L).otherwise(0L)).as("r90"),
        sum(when(col("l_extendedprice") <= col("e99"), 1L).otherwise(0L)).as("r99"))
      .select(col("l_returnflag"), col("n"),
        rankOk(col("r50"), 0.5).as("p50_rank_ok"),
        rankOk(col("r90"), 0.9).as("p90_rank_ok"),
        rankOk(col("r99"), 0.99).as("p99_rank_ok"))
      .orderBy("l_returnflag")
  }

  /** Exact percentiles (linear interpolation — Spark `percentile` ≡
    * DuckDB `quantile_cont`). At 100 TB the same query shape swaps in
    * `approx_percentile` (KLL-style sketch, mergeable, fixed size) —
    * that variant is q10's rows-only territory; exactness pinned here.
    */
  val q26 = QueryDef(
    "q26_percentiles",
    Some("""SELECT l_returnflag,
      quantile_cont(l_quantity, 0.5) AS p50_qty,
      quantile_cont(l_quantity, 0.9) AS p90_qty,
      quantile_cont(l_extendedprice, 0.95) AS p95_price,
      min(l_extendedprice) AS min_price,
      max(l_extendedprice) AS max_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5D)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9D)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.95D)").as("p95_price"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag")
  }

  /** Statistical aggregates: stddev/variance/correlation/covariance.
    * Native stddev/corr implementations differ across engines in the
    * low bits (different merge orders), so the stats are derived from
    * EXACT integer-cent moment sums (DECIMAL(38,0) — order-independent,
    * correctly rounded to double in both engines) via ONE SQL text that
    * runs verbatim on Spark AND DuckDB: identical parse tree → identical
    * IEEE arithmetic → bit-identical doubles. Moments shuffle exactly
    * like any hash aggregate (partial/final), so the 100 TB story is
    * unchanged from a plain sum.
    */
  private val q27Sql = """SELECT o_orderstatus, sd_price, var_price_m, corr_pc, covar_pc_m FROM (
      SELECT o_orderstatus,
        sqrt((sxx - sx*sx/nd)/(nd-1))/100 AS sd_price,
        ((sxx - sx*sx/nd)/(nd-1))/10000000000 AS var_price_m,
        (sxy - sx*sy/nd)/(sqrt(sxx - sx*sx/nd)*sqrt(syy - sy*sy/nd)) AS corr_pc,
        ((sxy - sx*sy/nd)/(nd-1))/100000000 AS covar_pc_m
      FROM (
        SELECT o_orderstatus,
          CAST(count(*) AS DOUBLE) AS nd,
          CAST(sum(CAST(xc*xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          CAST(sum(CAST(xc*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
          CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          CAST(sum(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy
        FROM (SELECT o_orderstatus,
                CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS xc,
                o_custkey AS y
              FROM orders)
        GROUP BY o_orderstatus))
      ORDER BY o_orderstatus"""

  val q27 = QueryDef("q27_stats", Some(q27Sql)) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(q27Sql)
  }

  /** Exact distinct aggregation — Catalyst expands to a two-phase plan
    * (distinct-ify then count) with partial aggregation on both phases.
    */
  val q09 = QueryDef(
    "q09_count_distinct",
    Some("""SELECT l_returnflag,
      CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
      count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        big(countDistinct(col("l_partkey"))).as("n_parts"),
        big(countDistinct(col("l_suppkey"))).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** [[q10]]'s documented estimate tolerance: HLL++ at rsd=0.05 has
    * no hard error bound (rsd is one standard deviation), so the pin
    * uses 3σ = 15% — an estimate drifting past it is a broken sketch,
    * not noise. Declared above the QueryDef (init-order rule).
    */
  private val HllTolerance = 0.15

  /** Approximate distinct via HyperLogLog++ — the 100 TB answer to
    * count-distinct (no per-key shuffle of raw values, fixed-size
    * sketches merge associatively). The raw estimate is
    * engine-internal, so the ORACLE-FACING contract is the
    * TOLERANCE PIN: exact per-group cardinalities (oracle-computed)
    * plus booleans asserting Spark's estimate lands within
    * [[HllTolerance]] of each — the estimate itself is deterministic,
    * so a sketch regression flips a flag and fails the hash, while
    * the flags' expected values are engine-independent (rounds ≤ 6
    * carried this entry rows-only; q35 remains the graft-native
    * sketch whose ESTIMATES are oracle-checked digit-for-digit).
    */
  val q10 = QueryDef(
    "q10_approx_distinct",
    Some("""SELECT l_returnflag,
        CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        true AS parts_within_tol, true AS supps_within_tol
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    def within(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
      abs(est.cast("double") - exact.cast("double")) <=
        lit(HllTolerance) * exact.cast("double")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        big(approx_count_distinct(col("l_partkey"), 0.05)).as("ap"),
        big(approx_count_distinct(col("l_suppkey"), 0.05)).as("as_"))
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
        within(col("ap"), col("n_parts")).as("parts_within_tol"),
        within(col("as_"), col("n_supps")).as("supps_within_tol"))
      .orderBy("l_returnflag")
  }

  /** DuckDB replay of [[graft.functions.HllAgg]]'s rank function:
    * leading-zero rank of the 50-bit window, as an exact comparison
    * chain (no log2 — libm functions are not bit-stable across
    * engines).
    */
  private val hllRankCase: String =
    (0 until 50).map(k => s"WHEN v >= ${1L << (49 - k)} THEN ${k + 1}")
      .mkString("CASE ", " ", " ELSE 51 END")

  /** The full q35 register chain, parametrized over (source CTE/table,
    * key column, group expression) so e16's windowed rollup provably
    * replays the IDENTICAL hash → bucket → rank → integer-sum pipeline
    * (the s04 `duckTrainedCells` sharing discipline). Leaves `h`
    * (hashed keys, for exact counts), `s` (S = Σ2^(51−reg), V = zero
    * registers) in scope.
    */
  private[operators] def duckHllChain(src: String, key: String, grp: String,
      pfx: String = ""): String = {
    import graft.functions.HllAgg.{A1, A2, A3}
    s"""${pfx}h0 AS (SELECT $grp AS grp, $key,
          $A1 * ((($key % 2147483648) + 2147483648) % 2147483648) AS t1 FROM $src),
      ${pfx}h1 AS (SELECT grp, $key,
          $A2 * (xor(t1 % 2147483648, t1 // 2147483648) % 2147483648) AS t2 FROM ${pfx}h0),
      ${pfx}h2 AS (SELECT grp, $key,
          xor(t2 % 2147483648, t2 // 2147483648) % 2147483648 AS x2 FROM ${pfx}h1),
      ${pfx}h AS (SELECT grp, $key,
          x2 * 2147483648
        + xor(($A3 * x2) % 2147483648, ($A3 * x2) // 2147483648) % 2147483648 AS h
        FROM ${pfx}h2),
      ${pfx}hb AS (SELECT grp, h % 1024 AS bucket, (h // 1024) % 1125899906842624 AS v FROM ${pfx}h),
      ${pfx}r AS (SELECT grp, bucket, max($hllRankCase) AS reg FROM ${pfx}hb GROUP BY grp, bucket),
      ${pfx}s AS (SELECT grp,
              CAST(1024 - count(*) AS BIGINT) * 2251799813685248
            + CAST(sum(2251799813685248 // (1::BIGINT << CAST(reg AS INTEGER))) AS BIGINT) AS S,
              CAST(1024 - count(*) AS BIGINT) AS V
            FROM ${pfx}r GROUP BY grp)"""
  }

  /** The shared estimator expression over `s`'s (S, V) columns.
    *
    * The correction literals are rendered in EXPONENT form ("%.17e"):
    * DuckDB lexes a plain decimal literal as DECIMAL, and an ARRAY of
    * them unifies to one widened type (DECIMAL(23,19) here) whose
    * double conversion is NOT correctly rounded — measured 1-ulp drift
    * on ~24% of values (e16 found this; q35 never hit the correction
    * branch at test SFs so the bug was latent there). An exponent
    * makes the lexer produce DOUBLE directly, and 17 significant
    * digits round-trip every IEEE double exactly.
    */
  private[operators] def duckHllEstimate: String = {
    import graft.functions.HllAgg.K
    val corr = graft.functions.HllAgg.LnCorrection
      .map(v => f"$v%.17e").mkString("[", ", ", "]")
    s"""CASE WHEN ($K / CAST(S AS DOUBLE)) <= 2560.0 AND V > 0
          THEN $corr[CAST(V AS INTEGER)]
          ELSE $K / CAST(S AS DOUBLE) END"""
  }

  /** The graft-native HyperLogLog (custom typed Aggregator,
    * [[graft.functions.HllAgg]]): same scale story as q10 — fixed
    * 1024-byte sketches, associative merge, no per-key shuffle — but
    * every step is plain BIGINT arithmetic, so the ORACLE replays the
    * registers and the estimate bit-for-bit. The exact count rides
    * along to show the estimator lands within its ~3% band — note the
    * PLAN cost of that ride-along: count(DISTINCT) forces the per-key
    * distinct expansion (its aggregates are in PlanDriftSpec's lock),
    * which is exactly what the sketch alone avoids; a production query
    * keeps only the hll column and plans one two-phase ObjectHashAggregate.
    */
  val q35 = QueryDef(
    "q35_custom_hll",
    Some {
      s"""WITH ${duckHllChain("orders", "o_custkey", "o_orderpriority")},
      e AS (SELECT grp, count(DISTINCT o_custkey) AS n_exact FROM h GROUP BY grp)
      SELECT e.grp AS o_orderpriority, CAST(e.n_exact AS BIGINT) AS n_exact,
             $duckHllEstimate AS approx_nd
      FROM s JOIN e ON s.grp = e.grp ORDER BY o_orderpriority"""
    }) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        big(countDistinct(col("o_custkey"))).as("n_exact"),
        graft.functions.HllAgg.hll(col("o_custkey")).as("approx_nd"))
      .orderBy("o_orderpriority")
  }

  /** q56: the custom SKETCH under ROLLUP — grouping sets and the
    * typed HLL Aggregator compose natively: Catalyst plans ONE Expand
    * + one partial+final ObjectHashAggregate, so all three rollup
    * levels (priority × status, priority, grand total) come from ONE
    * corpus pass carrying 1 KiB sketches — at 100 TB this is how a
    * distinct-count CUBE is built without one job per level (and the
    * level sketches are exactly what a q48-style MV would persist).
    * The oracle replays the q35 register chain once per level
    * (prefixed CTE copies of the ONE shared fragment) and stitches
    * the rollup's NULL shape back with unions — level-2's composite
    * group key round-trips through a '|' join/split, safe because
    * status is single-char and priority contains no '|'.
    */
  val q56 = QueryDef(
    "q56_sketch_rollup_sets",
    Some {
      val est = duckHllEstimate
      s"""WITH ${duckHllChain("orders", "o_custkey",
          "o_orderpriority || '|' || o_orderstatus", "a_")},
      ${duckHllChain("orders", "o_custkey", "o_orderpriority", "b_")},
      ${duckHllChain("orders", "o_custkey", "'ALL'", "c_")},
      a_e AS (SELECT grp, count(DISTINCT o_custkey) AS n_exact FROM a_h GROUP BY grp),
      b_e AS (SELECT grp, count(DISTINCT o_custkey) AS n_exact FROM b_h GROUP BY grp),
      c_e AS (SELECT grp, count(DISTINCT o_custkey) AS n_exact FROM c_h GROUP BY grp),
      lvl2 AS (SELECT string_split(s.grp, '|')[1] AS o_orderpriority,
          string_split(s.grp, '|')[2] AS o_orderstatus,
          CAST(e.n_exact AS BIGINT) AS n_exact, $est AS approx_nd
        FROM a_s s JOIN a_e e ON s.grp = e.grp),
      lvl1 AS (SELECT s.grp AS o_orderpriority, NULL AS o_orderstatus,
          CAST(e.n_exact AS BIGINT) AS n_exact, $est AS approx_nd
        FROM b_s s JOIN b_e e ON s.grp = e.grp),
      lvl0 AS (SELECT NULL AS o_orderpriority, NULL AS o_orderstatus,
          CAST(e.n_exact AS BIGINT) AS n_exact, $est AS approx_nd
        FROM c_s s JOIN c_e e ON s.grp = e.grp)
      SELECT * FROM (SELECT * FROM lvl2 UNION ALL SELECT * FROM lvl1
        UNION ALL SELECT * FROM lvl0)
      ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""
    }) { (s, d) =>
    Tables.orders(s, d)
      .rollup("o_orderpriority", "o_orderstatus")
      .agg(
        big(countDistinct(col("o_custkey"))).as("n_exact"),
        graft.functions.HllAgg.hll(col("o_custkey")).as("approx_nd"))
      .orderBy(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** DuckDB replay of [[graft.functions.QuantileSketchAgg]]'s octave
    * (⌊log₂v⌋) — an exact comparison chain, same no-libm rationale as
    * the HLL rank chain.
    */
  private val log2Case: String =
    (62 to 1 by -1).map(e => s"WHEN v >= ${1L << e} THEN $e")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Quantile levels interpolated from the ONE Scala definition
    * ([[graft.functions.QuantileSketchAgg.Qs]]) — editing Qs cannot
    * drift the Spark sketch away from its oracle.
    */
  private val qsLabels: Seq[(Double, String)] =
    graft.functions.QuantileSketchAgg.Qs.toSeq.map { q =>
      // exact decimal label: 0.5 → "50", 0.99 → "99", 0.999 → "99_9" —
      // rounding would mislabel (or collide) finer quantiles
      q -> (BigDecimal(q.toString) * 100).bigDecimal
        .stripTrailingZeros.toPlainString.replace(".", "_")
    }
  require(qsLabels.map(_._2).distinct.size == qsLabels.size,
    s"graft: quantile labels collide: $qsLabels")
  private val qsBucketLines: String = qsLabels.map { case (q, lbl) =>
    s"min(CASE WHEN cum >= CAST(ceil($q * n) AS BIGINT) THEN e * 16 + sub END) AS b$lbl"
  }.mkString(",\n          ")
  private val qsDecodeLines: String = qsLabels.map { case (_, lbl) =>
    s"(1.0 + (2.0 * (b$lbl % 16) + 1.0) / 32.0) * CAST(1::BIGINT << CAST(b$lbl // 16 AS INTEGER) AS DOUBLE) / 100.0 AS p$lbl"
  }.mkString(",\n        ")

  /** The graft-native quantile sketch (custom typed Aggregator,
    * [[graft.functions.QuantileSketchAgg]]): q29's scale story —
    * fixed-size mergeable sketches, no per-group sort — with every
    * step replayable by the oracle: integer-cent inputs, exact log₂
    * bucketing (16 sub-buckets/octave → ≤3% relative error), integer
    * rank selection, and a shared-operation-order midpoint decode.
    * Groups whose rows are ALL non-positive cents (n = 0: the sketch
    * only ingests v ≥ 1) are dropped to match the oracle, which
    * filters v ≥ 1 before grouping and so never sees such a group —
    * unreachable on TPC-H prices, but the contract should not be
    * silently narrower than stated.
    */
  val q36 = QueryDef(
    "q36_custom_quantile",
    Some(s"""WITH v AS (SELECT l_returnflag AS grp,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
      eb AS (SELECT grp, v, $log2Case AS e FROM v WHERE v >= 1),
      bk AS (SELECT grp, e, ((v - (1::BIGINT << CAST(e AS INTEGER))) * 16) // (1::BIGINT << CAST(e AS INTEGER)) AS sub FROM eb),
      c AS (SELECT grp, e, sub, count(*) AS c FROM bk GROUP BY grp, e, sub),
      cum AS (SELECT grp, e, sub, c,
          sum(c) OVER (PARTITION BY grp ORDER BY e, sub) AS cum,
          sum(c) OVER (PARTITION BY grp) AS n
        FROM c),
      sel AS (SELECT grp, CAST(max(n) AS BIGINT) AS n,
          ${qsBucketLines}
        FROM cum GROUP BY grp)
      SELECT grp AS l_returnflag,
        ${qsDecodeLines},
        n
      FROM sel ORDER BY l_returnflag""")) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy("l_returnflag")
      .agg(
        graft.functions.QuantileSketchAgg.sketch(col("cents")).as("p"),
        count(when(col("cents") >= 1, 1)).as("n"))
      .where(col("n") > 0)
      .select(col("l_returnflag") +:
        qsLabels.zipWithIndex.map { case ((_, lbl), i) =>
          element_at(col("p"), i + 1).as(s"p$lbl") } :+
        col("n"): _*)
      .orderBy("l_returnflag")
  }

  /** DuckDB replay of [[graft.functions.KllSampleAgg.level]]:
    * trailing-zero count of the mixed hash as an exact comparison
    * chain (h % 2^(j+1) = 2^j ⟺ tz(h) = j), capped at GCap — same
    * no-libm/no-bit-intrinsic rationale as the HLL rank chain.
    */
  private[operators] val tzCase: String =
    (0 until graft.functions.KllSampleAgg.GCap.toInt)
      .map(j => s"WHEN h % ${1L << (j + 1)} = ${1L << j} THEN $j")
      .mkString("CASE ", " ", s" ELSE ${graft.functions.KllSampleAgg.GCap} END")

  /** The graft-native KLL-style quantile sketch (custom typed
    * Aggregator, [[graft.functions.KllSampleAgg]]): q36 bounds
    * relative VALUE error via log buckets; this bounds RANK error via
    * hash-determined geometric level sampling — KLL's contract, made
    * order-independent (and so oracle-replayable) by deriving levels
    * from the row-key hash instead of compaction coin flips. The
    * oracle recomputes per-level counts, the minimal level L with
    * ≤ K survivors, and the order statistics of the surviving values —
    * every step BIGINT, the only float op the shared ⌈q·m⌉. Exact
    * whenever a group has ≤ K rows (sf0.001 here); the sketch path
    * (L ≥ 1, m ≤ K) engages from sf0.01 up.
    */
  val q38 = QueryDef(
    "q38_kll_quantile",
    Some {
      import graft.functions.HllAgg.{A1, A2, A3, F}
      import graft.functions.KllSampleAgg.K
      s"""WITH x AS (SELECT l_returnflag AS grp,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
          l_orderkey * 8 + l_linenumber AS key FROM lineitem),
      h0 AS (SELECT grp, v, $A1 * (((key % $F) + $F) % $F) AS t1 FROM x),
      h1 AS (SELECT grp, v, $A2 * (xor(t1 % $F, t1 // $F) % $F) AS t2 FROM h0),
      h2 AS (SELECT grp, v, xor(t2 % $F, t2 // $F) % $F AS x2 FROM h1),
      hh AS (SELECT grp, v, x2 * $F
          + xor(($A3 * x2) % $F, ($A3 * x2) // $F) % $F AS h FROM h2),
      gg AS (SELECT grp, v, $tzCase AS g FROM hh),
      lv AS (SELECT grp, g, count(*) AS c FROM gg GROUP BY grp, g),
      cand AS (SELECT lv.grp, r.range AS lvl,
          sum(CASE WHEN lv.g >= r.range THEN lv.c ELSE 0 END) AS cge
        FROM lv, range(0, ${graft.functions.KllSampleAgg.GCap + 2}) r
        GROUP BY lv.grp, r.range),
      lsel AS (SELECT grp, min(lvl) AS lvl FROM cand WHERE cge <= $K GROUP BY grp),
      samp AS (SELECT gg.grp, gg.v FROM gg JOIN lsel ON gg.grp = lsel.grp
        WHERE gg.g >= lsel.lvl),
      ord AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY grp) AS m FROM samp),
      sel AS (SELECT grp, CAST(max(m) AS BIGINT) AS m,
          min(CASE WHEN rn >= ceil(0.5 * m) THEN v END) AS p50_cents,
          min(CASE WHEN rn >= ceil(0.9 * m) THEN v END) AS p90_cents,
          min(CASE WHEN rn >= ceil(0.99 * m) THEN v END) AS p99_cents
        FROM ord GROUP BY grp),
      tot AS (SELECT grp, count(*) AS n FROM x GROUP BY grp)
      SELECT sel.grp AS l_returnflag, p50_cents, p90_cents, p99_cents,
        m, lsel.lvl, n
      FROM sel JOIN lsel ON sel.grp = lsel.grp JOIN tot ON sel.grp = tot.grp
      ORDER BY l_returnflag"""
    }) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        (col("l_orderkey").cast("long") * 8 + col("l_linenumber").cast("long")).as("rk"))
      .groupBy("l_returnflag")
      .agg(graft.functions.KllSampleAgg.kllSample(col("cents"), col("rk")).as("p"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("p"), 1).as("p50_cents"),
        element_at(col("p"), 2).as("p90_cents"),
        element_at(col("p"), 3).as("p99_cents"),
        element_at(col("p"), 4).as("m"),
        element_at(col("p"), 5).as("lvl"),
        col("n"))
      // m = 0 (every row of a >K group at the GCap level, P < K·2^−40)
      // would emit −1 sentinels where the oracle's inner JOIN against
      // `sel` emits no row — drop such groups so the two contracts are
      // IDENTICAL, not just astronomically-probably identical (the q36
      // n > 0 discipline).
      .filter(col("m") > 0)
      .orderBy("l_returnflag")
  }

  /** ROLLUP — hierarchical subtotals; Spark plans one Expand + single
    * aggregate rather than one pass per level.
    */
  val q11 = QueryDef(
    "q11_rollup",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(xsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** CUBE — all grouping combinations in one Expand+aggregate. */
  val q12 = QueryDef(
    "q12_cube",
    Some("""SELECT o_orderstatus, o_orderpriority,
      count(*) AS n,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")) { (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), xsum2(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Explicit GROUPING SETS (each-dimension marginals + grand total). */
  val q21 = QueryDef(
    "q21_grouping_sets",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")) { (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(xsum2(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** The graft-native Count-Min sketch (custom typed Aggregator,
    * [[graft.functions.CountMinAgg]]) — frequency estimation joining
    * the sketch family (q35 cardinality, q36/q38 quantiles): one
    * fixed 192-counter sketch summarizes every key's frequency, and
    * per-key estimates (min over the d rows of the key's counter)
    * ride next to the exact counts so the collision over-count is
    * visible. Counters are plain sums → order-independent → the
    * oracle replays every counter (bucket sums over the exact
    * frequency table) and the estimate exactly; `est ≥ true` for
    * every row by construction. Scale: the sketch aggregation
    * shuffles ONE 1.5 KiB buffer per partition (vs the exact
    * groupBy's every-distinct-key shuffle — which is run here only
    * as the comparison column); the estimate projection is a narrow
    * map against the driver-collected sketch (bounded metadata, the
    * s04 centroid-collect precedent).
    */
  val q45 = QueryDef(
    "q45_cms_heavy_hitters",
    Some {
      import graft.functions.CountMinAgg.{A, B, P, W}
      def bkt(j: Int, k: String) = s"(($k*${A(j)}+${B(j)})%$P)%$W"
      s"""WITH c AS (SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
      b0 AS (SELECT ${bkt(0, "key")} AS bkt, sum(cnt) AS s FROM c GROUP BY 1),
      b1 AS (SELECT ${bkt(1, "key")} AS bkt, sum(cnt) AS s FROM c GROUP BY 1),
      b2 AS (SELECT ${bkt(2, "key")} AS bkt, sum(cnt) AS s FROM c GROUP BY 1)
      SELECT CAST(c.key AS BIGINT) AS key, CAST(c.cnt AS BIGINT) AS true_cnt,
        CAST(least(b0.s, b1.s, b2.s) AS BIGINT) AS est_cnt
      FROM c JOIN b0 ON ${bkt(0, "c.key")} = b0.bkt
        JOIN b1 ON ${bkt(1, "c.key")} = b1.bkt
        JOIN b2 ON ${bkt(2, "c.key")} = b2.bkt
      ORDER BY key"""
    }) { (s, d) =>
    import graft.functions.CountMinAgg
    val keys = Tables.lineitem(s, d).select(col("l_partkey").cast("long").as("key"))
    val sk = keys.agg(CountMinAgg.cms(col("key")).as("sk"))
      .head().getSeq[Long](0).toArray
    val ests = (0 until CountMinAgg.D).map { j =>
      element_at(
        typedLit(sk.slice(j * CountMinAgg.W, (j + 1) * CountMinAgg.W).toSeq),
        (((col("key") * CountMinAgg.A(j) + CountMinAgg.B(j)) % CountMinAgg.P)
          % CountMinAgg.W).cast("int") + 1)
    }
    keys.groupBy("key").agg(big(count(lit(1))).as("true_cnt"))
      .select(col("key"), col("true_cnt"),
        big(least(ests: _*)).as("est_cnt"))
      .orderBy("key")
  }

  /** Audience-overlap set algebra via the KMV theta-family sketch
    * ([[graft.functions.KmvAgg]]): per event-type segment, the K
    * smallest distinct user-id hashes; per segment PAIR, exact-integer
    * estimates of |A|, |B|, |A∩B|, |A∪B|. Intersection is the
    * capability q35's HLL structurally lacks, and at 100 TB the only
    * alternative — a distinct-pair join per segment combination — is
    * quadratic in segments and shuffles the corpus each time. Here the
    * corpus is read ONCE: the sketch aggregation absorbs duplicate
    * (segment, user) rows during partial aggregation (no pre-distinct
    * shuffle — insertion dedups), ships ≤ 520 bytes per
    * (segment × partition), and the pair algebra is plain column
    * expressions over 5 sketch rows (the pair join is a
    * broadcast-bounded NLJ over ONE ROW PER SEGMENT, whitelisted in
    * PlanLintSpec). All estimator arithmetic is overflow-safe integer
    * division replayed bit-for-bit by the oracle (KmvAgg doc); below
    * K distinct members the estimates are EXACT, and K = 64 keeps the
    * true estimation path live from sf0.01 up.
    */
  val q47 = QueryDef(
    "q47_kmv_overlap",
    Some {
      import graft.functions.HllAgg.{A1, A2, A3, F}
      import graft.functions.KmvAgg.{Dom, K, Shrink}
      def est(m: String, th: String) =
        s"CASE WHEN $m < $K THEN $m ELSE ($Dom // $th) * ${K - 1} + (($Dom % $th) * ${K - 1}) // $th END"
      s"""WITH mem AS (SELECT DISTINCT event_type AS seg, user_id AS key FROM events),
      h0 AS (SELECT seg, $A1 * (((key % $F) + $F) % $F) AS t1 FROM mem),
      h1 AS (SELECT seg, $A2 * (xor(t1 % $F, t1 // $F) % $F) AS t2 FROM h0),
      h2 AS (SELECT seg, xor(t2 % $F, t2 // $F) % $F AS x2 FROM h1),
      hh AS (SELECT DISTINCT seg,
          (x2 * $F + xor(($A3 * x2) % $F, ($A3 * x2) // $F) % $F) // $Shrink AS h FROM h2),
      rk AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS r FROM hh),
      ret AS (SELECT seg, h FROM rk WHERE r <= $K),
      sk AS (SELECT seg, count(*) AS m, greatest(max(h), 1) AS xk FROM ret GROUP BY 1),
      pr AS (SELECT a.seg AS seg_a, b.seg AS seg_b, a.m AS m_a, b.m AS m_b,
          CASE WHEN a.m < $K THEN $Dom ELSE a.xk END AS th_a,
          CASE WHEN b.m < $K THEN $Dom ELSE b.xk END AS th_b
        FROM sk a JOIN sk b ON a.seg < b.seg),
      pt AS (SELECT *, least(th_a, th_b) AS th FROM pr),
      cm AS (SELECT pt.seg_a, pt.seg_b, count(rb.h) AS c
        FROM pt LEFT JOIN ret ra ON ra.seg = pt.seg_a AND ra.h < pt.th
                LEFT JOIN ret rb ON rb.seg = pt.seg_b AND rb.h = ra.h
        GROUP BY 1, 2)
      SELECT seg_a, seg_b, est_a, est_b, est_common,
        est_a + est_b - est_common AS est_union
      FROM (SELECT pt.seg_a, pt.seg_b,
          CAST(${est("m_a", "th_a")} AS BIGINT) AS est_a,
          CAST(${est("m_b", "th_b")} AS BIGINT) AS est_b,
          CAST(($Dom // th) * c + (($Dom % th) * c) // th AS BIGINT) AS est_common
        FROM pt JOIN cm ON pt.seg_a = cm.seg_a AND pt.seg_b = cm.seg_b)
      ORDER BY seg_a, seg_b"""
    }) { (s, d) =>
    import graft.functions.KmvAgg
    import graft.functions.KmvAgg.{Dom, K}
    val sk = Tables.events(s, d)
      .select(col("event_type").as("seg"), col("user_id"))
      .groupBy("seg").agg(KmvAgg.kmv(col("user_id")).as("ret"))
    def theta(ret: org.apache.spark.sql.Column) =
      when(size(ret) < K, lit(Dom))
        .otherwise(greatest(element_at(ret, -1), lit(1L)))
    def est(ret: String, th: String) = expr(
      s"CASE WHEN size($ret) < $K THEN CAST(size($ret) AS BIGINT) " +
        s"ELSE ($Dom div $th) * ${K - 1} + (($Dom % $th) * ${K - 1}) div $th END")
    sk.select(col("seg").as("seg_a"), col("ret").as("ret_a"))
      .join(sk.select(col("seg").as("seg_b"), col("ret").as("ret_b")),
        col("seg_a") < col("seg_b")) // one row per segment: bounded NLJ
      .withColumn("th_a", theta(col("ret_a")))
      .withColumn("th_b", theta(col("ret_b")))
      .withColumn("th", least(col("th_a"), col("th_b")))
      .withColumn("c", size(filter(array_intersect(col("ret_a"), col("ret_b")),
        _ < col("th"))).cast("long"))
      .withColumn("est_a", est("ret_a", "th_a"))
      .withColumn("est_b", est("ret_b", "th_b"))
      .withColumn("est_common",
        expr(s"($Dom div th) * c + (($Dom % th) * c) div th"))
      .select(col("seg_a"), col("seg_b"), col("est_a"), col("est_b"),
        col("est_common"),
        (col("est_a") + col("est_b") - col("est_common")).as("est_union"))
      .orderBy("seg_a", "seg_b")
  }

  /** q57: exact GLOBAL weighted percentiles — the weighted p25/p50/p75
    * of `l_extendedprice` with `l_quantity` as the weight: the
    * smallest price whose cumulative weight over the total order
    * (price, orderkey, linenumber) reaches ⌈pct·W/100⌉. The
    * "median unit price actually paid" statistic — every row counts
    * `quantity` times — which no unweighted quantile (q26/q36/q38/q51)
    * expresses. Targets are exact BIGINT ceilings; the emitted price
    * is a raw per-row double, so both engines agree bit-for-bit.
    *
    * Scale shape: a global cumulative WEIGHT is the q51/q52
    * sequential-prefix problem with a SUM fold over the weight
    * instead of a count — TwoPhase range partition, P driver-sized
    * partial sums, one narrow second pass that emits a row exactly
    * where a target crosses its partition's running sum. No global
    * sort, no single-task window; the three targets ride one pass.
    * Duplicate full sort keys (the q51 memory lesson) stay harmless:
    * equal keys share the same price, and the first-crossing price is
    * invariant to their relative order even with unequal weights.
    */
  val q57 = QueryDef(
    "q57_weighted_percentile",
    Some("""WITH t AS MATERIALIZED (
      SELECT l_extendedprice AS p,
        sum(CAST(l_quantity AS BIGINT)) OVER (
          ORDER BY l_extendedprice, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        sum(CAST(l_quantity AS BIGINT)) OVER () AS tw
      FROM lineitem),
    pcts AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS pct)
    SELECT pct, min(p) AS price FROM t, pcts
    WHERE cw >= (tw * pct + 99) // 100
    GROUP BY pct ORDER BY pct""")) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val li = Tables.lineitem(s, d)
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("w"))
    val n = li.count()
    if (n == 0)
      li.limit(0).select(lit(0L).as("pct"), col("l_extendedprice").as("price"))
    else {
      val tw = li.agg(sum("w")).head().getLong(0)
      val targets = Seq(25L, 50L, 75L).map(p => p -> (tw * p + 99L) / 100L)
      val tEnc = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
      // TwoPhase invariants: range-partitioned + sorted + persisted
      val ordered = li
        .repartitionByRange(TwoPhase.sizedParts(s, n), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions("l_extendedprice", "l_orderkey", "l_linenumber")
        .as[(Double, Long, Long, Long)](tEnc)
        .persist()
      val byPid = TwoPhase.partitionPrefix[(Double, Long, Long, Long)](
        ordered, 0L, (c, t) => c + t._4, _ + _)
      ordered.mapPartitions { it =>
        var cw = byPid(org.apache.spark.TaskContext.getPartitionId())
        it.flatMap { case (p, _, _, w) =>
          val lo = cw
          cw += w
          // a target t is satisfied FIRST at the row where t ∈ (lo, cw]
          targets.collect { case (pct, t) if t > lo && t <= cw => (pct, p) }
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
        .toDF("pct", "price")
        .orderBy("pct")
    }
  }

  /** q62's CMS width: wide enough (d×w = 3×1024 longs, 24 KiB) that
    * estimates land in the right ballpark, small enough that
    * collisions stay LIVE at test scale (measured ~1.6–1.9×
    * overestimates at sf0.01 — the honest readout of an undersized
    * sketch; production sizes w = ⌈e/ε⌉ to the tolerated εN).
    */
  private val JsW = 1024

  /** q62: JOIN-SIZE ESTIMATION — the query-planning application the
    * Count-Min sketch was built for (the AGM / Alon-Gibbons-Matias-
    * Szegedy line): |A ⋈ B| = Σ_k c_A(k)·c_B(k), estimable WITHOUT
    * running the join as min_j Σ_b cmsA[j][b]·cmsB[j][b] — sketch the
    * two key streams in one pass each (fixed-size mergeable state, no
    * per-key shuffle), dot the counter rows, take the min. est ≥
    * exact always (collision terms are non-negative). Two live
    * instances: the SELF-join size of lineitem on l_partkey (the F2
    * second frequency moment — the classic skew statistic) and the
    * orders ⋈ customer FK join; both exact values computed alongside
    * so the emitted rel_err IS the measured estimator quality.
    *
    * Scale shape: each sketch leg is one partial+final aggregate
    * whose shuffled state is 24 KiB per partition REGARDLESS of key
    * cardinality — at 100 TB this is the difference between an
    * estimate you can afford before every big join and the exact
    * per-key groupBy (also shown here) that shuffles every distinct
    * key. The 1-row sketch/exact frames cross-join (whitelisted —
    * driver-sized by construction).
    *
    * Overflow headroom (the x24 discipline): the dot is a BIGINT sum
    * of w per-bucket products, so it stays exact while
    * w·maxBucket² < 2⁶³ — at w = 1024 that is maxBucket ≈ 3·10⁹,
    * i.e. ~3·10¹² rows hashed uniformly (collisions pile skewed keys
    * into one bucket sooner). Past that, widen w (production sizes
    * w = ⌈e/ε⌉ anyway, pushing the bound out linearly) or rescale:
    * halve every counter before dotting and multiply the estimate by
    * 4 — the estimator is bilinear in the counters, so the rescale is
    * exact up to the halving truncation.
    */
  val q62 = QueryDef(
    "q62_join_size",
    Some(s"""WITH
      fa AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
      fo AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
      fc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c FROM customer GROUP BY 1),
      prm AS (SELECT unnest([0, 1, 2]) AS j, unnest([131, 137, 139]) AS a,
        unnest([7, 11, 13]) AS b),
      ca AS (SELECT prm.j, ((fa.k * prm.a + prm.b) % 1000000007) % $JsW AS b,
          CAST(sum(fa.c) AS BIGINT) AS v FROM fa CROSS JOIN prm GROUP BY 1, 2),
      co AS (SELECT prm.j, ((fo.k * prm.a + prm.b) % 1000000007) % $JsW AS b,
          CAST(sum(fo.c) AS BIGINT) AS v FROM fo CROSS JOIN prm GROUP BY 1, 2),
      cc AS (SELECT prm.j, ((fc.k * prm.a + prm.b) % 1000000007) % $JsW AS b,
          CAST(sum(fc.c) AS BIGINT) AS v FROM fc CROSS JOIN prm GROUP BY 1, 2),
      sd AS (SELECT a.j, CAST(sum(a.v * a.v) AS BIGINT) AS dot FROM ca a GROUP BY 1),
      fd AS (SELECT a.j, CAST(sum(a.v * b.v) AS BIGINT) AS dot
        FROM co a JOIN cc b ON a.j = b.j AND a.b = b.b GROUP BY 1),
      ests AS (
        SELECT 'lineitem_selfjoin_partkey' AS join_name,
          (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) FROM fa) AS exact,
          (SELECT CAST(coalesce(min(dot), 0) AS BIGINT) FROM sd) AS est
        UNION ALL SELECT 'orders_customer_custkey',
          (SELECT CAST(coalesce(sum(o.c * c2.c), 0) AS BIGINT)
            FROM fo o JOIN fc c2 ON o.k = c2.k),
          (SELECT CAST(coalesce(min(dot), 0) AS BIGINT) FROM fd))
      SELECT join_name, exact, est,
        CASE WHEN exact = 0 THEN 0.0
             ELSE CAST(est - exact AS DOUBLE) / CAST(exact AS DOUBLE) END AS rel_err
      FROM ests ORDER BY join_name""")) { (s, d) =>
    val cms = graft.functions.CountMinAgg.cmsOf(JsW)
    val li = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
    val ord = Tables.orders(s, d).select(col("o_custkey").as("k"))
    val cust = Tables.customer(s, d).select(col("c_custkey").as("k"))
    // the estimator's row dot: Σ_b a[j·W+b]·b[j·W+b], min over rows —
    // a HOF over ONE row of driver-sized sketch state
    def estOf(a: String, b: String) = least((0 until 3).map(j =>
      expr(s"""aggregate(sequence(0, ${JsW - 1}), 0L,
        (acc, i) -> acc + element_at($a, $j * $JsW + i + 1) * element_at($b, $j * $JsW + i + 1))""")): _*)
    val skA = li.agg(cms(col("k")).as("sk_a"))
    val skO = ord.agg(cms(col("k")).as("sk_o"))
    val skC = cust.agg(cms(col("k")).as("sk_c"))
    val selfExact = li.groupBy("k").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("self_exact"))
    val fkExact = ord.groupBy("k").agg(count(lit(1)).as("co"))
      .join(cust.groupBy("k").agg(count(lit(1)).as("cc")), Seq("k"))
      .agg(coalesce(sum(col("co") * col("cc")), lit(0L)).as("fk_exact"))
    selfExact.crossJoin(fkExact).crossJoin(skA).crossJoin(skO).crossJoin(skC)
      .select(explode(array(
        struct(lit("lineitem_selfjoin_partkey").as("join_name"),
          col("self_exact").as("exact"), estOf("sk_a", "sk_a").as("est")),
        struct(lit("orders_customer_custkey").as("join_name"),
          col("fk_exact").as("exact"), estOf("sk_o", "sk_c").as("est")))).as("p"))
      .select(col("p.join_name").as("join_name"), col("p.exact").as("exact"),
        col("p.est").as("est"),
        when(col("p.exact") === 0L, lit(0.0))
          .otherwise((col("p.est") - col("p.exact")).cast("double")
            / col("p.exact").cast("double")).as("rel_err"))
      .orderBy("join_name")
  }

  /** q77: ARG-EXTREMUM aggregation (max_by/min_by) — "which row holds
    * the extreme", the lookup every leaderboard and freshness query
    * runs. q41 computes latest-per-key as a window rank; this is the
    * AGGREGATE form — one partial+final hash aggregate carrying an
    * O(1) (value, key) state per group, no sort, no second pass: the
    * shape that wins at 100 TB when only the extreme row is wanted
    * (a window must sort every group; max_by keeps 16 bytes).
    *
    * Tie discipline: Spark's max_by/min_by are non-deterministic
    * under ties, so the ordering operand is a STRUCT with the unique
    * key as tiebreak (max side negates it: highest balance, then
    * LOWEST custkey — the s14 idiom), making the result total. The
    * oracle expresses the identical selection as rank-1 windows —
    * same rows, different mechanism, which is the point: the entry
    * pins that the aggregate form AGREES with the window form.
    *
    * Determinism: balances are raw lake doubles (copied, never
    * computed); counts BIGINT.
    */
  val q77 = QueryDef(
    "q77_argmax",
    Some("""WITH r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
        row_number() OVER (PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey) AS rt,
        row_number() OVER (PARTITION BY c_mktsegment
          ORDER BY c_acctbal, c_custkey) AS rb,
        count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer)
    SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n_customers,
      max(CASE WHEN rt = 1 THEN c_custkey END) AS top_custkey,
      max(CASE WHEN rt = 1 THEN c_acctbal END) AS top_acctbal,
      max(CASE WHEN rb = 1 THEN c_custkey END) AS bottom_custkey,
      max(CASE WHEN rb = 1 THEN c_acctbal END) AS bottom_acctbal
    FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""")) { (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        max_by(struct(col("c_custkey"), col("c_acctbal")),
          struct(col("c_acctbal"), (-col("c_custkey")).as("nk"))).as("t"),
        min_by(struct(col("c_custkey"), col("c_acctbal")),
          struct(col("c_acctbal"), col("c_custkey"))).as("b"))
      .select(col("c_mktsegment"), col("n_customers"),
        col("t.c_custkey").as("top_custkey"),
        col("t.c_acctbal").as("top_acctbal"),
        col("b.c_custkey").as("bottom_custkey"),
        col("b.c_acctbal").as("bottom_acctbal"))
      .orderBy("c_mktsegment")
  }
}
