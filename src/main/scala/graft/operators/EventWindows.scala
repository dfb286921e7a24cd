package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.functions._

/** Time-window operators over the `events` table, run in batch mode
  * with Spark's `window`/`session_window` expressions.
  *
  * The reference has no streaming operators at all (SURVEY.md §2.6 —
  * its "streaming" is an io.Pipe, chiv.go:127–143), so this surface
  * is part of the engine's extension mandate.
  *
  * Timestamps: Tables.events normalizes events.parquet's ts (either
  * vintage — TIMESTAMP(NANOS) or timestamp[us]) to exact integer
  * microseconds (ts_us) so both engines agree bit-for-bit. All window
  * arithmetic below is integral.
  */
object EventWindows {

  def queries: Seq[QueryDef] =
    Seq(e01, e02, e03, e04, e05, e06, e07, e08, e09, e10, e11, e12, e13, e14,
      e15, e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26, e27, e28,
      e29)

  /** e14: watermark / late-event accounting — the batch twin of the
    * bookkeeping every Structured Streaming job does implicitly
    * (`withWatermark` + allowed lateness), surfaced as an auditable
    * query: for each event, the watermark AT ITS ARRIVAL is
    * (max event-time seen so far) − 5 min, and the event is on-time
    * (ts ≥ wm), late-but-accepted (within a further 10 min), or
    * dropped. Counts per 1-hour event-time window quantify how much
    * data a given watermark policy would discard — the tuning query
    * you run BEFORE picking the production lag.
    *
    * The driver's events table is perfectly id-ordered, so arrival
    * disorder is synthesized deterministically (the x10/d09/d10
    * discipline): every 23rd event arrives 30 min after its event
    * time (→ dropped), every remaining 11th 10 min (→ late); the
    * oracle replays the same perturbation, and all three classes are
    * live at every SF.
    *
    * Scale shape: "max over all earlier arrivals" is a sequential
    * prefix — the naive form is a single-partition window sort. This
    * uses the x12 two-phase technique instead: range-partition by
    * arrival, per-partition maxima (P driver-sized values) prefix-
    * combined on the driver, then one NARROW second pass carries the
    * running max — no global sort, no single-task stage, exactly how
    * a per-partition watermark is maintained on a real cluster.
    */
  val e14 = QueryDef(
    "e14_watermark_audit",
    Some("""WITH t AS MATERIALIZED (
      SELECT event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) + CASE WHEN event_id % 23 = 0 THEN 1800000000
                            WHEN event_id % 11 = 0 THEN 600000000
                            ELSE 0 END AS arr_us
      FROM events),
    w AS MATERIALIZED (
      SELECT ts_us,
        max(ts_us) OVER (ORDER BY arr_us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
      FROM t)
    SELECT (ts_us - ts_us % 3600000000) AS win_start_us,
      CAST(sum(CASE WHEN hi IS NULL OR ts_us >= hi - 300000000
        THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
      CAST(sum(CASE WHEN hi IS NOT NULL AND ts_us < hi - 300000000
        AND ts_us >= hi - 900000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      CAST(sum(CASE WHEN hi IS NOT NULL AND ts_us < hi - 900000000
        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM w GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val WmLagUs = 300000000L     // watermark = max ts seen − 5 min
    val LatenessUs = 600000000L  // accepted up to 10 min past the wm
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts_us"),
        (col("ts_us") + when(col("event_id") % 23 === 0, 1800000000L)
          .when(col("event_id") % 11 === 0, 600000000L)
          .otherwise(0L)).as("arr_us"))
    val t3 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    // TwoPhase invariants: range-partitioned + sorted + persisted
    val ordered = ev
      .repartitionByRange(TwoPhase.sizedParts(s, ev.count()),
        col("arr_us"), col("event_id"))
      .sortWithinPartitions("arr_us", "event_id")
      .select("arr_us", "event_id", "ts_us").as[(Long, Long, Long)](t3)
      .persist()
    // per-partition max event time, prefix-combined (exclusive) on
    // the driver: byPid(p) = max ts over all earlier partitions
    val byPid = TwoPhase.partitionPrefix[(Long, Long, Long)](
      ordered, Long.MinValue, (m, r) => math.max(m, r._3), math.max)
    // phase 2: narrow pass — running max seeded with the prefix; the
    // sentinel (no earlier arrival anywhere) is on-time by definition
    val t4 = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong)
    ordered.mapPartitions { it =>
      var hi = byPid(org.apache.spark.TaskContext.getPartitionId())
      it.map { case (_, _, ts) =>
        val cls =
          if (hi == Long.MinValue || ts >= hi - WmLagUs) 0
          else if (ts >= hi - WmLagUs - LatenessUs) 1
          else 2
        hi = math.max(hi, ts)
        (ts - ts % 3600000000L,
          if (cls == 0) 1L else 0L, if (cls == 1) 1L else 0L,
          if (cls == 2) 1L else 0L)
      }
    }(t4)
      .toDF("win_start_us", "on_t", "late_t", "drop_t")
      .groupBy("win_start_us")
      .agg(sum("on_t").as("n_ontime"), sum("late_t").as("n_late"),
        sum("drop_t").as("n_dropped"))
      .orderBy("win_start_us")
  }

  /** Semi-structured XML — e05/e06's third format, on Spark 4's
    * native XML support (the merged spark-xml): each order is
    * RENDERED as an XML document and parsed back with `from_xml` into
    * a typed struct, so the operator proves the full encode → parse →
    * extract path (attribute + nested element + text node). DuckDB
    * has no XML functions, so the oracle replays what the round trip
    * must preserve — the original columns; any parser drift (entity
    * handling, whitespace, numeric coercion) breaks the match. The
    * parse is a narrow codegen-adjacent projection: no shuffle until
    * the final order-by, same shape as e05.
    */
  val e13 = QueryDef(
    "e13_xml_extract",
    Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status,
      o_orderpriority AS priority, epoch_us(o_orderdate) AS odate_us
      FROM orders WHERE o_orderkey % 20 = 0 ORDER BY order_id""")) { (s, d) =>
    val xml = Tables.orders(s, d)
      .filter(col("o_orderkey") % 20 === 0)
      .select(concat(
        lit("<order id=\""), col("o_orderkey"), lit("\"><meta status=\""),
        col("o_orderstatus"), lit("\"><priority>"), col("o_orderpriority"),
        lit("</priority></meta><ts>"),
        // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so
        // the cast is the exact epoch-µs the oracle's epoch_us gives
        expr("unix_micros(cast(o_orderdate as timestamp))"),
        lit("</ts></order>")).as("doc"))
    xml.select(from_xml(col("doc"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "_id BIGINT, meta STRUCT<_status: STRING, priority: STRING>, ts BIGINT"))
        .as("p"))
      .select(col("p._id").as("order_id"), col("p.meta._status").as("status"),
        col("p.meta.priority").as("priority"), col("p.ts").as("odate_us"))
      .orderBy("order_id")
  }

  /** Cohort retention — e11's companion and the other half of every
    * product-analytics suite: users cohorted by their FIRST-ever
    * event week, then counted distinct per (cohort week × weeks-since
    * offset) — the retention triangle. One whole-partition min-window
    * over user_id pins each row's cohort (the same
    * single-partitioning discipline as e11 — the history moves once),
    * the week math is exact integer floor-division of epoch-µs, and
    * the per-cell distinct collapses (user, cohort, offset) with
    * partial aggregation before the cell count. At 100 TB the
    * distinct's shuffle carries one row per (user × active week) —
    * already the information-theoretic minimum for exact retention;
    * the approximate path at that scale is q47's KMV per cell.
    */
  val e12 = QueryDef(
    "e12_cohort_retention",
    Some("""WITH f AS (SELECT user_id,
          min(epoch_us(ts)) // 604800000000 AS cw FROM events GROUP BY 1),
      a AS (SELECT DISTINCT e.user_id, f.cw,
          epoch_us(e.ts) // 604800000000 - f.cw AS k
        FROM events e JOIN f ON e.user_id = f.user_id)
      SELECT cw AS cohort_week, k AS week_offset, count(*) AS active_users
      FROM a GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val weekUs = 604800000000L
    val w = Window.partitionBy("user_id")
    Tables.events(s, d).select(col("user_id"), col("ts_us"))
      .withColumn("cohort_week",
        expr(s"min(ts_us) over (partition by user_id) div $weekUs"))
      .withColumn("week_offset",
        expr(s"ts_us div $weekUs") - col("cohort_week"))
      .select("user_id", "cohort_week", "week_offset").distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Funnel analysis: the ordered-sequence conversion query every
    * event-analytics engine ships (signup → click → purchase, each
    * later step strictly after the previous and within 7 days of the
    * funnel start). Three CHAINED conditional min-windows over the
    * same `user_id` partitioning compute the step-completion times —
    * step k's condition reads step k−1's column, which an aggregation
    * can't express in one pass but chained whole-partition windows
    * can, and because every window (and the per-user collapse after
    * them) shares one partitioning, Catalyst plans ONE exchange on
    * user_id for the entire funnel: the per-user event history never
    * moves twice, which is the property that matters when the history
    * is 100 TB. The per-user step times then explode into one row per
    * step and a tiny 3-group aggregate emits reached-user counts and
    * exact integer total signup→step lag (the conversion-latency
    * numerator). The oracle replays the chain as three dependent
    * grouped joins — a formulation that would re-shuffle the corpus
    * per step, which is exactly why the engine uses windows instead.
    */
  val e11 = QueryDef(
    "e11_funnel",
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      u1 AS (SELECT user_id, min(ts_us) FILTER (WHERE event_type = 'signup') AS t1
        FROM e GROUP BY 1),
      u2 AS (SELECT e.user_id, min(u1.t1) AS t1,
          min(e.ts_us) FILTER (WHERE e.event_type = 'click'
            AND e.ts_us > u1.t1 AND e.ts_us <= u1.t1 + 604800000000) AS t2
        FROM e JOIN u1 ON e.user_id = u1.user_id GROUP BY e.user_id),
      u3 AS (SELECT e.user_id, min(u2.t1) AS t1, min(u2.t2) AS t2,
          min(e.ts_us) FILTER (WHERE e.event_type = 'purchase'
            AND e.ts_us > u2.t2 AND e.ts_us <= u2.t1 + 604800000000) AS t3
        FROM e JOIN u2 ON e.user_id = u2.user_id GROUP BY e.user_id)
      SELECT step, step_name, users, total_lag_us FROM (
        SELECT 1 AS step, 'signup' AS step_name, count(t1) AS users,
          CAST(0 AS BIGINT) AS total_lag_us FROM u3
        UNION ALL SELECT 2, 'click', count(t2), CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM u3
        UNION ALL SELECT 3, 'purchase', count(t3), CAST(coalesce(sum(t3 - t1), 0) AS BIGINT) FROM u3)
      ORDER BY step""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val weekUs = 604800000000L // 7 days in µs, exact
    val w = Window.partitionBy("user_id")
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
    val steps = ev
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts_us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click"
          && col("ts_us") > col("t1")
          && col("ts_us") <= col("t1") + weekUs, col("ts_us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase"
          && col("ts_us") > col("t2")
          && col("ts_us") <= col("t1") + weekUs, col("ts_us"))).over(w))
      .groupBy("user_id") // same key as the windows — no second exchange
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
    steps
      .select(explode(array(
        struct(lit(1L).as("step"), lit("signup").as("step_name"),
          col("t1").as("t"), lit(0L).as("lag")),
        struct(lit(2L).as("step"), lit("click").as("step_name"),
          col("t2").as("t"), (col("t2") - col("t1")).as("lag")),
        struct(lit(3L).as("step"), lit("purchase").as("step_name"),
          col("t3").as("t"), (col("t3") - col("t1")).as("lag")))).as("x"))
      .groupBy(col("x.step").as("step"), col("x.step_name").as("step_name"))
      .agg(count(col("x.t")).as("users"),
        coalesce(sum(when(col("x.t").isNotNull, col("x.lag"))), lit(0L))
          .as("total_lag_us"))
      .orderBy("step")
  }

  /** Windowed sketch quantiles: q38's KLL-style sampler aggregated per
    * (1-day tumbling window × event_type) — sketches and time windows
    * compose because the sampler is an ordinary typed Aggregator: one
    * bounded buffer per group rides the same partial/final split as
    * any windowed aggregate, which is the 100 TB per-window-quantiles
    * shape (exact per-window percentiles would re-sort every window's
    * rows). Order-independence makes the composition oracle-replayable
    * — the q38 CTE chain re-grouped by (win, type); at these SFs each
    * window holds < K rows so values are per-window EXACT order
    * statistics (the sketch path itself is exercised by q38).
    */
  val e09 = QueryDef(
    "e09_windowed_quantiles",
    Some {
      import graft.functions.HllAgg.{A1, A2, A3, F}
      import graft.functions.KllSampleAgg.{GCap, K}
      s"""WITH x AS (SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS win,
          event_type AS tpe, CAST(round(value * 100) AS BIGINT) AS v,
          event_id AS key FROM events),
      h0 AS (SELECT win, tpe, v, $A1 * (((key % $F) + $F) % $F) AS t1 FROM x),
      h1 AS (SELECT win, tpe, v, $A2 * (xor(t1 % $F, t1 // $F) % $F) AS t2 FROM h0),
      h2 AS (SELECT win, tpe, v, xor(t2 % $F, t2 // $F) % $F AS x2 FROM h1),
      hh AS (SELECT win, tpe, v, x2 * $F
          + xor(($A3 * x2) % $F, ($A3 * x2) // $F) % $F AS h FROM h2),
      gg AS (SELECT win, tpe, v, ${Aggregates.tzCase} AS g FROM hh),
      lv AS (SELECT win, tpe, g, count(*) AS c FROM gg GROUP BY 1, 2, 3),
      cand AS (SELECT lv.win, lv.tpe, r.range AS lvl,
          sum(CASE WHEN lv.g >= r.range THEN lv.c ELSE 0 END) AS cge
        FROM lv, range(0, ${GCap + 2}) r GROUP BY 1, 2, 3),
      lsel AS (SELECT win, tpe, min(lvl) AS lvl FROM cand
        WHERE cge <= $K GROUP BY 1, 2),
      samp AS (SELECT gg.win, gg.tpe, gg.v FROM gg
        JOIN lsel ON gg.win = lsel.win AND gg.tpe = lsel.tpe
        WHERE gg.g >= lsel.lvl),
      ord AS (SELECT win, tpe, v,
          row_number() OVER (PARTITION BY win, tpe ORDER BY v) AS rn,
          count(*) OVER (PARTITION BY win, tpe) AS m FROM samp),
      sel AS (SELECT win, tpe, CAST(max(m) AS BIGINT) AS m,
          min(CASE WHEN rn >= ceil(0.5 * m) THEN v END) AS p50_cents,
          min(CASE WHEN rn >= ceil(0.9 * m) THEN v END) AS p90_cents,
          min(CASE WHEN rn >= ceil(0.99 * m) THEN v END) AS p99_cents
        FROM ord GROUP BY 1, 2),
      tot AS (SELECT win, tpe, count(*) AS n FROM x GROUP BY 1, 2)
      SELECT sel.win AS win_start_us, sel.tpe AS event_type,
        p50_cents, p90_cents, p99_cents, m, lsel.lvl, n
      FROM sel JOIN lsel ON sel.win = lsel.win AND sel.tpe = lsel.tpe
      JOIN tot ON sel.win = tot.win AND sel.tpe = tot.tpe
      ORDER BY win_start_us, event_type"""
    }) { (s, d) =>
    Tables.events(s, d)
      .select((col("ts_us") - col("ts_us") % 86400000000L).as("win_start_us"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_id").as("rk"))
      .groupBy("win_start_us", "event_type")
      .agg(graft.functions.KllSampleAgg.kllSample(col("cents"), col("rk")).as("p"),
        count(lit(1)).as("n"))
      .select(col("win_start_us"), col("event_type"),
        element_at(col("p"), 1).as("p50_cents"),
        element_at(col("p"), 2).as("p90_cents"),
        element_at(col("p"), 3).as("p99_cents"),
        element_at(col("p"), 4).as("m"),
        element_at(col("p"), 5).as("lvl"),
        col("n"))
      // same m > 0 guard as q38: align with the oracle's inner-JOIN
      // drop of (impossibly rare) empty-retained-set groups
      .filter(col("m") > 0)
      .orderBy("win_start_us", "event_type")
  }

  /** Time-series gap fill: e01's tumbling counts are SPARSE (a window
    * with no events emits no row), which breaks charting, diffing and
    * window-over-window math downstream. e08 densifies: generate the
    * full 10-minute grid between the corpus' min/max windows per
    * event_type (`sequence` + explode — computed FROM the data, no
    * driver collect; the bounds ride a 1-row aggregate), left-join the
    * sparse counts, zero-fill. The grid is |types| × windows rows —
    * proportional to TIME RANGE, not corpus size, so at 100 TB the
    * generated side stays tiny while the counts side is e01's
    * ordinary partial+final aggregate.
    */
  val e08 = QueryDef(
    "e08_gapfill",
    Some("""WITH w AS (SELECT event_type,
          epoch_us(ts) - epoch_us(ts) % 600000000 AS win FROM events),
      b AS (SELECT min(win) AS lo, max(win) AS hi FROM w),
      grid AS (SELECT t.event_type,
          unnest(range(b.lo, b.hi + 600000000, 600000000)) AS win
        FROM (SELECT DISTINCT event_type FROM w) t, b),
      c AS (SELECT event_type, win, count(*) AS n FROM w GROUP BY 1, 2)
      SELECT g.event_type, g.win AS win_start_us,
        CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.win = c.win
      ORDER BY 1, 2""")) { (s, d) =>
    val w = Tables.events(s, d)
      .select(col("event_type"),
        (col("ts_us") - col("ts_us") % 600000000L).as("win"))
    val bounds = w.agg(min("win").as("lo"), max("win").as("hi"))
    val grid = w.select("event_type").distinct()
      .crossJoin(bounds) // 1-row side: broadcast by construction
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 600000000)")).as("win_start_us"))
    val counts = w.groupBy(col("event_type").as("c_type"), col("win"))
      .agg(count(lit(1)).as("n"))
    grid.join(counts,
        grid("event_type") === col("c_type") && col("win_start_us") === col("win"),
        "left")
      .select(grid("event_type"), col("win_start_us"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("event_type", "win_start_us")
  }

  /** Interval (time-bounded) stream-stream join, batch twin: click →
    * purchase by the same user within 10 minutes. This is THE
    * stream-stream join shape — Structured Streaming requires exactly
    * this time-bound condition to garbage-collect join state. In
    * batch it plans as one shuffle on
    * user_id with the time predicate evaluated inside the join — at
    * 100 TB the equi-key carries the join; the interval is a free
    * post-filter, never a range-join blowup.
    */
  val e07 = QueryDef(
    "e07_interval_join",
    Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
             WHERE event_type = 'click'),
          p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
             WHERE event_type = 'purchase')
      SELECT c.user_id, count(*) AS n_pairs,
        CAST(min(p_us - c_us) AS BIGINT) AS min_gap_us,
        CAST(sum(p_us - c_us) AS BIGINT) AS sum_gap_us
      FROM c JOIN p ON c.user_id = p.user_id
        AND p_us >= c_us AND p_us < c_us + 600000000
      GROUP BY c.user_id ORDER BY c.user_id""")) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_us"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_us").as("p_us"))
    clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_us") >= col("c_us") && col("p_us") < col("c_us") + 600000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        big(min(col("p_us") - col("c_us"))).as("min_gap_us"),
        big(sum(col("p_us") - col("c_us"))).as("sum_gap_us"))
      .orderBy("user_id")
  }

  /** Schema'd JSON parse (`from_json` → struct, vs e05's path-based
    * extraction): parse once, then relational ops over the typed
    * field — the pattern for semi-structured columns at scale (one
    * parse, columnar after).
    */
  val e06 = QueryDef(
    "e06_from_json_struct",
    Some("""SELECT k_decade, count(*) AS n,
      CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decade, props
            FROM events)
      GROUP BY k_decade ORDER BY k_decade""")) { (s, d) =>
    Tables.events(s, d)
      .select(from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
        .getField("k").as("k"))
      .withColumn("k_decade", floor(col("k") / 10))
      .groupBy("k_decade")
      .agg(count(lit(1)).as("n"), big(min("k")).as("min_k"), big(max("k")).as("max_k"))
      .orderBy("k_decade")
  }

  /** Tumbling 10-minute windows per event type. Spark's `window()`
    * aligns to the epoch, i.e. start = ts − ts mod 10min.
    */
  val e01 = QueryDef(
    "e01_tumbling_window",
    Some("""SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) AS win_start_us,
      event_type, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), xsum2(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start_us", "event_type")
  }

  /** Sliding windows: 10-minute length, 5-minute slide — every event
    * lands in exactly two windows (Expand, not a self-join).
    */
  val e02 = QueryDef(
    "e02_sliding_window",
    Some("""SELECT win_start_us, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value FROM (
        SELECT unnest([epoch_us(ts) - epoch_us(ts) % 300000000 - 300000000,
                       epoch_us(ts) - epoch_us(ts) % 300000000]) AS win_start_us,
               value
        FROM events)
      GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n_events"), xsum2(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy("win_start_us")
  }

  /** Session windows: per-user sessions closed by a ≥5-minute gap.
    * The oracle is the classic gaps-and-islands rewrite; Spark's
    * `session_window` ends a window at last_ts + gap (exclusive), so
    * "new session when diff ≥ gap" matches exactly.
    */
  val e03 = QueryDef(
    "e03_session_window",
    Some("""WITH o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
      m AS (SELECT user_id, us,
              CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 300000000
                   THEN 1 ELSE 0 END AS brk FROM o),
      g AS (SELECT user_id, us,
              sum(brk) OVER (PARTITION BY user_id ORDER BY us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
      SELECT user_id, min(us) AS session_start_us,
        max(us) - min(us) AS duration_us, count(*) AS n_events
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, session_start_us""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(min("ts_us").as("session_start_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start_us", "duration_us", "n_events")
      .orderBy("user_id", "session_start_us")
  }

  /** Pivot (wide aggregation): per-user event-type counts as columns.
    * Explicit value list → single pass, no distinct-values pre-query.
    */
  val e04 = QueryDef(
    "e04_pivot",
    Some("""SELECT user_id,
      count(*) FILTER (event_type = 'click')    AS click,
      count(*) FILTER (event_type = 'error')    AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup')   AS signup,
      count(*) FILTER (event_type = 'view')     AS view
      FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")
  }

  /** Semi-structured extraction: JSON field pull-out + aggregation —
    * the `props` column is stringified JSON exactly like the
    * reference's pg JSON column (SURVEY.md §1.3: kept as an opaque
    * string there; parsed natively here).
    */
  val e05 = QueryDef(
    "e05_json_extract",
    Some("""SELECT event_type,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(big(sum("k")).as("sum_k"), big(max("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Gap fill with LINEAR INTERPOLATION — e08's zero-fill upgraded to
    * the estimate a monitoring/feature pipeline actually wants: the
    * 10-minute purchase-count series is densified onto its full grid,
    * and each empty window takes the straight line between its nearest
    * non-empty neighbors (leading/trailing gaps clamp to the nearest
    * real value). The interpolation is EXACT integer arithmetic until
    * one final IEEE division — numerator pv·(nw−win) + nv·(win−pw)
    * and denominator (nw−pw) are BIGINT on both engines, so the
    * emitted double is bit-identical.
    *
    * Scale design: the corpus-sized work is the count aggregation
    * (ordinary partial+final). The neighbor window functions run over
    * the DENSIFIED series, whose length is proportional to TIME
    * RANGE, not corpus size (4 320 rows per month at 10-minute grain
    * — driver-sized by construction, the e08 grid argument), so the
    * unpartitioned sort they imply is a non-issue at any corpus
    * scale; a multi-series variant would partition by series key and
    * never see a global sort at all.
    */
  val e10 = QueryDef(
    "e10_interp_gapfill",
    Some("""WITH w AS (SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS win
          FROM events WHERE event_type = 'purchase'),
      b AS (SELECT min(win) AS lo, max(win) AS hi FROM w),
      grid AS (SELECT unnest(range(b.lo, b.hi + 600000000, 600000000)) AS win FROM b),
      c AS (SELECT win, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
      j AS (SELECT g.win, c.n FROM grid g LEFT JOIN c ON g.win = c.win),
      f AS (SELECT win, n,
         last_value(n IGNORE NULLS) OVER (ORDER BY win ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN n IS NOT NULL THEN win END IGNORE NULLS) OVER (ORDER BY win ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pw,
         first_value(n IGNORE NULLS) OVER (ORDER BY win ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN n IS NOT NULL THEN win END IGNORE NULLS) OVER (ORDER BY win ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nw
       FROM j)
      SELECT win AS win_start_us,
        CASE WHEN n IS NOT NULL THEN 'actual'
             WHEN pv IS NULL OR nv IS NULL THEN 'edge'
             ELSE 'interp' END AS src,
        CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
             WHEN pv IS NULL AND nv IS NULL THEN 0.0
             WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
             WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
             ELSE CAST(pv * (nw - win) + nv * (win - pw) AS DOUBLE)
                  / CAST(nw - pw AS DOUBLE) END AS n_filled
      FROM f ORDER BY win_start_us""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select((col("ts_us") - col("ts_us") % 600000000L).as("win"))
    val bounds = w.agg(min("win").as("lo"), max("win").as("hi"))
    val grid = bounds
      .select(explode(expr("sequence(lo, hi, 600000000)")).as("win"))
    val counts = w.groupBy("win").agg(count(lit(1)).as("n"))
    val back = Window.orderBy("win").rowsBetween(Window.unboundedPreceding, -1)
    val fwd = Window.orderBy("win").rowsBetween(1, Window.unboundedFollowing)
    val f = grid.join(counts, Seq("win"), "left")
      .select(col("win"), col("n"),
        last(col("n"), ignoreNulls = true).over(back).as("pv"),
        last(when(col("n").isNotNull, col("win")), ignoreNulls = true).over(back).as("pw"),
        first(col("n"), ignoreNulls = true).over(fwd).as("nv"),
        first(when(col("n").isNotNull, col("win")), ignoreNulls = true).over(fwd).as("nw"))
    f.select(col("win").as("win_start_us"),
        when(col("n").isNotNull, "actual")
          .when(col("pv").isNull || col("nv").isNull, "edge")
          .otherwise("interp").as("src"),
        when(col("n").isNotNull, col("n").cast("double"))
          .when(col("pv").isNull && col("nv").isNull, lit(0.0))
          .when(col("pv").isNull, col("nv").cast("double"))
          .when(col("nv").isNull, col("pv").cast("double"))
          .otherwise(
            (col("pv") * (col("nw") - col("win")) + col("nv") * (col("win") - col("pw")))
              .cast("double") / (col("nw") - col("pw")).cast("double"))
          .as("n_filled"))
      .orderBy("win_start_us")
  }

  /** e15: OHLC BAR downsampling — the time-series compaction every
    * metrics/market pipeline runs: per (event_type × 1-hour tumbling
    * window), the chronologically first value (open), extremes
    * (high/low), last value (close), and count. First/last are
    * min_by/max_by over the TOTAL key (ts_us, event_id) — event_id
    * breaks same-microsecond ties, so the bars are deterministic under
    * any partitioning, and the aggregate stays a partial+final
    * hash agg (Spark's declarative Max_by/Min_by), NOT a window sort
    * over the raw series. The oracle replays the same lexicographic
    * choice with row_number windows (its arg_min lacks composite
    * keys). Values are per-row doubles passed through untouched —
    * bit-identical by construction.
    *
    * Scale shape: one shuffle on (type, window), fixed-size state per
    * group; a streaming version would be the same aggregate under
    * a watermark. Downsampling 100 TB of raw ticks to hourly bars is
    * exactly this plan.
    */
  val e15 = QueryDef(
    "e15_ohlc_bars",
    Some("""WITH b AS (
        SELECT (epoch_us(ts) - epoch_us(ts) % 3600000000) AS w, event_type AS t,
               value AS v, epoch_us(ts) AS tu, event_id AS eid
        FROM events),
      r AS (
        SELECT w, t, v,
          row_number() OVER (PARTITION BY w, t ORDER BY tu, eid) AS rn_a,
          row_number() OVER (PARTITION BY w, t ORDER BY tu DESC, eid DESC) AS rn_d
        FROM b)
      SELECT w AS win_start_us, t AS event_type,
        max(CASE WHEN rn_a = 1 THEN v END) AS open,
        max(v) AS high, min(v) AS low,
        max(CASE WHEN rn_d = 1 THEN v END) AS close,
        count(*) AS n_events
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
        max("value").as("high"), min("value").as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("open"), col("high"), col("low"), col("close"),
        col("n_events"))
      .orderBy("win_start_us", "event_type")
  }

  /** e16: HIERARCHICAL SKETCH ROLLUP — distinct users per sliding
    * 3-hour window computed by MERGING persisted per-hour HLL partials
    * ([[graft.functions.HllSketchAgg]] → [[graft.functions
    * .HllMergeAgg]]), never re-reading raw events per window. This is
    * THE 100 TB count-distinct pattern: the hourly rollup table is
    * built once in one pass (state = 1 KiB of registers per hour), and
    * any window/day/month/segment union is answered by max-merging
    * partials — the exact count can NOT be rolled up this way (distinct
    * doesn't decompose), which is the operator's whole argument. Each
    * hourly sketch feeds its 3 covering windows via one 3-way explode
    * of SKETCHES (bounded: 3 rows/hour, not 3× the events, unlike
    * e02's per-event expansion). Max-merge of per-hour registers is
    * bit-identical to registers over the union, so the oracle replays
    * the q35 chain directly per window ([[Aggregates.duckHllChain]] —
    * the shared-fragment discipline) and the estimates match
    * bit-for-bit. The exact count rides along (the q35 caveat: its
    * per-window distinct expansion is exactly the cost the rollup
    * avoids; production keeps only the merged sketch column).
    */
  val e16 = QueryDef(
    "e16_sketch_rollup",
    Some(s"""WITH ev AS (SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                user_id FROM events),
      wv AS (SELECT unnest([hour_us - 7200000000, hour_us - 3600000000, hour_us]) AS ws,
                user_id FROM ev),
      ${Aggregates.duckHllChain("wv", "user_id", "ws")},
      e AS (SELECT grp, count(DISTINCT user_id) AS n_exact FROM h GROUP BY grp)
      SELECT e.grp AS win_start_us, CAST(e.n_exact AS BIGINT) AS n_exact,
             ${Aggregates.duckHllEstimate} AS approx_users
      FROM s JOIN e ON s.grp = e.grp ORDER BY win_start_us""")) { (s, d) =>
    val HourUs = 3600000000L
    val hourly = Tables.events(s, d)
      .select((col("ts_us") - pmod(col("ts_us"), lit(HourUs))).as("hour_us"),
        col("user_id"))
      .groupBy("hour_us")
      .agg(graft.functions.HllAgg.hllSketch(col("user_id")).as("sk"))
    // each hour's sketch serves the 3 sliding windows that cover it
    val contrib = hourly.select(
      explode(array(col("hour_us") - 2 * HourUs, col("hour_us") - HourUs,
        col("hour_us"))).as("win_start_us"),
      col("sk"))
    val merged = contrib.groupBy("win_start_us")
      .agg(graft.functions.HllAgg.hllMerge(col("sk")).as("approx_users"))
    // exact ride-along for the accuracy contract (per-event expansion —
    // the cost the sketch rollup exists to avoid)
    val exact = Tables.events(s, d)
      .select((col("ts_us") - pmod(col("ts_us"), lit(HourUs))).as("hour_us"),
        col("user_id"))
      .select(explode(array(col("hour_us") - 2 * HourUs, col("hour_us") - HourUs,
        col("hour_us"))).as("win_start_us"), col("user_id"))
      .groupBy("win_start_us")
      .agg(big(countDistinct(col("user_id"))).as("n_exact"))
    exact.join(merged, Seq("win_start_us"))
      .select(col("win_start_us"), col("n_exact"), col("approx_users"))
      .orderBy("win_start_us")
  }

  /** e17: ROW-PATTERN detection — the SQL:2016 MATCH_RECOGNIZE shape
    * (`PATTERN (V+ C P)`) expressed in window functions Spark has:
    * per user, every CONTIGUOUS run of ≥ 1 `view` immediately followed
    * by `click` then `purchase`. Contiguity is what separates this
    * from e11's funnel (an ordered SUBSEQUENCE — other events may
    * intervene); here an interposed event breaks the match, which is
    * the MATCH_RECOGNIZE contract. The `V+` run length is recovered
    * WITHOUT per-row pattern state: a running max over non-view
    * positions gives each view row its consecutive-run length (rn −
    * last-non-view-rn), and a match fires where the type triple
    * (lag 2, lag 1, current) is (view, click, purchase) — so the
    * variable-length quantifier costs two lags and one prefix max,
    * all inside ONE per-user window sort. The start row is fetched by
    * one equi-join on (user, rn) — same key, same partitioning, no
    * second sort. Greedy/maximal semantics fall out: the run length
    * is maximal by construction, and matches can't overlap (their
    * click/purchase anchors are distinct).
    */
  val e17 = QueryDef(
    "e17_pattern_match",
    Some("""WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type AS t,
        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      FROM events),
    v AS (SELECT user_id, event_id, ts_us, t, rn,
        rn - coalesce(max(CASE WHEN t <> 'view' THEN rn END) OVER (
          PARTITION BY user_id ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS vrun
      FROM o),
    m AS (SELECT user_id, ts_us AS end_ts_us, rn, n_views
      FROM (SELECT user_id, ts_us, t, rn,
              lag(t, 1) OVER (PARTITION BY user_id ORDER BY rn) AS t1,
              lag(t, 2) OVER (PARTITION BY user_id ORDER BY rn) AS t2,
              lag(vrun, 2) OVER (PARTITION BY user_id ORDER BY rn) AS n_views
            FROM v)
      WHERE t = 'purchase' AND t1 = 'click' AND t2 = 'view')
    SELECT m.user_id, s.ts_us AS start_ts_us, m.end_ts_us,
      CAST(m.n_views AS BIGINT) AS n_views,
      CAST(m.n_views + 2 AS BIGINT) AS match_len
    FROM m JOIN o s ON s.user_id = m.user_id AND s.rn = m.rn - 2 - m.n_views + 1
    ORDER BY m.user_id, start_ts_us""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byRn = Window.partitionBy("user_id").orderBy("rn")
    // cache the row-numbered base: it feeds BOTH the match chain and
    // the join-back to the window start, and uncached the per-user
    // sort + row_number window ran twice (r8 interleaved A/B: 1.25 s
    // cached vs 2.05 s recomputed at sf0.1). Lifetime: Bench/Verify
    // clearCache between entries owns release (the e27/e28 pattern).
    val o = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type").as("t"),
        row_number().over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")).as("rn"))
      .cache()
    val v = o.withColumn("vrun",
      col("rn") - coalesce(
        max(when(col("t") =!= "view", col("rn")))
          .over(byRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
    val m = v
      .withColumn("t1", lag("t", 1).over(byRn))
      .withColumn("t2", lag("t", 2).over(byRn))
      .withColumn("n_views", lag("vrun", 2).over(byRn))
      .where(col("t") === "purchase" && col("t1") === "click" && col("t2") === "view")
      .select(col("user_id"), col("ts_us").as("end_ts_us"), col("rn"),
        col("n_views"))
    m.join(o.select(col("user_id").as("s_uid"), col("rn").as("s_rn"),
        col("ts_us").as("start_ts_us")),
        m("user_id") === col("s_uid") && col("s_rn") ===
          m("rn") - lit(2) - col("n_views") + lit(1))
      .select(m("user_id"), col("start_ts_us"), col("end_ts_us"),
        col("n_views").cast("long").as("n_views"),
        (col("n_views") + 2).cast("long").as("match_len"))
      .orderBy("user_id", "start_ts_us")
  }

  /** e18: ROLLING Z-SCORE anomaly detection — the per-entity outlier
    * flag every metrics pipeline runs: an event is anomalous when its
    * value sits more than T=3 sample deviations from the mean of that
    * user's PREVIOUS W=20 values (trailing frame, current row
    * excluded, full windows only — the first W events per user are
    * unscored warm-up). The test is evaluated entirely in BIGINT cent
    * arithmetic: z² > T² is cross-multiplied into
    * `(W·x − Σ)² > T²·(W·Σx² − Σ²)` so neither engine ever divides or
    * touches a square root — the flag is bit-identical by construction
    * (worst magnitudes: cents ≤ 5·10⁴, Σ² ≤ 10¹², far inside int64).
    * A zero-variance window with x ≠ mean flags (z = ∞), which is the
    * behavior you want from a constant baseline.
    *
    * Scale shape: ONE shuffle keyed by user_id, then a bounded
    * 20-row frame over each user's series — state is O(W) per task
    * regardless of history length, and a hot user costs its own event
    * count, never a cross-user sort. This is the batch twin of a
    * `flatMapGroupsWithState` ring buffer; at 100 TB the same plan
    * holds with the user-keyed exchange feeding any other per-user
    * window in the job (e11/e17 share it).
    */
  val e18 = QueryDef(
    "e18_rolling_zscore",
    Some("""WITH b AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
    w AS (
      SELECT event_id, user_id, ts_us, cents,
        sum(cents) OVER pw AS s, sum(cents * cents) OVER pw AS ss,
        count(*) OVER pw AS n
      FROM b
      WINDOW pw AS (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, ts_us, cents,
      CAST(s AS BIGINT) AS win_sum, CAST(ss AS BIGINT) AS win_sumsq
    FROM w
    WHERE n = 20
      AND (20 * cents - s) * (20 * cents - s) > 9 * (20 * ss - s * s)
    ORDER BY event_id""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val W = 20
    val pw = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(-W, -1)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("win_sum", sum("cents").over(pw))
      .withColumn("win_sumsq", sum(col("cents") * col("cents")).over(pw))
      .withColumn("n", count(lit(1)).over(pw))
      .where(col("n") === W &&
        (lit(W) * col("cents") - col("win_sum")) *
          (lit(W) * col("cents") - col("win_sum")) >
          lit(9) * (lit(W) * col("win_sumsq") - col("win_sum") * col("win_sum")))
      .select("event_id", "user_id", "ts_us", "cents", "win_sum", "win_sumsq")
      .orderBy("event_id")
  }

  /** e19: TREND detection — per-type least-squares slope of value over
    * time, computed entirely from SUFFICIENT STATISTICS: slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = whole minutes since
    * the type's first event and y = cents. This is the canonical
    * distributed-regression pattern: the five sums are an ordinary
    * partial+final hash aggregate (mergeable, fixed-size state), so
    * the metric that usually tempts people into per-key sorted scans
    * costs ONE aggregation. Numerator/denominator are emitted as the
    * exact BIGINTs plus their single IEEE division — bit-identical by
    * construction (int64→double is correctly rounded in both
    * engines). Overflow headroom is engineered, not hoped for:
    * minutes ≤ 43 200 (the lake's 30-day span), so n·Σx² tops out
    * ~7.5·10¹⁷ at sf0.1 — an order under int64; at larger spans
    * rescale x to hours (a constant swap, same plan).
    *
    * Scale shape: one shuffle on event_type for the per-type epoch
    * min (a partition-only window — no sort, no join), and the
    * grouped aggregate REUSES that exchange — the whole operator is
    * one exchange + one partial+final agg.
    */
  val e19 = QueryDef(
    "e19_trend_slope",
    Some("""WITH b AS (
      SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS y,
        (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type)) // 60000000 AS x
      FROM events),
    st AS (
      SELECT t, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM b GROUP BY t)
    SELECT t AS event_type, CAST(n AS BIGINT) AS n,
      CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
           ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
                CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_cents_per_min
    FROM st ORDER BY event_type""")) { (s, d) =>
    // x via `div` (integral), matching DuckDB's `//` exactly — a
    // double divide + cast would round before truncating
    val bx = Tables.events(s, d)
      .select(col("event_type").as("t"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"), col("ts_us"))
      .withColumn("x",
        expr("(ts_us - min(ts_us) OVER (PARTITION BY t)) div 60000000"))
    val st = bx.groupBy("t")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    st.select(col("t").as("event_type"), col("n"),
        num.cast("long").as("slope_num"), den.cast("long").as("slope_den"),
        when(den === 0L, lit(0.0))
          .otherwise(num.cast("double") / den.cast("double"))
          .as("slope_cents_per_min"))
      .orderBy("event_type")
  }

  /** e20: EXPONENTIAL smoothing (EWMA, α = 1/2) per user — the
    * forecasting/level primitive next to e18's fixed-weight frame
    * stats: recent observations dominate, old ones decay
    * geometrically. The infinite recursion s_i = αx_i + (1−α)s_{i−1}
    * is truncated at the 16 most recent observations (weight tail
    * below 2⁻¹⁶ — under the cent resolution of the data), which turns
    * it into a POSITION-WEIGHTED frame: num = Σ_{j=0..15} x_{i−j}·2^{15−j},
    * ewma = num / (2¹⁶ − 1). Power-of-two weights make the numerator
    * an exact BIGINT on both engines; the single IEEE division is the
    * only float op (the e18/e19 discipline). Overflow headroom:
    * |cents| ≤ 10⁷ ⇒ num ≤ 10⁷·2¹⁶ ≈ 6.6·10¹¹.
    *
    * Shape: 16 `lag`s share ONE window definition → one user-keyed
    * shuffle + per-user sort, O(W) state per row — identical cost to
    * a single-lag query. Emitted only for full frames (n = 16) so the
    * estimate's weight normalization is a constant both engines share.
    */
  val e20 = QueryDef(
    "e20_ewma",
    Some {
      val terms = (0 to 15)
        .map(j => s"lag(cents, $j) OVER pw * ${1L << (15 - j)}")
        .mkString(" + ")
      s"""WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      w AS (SELECT event_id, user_id, ts_us, cents,
          $terms AS ewma_num,
          lag(cents, 15) OVER pw AS oldest
        FROM b
        WINDOW pw AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      SELECT event_id, user_id, ts_us, cents,
        CAST(ewma_num AS BIGINT) AS ewma_num,
        CAST(ewma_num AS DOUBLE) / 65535.0 AS ewma_cents
      FROM w WHERE oldest IS NOT NULL ORDER BY event_id"""
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val pw = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val num = (0 to 15)
      .map(j => lag(col("cents"), j).over(pw) * lit(1L << (15 - j)))
      .reduce(_ + _)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("ewma_num", num)
      .withColumn("oldest", lag(col("cents"), 15).over(pw))
      .where(col("oldest").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("cents"),
        col("ewma_num"),
        (col("ewma_num").cast("double") / lit(65535.0)).as("ewma_cents"))
      .orderBy("event_id")
  }

  /** e21: MARKOV TRANSITION matrix — the path-analysis readout
    * between e11's funnel (a FIXED step sequence) and e17's pattern
    * match (ONE fixed shape): the full first-order behavior model —
    * for every ordered (from → to) event-type pair, how often does a
    * user's next event follow, and with what probability. This is
    * the table next-action prediction, anomalous-flow detection, and
    * funnel DESIGN (which steps actually follow which) read off;
    * e11/e17 then test the sequences it suggests. Sequencing uses
    * the family's total order (ts_us, event_id — no ties, both
    * engines agree); one lag per user turns the event log into
    * transition pairs; probabilities are per-from-state
    * normalizations of exact BIGINT counts, each ONE IEEE division.
    *
    * Scale shape: ONE user-keyed shuffle for the sequence window
    * (the e18/e20 exchange), then a partial+final count into a
    * |event_types|² table — driver-sized by construction — where the
    * normalizing window runs for free. No second corpus pass, no
    * join. At 100 TB the transition table is still 25 rows.
    */
  val e21 = QueryDef(
    "e21_markov_transitions",
    Some("""WITH s AS (SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS from_type
      FROM events),
      t AS (SELECT from_type, event_type AS to_type, count(*) AS n
            FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM t ORDER BY from_type, to_type""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val seqW = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag("event_type", 1).over(seqW).as("from_type"))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromW = Window.partitionBy("from_type")
    pairs
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / sum("n").over(fromW).cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** e22: top-k PATH MINING — the second-order step past e21's
    * transition matrix: the 10 most-travelled 3-step event-type
    * paths with their share of all 3-step windows, the "how do users
    * actually move" readout product analytics calls path/flow
    * analysis (and the data e11's funnel steps should be CHOSEN
    * from, rather than guessed). Two lags over the family's total
    * order turn the log into path occurrences; counts aggregate into
    * a ≤|types|³ table — driver-sized — where the share window runs
    * free; the deterministic (n DESC, lexicographic path) order +
    * LIMIT fuses into TakeOrderedAndProject.
    *
    * Scale shape: the SAME one user-keyed shuffle as e21 (two lags
    * share one window definition — one sort, the e20 lesson), one
    * partial+final count, top-10 via per-partition heaps. No second
    * corpus pass at any N.
    */
  val e22 = QueryDef(
    "e22_path_mining",
    Some("""WITH s AS (SELECT user_id, event_type,
        lag(event_type, 1) OVER w AS t2, lag(event_type, 2) OVER w AS t1
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      p AS (SELECT t1, t2, event_type AS t3, count(*) AS n
            FROM s WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
      SELECT t1 AS step1, t2 AS step2, t3 AS step3, CAST(n AS BIGINT) AS n,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS share
      FROM p ORDER BY n DESC, step1, step2, step3 LIMIT 10""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val seqW = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val paths = Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("t3"),
        lag("event_type", 1).over(seqW).as("t2"),
        lag("event_type", 2).over(seqW).as("t1"))
      .where(col("t1").isNotNull)
      .groupBy("t1", "t2", "t3")
      .agg(count(lit(1)).as("n"))
    paths
      .select(col("t1").as("step1"), col("t2").as("step2"), col("t3").as("step3"),
        col("n"),
        (col("n").cast("double") /
          sum("n").over(Window.partitionBy()).cast("double")).as("share"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  /** e24's probe lags (hours), one definition for both engines. */
  private val AcfLags = Seq(1, 2, 3, 6, 12, 24)

  /** e24: PERIODICITY detection — the sample autocorrelation of each
    * event type's hourly volume at probe lags up to one day, the
    * seasonality readout capacity planning and anomaly baselining
    * start from (a daily cycle shows as a peak at lag 24; this
    * uniform synthetic corpus honestly reads ≈ 0 at every lag — the
    * x22/x26 convention). Exactness: counts are integers, so the
    * centered products cross-multiply into pure BIGINTs —
    * r_k = Σ(n·c_t − S)(n·c_{t+k} − S) / Σ(n·c_t − S)², where the
    * common n² factor cancels between numerator and denominator and
    * each side is an exact integer sum; the ONLY float op is the
    * final division (emitted alongside both exact operands).
    * Headroom (the x24 convention): |n·c − S| ≤ n·max(c); at 10⁶
    * grid hours × 10⁴ events/hour the summand is ~10²⁰ — past int64
    * — so at that scale rescale counts to coarser buckets or widen
    * to decimal; at any bench SF the sum is < 10¹³.
    *
    * Scale shape: ONE events pass into (type × hour) counts, the e08
    * zero-filled grid (gaps are real zeros, not missing rows — an
    * autocorrelation over a gappy series would be biased), then all
    * six lags as six `lead`s sharing ONE window definition (the e20
    * lesson: one sort) over the tiny counts table, one partial+final
    * aggregate, and a 6-row-per-type reshape of the aggregate.
    */
  val e24 = QueryDef(
    "e24_periodicity",
    Some {
      val leads = AcfLags.map(k => s"lead(cnt, $k) OVER w1 AS l$k").mkString(",\n          ")
      val nums = AcfLags.map(k =>
        s"sum(CASE WHEN l$k IS NULL THEN 0 ELSE (nh*cnt - s)*(nh*l$k - s) END) AS n$k")
        .mkString(",\n          ")
      val numCase = s"CASE lg.lag ${AcfLags.map(k => s"WHEN $k THEN n$k").mkString(" ")} END"
      s"""WITH w AS (SELECT event_type,
          epoch_us(ts) - epoch_us(ts) % 3600000000 AS hr FROM events),
      b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM w),
      grid AS (SELECT t.event_type,
          unnest(range(b.lo, b.hi + 3600000000, 3600000000)) AS hr
        FROM (SELECT DISTINCT event_type FROM w) t, b),
      c AS (SELECT event_type, hr, count(*) AS n FROM w GROUP BY 1, 2),
      serie AS (SELECT g.event_type, g.hr, CAST(coalesce(c.n, 0) AS BIGINT) AS cnt
        FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr),
      st AS (SELECT event_type, count(*) AS nh, sum(cnt) AS s FROM serie GROUP BY 1),
      d AS (SELECT se.event_type, se.cnt, st.nh, st.s,
          $leads
        FROM serie se JOIN st ON st.event_type = se.event_type
        WINDOW w1 AS (PARTITION BY se.event_type ORDER BY se.hr)),
      a AS (SELECT event_type,
          sum((nh*cnt - s)*(nh*cnt - s)) AS den,
          $nums
        FROM d GROUP BY 1),
      lg AS (SELECT * FROM (VALUES ${AcfLags.map(k => s"($k)").mkString(", ")}) AS t(lag))
      SELECT a.event_type, CAST(lg.lag AS BIGINT) AS lag_hours,
        CAST($numCase AS BIGINT) AS num,
        CAST(den AS BIGINT) AS den,
        CASE WHEN den = 0 THEN 0.0
             ELSE CAST($numCase AS DOUBLE) / CAST(den AS DOUBLE) END AS autocorr
      FROM a CROSS JOIN lg ORDER BY event_type, lag_hours"""
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Tables.events(s, d)
      .select(col("event_type"),
        (col("ts_us") - col("ts_us") % 3600000000L).as("hr"))
    val bounds = w.agg(min("hr").as("lo"), max("hr").as("hi"))
    val grid = w.select("event_type").distinct()
      .crossJoin(bounds) // 1-row side: broadcast by construction (e08)
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 3600000000)")).as("hr"))
    val counts = w.groupBy(col("event_type").as("c_type"), col("hr").as("c_hr"))
      .agg(count(lit(1)).as("n"))
    val serie = grid.join(counts,
        grid("event_type") === col("c_type") && col("hr") === col("c_hr"), "left")
      .select(grid("event_type"), col("hr"), coalesce(col("n"), lit(0L)).as("cnt"))
    val st = serie.groupBy(col("event_type").as("s_type"))
      .agg(count(lit(1)).as("nh"), sum("cnt").as("s"))
    val w1 = Window.partitionBy("event_type").orderBy("hr")
    var dd = serie.join(st, col("event_type") === col("s_type"))
    AcfLags.foreach { k => dd = dd.withColumn(s"l$k", lead("cnt", k).over(w1)) }
    val a = dd.groupBy("event_type").agg(
      sum((col("nh") * col("cnt") - col("s")) * (col("nh") * col("cnt") - col("s")))
        .as("den"),
      AcfLags.map { k =>
        sum(when(col(s"l$k").isNull, 0L)
          .otherwise((col("nh") * col("cnt") - col("s")) *
            (col("nh") * col(s"l$k") - col("s")))).as(s"n$k")
      }: _*)
    a.select(col("event_type"), explode(array(AcfLags.map { k =>
        struct(lit(k.toLong).as("lag_hours"), col(s"n$k").as("num"), col("den"))
      }: _*)).as("t"))
      .select(col("event_type"), col("t.lag_hours").as("lag_hours"),
        col("t.num").as("num"), col("t.den").as("den"))
      .select(col("event_type"), col("lag_hours"), col("num"), col("den"),
        when(col("den") === 0L, lit(0.0))
          .otherwise(col("num").cast("double") / col("den").cast("double"))
          .as("autocorr"))
      .orderBy("event_type", "lag_hours")
  }

  /** e23's tuning constants, interpolated into the oracle: allowance
    * slack above the per-user mean, and the alarm threshold — both in
    * exact cents. DECLARED BEFORE e23: object vals initialize in
    * declaration order, and a forward reference from the oracle's
    * string interpolation silently bakes 0 (caught live: the oracle
    * shipped `- 0` / `> 0` while the Spark closure, evaluated lazily
    * at query time, used the real values).
    */
  private val CusumSlackCents = 500L
  private val CusumThresholdCents = 5000L

  /** e23: CUSUM drift detection — the SEQUENTIAL change-point test
    * (Page 1954) that catches what e18's rolling z-score can't: a
    * persistent small upward shift that never spikes any single
    * window. The textbook recursion S_i = max(0, S_{i−1} + (x_i − k))
    * looks un-distributable — but it has the exact closed form
    * S_i = P_i − min(0, min_{j≤i} P_j) over the increment prefix sums
    * P, which turns the whole detector into TWO stacked window
    * functions over ONE per-user sort (running sum, then running min
    * of it): no sequential state, no UDF, the
    * prefix-reformulation discipline q52/e14 established. The
    * allowance k is the user's own integer mean + [[CusumSlackCents]]
    * (per-user baselining — a global target would flag every
    * high-spending user), all arithmetic exact BIGINT cents (the e18
    * quantization), and the emitted rows are alarm ONSETS — the
    * crossings of [[CusumThresholdCents]], one per drift episode
    * (an un-reset CUSUM stays high while an excursion drains; the
    * episode start is what an operator pages on), each with its S.
    *
    * Scale shape: one partial+final per-user mean aggregate, one
    * user-keyed sort shared by both window functions (same spec — a
    * single exchange+sort in the plan), a narrow filter. O(1) state
    * per row; the streaming face would carry (P, minP, lastS) —
    * three longs.
    */
  val e23 = QueryDef(
    "e23_cusum_drift",
    Some(s"""WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      um AS (SELECT user_id, sum(cents) // count(*) AS mean_cents
             FROM b GROUP BY user_id),
      p AS (SELECT b.event_id, b.user_id, b.ts_us, b.cents,
          sum(b.cents - um.mean_cents - $CusumSlackCents) OVER w AS pf
        FROM b JOIN um USING (user_id)
        WINDOW w AS (PARTITION BY b.user_id ORDER BY b.ts_us, b.event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      sc AS (SELECT event_id, user_id, ts_us, cents,
          pf - least(0, min(pf) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_cents
        FROM p),
      on_ AS (SELECT event_id, user_id, ts_us, cents, s_cents,
          lag(s_cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS s_prev
        FROM sc)
      SELECT event_id, user_id, ts_us, cents, CAST(s_cents AS BIGINT) AS s_cents
      FROM on_
      WHERE s_cents > $CusumThresholdCents
        AND coalesce(s_prev, 0) <= $CusumThresholdCents
      ORDER BY event_id""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val b = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // exact FLOOR division in both engines: DuckDB `//` floors, Spark
    // `div` truncates toward zero — they diverge on negative sums
    // (refund-style values), so the toward-zero quotient is corrected
    // down by one when the remainder is nonzero and negative. A double
    // division + cast could round across the floor boundary instead.
    val um = b.groupBy("user_id")
      .agg(expr("""sum(cents) div count(1)
        - (CASE WHEN sum(cents) % count(1) != 0 AND sum(cents) < 0
           THEN 1 ELSE 0 END)""").as("mean_cents"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ord = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    b.join(um, "user_id")
      .withColumn("pf",
        sum(col("cents") - col("mean_cents") - lit(CusumSlackCents)).over(w))
      .withColumn("s_cents", col("pf") - least(lit(0L), min("pf").over(w)))
      // alarm ONSETS only: the crossing rows, not every above-threshold
      // row after a spike (an un-reset CUSUM stays high while the
      // excursion drains — episodes are what an operator pages on)
      .withColumn("s_prev", coalesce(lag("s_cents", 1).over(ord), lit(0L)))
      .where(col("s_cents") > CusumThresholdCents &&
        col("s_prev") <= CusumThresholdCents)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("cents"),
        col("s_cents"))
      .orderBy("event_id")
  }

  /** e25: BURST DETECTION — per-user activity hours whose event count
    * exceeds the user's mean active-hour rate by more than 3σ. The
    * static-threshold dual of e23's CUSUM (which catches slow drift;
    * a burst is the opposite shape — one hour of anomalous volume:
    * scraping, replay attacks, runaway clients — the per-entity rate
    * anomaly every ingestion pipeline screens for). Contract: the
    * baseline is the user's OBSERVED ACTIVE hours (zero-event hours
    * contribute nothing — a sparse user's quiet hours don't dilute
    * σ), and users with a single active hour have no variance to test
    * and are excluded.
    *
    * Determinism — the g06/x18 exact-integer discipline applied to a
    * variance test: `cnt > μ + 3σ` is evaluated ENTIRELY in BIGINT by
    * clearing denominators and squaring the (guaranteed non-negative)
    * deviation — `cnt·n > S` first, then `(cnt·n − S)² > 9·(n·Q − S²)`
    * with S = Σcnt, Q = Σcnt², n = active hours. No float ever enters
    * the predicate; the reported mean is ONE IEEE division of exact
    * integers. Overflow bound: the squared term needs (cnt·n)² <
    * 2⁶³ — safe to ~3M events/user-hour at ~1k active hours; beyond
    * that scale the counts first (the g01 MassUnit argument).
    *
    * Scale shape: two partial+final aggregations (events → hour
    * counts → per-user moments) and one node-sized join back, all on
    * the user_id key — ONE shuffle family end-to-end, no windows, no
    * sorts until the presentation ORDER BY. At 100 TB the hour-count
    * aggregation is the only fact-sized stage, and it combines
    * map-side.
    */
  private[graft] val HourUs = 3600000000L

  /** The e25 readout over ANY (user_id, hour_us, cnt) hour-count table,
    * shared by e25 and BurstSpec, which pins the predicate on
    * hand-built counts. Output: flagged hours only,
    * (user_id, hour_us, cnt, n_hours, mean_cnt), unsorted.
    */
  private[graft] def burstFlags(hc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val st = hc.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cnt").as("s"),
        sum(col("cnt") * col("cnt")).as("q"))
    val dev = col("cnt") * col("n") - col("s")
    hc.join(st, Seq("user_id"))
      .where(col("n") >= 2 && dev > 0 &&
        dev * dev > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("hour_us"), col("cnt"),
        col("n").as("n_hours"),
        (col("s").cast("double") / col("n")).as("mean_cnt"))
  }

  val e25 = QueryDef(
    "e25_burst_detect",
    Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      hc AS (SELECT user_id, ts_us - ts_us % $HourUs AS hour_us,
             CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2),
      st AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cnt) AS BIGINT) AS s, CAST(sum(cnt*cnt) AS BIGINT) AS q
             FROM hc GROUP BY 1)
      SELECT h.user_id, h.hour_us, h.cnt, st.n AS n_hours,
        CAST(st.s AS DOUBLE) / st.n AS mean_cnt
      FROM hc h JOIN st ON h.user_id = st.user_id
      WHERE st.n >= 2 AND h.cnt * st.n > st.s
        AND (h.cnt * st.n - st.s) * (h.cnt * st.n - st.s)
              > 9 * (st.n * st.q - st.s * st.s)
      ORDER BY h.user_id, h.hour_us""")) { (s, d) =>
    val hc = Tables.events(s, d)
      .select(col("user_id"), (col("ts_us") - col("ts_us") % HourUs).as("hour_us"))
      .groupBy("user_id", "hour_us")
      .agg(count(lit(1)).as("cnt"))
    burstFlags(hc).orderBy("user_id", "hour_us")
  }

  /** e26: LAST-TOUCH ATTRIBUTION — every purchase attributed to the
    * user's most recent click within a 7-day lookback, plus the
    * time-to-convert readout (attribution rate, total and mean gap).
    * The marketing dual of e11's funnel: e11 asks "who completed the
    * sequence", e26 asks "which touchpoint gets credit and how long
    * did conversion take" — the report attribution models start from.
    *
    * Scale shape — the e21 lesson applied to what is naively a
    * per-purchase RANGE JOIN (purchases × clicks within 7 days, the
    * quadratic hazard on active users): a conditional running max
    * (`max(CASE click THEN ts)` over the per-user event order, frame
    * ROWS UNBOUNDED..1 PRECEDING) turns it into ONE window over ONE
    * per-user sort — each purchase reads its latest preceding click
    * in O(1), the lookback bound is a post-filter, and the final
    * readout is a one-row aggregate. The oracle is the same program
    * as SQL (DuckDB's `epoch_us` keeps it oracle-side-only; the
    * window frame, tiebreak, and every aggregate mirror the
    * DataFrame plan clause for clause).
    *
    * Determinism: the window order carries the family's (ts_us,
    * event_id) total tiebreak; all gaps are exact BIGINT micros;
    * mean_gap_us is ONE IEEE division guarded by the d12 zero-case —
    * the zero-purchase readout is the same (0, 0, 0, 0.0) row on
    * BOTH sides (sums coalesced in both texts).
    */
  private val e26Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
         FROM events),
      w AS (SELECT user_id, event_type, ts_us, event_id,
          max(CASE WHEN event_type = 'click' THEN ts_us END) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        FROM e)
      SELECT CAST(count(*) AS BIGINT) AS n_purchases,
        CAST(coalesce(sum(CASE WHEN last_click_us IS NOT NULL
            AND ts_us - last_click_us <= 604800000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_attributed,
        CAST(coalesce(sum(CASE WHEN last_click_us IS NOT NULL
            AND ts_us - last_click_us <= 604800000000 THEN ts_us - last_click_us ELSE 0 END), 0) AS BIGINT) AS gap_us_total,
        CASE WHEN coalesce(sum(CASE WHEN last_click_us IS NOT NULL
            AND ts_us - last_click_us <= 604800000000 THEN 1 ELSE 0 END), 0) = 0 THEN 0.0
          ELSE CAST(sum(CASE WHEN last_click_us IS NOT NULL
            AND ts_us - last_click_us <= 604800000000 THEN ts_us - last_click_us ELSE 0 END) AS DOUBLE)
            / sum(CASE WHEN last_click_us IS NOT NULL
            AND ts_us - last_click_us <= 604800000000 THEN 1 ELSE 0 END) END AS mean_gap_us
      FROM w WHERE event_type = 'purchase'"""

  val e26 = QueryDef(
    "e26_attribution",
    Some(e26Sql)) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val weekUs = 604800000000L
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = col("last_click_us").isNotNull &&
      col("ts_us") - col("last_click_us") <= weekUs
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("ts_us"))).over(w))
      .where(col("event_type") === "purchase")
      .agg(
        count(lit(1)).as("n_purchases"),
        // the d12 coalesce discipline: zero purchases → 0, not NULL
        coalesce(sum(when(attributed, 1L).otherwise(0L)), lit(0L))
          .as("n_attributed"),
        coalesce(sum(when(attributed, col("ts_us") - col("last_click_us"))
          .otherwise(0L)), lit(0L)).as("gap_us_total"))
      .select(col("n_purchases"), col("n_attributed"), col("gap_us_total"),
        when(col("n_attributed") === 0L, lit(0.0))
          .otherwise(col("gap_us_total").cast("double") / col("n_attributed"))
          .as("mean_gap_us"))
  }

  /** e27: ROBUST (median/MAD) outlier profile per event type — the
    * distribution-free complement to e18's rolling z-score: the mean
    * and variance e18 leans on are themselves dragged by the outliers
    * they're meant to catch, while the median and the Median Absolute
    * Deviation have a 50% breakdown point (Hampel's robust-statistics
    * argument) — this is the gate data-quality pipelines run when a
    * feed is ALREADY suspected dirty. Flag: |x − med| > 3·1.4826·MAD
    * (1.4826 = 1/Φ⁻¹(¾) makes MAD a consistent σ estimate under
    * normality).
    *
    * Exactness discipline (the e18/e23 cent arithmetic, pushed one
    * step further — no float appears ANYWHERE, not even one division):
    * values become BIGINT cents; the median is the LOWER median — the
    * rank-⌊(n+1)/2⌋ element under the total order (cents, event_id) —
    * selected, never interpolated, so it is an exact lake value; MAD
    * is the lower median of the exact |cents − med| deviations; and
    * the flag cross-multiplies the constant away:
    * 10000·|x − med| > 44478·MAD  (3·1.4826 = 4.4478 exactly).
    * Worst magnitude 44478·MAD ≈ 2·10⁹ — five orders inside int64.
    *
    * Scale shape: ONE exchange keyed by event_type carries both
    * rank-selection sorts (the med side is a 5-row broadcast back);
    * exact medians genuinely need a per-key sort — a hot key costs
    * its own row count, never a cross-key sort — and the sketch twins
    * (q36/q38 KLL) are the registry's documented approximate path
    * when even that sort is too dear.
    */
  val e27 = QueryDef(
    "e27_mad_outliers",
    Some("""WITH b AS (
      SELECT event_type AS t, event_id,
        CAST(round(value * 100) AS BIGINT) AS c FROM events),
    r1 AS (SELECT t, event_id, c,
        row_number() OVER (PARTITION BY t ORDER BY c, event_id) AS rn,
        count(*) OVER (PARTITION BY t) AS n FROM b),
    med AS (SELECT t, c AS med FROM r1 WHERE rn = (n + 1) // 2),
    dev AS (SELECT b.t, b.event_id, abs(b.c - m.med) AS ad, m.med
      FROM b JOIN med m ON b.t = m.t),
    r2 AS (SELECT t, event_id, ad, med,
        row_number() OVER (PARTITION BY t ORDER BY ad, event_id) AS rn,
        count(*) OVER (PARTITION BY t) AS n FROM dev),
    mad AS (SELECT t, med, ad AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT d.t AS event_type, count(*) AS n_events,
      m.med AS med_cents, m.mad AS mad_cents,
      CAST(sum(CASE WHEN 10000 * d.ad > 44478 * m.mad
        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.t = m.t
    GROUP BY d.t, m.med, m.mad
    ORDER BY event_type""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val rankW = Window.partitionBy("t").orderBy("c", "event_id")
    val cntW = Window.partitionBy("t")
    val b = Tables.events(s, d)
      .select(col("event_type").as("t"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val med = b
      .withColumn("rn", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(cntW))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("t"), col("c").as("med"))
    // med is type-cardinality rows — broadcast; dev feeds BOTH the MAD
    // rank pass and the final readout, so cache it (one corpus scan +
    // one t-sort build the deviations; without the cache the whole
    // med+join chain re-runs inside the mad branch). Lifetime:
    // Bench/Verify clearCache between entries owns release, as with
    // the memoized-operand caches (q51/e14 pattern)
    val dev = b.join(broadcast(med), Seq("t"))
      .select(col("t"), col("event_id"), abs(col("c") - col("med")).as("ad"),
        col("med"))
      .cache()
    val adW = Window.partitionBy("t").orderBy("ad", "event_id")
    val mad = dev
      .withColumn("rn", row_number().over(adW))
      .withColumn("n", count(lit(1)).over(cntW))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("t"), col("ad").as("mad"))
    dev.join(broadcast(mad), Seq("t"))
      .groupBy(col("t").as("event_type"), col("med").as("med_cents"),
        col("mad").as("mad_cents"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(lit(10000L) * col("ad") > lit(44478L) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n_events"), col("med_cents"),
        col("mad_cents"), col("n_outliers"))
      .orderBy("event_type")
  }

  /** e28: DAU/WAU STICKINESS — the canonical product-engagement ratio:
    * per day, the distinct active users that day (DAU) over the
    * distinct users active in the TRAILING 7 days (rolling WAU);
    * stickiness = DAU/WAU ∈ (0, 1] measures how much of the weekly
    * audience shows up daily (the folkloric 1/7 floor only holds for
    * the period AVERAGE under steady DAU — a quiet day after a busy
    * week reads arbitrarily close to 0, which is the signal). The hard part is that COUNT(DISTINCT)
    * does not slide: a distinct count over a moving window can't be
    * window-aggregated (users repeat across days), so the exact form
    * here first collapses the corpus to USER-DAYS (one fact-sized
    * dedup — the only big shuffle), then EXPANDS each user-day into
    * the ≤7 trailing-window grid days it serves (a 7-way generator,
    * exactly 7·|ud| rows by construction) and EQUI-joins that to the
    * day grid — a hash join on day_us, never a broadcast nested loop:
    * the naive `BETWEEN g−6d AND g` band formulation costs |days|·|ud|
    * comparisons under Spark's BNLJ even though its OUTPUT is 7·|ud|,
    * which is the difference between a week and a year of history at
    * scale. At extreme |U| the documented
    * approximate path is a per-day HLL sketch union over the trailing
    * week (q35's mergeability is exactly what sliding distinct needs).
    *
    * Determinism: pure BIGINT day-µs arithmetic (the e01 window
    * idiom) and exact distinct counts; stickiness is ONE IEEE
    * division of two exact BIGINTs.
    */
  val e28 = QueryDef(
    "e28_stickiness",
    Some("""WITH ud AS (
      SELECT DISTINCT user_id,
        epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us FROM events),
    days AS (SELECT DISTINCT day_us FROM ud),
    dau AS (SELECT day_us, count(*) AS dau FROM ud GROUP BY day_us),
    cov AS (SELECT u.user_id,
        u.day_us + k.off * 86400000000 AS g_day
      FROM ud u CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) k(off)),
    wau AS (SELECT c.g_day AS day_us, count(DISTINCT c.user_id) AS wau
      FROM cov c JOIN days g ON g.day_us = c.g_day
      GROUP BY c.g_day)
    SELECT d.day_us AS day_us, d.dau, w.wau,
      CAST(d.dau AS DOUBLE) / w.wau AS stickiness
    FROM dau d JOIN wau w ON d.day_us = w.day_us
    ORDER BY d.day_us""")) { (s, d) =>
    // lifetime: Bench/Verify clearCache between entries owns release,
    // as with the memoized-operand caches (q51/e14 pattern)
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        (col("ts_us") - col("ts_us") % 86400000000L).as("day_us"))
      .distinct()
      .cache()
    val days = ud.select("day_us").distinct()
    val dau = ud.groupBy("day_us").agg(count(lit(1)).as("dau"))
    // each user-day serves at most the 7 grid days [d, d+6]: expand
    // with a 7-way generator (exactly 7·|ud| rows) and EQUI-join the
    // small distinct-day grid (broadcast) to prune phantom days past
    // the grid — a hash join, not the |days|·|ud| BNLJ the BETWEEN
    // band formulation executes as
    val wau = ud
      .select(col("user_id"), explode(expr(
        "transform(sequence(0L, 6L), k -> day_us + k * 86400000000)"))
        .as("g_day"))
      .join(broadcast(days.select(col("day_us").as("g_day"))), Seq("g_day"))
      .groupBy(col("g_day"))
      .agg(countDistinct("user_id").as("wau"))
    dau.join(wau, dau("day_us") === col("g_day"))
      .select(col("day_us"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day_us")
  }

  /** e29: FUNNEL TIME-TO-CONVERT — the latency distribution between a
    * user's FIRST click and their first purchase AT OR AFTER it: the
    * readout growth teams put next to e11's conversion counts (how
    * many convert) and e26's attribution (which click gets credit) —
    * this one answers HOW LONG conversion takes, as exact order
    * statistics, because conversion latencies are heavy-tailed and a
    * mean (e26's readout) hides exactly the tail that matters.
    *
    * Exactness: latencies are BIGINT µs differences of exact min()s;
    * the median is the e27 lower-median rank ⌊(n+1)/2⌋ and p90 the
    * lower rank ⌊(9n+9)/10⌋ — selected lake values, never
    * interpolated; ties break on user_id. No float anywhere.
    *
    * Scale shape: two fact-sized aggregations (first click / first
    * qualifying purchase per user, one user-keyed exchange each — and
    * the second reuses the first's clustering), then ONE global sort
    * over USER-level rows — converter-cardinality, orders of
    * magnitude below event volume; the final row is a cross of
    * one-row aggregates (bounded by construction, the q50 shape).
    */
  val e29 = QueryDef(
    "e29_time_to_convert",
    Some("""WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS t_click
      FROM events WHERE event_type = 'click' GROUP BY user_id),
    fp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_conv
      FROM events e JOIN fc ON fc.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.t_click
      GROUP BY e.user_id),
    lat AS (SELECT fp.user_id, fp.t_conv - fc.t_click AS lat_us
      FROM fp JOIN fc ON fc.user_id = fp.user_id),
    r AS (SELECT lat_us,
        row_number() OVER (ORDER BY lat_us, user_id) AS rn,
        count(*) OVER () AS n FROM lat),
    s AS (SELECT CAST(max(n) AS BIGINT) AS n_converted,
        CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_us END) AS BIGINT) AS med_lat_us,
        CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_us END) AS BIGINT) AS p90_lat_us,
        CAST(max(lat_us) AS BIGINT) AS max_lat_us
      FROM r),
    c AS (SELECT count(*) AS n_clickers FROM fc)
    SELECT c.n_clickers,
      coalesce(s.n_converted, 0) AS n_converted,
      coalesce(s.med_lat_us, 0) AS med_lat_us,
      coalesce(s.p90_lat_us, 0) AS p90_lat_us,
      coalesce(s.max_lat_us, 0) AS max_lat_us
    FROM c CROSS JOIN s""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val fc = ev.where(col("event_type") === "click")
      .groupBy("user_id").agg(min("ts_us").as("t_click"))
    val fp = ev.where(col("event_type") === "purchase")
      .join(fc, Seq("user_id"))
      .where(col("ts_us") >= col("t_click"))
      .groupBy("user_id").agg(min("ts_us").as("t_conv"),
        min("t_click").as("t_click0"))
    val lat = fp.select(col("user_id"),
      (col("t_conv") - col("t_click0")).as("lat_us"))
    val r = lat
      .withColumn("rn", row_number().over(
        Window.orderBy("lat_us", "user_id")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val stats = r.agg(
      max("n").as("n_converted"),
      max(when(col("rn") === expr("(n + 1) div 2"), col("lat_us")))
        .as("med_lat_us"),
      max(when(col("rn") === expr("(9 * n + 9) div 10"), col("lat_us")))
        .as("p90_lat_us"),
      max("lat_us").as("max_lat_us"))
    fc.agg(count(lit(1)).as("n_clickers"))
      .crossJoin(stats)
      .select(col("n_clickers"),
        coalesce(col("n_converted"), lit(0L)).as("n_converted"),
        coalesce(col("med_lat_us"), lit(0L)).as("med_lat_us"),
        coalesce(col("p90_lat_us"), lit(0L)).as("p90_lat_us"),
        coalesce(col("max_lat_us"), lit(0L)).as("max_lat_us"))
  }

}
