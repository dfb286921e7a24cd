package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.5): ranking, frames, lag/lead.
  * One shuffle on the partition key per distinct (partitionBy, orderBy)
  * pair; windows sharing a spec are evaluated in a single WindowExec.
  */
object Windows {

  def queries: Seq[QueryDef] = Seq(q13, q14, q15, q16, q22, q32, q34, q55, q79)

  /** q55: time-interval RANGE frame — the frame mode q14's ROWS frames
    * can't express: each event sees the trailing 30 MINUTES of its
    * type's stream (however many rows that is), the per-event form of
    * a moving time-window aggregate (rate limiting, rolling exposure,
    * "activity in the last half hour" features). RANGE frames are
    * PEER-INCLUSIVE: same-timestamp events share one frame regardless
    * of intra-peer order, so the result is deterministic under any
    * partitioning without an intra-timestamp tie-break — which is
    * exactly why the frame bound is on the integral ts_us and the
    * money sum rides the exact decimal domain (xsum2). Plan: one
    * shuffle on event_type + one sort — identical cost to a ROWS
    * frame; the frame arithmetic is a per-row pointer walk inside the
    * window operator.
    */
  val q55 = QueryDef(
    "q55_time_range_frame",
    Some("""SELECT event_id, event_type, epoch_us(ts) AS ts_us,
      count(*) OVER w AS n_30m,
      CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_30m
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")) { (s, d) =>
    val w = Window.partitionBy("event_type").orderBy("ts_us")
      .rangeBetween(-1800000000L, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        count(lit(1)).over(w).as("n_30m"),
        sum(col("value").cast(m2)).over(w).cast("double").as("sum_30m"))
      .orderBy("event_id")
  }

  /** Per-key top-k through the custom whole-operator plan
    * ([[graft.plans.TopKPerKey]] + TopKStrategy): bounded heaps in a
    * partial stage (≤ k rows per key per partition reach the
    * shuffle), heap-merge in the clustered final stage, NO sort
    * anywhere. Same oracle ground truth as q32's Aggregator variant —
    * window formulation, Aggregator, and custom operator all agree.
    */
  val q34 = QueryDef(
    "q34_topk_strategy",
    Some("""SELECT o_custkey, o_orderkey,
      o_totalprice AS price
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""")) { (s, d) =>
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice")
    graft.plans.TopK.perKey(o,
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Per-key top-k via the bounded-heap [[graft.functions.TopKAgg]]
    * Aggregator: top-3 orders by totalprice per customer. Map-side
    * partial buffers cap at k entries, so the shuffle carries ≤ k
    * rows per key per partition — unlike the window formulation
    * (the oracle), which sorts every group fully.
    */
  val q32 = QueryDef(
    "q32_topk_per_key",
    Some("""SELECT o_custkey, rn, o_orderkey,
      o_totalprice AS price
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 3 ORDER BY o_custkey, rn""")) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(graft.functions.TopKAgg.topK(3)(
        col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rn"),
        col("e._2").as("o_orderkey"), col("e._1").as("price"))
      .orderBy("o_custkey", "rn")
  }

  /** row_number / rank / dense_rank / ntile. row_number's window orders
    * by a unique tiebreak (suppkey) — without it the result is
    * nondeterministic and can never hash-match an oracle.
    *
    * SCALE NOTE: `nation_seq` and `quartile` use UNPARTITIONED windows
    * (`OVER (ORDER BY …)` with no PARTITION BY), which Spark executes
    * as a single-partition sort — acceptable only because supplier is
    * dimension-sized. Never copy this shape onto a fact table: a
    * global dense_rank belongs in a join against a ranked dimension,
    * and a global ntile is better served by approx percentile cuts.
    */
  val q13 = QueryDef(
    "q13_window_rank",
    Some("""SELECT s_suppkey, s_nationkey,
      CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rn,
      CAST(rank()       OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rk,
      CAST(dense_rank() OVER (ORDER BY s_nationkey) AS BIGINT) AS nation_seq,
      CAST(ntile(4)     OVER (ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS quartile
      FROM supplier ORDER BY s_suppkey""")) { (s, d) =>
    val byBal = Window.partitionBy("s_nationkey").orderBy(col("s_acctbal").desc, col("s_suppkey"))
    val byNation = Window.orderBy("s_nationkey")
    val global = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(s, d)
      .select(
        col("s_suppkey"), col("s_nationkey"),
        big(row_number().over(byBal)).as("rn"),
        big(rank().over(byBal)).as("rk"),
        big(dense_rank().over(byNation)).as("nation_seq"),
        big(ntile(4).over(global)).as("quartile"))
      .orderBy("s_suppkey")
  }

  /** Frame-based running aggregates: cumulative sum (unbounded
    * preceding), 3-row moving average, partition count.
    */
  val q14 = QueryDef(
    "q14_window_frames",
    Some("""SELECT o_orderkey, o_custkey,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3,
      count(*) OVER (PARTITION BY o_custkey) AS n_cust_orders
      FROM orders ORDER BY o_orderkey""")) { (s, d) =>
    val seq = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val run3 = seq.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(m2))
          .over(seq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"),
        (sum(col("o_totalprice").cast(m2)).over(run3).cast("double")
          / count(lit(1)).over(run3)).as("moving_avg3"),
        count(lit(1)).over(Window.partitionBy("o_custkey")).as("n_cust_orders"))
      .orderBy("o_orderkey")
  }

  /** lag / lead over the events stream (per-user session ordering).
    * Inter-event gap in exact integer microseconds.
    */
  val q15 = QueryDef(
    "q15_lag_lead",
    Some("""SELECT event_id, user_id, value,
      lag(value)  OVER w AS prev_value,
      lead(value) OVER w AS next_value,
      epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ORDER BY event_id""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(
        col("event_id"), col("user_id"), col("value"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Top-k: global ORDER BY + LIMIT fuses into TakeOrderedAndProject —
    * each partition keeps a k-row heap, only k×partitions rows reach
    * the driver side; no global sort at any scale.
    */
  /** As-of join: each purchase paired with the user's most recent
    * click at-or-before it. Implemented as the union+window pattern —
    * ONE shuffle on user_id total (an equi-join + per-purchase max
    * would take three) and no range-condition blowup at any scale;
    * clicks sort before purchases at equal timestamps so the
    * at-or-before bound is inclusive. Equal-timestamp clicks dedupe
    * to the highest event_id first, making the result deterministic
    * (DuckDB's native ASOF JOIN leaves that tie unspecified).
    */
  val q22 = QueryDef(
    "q22_asof_join",
    Some("""WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS c_us, value AS c_value,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                 ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'),
      c1 AS (SELECT user_id, c_us, c_value FROM clicks WHERE rn = 1),
      p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us, value
            FROM events WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, p.value,
             c.c_us AS click_us, c.c_value AS click_value
      FROM p ASOF LEFT JOIN c1 c
        ON p.user_id = c.user_id AND c.c_us <= p.p_us
      ORDER BY p.event_id""")) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "ts_us").orderBy(col("event_id").desc)))
      .where(col("rn") === 1)
      .select(col("user_id"), col("ts_us"),
        lit(null).cast("long").as("p_event_id"),
        lit(null).cast("double").as("p_value"),
        col("ts_us").as("c_us"), col("value").as("c_value"),
        lit(0).as("kind"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("p_event_id"), col("value").as("p_value"),
        lit(null).cast("long").as("c_us"),
        lit(null).cast("double").as("c_value"),
        lit(1).as("kind"))
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("click_us", last("c_us", ignoreNulls = true).over(w))
      .withColumn("click_value", last("c_value", ignoreNulls = true).over(w))
      .where(col("kind") === 1)
      .select(col("p_event_id").as("event_id"), col("user_id"),
        col("p_value").as("value"), col("click_us"), col("click_value"))
      .orderBy("event_id")
  }

  val q16 = QueryDef(
    "q16_topk",
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q79: DISTRIBUTION window functions — percent_rank, cume_dist,
    * and per-partition ntile(10): the normalized-position family q13's
    * rank/dense_rank doesn't cover, and the standard feature-
    * engineering move ("customer's balance percentile within their
    * segment") that turns raw magnitudes into model-ready [0,1]
    * features without any global statistics pass.
    *
    * Determinism: the window ORDER BY ends in the unique c_custkey, so
    * every rank is total; percent_rank = (rank−1)/(n−1) and cume_dist
    * = rank/n are each ONE IEEE division of exact integers (the g10
    * discipline), and ntile over a total order is a pure integer
    * formula — all three bit-identical cross-engine by construction.
    *
    * Scale shape: ONE exchange on the partition key carrying all three
    * functions in a single Window operator over a single sort; a hot
    * segment costs its own row count, never a cross-segment sort.
    */
  private val q79Sql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume,
      ntile(10) OVER w AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey"""

  val q79 = QueryDef(
    "q79_distribution_ranks",
    Some(q79Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q79Sql)
  }
}
