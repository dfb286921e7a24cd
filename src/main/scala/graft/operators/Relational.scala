package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.5): the capabilities the
  * reference reaches through its backing RDBMS via `ArchiveRows`
  * (chiv.go:45–52, join evidence chiv_integration_test.go:375–384),
  * supplied natively here as Catalyst plans.
  *
  * Scale notes (100 TB mindset, per query):
  *   - dimension tables (region/nation/part/supplier) are always
  *     `broadcast()` — no shuffle for the dim side at any scale
  *   - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once;
  *     aggregations reuse that clustering where possible
  *   - filters are plain parquet-pushable predicates (verified via
  *     .explain PushedFilters in the perf suite)
  */
object Relational {

  def queries: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q33, q37, q39, q42, q43, q44,
      q46, q48, q49, q50, q53, q54, q58, q59, q60, q61, q63, q64, q65,
      q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q78,
      q80, q81, q82, q83, q84, q85)

  /** FULL OUTER join with all three match classes live: customers are
    * filtered to positive balances so orders from excluded customers
    * surface as right-only rows, order-less customers as left-only.
    * Plans as a shuffled SMJ (outer joins can't broadcast the outer
    * side); at 100 TB the same single shuffle on the join key — no
    * extra cost over an inner join beyond the null-extension.
    */
  val q39 = QueryDef(
    "q39_outer_join",
    Some("""SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
      CASE WHEN c.c_custkey IS NULL THEN 'order_only'
           WHEN o.o_custkey IS NULL THEN 'customer_only'
           ELSE 'both' END AS side,
      c.c_name, o.n_orders,
      o.total
      FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0) c
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
      ORDER BY custkey""")) { (s, d) =>
    val c = Tables.customer(s, d)
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_name"))
    val o = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), xsum2(col("o_totalprice")).as("total"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both").as("side"),
        col("c_name"), col("n_orders"), col("total"))
      .orderBy("custkey")
  }

  /** Bucketed-layout co-located join — the payoff query for the K1c
    * bucketed-archive sink: both fact tables are archived bucketed on
    * the join key ([[graft.engine.Engine.archiveBucketed]], 8 buckets
    * here; size to ~128-256 MB/bucket in production), so the join
    * consumes the scans' own hashpartitioning and plans with NO
    * Exchange under the sort-merge join — at 100 TB this removes the
    * dominant repeated cost of every fact-fact join, reshuffling the
    * fact table each time. The join runs in a private session with
    * broadcast disabled so the bench number measures the co-located
    * SMJ itself (at sf0.1 the orders side would otherwise broadcast
    * and skip the layout entirely); BucketedArchiveSpec asserts the
    * exchange-free plan. Oracle: the same join over the raw parquet —
    * layout must not change a single value.
    *
    * The layout write runs ONCE per (catalog, source dir) — the whole
    * point of bucketing is pay-the-shuffle-once, so re-laying-out on
    * every invocation would misreport the operator's steady-state cost
    * (bench's min-of-2 therefore times the JOIN, as the entry's name
    * says; the first call still pays and times the write).
    */
  private val bucketedLaidOut = new graft.engine.CatalogMemo[(String, String)]

  val q37 = QueryDef(
    "q37_bucketed_join",
    Some("""SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, d) =>
    // the memo records the pair only AFTER both writes land — a
    // partial layout (second write throws) must retry next call, not
    // silently join a fresh lineitem against stale orders
    val (bktLineitem, bktOrders) = bucketedLaidOut.buildOnce(s, d) { ck =>
      val names = (graft.engine.CatalogMemo.tableName("graft_bkt_lineitem", ck),
        graft.engine.CatalogMemo.tableName("graft_bkt_orders", ck))
      val engine = new graft.engine.Engine(s)
      engine.archiveBucketed(
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"),
        names._1, "l_orderkey", 8)
      engine.archiveBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        names._2, "o_orderkey", 8)
      names
    }
    // private-session conf (the d06 pattern): disable broadcast for
    // THIS query only; the catalog is SharedState-scoped, so the
    // bucketed tables written above are visible here
    val co = graft.functions.GraftFunctions.childSession(s)
    co.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    co.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    co.table(bktLineitem)
      .join(co.table(bktOrders),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), xsum2(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val zorderLaidOut = new graft.engine.CatalogMemo[String]

  /** Z-order data-skipping layout — the storage-layout half bucketing
    * (q37) doesn't cover: lineitem is archived clustered by the Morton
    * interleave of (l_partkey, l_suppkey)
    * ([[graft.engine.Engine.archiveClustered]], 128 KiB row groups, a
    * Parquet bloom filter on l_orderkey for point probes), then a 2-D
    * range predicate aggregates over the clustered table. Each row
    * group covers a small rectangle of the key space, so its footer
    * min/max prunes the scan — at sf0.1 the scan reads ~3% of rows vs
    * ~100% from the identical data laid out unsorted (scan-metric A/B
    * in ZorderSpec). At 100 TB the same layout skips
    * the same fraction of ~128 MB row groups — the pruning arithmetic
    * is scale-free. Layout cost is paid ONCE (content-keyed memo, the
    * q37 discipline); the oracle runs the same predicate over the raw
    * parquet — layout must not change a single value.
    */
  val q42 = QueryDef(
    "q42_zorder_scan",
    Some("""SELECT CAST(count(*) AS BIGINT) AS n,
      CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(12,2))), 0) AS DOUBLE) AS sum_qty,
      CAST(coalesce(sum(l_partkey), 0) AS BIGINT) AS sum_pk
      FROM lineitem
      WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40""")) { (s, d) =>
    val zLineitem = zorderLaidOut.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_z_lineitem", ck)
      new graft.engine.Engine(s).archiveClustered(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
        tbl, "l_partkey", "l_suppkey", bloomCol = Some("l_orderkey"))
      tbl
    }
    s.table(zLineitem)
      .filter(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(10, 40))
      .agg(big(count(lit(1))).as("n"),
        coalesce(xsum2(col("l_quantity")), lit(0.0)).as("sum_qty"),
        big(coalesce(sum("l_partkey"), lit(0L))).as("sum_pk"))
  }

  /** Changelog APPLY (CDC upsert / SCD-1 MERGE) — the apply-side
    * counterpart of q41's compaction, and the core incremental-refresh
    * operation of any snapshot+CDC pipeline: compact a keyed changelog
    * to its latest operation per key (q41's `max_by` partial aggregate
    * — no window sort), then merge onto the snapshot with upsert /
    * delete / insert semantics in ONE full-outer join:
    *
    *   - key only in snapshot           → kept
    *   - latest op 'U', key in snapshot → updated (new price)
    *   - latest op 'U', key absent      → inserted
    *   - latest op 'D'                  → dropped
    *
    * All four classes are live on this data (the snapshot excludes
    * o_orderkey % 13 = 0, so changelog rows for those keys insert).
    * The changelog is synthesized deterministically from lineitem
    * (key = l_orderkey, seq = l_linenumber, op = 'D' iff
    * (l_orderkey + l_linenumber) % 11 = 0) — the x10 synthesis
    * pattern, replayed by the oracle. At 100 TB: one shuffle to
    * compact (partial-agg), one shuffled outer join on the key — the
    * same cost as q39; Spark-only MERGE without a table format, which
    * is exactly what an engine-level CDC apply is.
    */
  val q43 = QueryDef(
    "q43_changelog_apply",
    Some("""WITH snap AS (SELECT o_orderkey AS key, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 13 <> 0),
      cl AS (SELECT l_orderkey AS key, l_linenumber AS seq,
          CASE WHEN (l_orderkey + l_linenumber) % 11 = 0 THEN 'D' ELSE 'U' END AS op,
          l_extendedprice AS price
        FROM lineitem),
      comp AS (SELECT key, op, price FROM (
          SELECT key, op, price,
                 row_number() OVER (PARTITION BY key
                   ORDER BY seq DESC, price DESC, op DESC) AS rn
          FROM cl) WHERE rn = 1)
      SELECT coalesce(s.key, c.key) AS key,
        CASE WHEN s.key IS NULL THEN '(new)' ELSE s.o_orderpriority END AS priority,
        CASE WHEN c.key IS NULL THEN s.o_totalprice ELSE c.price END AS price,
        CASE WHEN c.key IS NULL THEN 'kept'
             WHEN s.key IS NULL THEN 'inserted'
             ELSE 'updated' END AS change
      FROM snap s FULL OUTER JOIN comp c ON s.key = c.key
      WHERE c.key IS NULL OR c.op <> 'D'
      ORDER BY key""")) { (s, d) =>
    val snap = Tables.orders(s, d)
      .filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("key"),
        col("o_orderpriority"), col("o_totalprice"))
    val cl = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("key"),
        col("l_linenumber").as("seq"),
        when((col("l_orderkey") + col("l_linenumber")) % 11 === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("l_extendedprice").as("price"))
    // q41 discipline: latest-per-key as a partial-aggregating max_by,
    // never a window sort over the changelog. The synthetic changelog
    // has duplicate seq values per key (driver data), so the pick
    // order is made TOTAL over the emitted values (seq, price, op) —
    // full duplicates then agree on what they emit either way.
    val comp = cl.groupBy("key")
      .agg(max_by(struct(col("op"), col("price")),
        struct(col("seq"), col("price"), col("op"))).as("m"))
      .select(col("key"), col("m.op").as("op"), col("m.price").as("cprice"))
    snap.join(comp, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("o_orderpriority").isNull && col("op").isNotNull, lit("(new)"))
          .otherwise(col("o_orderpriority")).as("priority"),
        when(col("op").isNull, col("o_totalprice"))
          .otherwise(col("cprice")).as("price"),
        when(col("op").isNull, lit("kept"))
          .when(col("o_orderpriority").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("change"))
      .orderBy("key")
  }

  /** SCD-2 history build — the TYPE-2 counterpart of q43's SCD-1
    * apply, and the standard way a warehouse keeps every version of a
    * changing dimension row: the keyed changelog becomes one row per
    * VERSION carrying its validity interval
    * [valid_from_seq, valid_to_seq) — `lead(seq)` closes each version
    * when the next one opens; the last version stays open
    * (valid_to NULL) and is `is_current` unless it was a delete.
    *
    * The driver's changelog has duplicate (key, seq) pairs (a real
    * CDC-data lesson — q41/q43 hit the same), so versions are defined
    * on the DEDUPLICATED series: a per-(key, seq) pre-aggregation
    * picks max(price)/max(op) — deterministic, total, replayed
    * identically by the oracle — and the window then sees a strict
    * seq order per key.
    *
    * At 100 TB: shuffle 1 is the (key, seq) pre-agg with map-side
    * combine (collapses same-batch duplicates before the exchange);
    * shuffle 2 is the per-key window — per-key history is bounded (a
    * dimension row has bounded churn), so the sort-based window
    * never holds more than one key's versions in memory.
    */
  val q44 = QueryDef(
    "q44_scd2_history",
    Some("""WITH cl AS (SELECT l_orderkey AS key, l_linenumber AS seq,
          CASE WHEN (l_orderkey + l_linenumber) % 11 = 0 THEN 'D' ELSE 'U' END AS op,
          l_extendedprice AS price
        FROM lineitem),
      v AS (SELECT key, seq, max(price) AS price, max(op) AS op
        FROM cl GROUP BY key, seq),
      h AS (SELECT key, seq, price, op,
          row_number() OVER (PARTITION BY key ORDER BY seq) AS version_no,
          lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to
        FROM v)
      SELECT key, CAST(version_no AS BIGINT) AS version_no,
        CAST(seq AS BIGINT) AS valid_from_seq,
        CAST(valid_to AS BIGINT) AS valid_to_seq,
        price, op,
        (valid_to IS NULL AND op <> 'D') AS is_current
      FROM h ORDER BY key, version_no""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cl = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("key"),
        col("l_linenumber").as("seq"),
        when((col("l_orderkey") + col("l_linenumber")) % 11 === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("l_extendedprice").as("price"))
    val versions = cl.groupBy("key", "seq")
      .agg(max("price").as("price"), max("op").as("op"))
    val w = Window.partitionBy("key").orderBy("seq")
    versions
      .select(col("key"),
        big(row_number().over(w)).as("version_no"),
        big(col("seq")).as("valid_from_seq"),
        big(lead(col("seq"), 1).over(w)).as("valid_to_seq"),
        col("price"), col("op"))
      .withColumn("is_current", col("valid_to_seq").isNull && col("op") =!= "D")
      .orderBy("key", "version_no")
  }

  /** Runtime bloom-filter pre-filtering for a selective semi join —
    * the manual form of Spark's runtime row-level filters: build a
    * bloom over the small side's keys (one tiny aggregate), broadcast
    * it, drop non-matching fact rows BEFORE the shuffle, then the
    * exact semi join handles the bloom's false positives. At 100 TB
    * this turns "shuffle the whole fact table" into "shuffle the ~1%
    * that might match". Result is provably the plain semi join → the
    * oracle is the unfiltered EXISTS.
    *
    * Cache lifetime: the filtered-orders leg is `cache()`d lazily and
    * CANNOT be unpersisted here — the action that populates it runs in
    * the caller. Bench/Verify clear Spark's cache between entries;
    * a library caller invoking q33 directly owns the entry's lifetime
    * (`spark.sharedState.cacheManager.clearCache()` or `unpersist` on
    * the cached plan) — otherwise it lives until LRU eviction.
    */
  val q33 = QueryDef(
    "q33_bloom_prefilter",
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_totalprice > 400000)
      ORDER BY c_custkey""")) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    // scan orders ONCE: the selective leg (just the matching custkeys,
    // ~1% of rows) is cached lazily — the bloom-build subquery job
    // populates it, the semi join reads it back — so the filter and
    // xxhash64 run once; round 2's two scalar-subquery + semi-join
    // scans repeated both per leg. (An eager checkpoint was tried
    // and is slower here: it serializes a third job just to
    // materialize. MEMORY_AND_DISK + the per-query clearCache in
    // Bench/Verify bound the cache's lifetime.)
    val sel = Tables.orders(s, d)
      .where(col("o_totalprice") > 400000)
      .select("o_custkey")
      .cache()
    sel.createOrReplaceTempView("sel_orders")
    // might_contain requires its bloom as a scalar subquery (same
    // shape Spark's InjectRuntimeFilter emits); the IN semi join
    // absorbs bloom false positives → exact result
    s.sql("""SELECT c_custkey, c_name FROM customer
      WHERE might_contain(
              (SELECT bloom_filter_agg(xxhash64(o_custkey), 50000L, 400000L)
               FROM sel_orders),
              xxhash64(c_custkey))
        AND c_custkey IN (SELECT o_custkey FROM sel_orders)
      ORDER BY c_custkey""")
  }

  /** Hash aggregate with partial/final split (TPC-H Q1 shape).
    * groupBy keys are low-cardinality → map-side combine collapses the
    * shuffle to |keys|×partitions rows regardless of input size.
    */
  val q01 = QueryDef(
    "q01_agg",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
      CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
      count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-12-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        xsum2(col("l_quantity")).as("sum_qty"),
        xsum2(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(m2) * (lit(1) - col("l_discount").cast(r2)))
          .cast("double").as("sum_disc_price"),
        sum(col("l_extendedprice").cast(m2) * (lit(1) - col("l_discount").cast(r2))
          * (lit(1) + col("l_tax").cast(r2))).cast("double").as("sum_charge"),
        xavg2(col("l_quantity")).as("avg_qty"),
        xavg2(col("l_extendedprice")).as("avg_price"),
        xavg2(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Row-level filter + projection with a computed column (P3/P4).
    * Predicates and the 4-column read schema push to the parquet scan.
    * Per-row double arithmetic is IEEE-identical across engines, so the
    * raw double is emitted without a decimal cast.
    */
  val q02 = QueryDef(
    "q02_filter_project",
    Some("""SELECT l_orderkey, l_linenumber,
      l_extendedprice*(1-l_discount) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
        AND l_quantity < 10
      ORDER BY l_orderkey, l_linenumber""")) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz")
        && col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz")
        && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Star join: fact (orders) ⋈ customer ⋈ broadcast dims (nation,
    * region). nation/region are O(10) rows forever — broadcast keeps the
    * whole dim side shuffle-free at any scale; orders⋈customer shuffles
    * once on custkey.
    */
  val q03 = QueryDef(
    "q03_join_broadcast",
    Some("""SELECT r_name, n_name,
      count(*) AS n_orders,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name""")) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        xsum2(col("o_totalprice")).as("total_price"))
      .orderBy("r_name", "n_name")
  }

  /** Fact-fact equi join (lineitem ⋈ orders): Catalyst picks SMJ or
    * shuffled-hash; with AQE it can re-plan at runtime. One shuffle per
    * side on orderkey, then the distinct-count reuses the grouping.
    */
  val q04 = QueryDef(
    "q04_join_large",
    Some("""SELECT o_orderpriority,
      CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        big(countDistinct(col("o_orderkey"))).as("n_orders"),
        sum(col("l_extendedprice").cast(m2) * (lit(1) - col("l_discount").cast(r2)))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Left-semi join (SQL EXISTS). Only the key column of the right side
    * moves; output carries no right-side columns.
    */
  val q05 = QueryDef(
    "q05_semi_join",
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'F'
                      AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey""")) { (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d)
          .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (SQL NOT EXISTS). */
  val q06 = QueryDef(
    "q06_anti_join",
    Some("""SELECT c_custkey, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderstatus = 'F')
      ORDER BY c_custkey""")) { (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Equi + non-equi (theta) join condition: same-nation pairs where the
    * customer out-balances the supplier. Planned as a join on the equi
    * part with the range predicate as a post-condition — not a cartesian.
    * supplier (the small side) is broadcast: nationkey has only 25
    * distinct values, so a shuffled join would concentrate 1/25 of both
    * tables on single tasks at scale — the broadcast removes that
    * skewed exchange entirely (round-1 bench: 7.4 s → ~1 s).
    */
  val q07 = QueryDef(
    "q07_join_nonequi",
    Some("""SELECT n_name, s_suppkey, count(*) AS n_richer_customers
      FROM supplier
      JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name, s_suppkey
      ORDER BY n_name, s_suppkey""")) { (s, d) =>
    broadcast(Tables.supplier(s, d))
      .join(Tables.customer(s, d),
        col("s_nationkey") === col("c_nationkey") && col("c_acctbal") > col("s_acctbal"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "s_suppkey")
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy("n_name", "s_suppkey")
  }

  /** DISTINCT — a shuffle on all projected columns with partial dedup
    * map-side.
    */
  val q08 = QueryDef(
    "q08_distinct",
    Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority""")) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Recursive-hierarchy closure — the `WITH RECURSIVE` surface
    * (org charts, BOM explosion, thread ancestry) expressed in the
    * form that actually scales: POINTER DOUBLING. A synthetic forest
    * is derived from `part` (nodes ≤ 5 are roots; every other node's
    * parent is the deterministic hash 1 + (k·2654435761) mod (k−1),
    * strictly < k, so the edge set is acyclic by construction and
    * both engines derive it from the same arithmetic — no edge table
    * ships between them). Each node resolves (root, depth).
    *
    * Scale design: the naive recursive walk — what the oracle's
    * RECURSIVE CTE does — takes one join PER LEVEL (O(depth)
    * shuffles; a 30-deep hierarchy is 30 shuffles over the full node
    * set). Pointer doubling instead composes the ancestor map with
    * itself each round — after i rounds every node points 2^i hops
    * up — so the loop ends in ceil(log₂ depth) shuffles (~5 here,
    * measured) over a state of exactly ONE row per node, in
    * [[Fixpoint.until]]: the convergence test is a cheap count over
    * the truncated round. Settled rows keep joining (their ancestor is
    * a root whose self-edge contributes dist 0), so no row ever
    * leaves the loop — there is no growing "done" union to re-merge.
    */
  val q46 = QueryDef(
    "q46_tree_closure",
    Some("""WITH RECURSIVE r AS (
        SELECT CAST(p_partkey AS BIGINT) AS node,
               CAST(p_partkey AS BIGINT) AS root,
               CAST(0 AS BIGINT) AS depth
        FROM part WHERE p_partkey <= 5
        UNION ALL
        SELECT CAST(p.p_partkey AS BIGINT), r.root, r.depth + 1
        FROM part p JOIN r
          ON 1 + (CAST(p.p_partkey AS BIGINT) * 2654435761) % (CAST(p.p_partkey AS BIGINT) - 1) = r.node
        WHERE p.p_partkey > 5)
      SELECT node, root, depth FROM r ORDER BY node""")) { (s, d) =>
    val roots = 5L
    val nodes = Tables.part(s, d).select(col("p_partkey").cast("long").as("node"))
    val init = nodes.select(
      col("node"),
      when(col("node") <= roots, col("node"))
        .otherwise(lit(1L) + (col("node") * lit(2654435761L)) % (col("node") - 1))
        .as("anc"),
      when(col("node") <= roots, lit(0L)).otherwise(lit(1L)).as("dist"))
      // settled ⇔ anc is a root ⇔ (anc, dist) = (root(node), depth(node))
      .withColumn("settled", col("anc") <= roots)
    // 40 rounds ⇒ depths to 2^40: hitting the cap means a cyclic forest
    Fixpoint.until(s, init, 40, "q46 pointer doubling") { state =>
      val m = state.select(col("node").as("m_node"), col("anc").as("m_anc"),
        col("dist").as("m_dist"), col("settled").as("m_settled"))
      state.join(m, col("anc") === col("m_node"))
        .select(col("node"),
          when(col("settled"), col("anc")).otherwise(col("m_anc")).as("anc"),
          when(col("settled"), col("dist")).otherwise(col("dist") + col("m_dist")).as("dist"),
          (col("settled") || col("m_settled")).as("settled"))
    }(_.filter(!col("settled")).count() == 0L).select(col("node"), col("anc").as("root"), col("dist").as("depth"))
      .orderBy("node")
  }

  /** Incremental materialized-view maintenance — the don't-rescan-the-
    * base pattern: a maintained aggregate (the MV: per-group PARTIAL
    * states — decimal sums + row count, stored bucketed on the group
    * key) is merged with a freshly aggregated DELTA scan; the final
    * answer re-aggregates MV states ∪ delta states, so the 100 TB
    * base is scanned ONCE EVER (here: built on first call, memoized
    * per (catalog, content) like q37's layout) and steady state costs
    * delta-scan + groups-sized merge. The algebra requirement is the
    * same one every sketch in this repo satisfies: stored states must
    * be mergeable (sum/count/min/max natively; distinct counts and
    * quantiles via q35/q38/q45/q47's mergeable sketches; avg DERIVED
    * from sum÷count at emit, never stored). Delta here is a key-mod
    * slice; in production it's today's partition and prunes by
    * partition predicate. The oracle recomputes the aggregate over
    * the FULL table — incremental merge must equal full recompute to
    * the bit, decimals summed exactly in both paths.
    */
  private val mvBuilt = new graft.engine.CatalogMemo[String]

  val q48 = QueryDef(
    "q48_incremental_mv",
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      count(*) AS n_rows,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")) { (s, d) =>
    def states(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(m2)).as("sum_qty_s"),
        sum(col("l_extendedprice").cast(m2)).as("sum_price_s"),
        count(lit(1)).as("n_s"))
    val li = Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_orderkey")
    val mvTable = mvBuilt.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_mv_lineitem", ck)
      new graft.engine.Engine(s).archiveBucketed(
        states(li.filter(col("l_orderkey") % 8 =!= 0)), tbl, "l_returnflag", 4)
      tbl
    }
    val delta = states(li.filter(col("l_orderkey") % 8 === 0))
    s.table(mvTable).unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("sum_qty_s").cast("double").as("sum_qty"),
        sum("sum_price_s").cast("double").as("sum_price"),
        sum("n_s").as("n_rows"),
        (sum("sum_price_s").cast("double") / sum("n_s")).as("avg_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** The star-schema capstone: a TPC-H Q5-shaped six-table join
    * (region → nation → customer/supplier → orders → lineitem with
    * the local-supplier correlation c_nationkey = s_nationkey). Most
    * registry entries isolate ONE operator; this one is the
    * composition the optimizer exists for, and the plan is the point:
    * the three dimension legs (region, nation, and the filtered
    * customer/supplier sides once the region filter has cut them)
    * broadcast, the date filter pushes into the orders scan, and the
    * only corpus-sized shuffle left is lineitem⋈orders on the order
    * key — at 100 TB exactly one fact-sized exchange (or zero over
    * the q37 bucketed layout). Broadcast hints go ONLY on the truly
    * fixed-size dims (nation, region); customer and supplier are
    * scale-proportional, so their joins stay UNHINTED and AQE picks
    * broadcast vs shuffle from measured sizes (the d03 count-lookup
    * policy — at these SFs they broadcast, at 100 TB they shuffle on
    * the key). Exact decimal revenue; DESC revenue order with a name
    * tiebreak so the sort is total.
    */
  val q49 = QueryDef(
    "q49_star_join",
    Some("""SELECT n_name,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      count(*) AS n_items
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name ORDER BY revenue DESC, n_name""")) { (s, d) =>
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
      .select("r_regionkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice").cast(m2)
        * (lit(1) - col("l_discount").cast(r2))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Data-quality audit — the Deequ/dbt-test capability a training
    * pipeline runs before anything else ships: declarative constraint
    * checks evaluated with ONE scan per table. Five checks over
    * lineitem (+ referential integrity against orders): primary-key
    * uniqueness, foreign-key containment, value-domain membership,
    * range sanity, and a fixed-horizon staleness bound. All
    * single-table checks fold into one aggregate over one scan
    * (conditional sums + an exact distinct-pair count); the FK check
    * is a left-anti count against the parent key set — at 100 TB
    * that's the same single fact shuffle any fact-dim join pays, and
    * the whole audit is two jobs regardless of how many checks are
    * declared. The driver testdata REALLY fails pk_unique (duplicate
    * (l_orderkey, l_linenumber) pairs — the round-5 lesson that
    * motivated q41/q43's total pick orders), so the operator's
    * violation path is live, not decorative.
    */
  val q50 = QueryDef(
    "q50_quality_audit",
    Some("""SELECT check_name, total, violations, violations = 0 AS passed
      FROM (
        SELECT 'domain_returnflag' AS check_name,
          (SELECT count(*) FROM lineitem) AS total,
          (SELECT count(*) FROM lineitem
            WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS violations
        UNION ALL SELECT 'fk_orders',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL SELECT 'not_null_shipdate',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
        UNION ALL SELECT 'pk_unique',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem) - (SELECT count(*) FROM
            (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
        UNION ALL SELECT 'range_quantity',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem
            WHERE l_quantity <= 0 OR l_quantity > 100)
        UNION ALL SELECT 'staleness_shipdate',
          (SELECT count(*) FROM lineitem),
          (SELECT count(*) FROM lineitem
            WHERE l_shipdate > TIMESTAMP '2002-01-01'))
      ORDER BY check_name""")) { (s, d) =>
    val li = Tables.lineitem(s, d)
    // all single-table checks in ONE aggregate over ONE scan
    val one = li.agg(
      count(lit(1)).as("total"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("v_domain"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_null"),
      (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
        .as("v_pk"),
      sum(when(col("l_quantity") <= 0 || col("l_quantity") > 100, 1L)
        .otherwise(0L)).as("v_range"),
      sum(when(col("l_shipdate") > lit("2002-01-01").cast("timestamp_ntz"), 1L)
        .otherwise(0L)).as("v_stale"))
    val vFk = li.select("l_orderkey")
      .join(Tables.orders(s, d).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    one.crossJoin(vFk) // two one-row aggregates
      .select(explode(array(
        struct(lit("domain_returnflag").as("check_name"), col("total"),
          col("v_domain").as("violations")),
        struct(lit("fk_orders").as("check_name"), col("total"),
          col("v_fk").as("violations")),
        struct(lit("not_null_shipdate").as("check_name"), col("total"),
          col("v_null").as("violations")),
        struct(lit("pk_unique").as("check_name"), col("total"),
          col("v_pk").as("violations")),
        struct(lit("range_quantity").as("check_name"), col("total"),
          col("v_range").as("violations")),
        struct(lit("staleness_shipdate").as("check_name"), col("total"),
          col("v_stale").as("violations")))).as("c"))
      .select(col("c.check_name").as("check_name"), col("c.total").as("total"),
        col("c.violations").as("violations"),
        (col("c.violations") === 0L).as("passed"))
      .orderBy("check_name")
  }

  /** q53: CORRELATED SCALAR SUBQUERY — the TPC-H Q17 shape
    * ("small-quantity-order revenue": lines under 20% of their part's
    * average quantity). ONE SQL text, shared verbatim by Spark and the
    * oracle, exercises Catalyst's decorrelation
    * (RewriteCorrelatedScalarSubquery): the per-part correlated
    * aggregate rewrites into an aggregate + join, so the plan is two
    * scans + one shuffle agg + one join — NOT a per-row re-execution
    * (plan pinned in PlanSpec). l_quantity is DOUBLE in the lake, so
    * the threshold goes through the exact decimal-domain sum before
    * ONE double division and ONE multiply (the Qdsl.xsum2 discipline
    * inlined in SQL) — bit-identical across engines; a float sum
    * would be order-dependent.
    */
  private val q53Sql =
    """SELECT count(*) AS n_small,
      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
        AND l.l_quantity < (
          SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*))
          FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)"""

  val q53 = QueryDef(
    "q53_correlated_subquery",
    Some(q53Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q53Sql)
  }

  /** q54: LATERAL correlated subquery — top-3 customers by balance per
    * nation, written as the user writes it (`, LATERAL (... ORDER BY
    * ... LIMIT 3)`) rather than as the q32 window idiom. ONE SQL text
    * shared verbatim with the oracle (the q53 discipline). Catalyst's
    * DecorrelateInnerQuery rewrites the correlated ORDER BY + LIMIT
    * into a row_number window over customer partitioned by the
    * correlation key plus one join with nation — so the plan is one
    * shuffle on c_nationkey and a broadcast of the 5-row nation side,
    * NOT a per-nation re-scan (plan pinned in PlanSpec). At 100 TB the
    * window shuffle is the floor any per-group top-k pays; the LIMIT
    * prunes inside the window operator, never materializing more than
    * k rows per group downstream. Ties in c_acctbal break on c_name so
    * the top-3 set is deterministic under any partitioning.
    */
  private val q54Sql =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      FROM nation n, LATERAL (
        SELECT c.c_name, c.c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c.c_acctbal DESC, c.c_name LIMIT 3) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"""

  val q54 = QueryDef(
    "q54_lateral_topk",
    Some(q54Sql)) { (s, d) =>
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(q54Sql)
  }

  private val partitionedLaidOut = new graft.engine.CatalogMemo[String]

  /** q58: DYNAMIC PARTITION PRUNING over a hive-partitioned archive —
    * the third storage-layout lever, completing the family: q37
    * (bucketing → exchange elimination), q42 (Z-order → row-group
    * skipping), and now partitioning → whole DIRECTORIES skipped at
    * runtime. Orders are laid out `PARTITIONED BY (o_orderpriority)`
    * through [[graft.engine.Engine.archivePartitioned]] (content-key
    * memoized, the q37 discipline); the probe joins them against a
    * dim whose membership is only known at RUN time (priorities of
    * two probe orders — 1–2 of the 5 values at EVERY SF, so the
    * pruning stays real at scale where a rate-based sample would
    * eventually cover all values),
    * so static pruning is impossible and Catalyst inserts a
    * `dynamicpruning` subquery: the dim's broadcast result filters
    * the partitioned scan's directory list before any fact bytes are
    * read (plan-asserted in PartitioningSpec). At 100 TB this is THE scan lever for
    * date/tenant-partitioned lakes — a selective dim join reads only
    * the matching partitions, no code change.
    *
    * The aggregate itself is the q37 shape (partial+final on the
    * partition key); the oracle is partition-agnostic, which is the
    * point: layout changes plans, never results.
    */
  val q58 = QueryDef(
    "q58_dpp_join",
    Some("""WITH dim AS (
        SELECT DISTINCT o_orderpriority AS p FROM orders
        WHERE o_orderkey IN (7, 12))
      SELECT o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders JOIN dim ON o_orderpriority = p
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, d) =>
    val partOrders = partitionedLaidOut.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_part_orders", ck)
      new graft.engine.Engine(s).archivePartitioned(
        Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        tbl, "o_orderpriority")
      tbl
    }
    // runtime-only dim: its priorities exist only after scanning the
    // sample, so the partitioned side can't be statically pruned
    val dim = Tables.orders(s, d)
      .select(col("o_orderpriority").as("p"), col("o_orderkey"))
      .where(col("o_orderkey").isin(7L, 12L))
      .select("p").distinct()
    s.table(partOrders)
      .join(dim, col("o_orderpriority") === col("p"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), xsum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q59: declarative COLUMN PROFILING — q50's audit checks named
    * constraints; this is the discovery step that runs BEFORE anyone
    * knows what to assert: per column, non-null/null/distinct counts
    * and min/max, emitted as one row per column (the Deequ
    * `ColumnProfilerRunner` / `SUMMARIZE` capability).
    *
    * Shape: ONE aggregate over ONE scan for all profiled columns.
    * The multi-`countDistinct` plans as a single Expand (×4, one
    * branch per distinct column) feeding one partial+final aggregate —
    * one shuffle of expanded rows, not one job per column. That ×4
    * row expansion IS the cost model: profiling C columns exactly
    * costs a C-way expand, so a 1000-column lake profile would batch
    * columns per pass or swap exact distinct counts for the q35 HLL
    * sketch (same output schema, mergeable state) — the documented
    * scale path.
    *
    * Determinism: counts are BIGINT; min/max are emitted as STRING
    * renderings of exactly-rendered types only (int64, cents-int64,
    * DATE-cast, raw string) — int→string and date→'YYYY-MM-DD' are
    * byte-identical across engines, while double→string is not (the
    * round-1 decimal lesson applied to rendering).
    */
  val q59 = QueryDef(
    "q59_profile",
    Some("""WITH a AS (SELECT
        count(*) AS n_rows,
        count(l_orderkey) AS nn_key, count(DISTINCT l_orderkey) AS nd_key,
        CAST(min(l_orderkey) AS VARCHAR) AS mn_key, CAST(max(l_orderkey) AS VARCHAR) AS mx_key,
        count(l_quantity) AS nn_qty,
        count(DISTINCT CAST(round(l_quantity * 100) AS BIGINT)) AS nd_qty,
        CAST(min(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS mn_qty,
        CAST(max(CAST(round(l_quantity * 100) AS BIGINT)) AS VARCHAR) AS mx_qty,
        count(l_returnflag) AS nn_rf, count(DISTINCT l_returnflag) AS nd_rf,
        min(l_returnflag) AS mn_rf, max(l_returnflag) AS mx_rf,
        count(l_shipdate) AS nn_sd, count(DISTINCT CAST(l_shipdate AS DATE)) AS nd_sd,
        CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mn_sd,
        CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS mx_sd
      FROM lineitem)
      SELECT * FROM (
        SELECT 'l_orderkey' AS column_name, CAST(nn_key AS BIGINT) AS n_nonnull,
          CAST(n_rows - nn_key AS BIGINT) AS n_null, CAST(nd_key AS BIGINT) AS n_distinct,
          mn_key AS min_repr, mx_key AS max_repr FROM a
        UNION ALL SELECT 'l_quantity_cents', CAST(nn_qty AS BIGINT),
          CAST(n_rows - nn_qty AS BIGINT), CAST(nd_qty AS BIGINT), mn_qty, mx_qty FROM a
        UNION ALL SELECT 'l_returnflag', CAST(nn_rf AS BIGINT),
          CAST(n_rows - nn_rf AS BIGINT), CAST(nd_rf AS BIGINT), mn_rf, mx_rf FROM a
        UNION ALL SELECT 'l_shipdate', CAST(nn_sd AS BIGINT),
          CAST(n_rows - nn_sd AS BIGINT), CAST(nd_sd AS BIGINT), mn_sd, mx_sd FROM a)
      ORDER BY column_name""")) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"),
      expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"),
      col("l_returnflag"),
      col("l_shipdate").cast("date").as("ship_date"))
    val one = li.agg(
      count(lit(1)).as("n_rows"),
      count(col("l_orderkey")).as("nn_key"),
      countDistinct(col("l_orderkey")).as("nd_key"),
      min(col("l_orderkey")).cast("string").as("mn_key"),
      max(col("l_orderkey")).cast("string").as("mx_key"),
      count(col("qty_cents")).as("nn_qty"),
      countDistinct(col("qty_cents")).as("nd_qty"),
      min(col("qty_cents")).cast("string").as("mn_qty"),
      max(col("qty_cents")).cast("string").as("mx_qty"),
      count(col("l_returnflag")).as("nn_rf"),
      countDistinct(col("l_returnflag")).as("nd_rf"),
      min(col("l_returnflag")).as("mn_rf"),
      max(col("l_returnflag")).as("mx_rf"),
      count(col("ship_date")).as("nn_sd"),
      countDistinct(col("ship_date")).as("nd_sd"),
      min(col("ship_date")).cast("string").as("mn_sd"),
      max(col("ship_date")).cast("string").as("mx_sd"))
    def row(name: String, nn: String, nd: String, mn: String, mx: String) =
      struct(lit(name).as("column_name"), col(nn).as("n_nonnull"),
        (col("n_rows") - col(nn)).as("n_null"), col(nd).as("n_distinct"),
        col(mn).as("min_repr"), col(mx).as("max_repr"))
    one.select(explode(array(
        row("l_orderkey", "nn_key", "nd_key", "mn_key", "mx_key"),
        row("l_quantity_cents", "nn_qty", "nd_qty", "mn_qty", "mx_qty"),
        row("l_returnflag", "nn_rf", "nd_rf", "mn_rf", "mx_rf"),
        row("l_shipdate", "nn_sd", "nd_sd", "mn_sd", "mx_sd"))).as("p"))
      .select(col("p.column_name").as("column_name"),
        col("p.n_nonnull").as("n_nonnull"), col("p.n_null").as("n_null"),
        col("p.n_distinct").as("n_distinct"),
        col("p.min_repr").as("min_repr"), col("p.max_repr").as("max_repr"))
      .orderBy("column_name")
  }

  /** q60: SNAPSHOT DIFF — dataset reconciliation between two versions
    * of a keyed table (the "what changed between yesterday's lake and
    * today's" query; q43/q44 APPLY a known changelog, this RECOVERS
    * one when none was kept). Two deterministic snapshots are derived
    * from `orders`: the old one misses keys ≡ 3 (mod 89) (they appear
    * as `added`), the new one misses keys ≡ 5 (mod 97) (`removed`),
    * and keys ≡ 0 (mod 11) carry a +$1.00 price update (`changed`);
    * everything else is `unchanged` — all four reconciliation classes
    * live on the driver data.
    *
    * Shape: one FULL OUTER sort-merge join on the key (the q39
    * discipline — a diff cannot broadcast either side) followed by a
    * four-row aggregate that REUSES nothing heavier than the join's
    * output: per class, row count, an XOR key checksum (`bit_xor` —
    * order-independent, mergeable, and overflow-free at ANY row
    * count, where a sum checksum would wrap int64 around 10¹⁹), and
    * both sides' cent totals (exact while a class's cents stay under
    * 2⁶³ ≈ $9·10¹⁶ — the Qdsl headroom convention).
    * At 100 TB this is exactly one co-partitioned shuffle per side;
    * with both snapshots bucketed by key (q37 layout) even that
    * exchange disappears.
    */
  val q60 = QueryDef(
    "q60_snapshot_diff",
    Some("""WITH old AS (SELECT o_orderkey AS key,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 89 <> 3),
      new AS (SELECT o_orderkey AS key,
          CAST(round(o_totalprice * 100) AS BIGINT)
            + CASE WHEN o_orderkey % 11 = 0 THEN 100 ELSE 0 END AS cents
        FROM orders WHERE o_orderkey % 97 <> 5),
      d AS (SELECT coalesce(o.key, n.key) AS key, o.cents AS old_cents,
          n.cents AS new_cents,
          CASE WHEN o.key IS NULL THEN 'added'
               WHEN n.key IS NULL THEN 'removed'
               WHEN o.cents <> n.cents THEN 'changed'
               ELSE 'unchanged' END AS diff_class
        FROM old o FULL OUTER JOIN new n ON o.key = n.key)
      SELECT diff_class, CAST(count(*) AS BIGINT) AS n,
        CAST(bit_xor(key) AS BIGINT) AS key_checksum,
        CAST(sum(coalesce(old_cents, 0)) AS BIGINT) AS old_cents_total,
        CAST(sum(coalesce(new_cents, 0)) AS BIGINT) AS new_cents_total
      FROM d GROUP BY diff_class ORDER BY diff_class""")) { (s, d) =>
    def snap(missMod: Long, missRes: Long) = Tables.orders(s, d)
      .filter(col("o_orderkey") % missMod =!= missRes)
      .select(col("o_orderkey").as("key"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val oldS = snap(89L, 3L)
    val newS = snap(97L, 5L)
      .select(col("key"),
        (col("cents") + when(col("key") % 11 === 0, 100L).otherwise(0L))
          .as("cents"))
    oldS.as("o").join(newS.as("n"), col("o.key") === col("n.key"), "full_outer")
      .select(coalesce(col("o.key"), col("n.key")).as("key"),
        col("o.cents").as("old_cents"), col("n.cents").as("new_cents"),
        when(col("o.key").isNull, "added")
          .when(col("n.key").isNull, "removed")
          .when(col("o.cents") =!= col("n.cents"), "changed")
          .otherwise("unchanged").as("diff_class"))
      .groupBy("diff_class")
      .agg(count(lit(1)).as("n"),
        expr("bit_xor(key)").as("key_checksum"),
        sum(coalesce(col("old_cents"), lit(0L))).as("old_cents_total"),
        sum(coalesce(col("new_cents"), lit(0L))).as("new_cents_total"))
      .orderBy("diff_class")
  }

  /** q61: the TPC-H Q21 composition — "suppliers who kept orders
    * waiting": per supplier, count the finished multi-supplier orders
    * where THEIR line shipped late (> 60 days after the order date)
    * and NO other supplier's line in the same order did. Exercises
    * the hardest decorrelation composition in the TPC-H suite: a
    * correlated EXISTS with a NON-EQUI correlated predicate
    * (l2.l_suppkey <> l1.l_suppkey) plus a correlated NOT EXISTS over
    * a join. ONE SQL text shared verbatim with the oracle (the q53/q54
    * discipline).
    *
    * Plan: Catalyst rewrites EXISTS → left-semi and NOT EXISTS →
    * left-anti, both shuffled on l_orderkey — the SAME key as the
    * orders join, so at scale the fact table clusters once and the
    * three probes reuse that clustering; the supplier dimension
    * broadcasts. No per-row re-execution survives the rewrite.
    */
  /** q63: TPC-H Q15 — top supplier(s) by quarterly revenue: a named
    * CTE consumed TWICE (once joined, once aggregated to a scalar)
    * plus an UNCORRELATED scalar subquery — the "view + WHERE total =
    * (SELECT max(...))" idiom the Q15 spec literally defines, and the
    * one classic subquery shape q53 (correlated scalar) / q54
    * (LATERAL) / q61 (EXISTS chains) didn't yet cover. ONE SQL text
    * shared verbatim with the oracle (the q53 discipline); revenue
    * arithmetic is q01's exact-decimal chain cast to double at the
    * end. Catalyst plans the doubly-referenced CTE as two scans of
    * the same aggregate (with the scalar side reduced to a one-row
    * broadcast); the ties-return-all semantics of the spec is
    * preserved — no LIMIT 1 — and the final order is the total
    * s_suppkey key. At 100 TB the revenue aggregate is one lineitem
    * shuffle on l_suppkey after the shipdate range prunes the scan;
    * the supplier join broadcasts the (tiny) winning-revenue row set.
    */
  private val q63Sql =
    """WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey"""

  val q63 = QueryDef(
    "q63_top_supplier",
    Some(q63Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql(q63Sql)
  }

  private val q61Sql =
    """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
              JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 10"""

  val q61 = QueryDef(
    "q61_waiting_suppliers",
    Some(q61Sql)) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(q61Sql)
  }

  /** q64: the TPC-H Q22 composition — "global sales opportunity":
    * customers with an above-average positive account balance and no
    * urgent order on file, counted per country code. The last classic
    * subquery shape the q53/q54/q61/q63 family didn't cover: an
    * UNCORRELATED scalar aggregate over a FILTERED subset of the
    * same CTE gating the outer rows, composed with a correlated
    * NOT EXISTS anti join. ONE SQL text shared verbatim with the
    * oracle (the q53 discipline); two corpus adaptations keep every
    * clause live: the country code derives from c_nationkey (no
    * phone column here), and Q22's no-orders test becomes
    * no-1-URGENT-orders (every customer in the driver data has
    * orders — the unmodified predicate returns zero rows at every
    * SF, the vacuous-success SPARK_GRAFT_ONLY rule). The
    * above-average test multiplies through the count —
    * `bal · n > Σbal` over exact DECIMALs — because a decimal AVG's
    * result scale is engine-specific while the cross-multiplied
    * comparison is exact in both.
    *
    * Plan: both scalar subqueries reduce to one-row broadcasts
    * (q63's shape); NOT EXISTS rewrites to a left-anti join shuffled
    * on custkey — at 100 TB that is one co-partitioned shuffle of
    * customers against the orders key, the same clustering an
    * order-history workload already maintains; the final per-code
    * aggregate rides the anti join's output.
    */
  private val q64Sql =
    """WITH cust AS (SELECT c_custkey,
          CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
          CAST(c_nationkey % 7 AS BIGINT) AS cntrycode
        FROM customer),
      pos AS (SELECT sum(bal) AS s, count(*) AS n FROM cust
        WHERE bal > 0 AND cntrycode IN (1, 2, 3, 4, 5))
      SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
        CAST(sum(bal) AS DOUBLE) AS totacctbal
      FROM cust
      WHERE cntrycode IN (1, 2, 3, 4, 5)
        AND bal * (SELECT n FROM pos) > (SELECT s FROM pos)
        AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = cust.c_custkey
                AND o.o_orderpriority = '1-URGENT')
      GROUP BY cntrycode ORDER BY cntrycode"""

  val q64 = QueryDef(
    "q64_sales_opportunity",
    Some(q64Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(q64Sql)
  }

  /** q65: the TPC-H Q8 composition — NATIONAL MARKET SHARE: of all
    * ECONOMY-part revenue sold into AMERICA-region customers' orders
    * in 1995–1996, what fraction came from NATION_3's suppliers, per
    * order year. The biggest classic join composition expressible on
    * this corpus: an EIGHT-table star (part, supplier, lineitem,
    * orders, customer, nation×2 — the same dimension joined on two
    * different roles — region) under a conditional-share aggregation.
    * ONE SQL text shared verbatim with the oracle (the q53/q61/q64
    * discipline). Determinism: revenue sums ride the q01 exact-
    * decimal chain (price and discount each cast DECIMAL before the
    * multiply, summed exactly); the share is ONE IEEE division of
    * two decimal-exact-then-double values — a decimal division's
    * result scale would be engine-specific, the double division is
    * bit-identical.
    *
    * Plan: Catalyst orders the star around the lineitem fact — the
    * part/type filter and the date range prune the fact side early,
    * every dimension (part after its filter, supplier, customer,
    * both nation roles, region) broadcasts, so at 100 TB this is ONE
    * pass over the pruned fact partition range with zero fact
    * shuffles before the two-row final aggregate (q49's star shape
    * with a second dimension role added).
    */
  private val q65Sql =
    """SELECT o_year,
      CAST(sum(volume) AS DOUBLE) AS mkt_volume,
      CAST(sum(nation_volume) AS DOUBLE) AS nation_volume,
      CAST(sum(nation_volume) AS DOUBLE) / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        CAST(l.l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS volume,
        CASE WHEN n2.n_name = 'NATION_3'
             THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                  (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
             ELSE CAST(0 AS DECIMAL(12,2)) END AS nation_volume
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
        AND p.p_type = 'ECONOMY')
    GROUP BY o_year ORDER BY o_year"""

  val q65 = QueryDef(
    "q65_market_share",
    Some(q65Sql)) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    s.sql(q65Sql)
  }

  /** q66: the TPC-H Q17 composition — SMALL-QUANTITY-ORDER REVENUE:
    * the average yearly revenue that would be lost if orders below
    * 20% of a part's average order quantity were no longer filled.
    * The signature shape is a CORRELATED SCALAR AGGREGATE over the
    * SAME FACT TABLE being scanned — Catalyst decorrelates it into a
    * per-partkey aggregate joined back to the filtered fact rows, so
    * the plan is two passes over the lineitem key range (one to build
    * per-part averages, one for the probe side), never a per-row
    * subquery execution. ONE SQL text shared verbatim with the oracle
    * (the q53/q61/q64 discipline).
    *
    * Determinism: `l_quantity` is integral-valued doubles (1..50), so
    * its sums stay exact integers < 2^53 at any summation order in
    * both engines; `avg` is that exact sum over an exact count — one
    * IEEE division — and `0.2 * avg` one IEEE multiply, bit-identical
    * cross-engine. The revenue sum rides the q01 exact-decimal chain
    * (DECIMAL(12,2) sum → one cast to double → one division by 7.0).
    *
    * Plan at 100 TB: the part filter broadcasts (brand+size prunes
    * ~0.5% of parts); the decorrelated per-part aggregate shuffles
    * lineitem once on l_partkey and the probe side reuses that same
    * clustering — two scans, one shuffle key, no row-at-a-time
    * subqueries anywhere.
    */
  private val q66Sql =
    """SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          / 7.0 AS avg_yearly
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#16' AND p.p_size <= 25
        AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""

  val q66 = QueryDef(
    "q66_small_qty_revenue",
    Some(q66Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q66Sql)
  }

  /** q67: the TPC-H Q13 composition — CUSTOMER ORDER-COUNT
    * DISTRIBUTION: how many customers have 0, 1, 2, … qualifying
    * orders. The distinctive shape is a GROUP BY OF A GROUP BY with a
    * LEFT OUTER join whose predicate lives IN THE JOIN CONDITION (not
    * the WHERE clause — moving it would silently drop the zero-order
    * customers the query exists to count). ONE SQL text shared
    * verbatim with the oracle.
    *
    * Plan at 100 TB: one shuffle of orders on o_custkey against the
    * customer key (both sides co-partitioned on the same key), the
    * inner count riding that clustering; the outer histogram
    * aggregate is over at most max-orders-per-customer distinct
    * groups — a broadcast-scale reduction. All counts are exact
    * BIGINTs on both engines.
    */
  private val q67Sql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      FROM (SELECT c.c_custkey,
              CAST(count(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey
              AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey) cc
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""

  val q67 = QueryDef(
    "q67_order_count_dist",
    Some(q67Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(q67Sql)
  }

  /** q68: the TPC-H Q7 composition — VOLUME SHIPPING between two
    * trading nations: revenue shipped in either direction of the
    * NATION_1↔NATION_2 pair, per supplier-nation / customer-nation /
    * ship year. Distinct from q65's Q8 star by the SYMMETRIC
    * DISJUNCTIVE pair predicate over TWO ROLES of the same dimension
    * — the filter can't push into either nation scan alone, it gates
    * the combination after both joins. ONE SQL text shared verbatim
    * with the oracle.
    *
    * Determinism: volume rides the q65 decimal chain — price and
    * discount each cast exact before the multiply, summed in the
    * decimal domain, ONE cast to double at the end.
    *
    * Plan at 100 TB: nation broadcasts into both roles; the
    * lineitem⋈orders fact-fact join shuffles once on the orderkey
    * with the date range pruning the fact scan; supplier and customer
    * broadcast after their nation-pair semi-reduction, so the pair
    * predicate evaluates in the mappers — no post-join re-shuffle.
    */
  private val q68Sql =
    """SELECT supp_nation, cust_nation, l_year,
        CAST(sum(volume) AS DOUBLE) AS revenue
      FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
          CAST(l.l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
          AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""

  val q68 = QueryDef(
    "q68_volume_shipping",
    Some(q68Sql)) { (s, d) =>
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    s.sql(q68Sql)
  }

  /** q69: the TPC-H Q18 composition — LARGE-VOLUME CUSTOMERS: the
    * top-100 orders by total price among orders whose total line
    * quantity exceeds a threshold. The signature shape is an IN
    * predicate over a GROUPED-HAVING subquery ON THE SAME FACT TABLE
    * — Spark plans it as a semi join of lineitem's own aggregate back
    * onto the orders⋈lineitem join. ONE SQL text shared verbatim with
    * the oracle.
    *
    * Determinism: quantity sums are exact (integral doubles, see
    * q66), emitted BIGINT; o_totalprice is a per-row stored double
    * passed through raw; the LIMIT boundary is total-ordered by the
    * unique o_orderkey tiebreak.
    *
    * Plan at 100 TB: the HAVING aggregate and the orders⋈lineitem
    * join share one l_orderkey/o_orderkey clustering — a single
    * shuffle key end-to-end — and the final top-100 is a TakeOrdered
    * over the per-order aggregate, never a global sort.
    */
  private val q69Sql =
    """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        o.o_totalprice, CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 300)
      GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        o.o_totalprice
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 100"""

  val q69 = QueryDef(
    "q69_large_volume_cust",
    Some(q69Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q69Sql)
  }

  /** q70: the TPC-H Q10 composition — RETURNED-ITEM REPORTING: the
    * top-20 customers by revenue lost to returned items in a quarter
    * window (the churn-risk report). The shape q16/q32 don't cover:
    * a GROUPED TOP-K whose grouping key is wide (customer identity +
    * dimension attributes ride the GROUP BY, the classic Q10 trap —
    * every non-aggregate output column must group, and the group key
    * is customer-cardinality, not a small dimension). ONE SQL text
    * shared verbatim with the oracle.
    *
    * Determinism: revenue rides the q65/q68 exact-decimal chain (ONE
    * cast to double per group); c_acctbal is a stored per-row double
    * passed through raw; the LIMIT boundary is total-ordered by the
    * unique c_custkey tiebreak.
    *
    * Plan at 100 TB: the returnflag filter and date range prune the
    * fact side at the scan; nation broadcasts; orders⋈lineitem and
    * the customer join share key clusterings; the top-20 is a
    * TakeOrdered over per-customer aggregates — no global sort.
    */
  private val q70Sql =
    """SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""

  val q70 = QueryDef(
    "q70_returned_items",
    Some(q70Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    s.sql(q70Sql)
  }

  /** q71: the TPC-H Q19 composition — DISCOUNTED REVENUE under an
    * OR-OF-ANDS predicate spanning BOTH join sides: three (brand,
    * size-range, quantity-range) bands, each clause mixing part
    * attributes with lineitem attributes. The optimizer shape none of
    * q01–q70 exercises: a disjunction that can't push whole into
    * either scan — Catalyst must extract the COMMON residue per side
    * (the brand/size union prunes the part build side, the quantity
    * union the fact side) and evaluate the full disjunction at the
    * join. ONE SQL text shared verbatim with the oracle.
    *
    * Determinism: the single revenue sum rides the q65/q68 exact-
    * decimal chain; quantity bounds compare integral doubles (exact).
    *
    * Plan at 100 TB: part (after its three-brand union filter)
    * broadcasts; the fact side reads ONE scan with the quantity-union
    * residue pushed down — never three passes unioned.
    */
  private val q71Sql =
    """SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#16' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)"""

  val q71 = QueryDef(
    "q71_disjunctive_bands",
    Some(q71Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q71Sql)
  }

  /** q72: the TPC-H Q16 composition — PARTS/SUPPLIER RELATIONSHIP:
    * how many qualified suppliers can supply each (brand, type, size)
    * part class, excluding a complaint blacklist. Two shapes new to
    * the q-family in combination: COUNT(DISTINCT) whose distinct key
    * is NOT the grouping key (Spark plans the two-phase Expand/
    * partial-distinct aggregate), and a NOT IN subquery (null-aware
    * anti join — the blacklist is provably non-null here, but the
    * planner must still prove it). ONE SQL text shared verbatim with
    * the oracle; the blacklist threshold (balance < 600) is chosen so
    * the leg is LIVE at every SF — 1 / 10 / 135 blacklisted suppliers
    * at sf0.001/0.01/0.1 (a negative-balance rule would be vacuous at
    * sf0.001, where the minimum balance is 537.46).
    *
    * Plan at 100 TB: the blacklist is supplier-sized (broadcast anti);
    * the part filter broadcasts into the fact scan; the distinct
    * aggregate shuffles once on the (class, suppkey) pair then once
    * on the class — the standard two-exchange distinct topology; the
    * top-40 is a TakeOrdered under a total order.
    */
  private val q72Sql =
    """SELECT p.p_brand, p.p_type, p.p_size,
      CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 600)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 40"""

  val q72 = QueryDef(
    "q72_supplier_parts",
    Some(q72Sql)) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    s.sql(q72Sql)
  }

  /** q73: the TPC-H Q3 composition — SHIPPING PRIORITY: the 10
    * highest-revenue orders from one market segment booked before a
    * date but not yet shipped by it. The canonical "unshipped
    * backlog" report and the one classic shape left uncovered: a
    * SEGMENTED two-fact join where the date predicate CROSSES the
    * join (o_orderdate before, l_shipdate after — neither side's
    * filter implies the other's), grouped per ORDER (fact-cardinality
    * keys, like q70's customer-wide group) with a fused top-10. ONE
    * SQL text shared verbatim with the oracle.
    *
    * Determinism: revenue rides the exact-decimal chain; the LIMIT
    * boundary is total-ordered by (revenue DESC, o_orderdate,
    * l_orderkey — unique per group).
    *
    * Plan at 100 TB: both date filters push into their scans; the
    * segment-filtered customer side broadcasts; orders⋈lineitem
    * shares the orderkey clustering with the per-order aggregate; the
    * top-10 is a TakeOrdered, never a global sort.
    */
  private val q73Sql =
    """SELECT l.l_orderkey,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue,
      o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""

  val q73 = QueryDef(
    "q73_shipping_priority",
    Some(q73Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q73Sql)
  }

  /** q74: the TPC-H Q5 composition — LOCAL SUPPLIER VOLUME: revenue
    * per nation from orders where the supplier and the customer share
    * a nation, restricted to one region and one order year. The one
    * classic shape still uncovered after q73: a join whose equality
    * predicate SPANS TWO DIMENSION PATHS (l_suppkey = s_suppkey AND
    * c_nationkey = s_nationkey) — the customer→nation and
    * supplier→nation arms must agree, so the nation key acts as a
    * second join column on the fact-side composite rather than a
    * filter on either dimension alone. ONE SQL text shared verbatim
    * with the oracle.
    *
    * Determinism: revenue rides the exact-decimal chain
    * (DECIMAL(12,2) × DECIMAL(3,2) sums, cast double once at the end);
    * groups total-ordered by the unique n_name.
    *
    * Plan at 100 TB: region⋈nation collapses to a handful of rows and
    * broadcasts into customer and supplier; both enriched dimensions
    * broadcast into the fact side; orders⋈lineitem is the single
    * orderkey shuffle; the nation-equality predicate evaluates inside
    * that join's output without any extra exchange. The orderdate
    * range pushes into the orders scan.
    */
  private val q74Sql =
    """SELECT n.n_name,
      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
      AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name"""

  val q74 = QueryDef(
    "q74_local_supplier_volume",
    Some(q74Sql)) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    s.sql(q74Sql)
  }

  /** q75: the TPC-H Q14 composition — PROMOTION EFFECT: the percentage
    * of one month's discounted revenue attributable to promotional
    * parts. The uncovered micro-shape is a CONDITIONAL-NUMERATOR
    * RATIO: two aggregates over the same rows where the numerator
    * keys off a dimension attribute (p_type = 'PROMO'), i.e. a
    * filtered and an unfiltered sum sharing one scan — the classic
    * campaign-attribution readout. ONE SQL text shared verbatim.
    *
    * Determinism: numerator and denominator each ride the
    * exact-decimal chain to a float64, then ONE IEEE division — both
    * engines divide the identical doubles, so the quotient is
    * bit-identical (the q65 market-share discipline).
    *
    * Plan at 100 TB: the shipdate month pushes into the fact scan;
    * part broadcasts; the whole query is scan → broadcast-join → one
    * partial+final aggregate with no group key (a two-row exchange).
    */
  private val q75Sql =
    """SELECT CAST(100 AS DOUBLE) *
        CAST(sum(CASE WHEN p.p_type = 'PROMO'
          THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))
          ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE) /
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'"""

  val q75 = QueryDef(
    "q75_promo_effect",
    Some(q75Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q75Sql)
  }

  /** q76: the TPC-H Q6 composition — FORECAST REVENUE CHANGE: the
    * revenue delta from hypothetically lifting discounts in a band,
    * for one year and small quantities. Deliberately the SIMPLEST
    * classic: a single-table scan-filter-aggregate with three
    * range predicates and NO join — the registry's canonical
    * full-pushdown showcase (every predicate parquet-pushable, the
    * plan one WholeStageCodegen span over the scan). The count rider
    * makes the single row self-describing. ONE SQL text shared.
    *
    * Determinism: l_quantity and l_discount are exact at DECIMAL
    * granularity (integral quantities, cent discounts); the revenue
    * sum rides the decimal chain to one float64.
    *
    * Plan at 100 TB: no exchange before the two-row final aggregate —
    * the query's cost IS the scan, and the scan reads three columns
    * under pushed row-group pruning.
    */
  private val q76Sql =
    """SELECT
      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue_delta,
      count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24"""

  val q76 = QueryDef(
    "q76_forecast_revenue",
    Some(q76Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q76Sql)
  }

  /** q78: NATIVE RECURSIVE CTE — Spark 4's `WITH RECURSIVE` executed
    * by Catalyst itself (UnionLoop), ONE SQL text shared verbatim
    * with DuckDB, over the same synthetic parent function as q46
    * (parent(n) = 1 + (n·2654435761) mod (n−1), a deterministic
    * forest over part keys both engines derive row-by-row). The
    * readout is the per-ROOT subtree rollup (node count, max depth,
    * summed path sizes) — the BOM-explosion aggregate, distinct from
    * q46's per-node closure rows.
    *
    * q46 vs q78 is a deliberate contrast: q46 is the DISTRIBUTED
    * closure algorithm (pointer doubling, O(log depth) self-joins —
    * the shape you run at 100 TB); q78 is the EXPRESSIVENESS face —
    * the engine-native iteration (one join per DEPTH level, ~11 here)
    * that makes ad-hoc hierarchy SQL portable without hand-rolling
    * the loop. RecursiveSpec pins the two agree on the forest they
    * both define.
    *
    * Determinism: all columns are exact BIGINT counts/sums of lake
    * integers; the recursion's row set is uniquely defined by the
    * parent function (each non-root has exactly one parent, so no
    * duplicate paths).
    *
    * THE CLIFF (documented per the q46 contrast): UnionLoop cost is
    * LINEAR IN HIERARCHY DEPTH — one sequential join round per level,
    * each a separate Spark job against the full part table. The
    * synthetic forest's depth grows ~log(N) (≤ 20 at sf0.1), but a
    * pathological hierarchy (a chain) would run N sequential rounds —
    * so the body PINS `spark.sql.cteRecursionLevelLimit` to
    * [[RecursionDepthGuard]]: a runaway recursion FAILS FAST at the
    * guard instead of grinding through thousands of driver-scheduled
    * rounds (RecursiveSpec pins both the guard value and the failure
    * mode). Hierarchies deeper than the guard are q46's job — pointer
    * doubling reaches depth 2^k in k rounds.
    */

  /** Recursion-level cap for the q78 native CTE: generous headroom
    * over the corpus forest's ~log(N) depth (≤ 20 at sf0.1), small
    * enough that a chain-shaped hierarchy fails in seconds. Shared
    * with RecursiveSpec so the pinned guard and the shipped guard
    * cannot drift.
    */
  private[operators] val RecursionDepthGuard = 64
  private val q78Sql =
    """WITH RECURSIVE r AS (
      SELECT CAST(p_partkey AS BIGINT) AS node,
             CAST(p_partkey AS BIGINT) AS root,
             CAST(0 AS BIGINT) AS depth,
             CAST(p_size AS BIGINT) AS path_size
      FROM part WHERE p_partkey <= 5
      UNION ALL
      SELECT CAST(p.p_partkey AS BIGINT), r.root, r.depth + 1,
             r.path_size + p.p_size
      FROM part p JOIN r
        ON 1 + (CAST(p.p_partkey AS BIGINT) * 2654435761) % (CAST(p.p_partkey AS BIGINT) - 1) = r.node
      WHERE p.p_partkey > 5)
    SELECT root, CAST(count(*) AS BIGINT) AS n_nodes,
      max(depth) AS max_depth,
      CAST(sum(path_size) AS BIGINT) AS total_path_size
    FROM r GROUP BY root ORDER BY root"""

  val q78 = QueryDef(
    "q78_recursive_cte",
    Some(q78Sql)) { (s, d) =>
    // depth guard: fail fast on runaway recursion (see scaladoc CLIFF)
    s.conf.set("spark.sql.cteRecursionLevelLimit", RecursionDepthGuard.toString)
    Tables.part(s, d).createOrReplaceTempView("part")
    s.sql(q78Sql)
  }

  /** q80: the TPC-H Q2 composition — MINIMUM-COST SUPPLIER: for each
    * qualifying part, the European supplier(s) offering it at the
    * lowest cost, ranked by account balance. Completes the classic-22
    * family's last missing SUBQUERY shape: a CORRELATED scalar MIN
    * over the SAME multi-dimension join chain as the outer query
    * (supply → supplier → nation → region, region-filtered on both
    * sides) — Catalyst decorrelates it into a per-partkey min
    * aggregate joined back, never a per-row execution. ONE SQL text
    * shared verbatim with the oracle (the q53/q61/q64 discipline).
    *
    * Corpus adaptation: this lake has no `partsupp` table, so the
    * supply relation derives from lineitem — ps_supplycost :=
    * min(l_extendedprice) per (partkey, suppkey), an exact
    * DECIMAL(12,2) min both engines compute identically (the q61
    * lateness-surrogate precedent for missing TPC-H columns).
    *
    * Determinism: cost is an exact decimal min; s_acctbal is a raw
    * lake double; LIMIT 100 rides a TOTAL order (balance desc, then
    * nation, supplier name, partkey — unique by construction).
    *
    * Plan at 100 TB: the supply CTE is ONE shuffle of lineitem on
    * (partkey, suppkey); supplier/nation/region broadcast everywhere
    * they appear; the decorrelated min groups the already-clustered
    * supply rows; the final TopK is q70's TakeOrdered — no global
    * sort materializes.
    */
  /** q80's `supply` relation — ONE fragment composed into the shared
    * oracle text AND (above the size gate) registered as a cached
    * Spark view, the q83 discipline. Stored WITHOUT the WITH wrapper
    * and composed at use (the ADVICE r8 note on q83's stripPrefix:
    * composition can't silently break on a reformat).
    */
  private val q80SupplySql =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        min(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2"""

  private val q80BodySql =
    """SELECT s.s_acctbal, s.s_name, n.n_name,
      p.p_partkey, p.p_type,
      CAST(ps.ps_supplycost AS DOUBLE) AS supplycost
    FROM part p
    JOIN supply ps ON p.p_partkey = ps.ps_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE p.p_size <= 15 AND p.p_type = 'STANDARD'
      AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
        SELECT min(ps2.ps_supplycost)
        FROM supply ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100"""

  private val q80Sql =
    s"WITH supply AS (\n$q80SupplySql)\n$q80BodySql"

  /** Fact-table size (bytes) above which a multiply-referenced CTE is
    * materialized as a cached temp view instead of inlined per
    * reference. The decision is SCALE-DEPENDENT, not per-query (r8
    * measured both sides at sf0.1: q80's 2-reference `supply` loses
    * materialized — 1.53 s cached vs 1.13 s inline, cache encode +
    * pipeline break > the saved second aggregate on a 10 MB fact —
    * while at 100 TB two full fact passes always lose to one spilled
    * MEMORY_AND_DISK materialization). Overridable via
    * `spark.graft.cteMaterializeMinBytes` for cluster tuning; the
    * default keeps every local test SF (≤ ~11 MB) on its measured
    * winner while any production-sized fact (≥ 256 MiB) takes the
    * one-scan path.
    */
  private def cteMaterializeMinBytes(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("spark.graft.cteMaterializeMinBytes").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft: spark.graft.cteMaterializeMinBytes must be a whole number of bytes, got '$v'"))
    }.getOrElse(256L << 20)

  val q80 = QueryDef(
    "q80_min_cost_supplier",
    Some(q80Sql)) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    // `supply` is referenced twice (outer join chain + decorrelated
    // scalar MIN). Whether to materialize it is gated on fact size
    // (see [[cteMaterializeMinBytes]]): below the gate, ONE inlined
    // text — A/B-measured faster at sf0.1 (interleaved min 1.13 s
    // inline vs 1.53 s cached); above it, the q83 cached-view path,
    // one lineitem scan instead of two. Both paths compute the
    // identical relation (Q80Spec pins row-for-row equality).
    if (Tables.inputBytes(s, d, "lineitem") >= cteMaterializeMinBytes(s)) {
      s.sql(q80SupplySql).cache().createOrReplaceTempView("supply")
      s.sql(q80BodySql)
    } else s.sql(q80Sql)
  }

  /** q81: the TPC-H Q4 composition — ORDER-PRIORITY CHECKING: per
    * priority class, how many orders placed in one quarter had at
    * least one lineitem shipped late. The canonical EXISTS shape:
    * a correlated EXISTS whose predicate references BOTH relations
    * (l_shipdate vs the outer o_orderdate), which Catalyst rewrites
    * to a left SEMI join — each order counted once no matter how many
    * lines were late. ONE SQL text shared verbatim with the oracle.
    *
    * Corpus adaptation: the lake carries no commit/receipt dates, so
    * "late" is l_shipdate > o_orderdate + 30 DAYS — q61's Q21
    * lateness-surrogate IDEA at q81's own tighter window (q61 uses
    * 60 days; 30 keeps the quarter-scoped EXISTS selective), keeping
    * the cross-relation correlation that makes Q4's EXISTS
    * non-trivial to decorrelate.
    *
    * Plan at 100 TB: the quarter filter prunes orders at the scan
    * (partition pruning on o_orderdate); the semi join shuffles on
    * orderkey — the clustering every order-history workload already
    * maintains; the final aggregate is 5 groups.
    */
  private val q81Sql =
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority"""

  val q81 = QueryDef(
    "q81_order_priority",
    Some(q81Sql)) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q81Sql)
  }

  /** q82: the TPC-H Q9 composition — PRODUCT-TYPE PROFIT: per nation
    * and order year, the profit on parts matching a name pattern —
    * the widest fact-side star after q65's Q8 (part, lineitem,
    * supplier, orders, nation) with the classic non-pushable LIKE
    * '%…%' dimension filter and a two-term profit expression. ONE SQL
    * text shared verbatim with the oracle.
    *
    * Corpus adaptation: no `partsupp`, so supply cost is priced off
    * the part's own list price — cost := 0.1 · p_retailprice ·
    * l_quantity, every factor an exact DECIMAL so the profit sum is
    * exact in both engines (revenue DECIMAL(12,2)·(1−disc) scale 4,
    * cost scale 6 → difference scale 6, summed exactly, ONE final
    * cast to double).
    *
    * Plan at 100 TB: part (LIKE-filtered, ~¼ of parts), supplier and
    * nation broadcast; lineitem⋈orders is the one fact shuffle on
    * orderkey; the aggregate is nation×year-sized. The infix LIKE
    * can't push to parquet (verified: it evaluates post-scan against
    * the broadcast-sized dimension, where it's free).
    */
  private val q82Sql =
    """SELECT n.n_name AS nation,
      CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2))) -
          CAST(p.p_retailprice AS DECIMAL(12,2)) *
            CAST(l.l_quantity AS DECIMAL(12,2)) *
            CAST(0.1 AS DECIMAL(3,2))) AS DOUBLE) AS sum_profit
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year"""

  val q82 = QueryDef(
    "q82_product_profit",
    Some(q82Sql)) { (s, d) =>
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    s.sql(q82Sql)
  }

  /** q83: the TPC-H Q11 composition — IMPORTANT STOCK: parts whose
    * European supply value exceeds a multiple of the AVERAGE part's
    * value. The defining shape is a grouped aggregate gated by an
    * UNCORRELATED GLOBAL scalar over the same grouped CTE — the q64
    * above-average discipline applied to a HAVING: the threshold is
    * cross-multiplied (2·v·n > 3·Σv, i.e. v > 1.5× the mean) over
    * exact DECIMALs and BIGINTs, because a decimal AVG's result scale
    * is engine-specific while the cross-multiplied comparison is
    * exact in both. ONE SQL text shared verbatim with the oracle.
    *
    * Corpus adaptation: no `partsupp`, so per-part value is the
    * discounted revenue supplied by EUROPE-region suppliers (the Q11
    * single-nation filter widened to a region so the supplier subset
    * is non-empty at every SF); the fixed 1.5×-mean threshold
    * replaces Q11's SF-dependent fraction so selectivity is
    * volume-stable (14 parts at sf0.001, ~15% of parts at sf0.1).
    *
    * Plan at 100 TB: supplier/nation/region broadcast into the fact
    * scan; ONE shuffle of the region-pruned lineitem on partkey; the
    * global total is a one-row broadcast over the part-sized CTE.
    */
  /** q83's `val` relation — ONE fragment interpolated into the
    * oracle's WITH and registered (cached) as the Spark side's view
    * (the q80 shared-fragment discipline).
    */
  private val q83ValSql =
    """SELECT l.l_partkey AS partkey,
        sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(3,2)))) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey"""

  /** q83's body, stored WITHOUT the WITH keyword and composed at use
    * (ADVICE r8: the previous stripPrefix("WITH ") rebuild broke
    * silently on any reformat of the literal).
    */
  private val q83BodyCtes =
    """tot AS (SELECT sum(v) AS s, count(*) AS n FROM val)
    SELECT partkey, CAST(v AS DOUBLE) AS value
    FROM val
    WHERE 2 * v * (SELECT n FROM tot) > 3 * (SELECT s FROM tot)
    ORDER BY value DESC, partkey"""

  private val q83BodySql = s"WITH $q83BodyCtes"

  private val q83Sql =
    s"WITH val AS (\n$q83ValSql),\n$q83BodyCtes"

  val q83 = QueryDef(
    "q83_important_stock",
    Some(q83Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    // Materialize the shared `val` subtree ONCE (the q80 rationale):
    // the text references it from the output scan AND the global
    // `tot` aggregate (twice, as two scalar subqueries) — inlined,
    // that was three 4-table join+agg pipelines over the fact table.
    s.sql(q83ValSql).cache().createOrReplaceTempView("val")
    s.sql(q83BodySql)
  }

  /** q84: the TPC-H Q12 composition — SHIPPING-CLASS PRIORITY MIX:
    * per shipping class, how many LATE-shipped lineitems belonged to
    * critical-priority orders vs the rest — the classic TWO-WAY
    * CONDITIONAL COUNT (paired CASE sums over one join) that turns a
    * pivot into a single aggregation pass. ONE SQL text shared
    * verbatim with the oracle.
    *
    * Corpus adaptations: no l_shipmode column — l_returnflag is the
    * grouping surrogate (a real lake column with Q12's small
    * cardinality); no commit/receipt dates — "late" is q61's
    * shipdate > orderdate + 60-day surrogate (q81 runs the same idea
    * at 30 days), windowed to one ship year.
    *
    * Plan at 100 TB: the ship-year range prunes the fact scan
    * (PushedFilters); ONE orderkey shuffle joins orders (priority is
    * the only order column read — column pruning keeps the build side
    * two columns wide); the output is 3 groups.
    */
  private val q84Sql =
    """SELECT l.l_returnflag,
      CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag"""

  val q84 = QueryDef(
    "q84_priority_shipclass",
    Some(q84Sql)) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(q84Sql)
  }

  /** q85: the TPC-H Q20 composition — POTENTIAL PART PROMOTION:
    * European suppliers holding excess stock of pattern-named parts
    * relative to one year's demand. The deepest classic NESTING:
    * an IN over a grouped derived table, which itself filters by a
    * second IN (the part-name subset) AND a CORRELATED scalar
    * aggregate back into the fact table — Catalyst turns the chain
    * into semi joins plus one decorrelated per-(supp,part) aggregate,
    * never nested execution. ONE SQL text shared verbatim with the
    * oracle.
    *
    * Corpus adaptation: no `partsupp`, so availability is what the
    * pair shipped OUTSIDE the demand year (exact integral-double
    * quantity sums) and Q20's half-of-demand test compares it to
    * 0.5 × the year's shipments — 0.5 is binary-exact, so the
    * comparison is bit-identical cross-engine; pairs with no in-year
    * demand yield a NULL subquery and drop, exactly Q20's own
    * semantics on empty supply windows.
    *
    * Plan at 100 TB: both grouped views shuffle lineitem on the SAME
    * (suppkey, partkey) key — one clustering, two aggregates; the
    * part-name semi join broadcasts; the supplier-level IN reduces to
    * a semi join against a supplier-cardinality set; nation/region
    * broadcast on the outer edge.
    */
  private val q85Sql =
    """WITH ps AS (
      SELECT l_suppkey, l_partkey,
        sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN 0 ELSE l_quantity END) AS avail_qty
      FROM lineitem GROUP BY l_suppkey, l_partkey)
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
        SELECT ps.l_suppkey FROM ps
        WHERE ps.l_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
          AND ps.avail_qty > (
            SELECT 0.5 * sum(l.l_quantity) FROM lineitem l
            WHERE l.l_partkey = ps.l_partkey
              AND l.l_suppkey = ps.l_suppkey
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'))
    ORDER BY s.s_name"""

  val q85 = QueryDef(
    "q85_part_promotion",
    Some(q85Sql)) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.part(s, d).createOrReplaceTempView("part")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    s.sql(q85Sql)
  }
}
