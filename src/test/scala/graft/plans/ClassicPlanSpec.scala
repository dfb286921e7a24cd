package graft.plans

import graft.SparkSpec

/** Physical-plan pins for the round-8 classic-shape entries (q80–q85,
  * completing the TPC-H 22): each pin asserts the OPTIMIZER outcome
  * the scaladoc promises — decorrelation, broadcast placement, semi
  * join rewrites — so a Spark upgrade or an edit that silently
  * degrades the plan (per-row subqueries, a dimension falling off the
  * broadcast path) fails here at sf0.001, not as a wall-time flap.
  */
class ClassicPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    spark.sharedState.cacheManager.clearCache()
    graft.Registry.byName(name).fn(spark, dir)
      .queryExecution.executedPlan.toString
  }

  test("q80 (Q2): correlated min DECORRELATES to an aggregate+join, TopK never global-sorts") {
    val p = planOf("q80_min_cost_supplier")
    // the correlated scalar subquery must become a per-partkey min
    // aggregate joined back — a surviving per-row subquery would show
    // as a ScalarSubquery in the EXECUTED plan
    assert(!p.contains("ScalarSubquery"),
      "q80's correlated min was not decorrelated")
    assert(p.contains("HashAggregate"), "decorrelated min aggregate missing")
    // LIMIT 100 over the total order must plan as TakeOrdered, not a
    // full global Sort + CollectLimit
    assert(p.contains("TakeOrderedAndProject"), "q80 LIMIT must be TopK")
  }

  test("q80: the SF-gated materialized-CTE path computes the identical relation, one lineitem scan") {
    // Below the size gate (every local SF) q80 inlines `supply`; above
    // it, the supply CTE is cached and scanned from memory. Force the
    // gate open and pin (a) row-for-row equality (total order ⇒ stable
    // collect), (b) the body reading `supply` via InMemoryTableScan
    // with NO direct lineitem file scan left in the body plan.
    spark.sharedState.cacheManager.clearCache()
    val inline = graft.Registry.byName("q80_min_cost_supplier").fn(spark, dir).collect()
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("spark.graft.cteMaterializeMinBytes", "0")
    try {
      val df = graft.Registry.byName("q80_min_cost_supplier").fn(spark, dir)
      assert(df.collect().sameElements(inline),
        "materialized and inline q80 paths must agree row for row")
      // structural check on the OPTIMIZED LOGICAL plan, where
      // InMemoryRelation is a leaf (its cached build plan is not a
      // child): both supply references must resolve to the cache, and
      // no lineitem relation may remain in the body itself — i.e. one
      // lineitem materialization total, inside the cached build.
      val lp = df.queryExecution.optimizedPlan
      val cached = lp.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.size >= 2,
        s"both supply references must read the cached view (found ${cached.size})")
      val direct = lp.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.toString.contains("lineitem") => l
      }
      assert(direct.isEmpty,
        s"gated body must not scan lineitem directly (found ${direct.size})")
      // a bad value is a named error, not a bare NumberFormatException
      spark.conf.set("spark.graft.cteMaterializeMinBytes", "256MB")
      val e = intercept[IllegalArgumentException] {
        graft.Registry.byName("q80_min_cost_supplier").fn(spark, dir)
      }
      assert(e.getMessage.contains("spark.graft.cteMaterializeMinBytes"), e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.cteMaterializeMinBytes")
      // the gated path cached `supply` in the shared session: leave no
      // cached relation or view behind for later suites
      spark.sharedState.cacheManager.clearCache()
      spark.catalog.dropTempView("supply")
    }
  }

  test("q81 (Q4): EXISTS rewrites to a left SEMI join") {
    val p = planOf("q81_order_priority")
    assert(p.contains("LeftSemi"), "q81 EXISTS must plan as a semi join")
  }

  test("q82 (Q9): every dimension broadcasts; one fact-fact join") {
    val p = planOf("q82_product_profit")
    // part (LIKE-filtered), supplier, nation are all broadcast-sized;
    // only lineitem⋈orders may shuffle
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 3, s"expected >=3 dimension broadcasts, got $broadcasts")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q85 (Q20): the nested INs plan as a semi-join chain, no nested execution") {
    val p = planOf("q85_part_promotion")
    val semis = "LeftSemi".r.findAllIn(p).size
    assert(semis >= 2, s"expected the IN chain as >=2 semi joins, got $semis")
    assert(!p.contains("ScalarSubquery"),
      "q85's correlated demand aggregate was not decorrelated")
  }
}
