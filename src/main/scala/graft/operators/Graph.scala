package graft.operators

import graft.{QueryDef, Tables}
import graft.Qdsl.big
import org.apache.spark.sql.functions._

/** Link-graph analysis — the crawl-quality capability of a training-
  * data pipeline (CommonCrawl-style corpora rank domains by link
  * centrality before filtering; cf. the harmonic-centrality /
  * PageRank gates in public web-corpus pipelines). The reference has
  * no graph surface (chiv delegates everything relational to its
  * RDBMS, chiv.go:96–140); this extends the d06/d07 iterative-graph
  * machinery from connectivity to *centrality*.
  *
  * Determinism discipline: classic PageRank iterates on doubles, and
  * float sums are order-dependent across engines — so this is
  * FIXED-POINT PageRank. Ranks live in integer units of 10⁻¹² (one
  * "mass unit" = 1e12), contributions are integer divisions by
  * degree, damping is (85·s) div 100: every operation is exact BIGINT
  * arithmetic, order-independent, and replayed bit-for-bit by the
  * DuckDB oracle's unrolled-CTE iterations (the x16/s03 exact-integer
  * discipline applied to an iterative fixpoint). The deliberate
  * rounding loss (≤ deg units per node per round) is part of the
  * operator's CONTRACT, identical in both engines.
  *
  * Fixed round budgets are deliberate, and convergence early-exit was
  * MEASURED AND REJECTED (docs/MICROBENCH.md, round 8): the integer
  * quantization that buys bit-exact oracle replay also removes
  * PageRank's exact fixpoint (all nodes keep changing through round
  * 8 at sf0.1), and the monotone loops (BFS/SSSP) reach their exact
  * fixpoint only AT the final budgeted round — an unchanged-state
  * test can never skip work here, only add a per-round diff job.
  */
object Graph {

  def queries: Seq[QueryDef] =
    Seq(g01, g02, g03, g04, g05, g06, g07, g08, g09, g10, g11, g12)

  /** Offset that moves supplier ids into their own node-id space;
    * must exceed every custkey at any SF this runs at locally. At
    * cluster scale the node id would be a (type, key) struct — the
    * flat offset keeps the oracle SQL readable.
    */
  private val SuppBase = 10000000L

  /** One mass unit = 1e12: with N graph nodes the per-node damped sum
    * is < N·1e12, and 85·(N·1e12) must stay under 2^63 — safe to
    * N ≈ 10⁸ nodes. At larger N shrink the unit (the estimate is
    * relative, only ratios matter); overflow-free by construction,
    * never checked at runtime.
    */
  private[operators] val MassUnit = 1000000000000L

  private val Iters = 6

  /** g01: fixed-point PageRank over the customer↔supplier fulfilment
    * graph (edge ⇔ supplier shipped a line of the customer's order,
    * deduplicated; undirected so there are no dangling sinks and the
    * stationary mass stays on the graph). Six damped iterations
    * (d=0.85), top-50 nodes by rank under a TOTAL order.
    *
    * Scale shape: the edge list is built once — ONE fact-sized
    * shuffle (orders⋈lineitem then DISTINCT) — and persisted with its
    * precomputed out-degrees; each iteration is then one
    * partial+final aggregation of `ued ⋈ ranks` on the destination
    * key. Rank state is 16 bytes/node; rounds run in
    * [[Fixpoint.iterate]]. d07 shows the same loop on GraphX Pregel;
    * this form keeps the whole iteration inside Tungsten rows and
    * needs no vertex-program serialization.
    */
  val g01 = QueryDef(
    "g01_pagerank",
    Some(s"""WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ue AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    ued AS MATERIALIZED (
      SELECT ue.src, ue.dst, d.d FROM ue JOIN (
        SELECT src AS id, count(*) AS d FROM ue GROUP BY 1) d ON ue.src = d.id),
    r0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST($MassUnit AS BIGINT) AS r FROM ue),
    ${(1 to Iters).map(i => s"""r$i AS MATERIALIZED (
      SELECT dst AS id, ${MassUnit * 15 / 100} + (85 * CAST(SUM(r.r // ued.d) AS BIGINT)) // 100 AS r
      FROM ued JOIN r${i - 1} r ON ued.src = r.id GROUP BY dst)""").mkString(",\n    ")}
    SELECT id AS node_id,
      CASE WHEN id >= $SuppBase THEN 'supplier' ELSE 'customer' END AS node_type,
      r AS rank_fp
    FROM r$Iters ORDER BY rank_fp DESC, node_id LIMIT 50""")) { (s, d) =>
    fulfilmentRanks(s, d)
      .select(col("id").as("node_id"),
        when(col("id") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node_id"))
      .limit(50)
  }

  /** The full (id, r) rank table after [[Iters]] damped rounds —
    * g01's body before the top-50 slice; package-visible so GraphSpec
    * can assert mass conservation over EVERY node, which the sliced
    * registry output cannot show.
    */
  /** Content-keyed build memos for the family's shared edge operands
    * — one per operand kind (a [[graft.engine.CatalogMemo]] holds one
    * entry per catalog), each mapping to the physical bucketed-table
    * name. Round-5 verdict: the g-family rebuilt its graph per
    * operator (orders⋈lineitem→distinct→symmetrize→degree ran ~6×
    * per bench run); the fix is the s05/q37/x14 discipline — build
    * ONCE per (catalog, source content), persist BUCKETED on the
    * iteration's join key, reuse everywhere. That is also the honest
    * 100 TB shape: no pipeline rebuilds its graph per query, and the
    * bucketed layout lets every fixed-point round read the edge side
    * exchange-free while only the node-sized state shuffles.
    */
  private val fulfilMemo = new graft.engine.CatalogMemo[String]
  private val weightMemo = new graft.engine.CatalogMemo[String]
  private val coPurchaseMemo = new graft.engine.CatalogMemo[String]
  private val simEdgeMemo = new graft.engine.CatalogMemo[String]

  /** Get-or-build a content-keyed bucketed edge table
    * ([[graft.engine.CatalogMemo.buildOnce]]). Returns the catalog
    * table, bucketed by `bucketCol`.
    */
  private[operators] def memoEdgeTable(s: org.apache.spark.sql.SparkSession, d: String,
      memo: graft.engine.CatalogMemo[String], base: String, bucketCol: String)
      (build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    s.table(memo.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName(base, ck)
      new graft.engine.Engine(s).archiveBucketed(build, tbl, bucketCol, 32)
      tbl
    })

  /** The symmetrized fulfilment graph: (edges-with-degree, node-degree
    * table) — the loop-invariant operand shared by g01/g02/g05, built
    * once per source content and persisted bucketed by `src` (every
    * iteration joins the edge side on src).
    */
  private def fulfilmentGraph(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val ued = memoEdgeTable(s, d, fulfilMemo, "graft_graph_ued", "src") {
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(SuppBase)).as("dst"))
        .distinct()
      val ue = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val deg = ue.groupBy("src").agg(count(lit(1)).as("d"))
        .withColumnRenamed("src", "id")
      ue.join(deg, ue("src") === deg("id"))
        .select(col("src"), col("dst"), col("d"))
    }
    // every (src, *) row carries src's degree, so the node table is a
    // src-clustered aggregate — exchange-free over the bucketed layout
    val deg = ued.groupBy(col("src").as("id")).agg(max("d").as("d"))
    (ued, deg)
  }

  private[operators] def fulfilmentRanks(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (ued, deg) = fulfilmentGraph(s, d)
    // Measured note: d06's private-session shuffle.partitions=1 trick
    // was tried here and is a net LOSS (4.2 s → 5.9 s standalone at
    // sf0.1): moving ued into another session needs
    // createDataFrame(ued.rdd, …), and that Tungsten→Row re-encoding
    // boundary on the 2×-per-round edge operand costs more than the
    // saved small-task scheduling. d06's edge set is dozens of rows;
    // g01's is fact-shaped — the trick only pays when the looped data
    // is tiny relative to task overhead.
    Fixpoint.iterate(s, deg.select(col("id"), lit(MassUnit).as("r")), Iters) { r =>
      ued.join(r, ued("src") === r("id"))
        .groupBy(col("dst"))
        .agg(expr(
          s"CAST(${MassUnit * 15 / 100} AS BIGINT) + (CAST(85 AS BIGINT) * sum(r div d)) div 100")
          .as("r"))
        .withColumnRenamed("dst", "id")
    }
  }

  /** g02: PERSONALIZED PageRank — the seed-biased variant ("how
    * important is every node *relative to this query set*"), the form
    * recommendation and related-entity pipelines actually run. Same
    * fixed-point discipline and fulfilment graph as g01; the single
    * change is the teleport: instead of every node receiving the
    * 15% restart mass, the entire budget (15% of N mass units per
    * round) is split equally over the SEED set — here the every-5th
    * suppliers, chosen by pure arithmetic so both engines share one
    * membership predicate (an arbitrary seed set would instead
    * broadcast-join a seed table; the loop shape is unchanged).
    * Rank mass then concentrates around the seeds and decays with
    * graph distance — the top-30 is dominated by seeds and their
    * direct customers, which GraphSpec pins.
    */
  val g02 = QueryDef(
    "g02_personalized_pagerank",
    Some(s"""WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ue AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    ued AS MATERIALIZED (
      SELECT ue.src, ue.dst, d.d FROM ue JOIN (
        SELECT src AS id, count(*) AS d FROM ue GROUP BY 1) d ON ue.src = d.id),
    p0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST($MassUnit AS BIGINT) AS r FROM ue),
    tp AS MATERIALIZED (
      SELECT ((15 * (SELECT count(*) FROM p0) * $MassUnit) // 100)
        // (SELECT count(*) FROM supplier WHERE s_suppkey % 5 = 0) AS t),
    ${(1 to Iters).map(i => s"""p$i AS MATERIALIZED (
      SELECT dst AS id,
        (CASE WHEN dst >= $SuppBase AND (dst - $SuppBase) % 5 = 0
          THEN (SELECT t FROM tp) ELSE 0 END)
        + (85 * CAST(SUM(r.r // ued.d) AS BIGINT)) // 100 AS r
      FROM ued JOIN p${i - 1} r ON ued.src = r.id GROUP BY dst)""")
      .mkString(",\n    ")}
    SELECT id AS node_id,
      CASE WHEN id >= $SuppBase THEN 'supplier' ELSE 'customer' END AS node_type,
      (id >= $SuppBase AND (id - $SuppBase) % 5 = 0) AS is_seed,
      r AS rank_fp
    FROM p$Iters ORDER BY rank_fp DESC, node_id LIMIT 30""")) { (s, d) =>
    val (ued, deg) = fulfilmentGraph(s, d)
    // driver-side scalars, bounded metadata: node count and seed
    // count fix the per-seed teleport share — the SAME Long integer
    // division chain as the oracle's tp CTE
    val n = deg.count()
    val nSeeds = Tables.supplier(s, d)
      .filter(col("s_suppkey") % 5 === 0).count()
    // empty seed set (empty supplier table) ⇒ no teleport mass; the
    // graph is empty too in that case and the result has zero rows
    val t = if (nSeeds == 0) 0L else ((15L * n * MassUnit) / 100L) / nSeeds
    val seedCase = when(
      col("dst") >= SuppBase && (col("dst") - SuppBase) % 5 === 0, lit(t))
      .otherwise(lit(0L))
    Fixpoint.iterate(s, deg.select(col("id"), lit(MassUnit).as("r")), Iters) { r =>
      ued.join(r, ued("src") === r("id"))
        .groupBy(col("dst"))
        .agg(expr("(CAST(85 AS BIGINT) * sum(r div d)) div 100").as("flow"))
        .select(col("dst").as("id"),
          (seedCase.alias("tpv") + col("flow")).as("r"))
    }.select(col("id").as("node_id"),
        when(col("id") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        (col("id") >= SuppBase && (col("id") - SuppBase) % 5 === 0)
          .as("is_seed"),
        col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node_id"))
      .limit(30)
  }

  /** g03: TRIANGLE COUNTING over the d03 document-similarity graph
    * (nodes = docs, edge ⇔ exact 3-gram Jaccard ≥ 0.1 — the d03
    * output consumed as edges, the same reuse d06/d07 make of it).
    * Per-node triangle counts measure near-dup CLUSTER COHESION: a
    * doc in many triangles sits inside a tight duplicate clique
    * (safe to collapse), one with high degree but few triangles is a
    * hub stitching unrelated texts (a template/boilerplate smell) —
    * the classic clustering-coefficient signal, counted exactly.
    *
    * Scale shape — degree-ordered orientation: each undirected edge
    * is directed from its lower-(degree, id) endpoint to the higher,
    * which makes the orientation acyclic and gives every triangle
    * EXACTLY one wedge source, so no post-dedup; out-degrees are
    * bounded by O(√m), so the wedge self-join enumerates O(m^{3/2})
    * candidates worst-case instead of Σdeg² (the MapReduce
    * triangle-counting bound of Suri & Vassilvitskii, WWW'11 — the
    * standard trick for power-law graphs where a few hub nodes would
    * otherwise explode the wedge set). All three legs are equi-joins
    * on node/edge keys: hash-shuffled, AQE-broadcast when the edge
    * set is small, never all-pairs. The reference has no graph
    * surface (chiv.go:96–140 delegates relational work to its RDBMS);
    * this is pipeline capability beyond it.
    */
  /** The g03 oracle's shared WITH-chain over `grams` (from
    * [[Dedup.gramCte]]): similarity edges → degrees → degree-ordered
    * orientation → triangles → per-node counts, ending with `deg` and
    * `pern` in scope. g03 reads the triangle counts from it; g10's
    * clustering coefficient grades the SAME chain, so the two
    * readouts provably score one graph (the g08/g09 sharing
    * discipline).
    */
  private val triChainCte =
    """cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      e AS MATERIALIZED (SELECT da, db FROM (
        SELECT da, db, i::DOUBLE / (ca.n + cb.n - i) AS jaccard
        FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
        WHERE jaccard >= 0.1),
      deg AS MATERIALIZED (SELECT id, count(*) AS degree FROM (
        SELECT da AS id FROM e UNION ALL SELECT db AS id FROM e) GROUP BY 1),
      oe AS MATERIALIZED (
        SELECT CASE WHEN va.degree < vb.degree
                      OR (va.degree = vb.degree AND da < db)
               THEN da ELSE db END AS src,
               CASE WHEN va.degree < vb.degree
                      OR (va.degree = vb.degree AND da < db)
               THEN db ELSE da END AS dst
        FROM e JOIN deg va ON va.id = da JOIN deg vb ON vb.id = db),
      tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM oe e1 JOIN oe e2 ON e1.dst = e2.src
                   JOIN oe e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      pern AS (SELECT id, count(*) AS n_triangles FROM (
        SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
        UNION ALL SELECT c AS id FROM tri) GROUP BY 1)"""

  val g03 = QueryDef(
    "g03_triangle_count",
    Some(s"""${Dedup.gramCte},
      $triChainCte
      SELECT pern.id AS doc_id, deg.degree, pern.n_triangles
      FROM pern JOIN deg ON deg.id = pern.id
      ORDER BY n_triangles DESC, doc_id""")) { (s, d) =>
    triangleCounts(simEdges(s, d))
      .orderBy(col("n_triangles").desc, col("doc_id"))
  }

  /** g10: LOCAL CLUSTERING COEFFICIENT over the d03 document-
    * similarity graph — the normalized form of g03's raw triangle
    * counts: lcc(v) = T(v) / C(deg(v), 2), the fraction of a node's
    * neighbor pairs that are themselves connected (Watts & Strogatz
    * 1998). This is the per-node readout the g03 scaladoc motivates
    * but doesn't emit: a doc with lcc ≈ 1 sits inside a closed
    * duplicate clique (collapse-safe), one with high degree but
    * lcc ≈ 0 is a boilerplate hub stitching unrelated texts — the
    * normalization is what makes the two separable at a glance, and
    * unlike g03 it also SURFACES the zero-triangle hubs (g03's inner
    * join drops them; the left join here is the point). Nodes of
    * degree 1 have no wedge to close and are excluded by contract.
    *
    * Determinism: triangles and degrees are exact BIGINT counts;
    * n_wedges = deg·(deg−1) DIV 2 is exact integer arithmetic; lcc is
    * ONE IEEE division of the two exact integers (the g06 aa_score
    * discipline). Oracle: the SAME [[triChainCte]] chain as g03, so
    * the coefficient provably grades g03's graph.
    *
    * Scale shape: everything up to `pern` is g03's O(m^{3/2})
    * degree-ordered enumeration (one memoized edge operand, see
    * [[simEdges]]); the readout adds one node-sized left join — no
    * new fact-sized work.
    */
  val g10 = QueryDef(
    "g10_clustering_coef",
    Some(s"""${Dedup.gramCte},
      $triChainCte
      SELECT deg.id AS doc_id, CAST(deg.degree AS BIGINT) AS degree,
        CAST(coalesce(pern.n_triangles, 0) AS BIGINT) AS n_triangles,
        CAST((deg.degree * (deg.degree - 1)) // 2 AS BIGINT) AS n_wedges,
        CAST(coalesce(pern.n_triangles, 0) AS DOUBLE)
          / ((deg.degree * (deg.degree - 1)) // 2) AS lcc
      FROM deg LEFT JOIN pern ON pern.id = deg.id
      WHERE deg.degree >= 2
      ORDER BY doc_id""")) { (s, d) =>
    clusteringCoefficients(simEdges(s, d)).orderBy("doc_id")
  }

  /** Per-node local clustering coefficient over ANY undirected edge
    * list (da, db), da < db, no duplicates — g10's body, factored so
    * GraphSpec can pin closed-form values on hand graphs (K4 → 1.0, a
    * path → 0.0-but-present, a pendant → excluded). Output: one row
    * per node of degree ≥ 2 — (doc_id, degree, n_triangles, n_wedges,
    * lcc), unsorted.
    */
  private[operators] def clusteringCoefficients(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // ONE degree aggregation feeds both the wedge denominator and the
    // orientation inside triangleCounts (cached: two consumers)
    val deg = degreesOf(e).cache()
    val tri = triangleCounts(e, deg)
      .select(col("doc_id").as("id"), col("n_triangles"))
    deg.where(col("degree") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("(degree * (degree - 1)) DIV 2").as("n_wedges"),
        (coalesce(col("n_triangles"), lit(0L)).cast("double") /
          expr("(degree * (degree - 1)) DIV 2")).as("lcc"))
  }

  /** g11: DEGREE ASSORTATIVITY over the customer↔supplier fulfilment
    * graph — the one-number structural readout the family still
    * lacked: do high-degree nodes attach to other hubs (assortative,
    * r > 0 — social-network shape) or to leaves (disassortative,
    * r < 0 — the hub-and-spoke shape bipartite commerce graphs show)?
    * Newman 2002 defines r as the Pearson correlation of the degree
    * pairs at the two ends of every edge.
    *
    * Exactness: over the SYMMETRIZED directed edge list the
    * source-degree and destination-degree multisets are identical, so
    * the two marginal means and variances coincide and the
    * correlation collapses to r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) —
    * every sufficient statistic an exact BIGINT (counts and
    * count-products only), the coefficient ONE IEEE division of two
    * exact integers (the g10 lcc discipline). No sqrt, no float
    * accumulation anywhere; the emitted statistics make the row
    * self-auditing. Overflow bound: n·Σxy < 2⁶³ holds while
    * Σ_u deg(u)³ · m < 2⁶³ — at ~10⁹ edges with max degree ~10⁴ the
    * statistics need the same DECIMAL(38) widening the MassUnit note
    * describes; the shape is unchanged.
    *
    * Scale shape: degrees ride ALONG the memoized bucketed operand
    * (ued already carries deg(src)); attaching deg(dst) is the one
    * node-table join on dst, then a partial+final global aggregate —
    * one exchange beyond the shared operand, output one row.
    */
  val g11 = QueryDef(
    "g11_assortativity",
    Some(s"""WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ue AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    deg AS MATERIALIZED (
      SELECT src AS id, count(*) AS d FROM ue GROUP BY 1),
    ed AS (SELECT da.d AS dx, db.d AS dy
      FROM ue JOIN deg da ON ue.src = da.id JOIN deg db ON ue.dst = db.id),
    st AS (SELECT count(*) AS n_edges,
        CAST(sum(dx * dy) AS BIGINT) AS sxy,
        CAST(sum(dx) AS BIGINT) AS sx,
        CAST(sum(dx * dx) AS BIGINT) AS sxx
      FROM ed)
    SELECT n_edges, sxy, sx, sxx,
      CAST(n_edges * sxy - sx * sx AS DOUBLE) /
        NULLIF(CAST(n_edges * sxx - sx * sx AS DOUBLE), 0) AS assortativity
    FROM st""")) { (s, d) =>
    val (ued, _) = fulfilmentGraph(s, d)
    // the memoized operand already carries deg(src) — no recomputation
    assortativityOfCarried(
      ued.select(col("src"), col("dst"), col("d").as("dx")))
  }

  /** Degree-assortativity statistics over ANY symmetrized directed
    * edge list (src, dst) — the raw-edge face for GraphSpec's hand
    * graphs (a star → −1, a 4-path → −0.5): attaches deg(src) with
    * one aggregation, then delegates to [[assortativityOfCarried]].
    */
  private[operators] def assortativityOf(
      ue: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val deg = ue.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    assortativityOfCarried(
      ue.join(deg.select(col("id"), col("d").as("dx")), ue("src") === col("id"))
        .select(col("src"), col("dst"), col("dx")))
  }

  /** g11's body over an edge list that ALREADY carries deg(src) as
    * `dx` (the memoized operand's layout). deg(dst) derives from the
    * same frame — each (src, *) row repeats src's degree, so the node
    * table is a src-clustered max (exchange-free over the bucketed
    * layout) — leaving ONE dst-keyed join + one global aggregate, the
    * documented shape. Output: ONE row
    * (n_edges, sxy, sx, sxx, assortativity).
    */
  private[operators] def assortativityOfCarried(
      ued: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dy = ued.groupBy(col("src").as("yid")).agg(max("dx").as("dy"))
    ued.join(dy, ued("dst") === col("yid"))
      .select(col("dx"), col("dy"))
      .agg(count(lit(1)).as("n_edges"),
        sum(expr("dx * dy")).as("sxy"),
        sum(col("dx")).as("sx"),
        sum(expr("dx * dx")).as("sxx"))
      .select(col("n_edges"), col("sxy"), col("sx"), col("sxx"),
        // REGULAR graphs (all degrees equal — a cycle, a clique) have
        // exactly zero degree variance, so the Pearson denominator
        // n·Σx²−(Σx)² is 0 and assortativity is UNDEFINED: NULLIF
        // emits NULL instead of Spark's NaN (which would also diverge
        // from DuckDB's division semantics in the shared oracle text).
        (expr("CAST(n_edges * sxy - sx * sx AS DOUBLE)") /
          expr("NULLIF(CAST(n_edges * sxx - sx * sx AS DOUBLE), 0)"))
          .as("assortativity"))
  }

  /** g04: K-CORE PEELING over the d03 similarity graph — the third
    * graph lens on near-dup structure, complementing g03's triangle
    * counts: the k-core (maximal subgraph where every node keeps
    * degree ≥ k) is the standard "dense cluster extraction" — nodes
    * surviving the 2-core sit inside CYCLES of near-duplicates
    * (template families, mirror sets), while tree-like chains of
    * pairwise matches peel away. Iterative peeling: each round drops
    * nodes whose CURRENT degree < k and their incident edges, which
    * can push neighbors below k next round.
    *
    * Contract: a FIXED number of peel rounds ([[KcoreRounds]]), the
    * g01 fixed-iteration discipline, so the oracle unrolls the exact
    * same rounds — the result equals the true k-core whenever peeling
    * converges within the budget (GraphSpec pins converged cases and
    * the documented non-converged long-path case). All arithmetic is
    * integer counting — no floats anywhere.
    *
    * Scale shape: per round ONE degree aggregation + two semi joins
    * against the survivor set (AQE broadcasts it when small); state
    * is the edge list alone, partitions sized to edge volume (the d06
    * sizing argument), rounds in [[Fixpoint.iterate]]. A production
    * fixpoint loop would add a cheap `count()` convergence check per
    * round; the registry entry pins rounds for oracle replay.
    */
  private[operators] val KcoreK = 2
  private[operators] val KcoreRounds = 4

  val g04 = QueryDef(
    "g04_kcore",
    Some {
      val peels = (1 to KcoreRounds).map { i =>
        s"""d$i AS (SELECT id, count(*) AS c FROM (
             SELECT da AS id FROM e${i - 1} UNION ALL SELECT db AS id FROM e${i - 1}) GROUP BY 1),
           k$i AS (SELECT id FROM d$i WHERE c >= $KcoreK),
           e$i AS MATERIALIZED (SELECT da, db FROM e${i - 1}
             WHERE da IN (SELECT id FROM k$i) AND db IN (SELECT id FROM k$i))"""
      }.mkString(",\n      ")
      s"""${Dedup.gramCte},
      cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      e0 AS MATERIALIZED (SELECT da, db FROM (
        SELECT da, db, i::DOUBLE / (ca.n + cb.n - i) AS jaccard
        FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
        WHERE jaccard >= 0.1),
      $peels
      SELECT id AS doc_id, CAST(c AS BIGINT) AS core_degree FROM (
        SELECT id, count(*) AS c FROM (
          SELECT da AS id FROM e$KcoreRounds UNION ALL SELECT db AS id FROM e$KcoreRounds)
        GROUP BY 1)
      ORDER BY doc_id"""
    }) { (s, d) =>
    kcorePeel(simEdges(s, d), KcoreK, KcoreRounds)
      .orderBy("doc_id")
  }

  /** g05: BFS HOP DISTANCE from a seed set — the exact-reachability
    * complement to g02's personalized PageRank: instead of damped
    * mass, every node gets its MINIMUM hop count from the every-5th
    * supplier seeds (the g02 membership predicate, shared with the
    * oracle) — the crawl-depth / trust-propagation gate ("keep
    * documents within k hops of a whitelisted set") of web-corpus
    * pipelines. [[BfsRounds]] min-propagation rounds (the g01 fixed-
    * iteration discipline): each round joins the frontier TABLE (all
    * best-so-far distances) to the edge operand and takes the
    * per-node min of (existing, neighbor+1) — pure integer BFS, no
    * floats. Nodes unreached within the budget are absent, the
    * documented fixed-round contract.
    *
    * Scale shape: per round ONE join of the persisted edge operand
    * against node-sized state (16 B/node) + one min-aggregation —
    * the g01 loop shape with min instead of sum, in
    * [[Fixpoint.iterate]]. Distances are monotone non-increasing per
    * node, so at a fixpoint extra rounds are no-ops (the g04
    * microbench "over-provisioning is safe" argument applies
    * verbatim).
    */
  private[operators] val BfsRounds = 4

  val g05 = QueryDef(
    "g05_hop_distance",
    Some(s"""WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ue AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    h0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist FROM ue
      WHERE src >= $SuppBase AND (src - $SuppBase) % 5 = 0),
    ${(1 to BfsRounds).map(i => s"""h$i AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM h${i - 1}
        UNION ALL
        SELECT ue.dst AS id, h${i - 1}.dist + 1 AS dist
        FROM ue JOIN h${i - 1} ON ue.src = h${i - 1}.id) GROUP BY id)""")
      .mkString(",\n    ")}
    SELECT id AS node_id,
      CASE WHEN id >= $SuppBase THEN 'supplier' ELSE 'customer' END AS node_type,
      dist
    FROM h$BfsRounds ORDER BY dist, node_id""")) { (s, d) =>
    val (ued, deg) = fulfilmentGraph(s, d)
    val seeds = deg
      .filter(col("id") >= SuppBase && (col("id") - SuppBase) % 5 === 0)
      .select(col("id"), lit(0L).as("dist"))
    Fixpoint.iterate(s, seeds, BfsRounds) { dist =>
      val prop = ued.join(dist, ued("src") === dist("id"))
        .select(ued("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist.unionByName(prop)
        .groupBy("id").agg(min("dist").as("dist"))
    }.select(col("id").as("node_id"),
        when(col("id") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        col("dist"))
      .orderBy("dist", "node_id")
  }

  /** Truncation depth and pivot sampling rule for g12 — k-hop
    * harmonic centrality from a FIXED arithmetic pivot sample
    * (suppliers ≡ 0 mod [[HarmonicPivotMod]], the g02/g05 shared-
    * membership-predicate discipline so both engines derive one
    * pivot set; 4 pivots at sf0.1, 1 at the smaller SFs).
    */
  private[operators] val HarmonicRounds = 3
  private[operators] val HarmonicPivotMod = 250L

  /** round(1e9/d) for d = 1..[[HarmonicRounds]] — the g06
    * shared-literal discipline: ONE Scala computation interpolated
    * into BOTH engines' CASE, so per-node scores are exact BIGINT
    * sums of table literals, order-independent under partial
    * aggregation; neither engine ever divides.
    */
  private[operators] def harmonicInvNano(d: Int): Long = math.round(1e9 / d)

  private def harmonicCase: String =
    "CASE dist " + (1 to HarmonicRounds)
      .map(d => s"WHEN $d THEN ${harmonicInvNano(d)}").mkString(" ") + " END"

  /** g12: SAMPLED-PIVOT HARMONIC CENTRALITY — the crawl-quality gate
    * this family's header names (harmonic centrality is the
    * centrality CommonCrawl-scale corpus pipelines actually rank
    * domains by; cf. Boldi & Vigna, "Axioms for Centrality", 2014):
    * H(v) = Σ_u 1/d(u, v), estimated from a FIXED PIVOT SAMPLE — the
    * Eppstein–Wang design: exact all-pairs distances are Θ(n·m) and
    * nobody computes them at 100 TB; a small pivot sample estimates
    * the same ranking with error O(1/√pivots), and the sample here
    * is an arithmetic predicate shared verbatim with the oracle.
    * Truncated at [[HarmonicRounds]] hops (k-hop harmonic — beyond
    * k, 1/d contributions are dominated by the near field on a
    * small-diameter graph; the truncation is the CONTRACT, exactly
    * g05's fixed-round discipline).
    *
    * Differs from the family's other lenses: g01 ranks by damped
    * FLOW mass (degree-weighted), g05 reports raw hop distance from
    * one seed set, g12 aggregates INVERSE distance over independent
    * pivots — the distance-weighted reach score that degrades
    * gracefully with distance instead of flooding (g05) or
    * compounding degree (g01).
    *
    * Determinism: distances are exact BIGINT hop counts; 1/d enters
    * as the [[harmonicInvNano]] literals, so harmonic_nano is an
    * exact BIGINT sum in both engines; top-30 under a TOTAL order.
    *
    * Scale shape: the loop is g05's — per round ONE join of the
    * memoized bucketed edge operand against (node, pivot)-keyed
    * state + one min-aggregation — with state |reached| · |pivots|
    * rows (the pivot budget is the knob: at 100 TB you size pivots
    * to the state you can hold, and the estimator stays unbiased);
    * rounds in [[Fixpoint.iterate]]; the readout is
    * one node-keyed aggregate of the final state.
    */
  val g12 = QueryDef(
    "g12_harmonic_centrality",
    Some(s"""WITH e AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    ue AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    h0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, src AS pv, CAST(0 AS BIGINT) AS dist
      FROM ue WHERE src >= $SuppBase AND (src - $SuppBase) % $HarmonicPivotMod = 0),
    ${(1 to HarmonicRounds).map(i => s"""h$i AS MATERIALIZED (
      SELECT id, pv, min(dist) AS dist FROM (
        SELECT id, pv, dist FROM h${i - 1}
        UNION ALL
        SELECT ue.dst AS id, h${i - 1}.pv, h${i - 1}.dist + 1 AS dist
        FROM ue JOIN h${i - 1} ON ue.src = h${i - 1}.id) GROUP BY id, pv)""")
      .mkString(",\n    ")}
    SELECT id AS node_id,
      CASE WHEN id >= $SuppBase THEN 'supplier' ELSE 'customer' END AS node_type,
      CAST(count(*) AS BIGINT) AS n_pivots_reached,
      CAST(sum($harmonicCase) AS BIGINT) AS harmonic_nano
    FROM h$HarmonicRounds WHERE dist >= 1 GROUP BY id
    ORDER BY harmonic_nano DESC, node_id LIMIT 30""")) { (s, d) =>
    val (ued, deg) = fulfilmentGraph(s, d)
    val pivots = deg.filter(col("id") >= SuppBase &&
      (col("id") - SuppBase) % HarmonicPivotMod === 0).select("id")
    harmonicFrom(ued.select("src", "dst"), pivots, HarmonicRounds)
      .select(col("id").as("node_id"),
        when(col("id") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        col("n_pivots_reached"), col("harmonic_nano"))
      .orderBy(col("harmonic_nano").desc, col("node_id"))
      .limit(30)
  }

  /** g12's kernel over ANY symmetrized edge list (src, dst) and pivot
    * set (id) — factored so GraphSpec pins closed forms (a path from
    * one end-pivot scores 1/1, 1/2, 1/3 down the line). Runs `rounds`
    * multi-source min-propagation rounds on (id, pivot)-keyed state,
    * then aggregates per node: (id, n_pivots_reached, harmonic_nano),
    * pivot self-rows (dist 0) excluded — unreached nodes are absent,
    * the g05 fixed-round contract.
    */
  private[operators] def harmonicFrom(
      ue: org.apache.spark.sql.DataFrame,
      pivots: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val caseExpr = "CASE dist " + (1 to rounds)
      .map(d => s"WHEN $d THEN ${harmonicInvNano(d)}").mkString(" ") + " END"
    val init = pivots.select(col("id"), col("id").as("pivot"), lit(0L).as("dist"))
    Fixpoint.iterate(ue.sparkSession, init, rounds) { h =>
      val prop = ue.join(h, ue("src") === h("id"))
        .select(ue("dst").as("id"), col("pivot"), (col("dist") + 1L).as("dist"))
      h.unionByName(prop)
        .groupBy("id", "pivot").agg(min("dist").as("dist"))
    }.where(col("dist") >= 1)
      .groupBy("id")
      .agg(count(lit(1)).as("n_pivots_reached"),
        expr(s"CAST(sum($caseExpr) AS BIGINT)").as("harmonic_nano"))
  }

  /** g07: WEIGHTED single-source shortest paths — the cost-aware form
    * of g05's hop BFS: edge weight = the cheapest fulfilment linking
    * the pair (min l_quantity over the connecting lineitems — integral
    * 1..50 in the lake, so the BIGINT cast is exact in both engines),
    * relaxed from the g05 seed set by [[SsspRounds]] Bellman-Ford
    * rounds (dist' = min(dist, min over in-edges (dist[src] + w)) —
    * the g01 fixed-iteration discipline). K rounds yield the exact
    * weighted distance over paths of ≤ K edges; the oracle unrolls the
    * identical K relaxations, so the contract is exact-by-construction
    * rather than convergence-dependent. Per round: one edge⋈frontier
    * shuffle + one per-node min — the same loop shape, cost, and
    * lineage truncation as g05; nothing about weights changes the
    * plan, which is the point: weighted SSSP at 100 TB is hop BFS with
    * a different combine expression.
    */
  private[operators] val SsspRounds = 4

  val g07 = QueryDef(
    "g07_weighted_sssp",
    Some(s"""WITH e0 AS MATERIALIZED (
      SELECT o_custkey AS src, $SuppBase + l_suppkey AS dst,
             CAST(min(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    ue AS MATERIALIZED (
      SELECT src, dst, w FROM e0
      UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
    h0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist FROM ue
      WHERE src >= $SuppBase AND (src - $SuppBase) % 5 = 0),
    ${(1 to SsspRounds).map(i => s"""h$i AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM h${i - 1}
        UNION ALL
        SELECT ue.dst AS id, h${i - 1}.dist + ue.w AS dist
        FROM ue JOIN h${i - 1} ON ue.src = h${i - 1}.id) GROUP BY id)""")
      .mkString(",\n    ")}
    SELECT id AS node_id,
      CASE WHEN id >= $SuppBase THEN 'supplier' ELSE 'customer' END AS node_type,
      dist
    FROM h$SsspRounds ORDER BY dist, node_id""")) { (s, d) =>
    val ue = memoEdgeTable(s, d, weightMemo, "graft_graph_uew", "src") {
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_quantity")
      val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(SuppBase)).as("dst"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
      e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    }
    val seeds = ue
      .filter(col("src") >= SuppBase && (col("src") - SuppBase) % 5 === 0)
      .select(col("src").as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"))
    Fixpoint.iterate(s, seeds, SsspRounds) { dist =>
      val relaxed = ue.join(dist, ue("src") === dist("id"))
        .select(ue("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
    }.select(col("id").as("node_id"),
        when(col("id") >= SuppBase, lit("supplier"))
          .otherwise(lit("customer")).as("node_type"),
        col("dist"))
      .orderBy("dist", "node_id")
  }

  /** g06's hub cap: only common neighbors of bipartite degree in
    * [2, AaMaxDeg] generate wedges. Standard Adamic–Adar practice
    * taken as part of the MODEL's contract (the x13 count-capping
    * discipline): high-degree commons carry near-zero 1/ln(d) signal
    * anyway, and the cap bounds wedge volume at Σ_{d≤C} d² ≤ C·|E| —
    * linear in the edge list instead of quadratic in hub degree. On
    * this corpus the cap binds hard (20 of 200 parts at sf0.001, 710
    * of 20 000 at sf0.1 qualify), which is exactly the production
    * shape: rare co-occurrences are the informative ones.
    */
  private val AaMaxDeg = 20

  /** round(10¹²/ln(d)) for d = 2..AaMaxDeg, computed ONCE here and
    * interpolated into BOTH engines as one CASE expression — the
    * x13/x17 shared-literal-transcendental discipline: per-pair scores
    * are exact BIGINT sums of table values, order-independent under
    * partial aggregation; no engine ever calls its own ln.
    */
  private val AaInvLnNano: IndexedSeq[Long] =
    (2 to AaMaxDeg).map(d => math.round(1e12 / math.log(d.toDouble)))

  private def aaWeightCase: String =
    "CASE dp " + (2 to AaMaxDeg).map(d => s"WHEN $d THEN ${AaInvLnNano(d - 2)}")
      .mkString(" ") + " ELSE 0 END"

  /** The distinct customer↔part co-purchase edge list (c, p) —
    * g06/g08's shared bipartite operand, built once per source
    * content and persisted bucketed by `p` (both consumers aggregate
    * and join on the part side).
    */
  private def coPurchaseEdges(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    memoEdgeTable(s, d, coPurchaseMemo, "graft_graph_cp", "p") {
      Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
    }

  /** The d03 document-similarity edge list (da, db), da < db — the
    * g03/g04 shared operand: the full shingle→intersect→Jaccard
    * pipeline runs ONCE per source content, its ≥ 0.1 edges persisted
    * bucketed by `da`.
    */
  private def simEdges(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    memoEdgeTable(s, d, simEdgeMemo, "graft_graph_sim", "da") {
      Dedup.jaccardPairs(s, d).select(col("da"), col("db"))
    }

  /** Adamic–Adar scoring of ANY bipartite edge list (c, p), distinct
    * rows: for each pair of c-side nodes, Σ 1/ln(deg(p)) over common
    * p-neighbors within the hub cap — factored off g06 so GraphSpec
    * can pin closed-form scores on hand graphs. Output: (ca, cb,
    * n_common, score_nano), unsorted.
    */
  private[operators] def adamicAdar(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rare = e.groupBy("p").agg(count(lit(1)).as("dp"))
      .where(col("dp").between(2, AaMaxDeg))
      .select(col("p"), expr(aaWeightCase).as("w"))
    // UNHINTED (the d03 policy): the capped part table is tiny by
    // construction, so AQE broadcasts it; the wedge self-join then
    // shuffles only the rare-part edge subset on p
    val le = e.join(rare, Seq("p"))
    le.as("a").join(le.as("b"),
        col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .select(col("a.c").as("ca"), col("b.c").as("cb"), col("a.w").as("w"))
      .groupBy("ca", "cb")
      .agg(count(lit(1)).as("n_common"), sum("w").as("score_nano"))
  }

  /** g06: LINK PREDICTION by Adamic–Adar over the customer↔part
    * co-purchase graph — rank unlinked customer pairs by Σ 1/ln(d) of
    * their common rare parts (Adamic & Adar, "Friends and neighbors on
    * the Web", 2003; the standard link-prediction/recommendation
    * baseline). Extends the g-series from centrality (g01/g02),
    * structure (g03/g04), and reach (g05) to PREDICTION. The emitted
    * aa_score is one IEEE division of the exact nano score by 10¹² on
    * identical operands (the x18 discipline).
    *
    * Scale shape: one fact-sized shuffle builds the distinct edge
    * list; the degree agg is partial+final; the hub cap (see
    * [[AaMaxDeg]]) bounds the wedge join; top-50 is a
    * TakeOrderedAndProject under a total order, no global sort.
    */
  val g06 = QueryDef(
    "g06_adamic_adar",
    Some(s"""WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      rare AS (
        SELECT p, $aaWeightCase AS w FROM (
          SELECT p, count(*) AS dp FROM e GROUP BY p)
        WHERE dp BETWEEN 2 AND $AaMaxDeg),
      wedge AS (
        SELECT a.c AS ca, b.c AS cb, r.w
        FROM e a JOIN rare r ON a.p = r.p
        JOIN e b ON b.p = r.p AND a.c < b.c)
      SELECT ca, cb, n_common, score_nano,
             CAST(score_nano AS DOUBLE) / 1e12 AS aa_score FROM (
        SELECT ca, cb, CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(w) AS BIGINT) AS score_nano
        FROM wedge GROUP BY ca, cb)
      ORDER BY score_nano DESC, ca, cb LIMIT 50""")) { (s, d) =>
    adamicAdar(coPurchaseEdges(s, d))
      .select(col("ca"), col("cb"), col("n_common"), col("score_nano"),
        (col("score_nano").cast("double") / lit(1e12)).as("aa_score"))
      .orderBy(col("score_nano").desc, col("ca"), col("cb"))
      .limit(50)
  }

  /** [[KcoreRounds]]-round peel of ANY undirected edge list (da, db)
    * toward the k-core; returns surviving (doc_id, core_degree) —
    * factored off g04 so GraphSpec can pin closed-form cores (K4 +
    * pendant path, a cycle, a fully-peeling path).
    */
  private[operators] def kcorePeel(
      e0: org.apache.spark.sql.DataFrame, k: Int, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    def degrees(e: org.apache.spark.sql.DataFrame) =
      e.select(col("da").as("id"))
        .unionByName(e.select(col("db").as("id")))
        .groupBy("id").agg(count(lit(1)).as("c"))
    val e = Fixpoint.iterate(e0.sparkSession, e0, rounds) { e =>
      val keep = degrees(e).filter(col("c") >= k).select("id")
      e.join(keep, e("da") === keep("id"), "left_semi")
        .join(keep, e("db") === keep("id"), "left_semi")
    }
    degrees(e).select(col("id").as("doc_id"), col("c").cast("long").as("core_degree"))
  }

  /** Per-node triangle counts over ANY undirected edge list held as
    * (da, db) with da < db per row, no duplicates — factored off g03
    * so GraphSpec can pin exact counts on hand-built graphs (K4, a
    * path) where the answer is closed-form. Output: one row per node
    * in ≥ 1 triangle — (doc_id, degree, n_triangles), unsorted.
    */
  private[operators] def triangleCounts(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    triangleCounts(e, degreesOf(e))

  /** (id, degree) of ANY undirected (da, db) edge list — one
    * definition shared by triangleCounts and clusteringCoefficients
    * so g10 computes the degree aggregation ONCE per run.
    */
  private[operators] def degreesOf(
      e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.select(col("da").as("id"))
      .unionByName(e.select(col("db").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))

  private[operators] def triangleCounts(
      e: org.apache.spark.sql.DataFrame,
      deg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // orient low-(degree, id) → high: acyclic, one wedge per triangle
    val fwd = col("ga") < col("gb") ||
      (col("ga") === col("gb") && col("da") < col("db"))
    val oe = e.join(deg.as("va"), col("da") === col("va.id"))
      .join(deg.as("vb"), col("db") === col("vb.id"))
      .select(col("da"), col("db"),
        col("va.degree").as("ga"), col("vb.degree").as("gb"))
      .select(when(fwd, col("da")).otherwise(col("db")).as("src"),
        when(fwd, col("db")).otherwise(col("da")).as("dst"))
      .cache() // three join legs over one tiny oriented-edge table
    val tri = oe.as("e1")
      .join(oe.as("e2"), col("e1.dst") === col("e2.src"))
      .join(oe.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    val pern = tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    pern.join(deg, Seq("id"))
      .select(col("id").as("doc_id"), col("degree"), col("n_triangles"))
  }

  /** Synchronous label-propagation rounds; fixed K = exact contract. */
  private[operators] val LpRounds = 3

  /** g08: LABEL-PROPAGATION community detection (Raghavan et al. 2007)
    * over the rare-part CO-PURCHASE graph — customers connected when
    * they share a part with 2 ≤ buyer-count ≤ [[AaMaxDeg]] (the g06
    * prefilter: hot parts carry no community signal AND quadratic
    * blowup, so the cap is both semantics and the skew valve). Every
    * node starts as its own community (label = id) and, for
    * [[LpRounds]] synchronous rounds, adopts the most frequent label
    * among its NEIGHBORS (count desc, ties → lowest label — fully
    * deterministic, where textbook LP breaks ties randomly). A fixed
    * round count makes the result exact-by-construction rather than
    * convergence-dependent (the g01/g07 discipline; synchronous LP
    * can two-cycle, which a fixed K sidesteps). Differs from g05's
    * hash-min reach (pure min over ≤K hops ⇒ connected components)
    * exactly in the MAJORITY vote: labels stop at community
    * boundaries where min-propagation floods through. On the dense
    * near-complete fulfilment BIPARTITE graph LP degenerates to two
    * blocks (measured: 2 communities) — the co-purchase projection is
    * the graph where communities are real (57 over 830 nodes at
    * sf0.01, top sizes 41/38/36). Output: top-50 communities by size
    * with their min member id as the canonical representative.
    *
    * Scale shape: per round ONE edge⋈labels shuffle + a two-level
    * aggregation — partial+final counts on (node, label), then a
    * partial+final max_by argmax on node — NO per-node window sort;
    * label state is 16 bytes/node, rounds in [[Fixpoint.iterate]].
    * The same round is GraphX
    * Pregel's LPA step; this form keeps it in Tungsten rows.
    */
  /** The g08 oracle's shared WITH-chain — rare-part co-purchase
    * pairs, symmetric edges, [[LpRounds]] synchronous majority-vote
    * rounds — ending with `pairs`, `ue`, and `l{LpRounds}` in scope.
    * g08 summarizes communities from it; g09's modularity eval
    * grades the SAME chain, so the readout provably scores the
    * partition g08 ships.
    */
  private def duckLpChain: String =
    s"""WITH ed AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    rare AS (SELECT p FROM (SELECT p, count(*) AS dp FROM ed GROUP BY p)
             WHERE dp BETWEEN 2 AND $AaMaxDeg),
    pairs AS MATERIALIZED (SELECT DISTINCT a.c AS src, b.c AS dst
      FROM ed a JOIN rare r ON a.p = r.p
      JOIN ed b ON b.p = r.p AND a.c < b.c),
    ue AS MATERIALIZED (
      SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM ue),
    ${(1 to LpRounds).map(i => s"""l$i AS MATERIALIZED (
      SELECT id, lbl FROM (
        SELECT ue.src AS id, p.lbl, count(*) AS cnt,
               row_number() OVER (PARTITION BY ue.src
                 ORDER BY count(*) DESC, p.lbl) AS rn
        FROM ue JOIN l${i - 1} p ON ue.dst = p.id
        GROUP BY ue.src, p.lbl) WHERE rn = 1)""").mkString(",\n    ")}"""

  private val rarePairsMemo = new graft.engine.CatalogMemo[String]
  private val lpLabelsMemo = new graft.engine.CatalogMemo[String]

  /** The rare-part co-purchase PAIR list (src < dst, distinct) — the
    * ONE construction g08 clusters and g09 grades (factored so the
    * eval can never drift from the operator), persisted bucketed by
    * src (the memoized-operand discipline: g08's LP build, g09's
    * edge-count/degree/e_c legs, and any future consumer read one
    * table instead of re-running the rare-filter self-join).
    */
  private def rareCoPurchasePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    memoEdgeTable(s, d, rarePairsMemo, "graft_graph_rcp", "src") {
      val ed = coPurchaseEdges(s, d)
      val rare = ed.groupBy("p").agg(count(lit(1)).as("dp"))
        .where(col("dp").between(2, AaMaxDeg)).select("p")
      ed.join(rare, "p").select(col("p"), col("c").as("ca"))
        .join(ed.select(col("p"), col("c").as("cb")), "p")
        .where(col("ca") < col("cb"))
        .select(col("ca").as("src"), col("cb").as("dst"))
        .distinct()
    }

  /** The [[LpRounds]]-round LP partition as a memoized bucketed
    * operand — labels are a pure function of the pair list (fixed
    * rounds, deterministic ties), so ONE propagation serves g08's
    * community summary AND g09's modularity grading (the d06/d07/d16
    * one-build-many-consumers shape; at 100 TB no pipeline re-runs
    * community detection per downstream readout).
    */
  private def lpLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    memoEdgeTable(s, d, lpLabelsMemo, "graft_graph_lp", "id") {
      labelPropagation(rareCoPurchasePairs(s, d), LpRounds)
    }

  val g08 = QueryDef(
    "g08_label_propagation",
    Some(s"""$duckLpChain
    SELECT lbl AS community, count(*) AS n_members,
      min(id) AS min_member
    FROM l$LpRounds GROUP BY lbl
    ORDER BY n_members DESC, community LIMIT 50""")) { (s, d) =>
    lpLabels(s, d)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min("id").as("min_member"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(50)
  }

  /** The LP kernel on its own, spec-testable: `pairs` is one
    * (src < dst) edge per undirected pair; returns (id, lbl) after
    * `rounds` synchronous majority votes.
    */
  private[operators] def labelPropagation(
      pairs: org.apache.spark.sql.DataFrame, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    val ue = pairs.unionByName(
      pairs.select(col("dst").as("src"), col("src").as("dst"))).persist()
    val init = ue.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    Fixpoint.iterate(pairs.sparkSession, init, rounds) { lbl =>
      // neighbor-label counts (partial+final), then argmax by
      // (cnt desc, lbl asc) as max_by over (cnt, -lbl) — two hash
      // aggregations, no window sort over the adjacency
      ue.join(lbl, ue("dst") === lbl("id"))
        .groupBy(ue("src").as("nid"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("nid").as("id"))
        .agg(max_by(col("lbl"), struct(col("cnt"), -col("lbl"))).as("lbl"))
    }
  }

  /** g09: MODULARITY of the g08 partition — the graph family's EVAL
    * entry (the d12/s10/s11/s19/x22 protocol applied to communities):
    * Newman–Girvan modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the
    * SHIPPED label-propagation result over the SHIPPED rare-part
    * co-purchase graph (one [[rareCoPurchasePairs]] construction,
    * one [[labelPropagation]] kernel — the eval can never drift from
    * the operator it grades). All in EXACT BIGINTs: per community,
    * members, internal edges e_c, degree mass d_c, and the
    * common-denominator numerator q_num = 4m·e_c − d_c² (Q's
    * contribution × 4m²) — int64-safe while m < 2³⁰ undirected edges
    * (|q_num| ≤ 4m²; at 100 TB partition the eval by community
    * before summing, the counts stay exact). The per-community
    * double contribution is ONE division of exact BIGINTs
    * (bit-identical cross-engine, the d12/x11 convention). Global
    * Q = Σ q_contrib; a partition no better than random reads ≈ 0,
    * and GraphSpec pins the closed-form faces (two cliques ⇒
    * Q = 1/2 − 1/(2·clique-edges... see spec), one clique ⇒ Q = 0).
    *
    * Scale shape: degree and label tables are node-sized; e_c is one
    * join of the pair list against two label lookups (both shuffled
    * on the SAME node key the LP rounds already used); everything
    * else is per-community arithmetic.
    */
  val g09 = QueryDef(
    "g09_modularity",
    Some(s"""$duckLpChain,
    deg AS (SELECT src AS id, count(*) AS degree FROM ue GROUP BY src),
    mm AS (SELECT count(*) AS m FROM pairs),
    dc AS (SELECT l.lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
            CAST(sum(deg.degree) AS BIGINT) AS d_c
           FROM l$LpRounds l JOIN deg ON deg.id = l.id GROUP BY l.lbl),
    ec AS (SELECT la.lbl AS community, CAST(count(*) AS BIGINT) AS e_c
           FROM pairs p JOIN l$LpRounds la ON la.id = p.src
                        JOIN l$LpRounds lb ON lb.id = p.dst
           WHERE la.lbl = lb.lbl GROUP BY la.lbl)
    SELECT dc.community, dc.n_members,
      CAST(coalesce(ec.e_c, 0) AS BIGINT) AS internal_edges,
      dc.d_c AS degree_mass,
      CAST(4 * mm.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c AS BIGINT) AS q_num,
      CAST(4 * mm.m * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c AS DOUBLE)
        / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_contrib
    FROM dc LEFT JOIN ec ON ec.community = dc.community CROSS JOIN mm
    ORDER BY dc.community""")) { (s, d) =>
    // both operands are memoized bucketed tables: the pair count is a
    // footer-cheap metadata read, the labels ONE shared propagation
    val pairs = rareCoPurchasePairs(s, d)
    modularity(pairs, lpLabels(s, d), pairs.count())
  }

  /** The modularity readout on its own, spec-testable on hand-built
    * graphs with closed-form Q: `pairs` one (src < dst) row per
    * undirected edge, `lbl` the (id, lbl) partition, `m` the edge
    * count. Returns one row per community ordered by community id.
    */
  private[operators] def modularity(pairs: org.apache.spark.sql.DataFrame,
      lbl: org.apache.spark.sql.DataFrame, m: Long)
      : org.apache.spark.sql.DataFrame = {
    val deg = pairs.select(col("src").as("id"))
      .unionByName(pairs.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val dc = lbl.join(deg, "id")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), sum("degree").as("d_c"))
    val ec = pairs
      .join(lbl.toDF("ida", "la"), col("src") === col("ida"))
      .join(lbl.toDF("idb", "lb"), col("dst") === col("idb"))
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("e_c"))
    val qNum = lit(4L * m) * coalesce(col("e_c"), lit(0L)) -
      col("d_c") * col("d_c")
    dc.join(ec, Seq("community"), "left")
      .select(col("community"), big(col("n_members")).as("n_members"),
        big(coalesce(col("e_c"), lit(0L))).as("internal_edges"),
        big(col("d_c")).as("degree_mass"),
        big(qNum).as("q_num"),
        (qNum.cast("double") / lit((4L * m * m).toDouble)).as("q_contrib"))
      .orderBy("community")
  }
}
