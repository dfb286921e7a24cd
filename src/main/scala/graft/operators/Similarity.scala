package graft.operators

import graft.{QueryDef, Qdsl, Tables, Vec}
import Qdsl._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force top-k as the exactness baseline, a
  * sign-LSH-bucketed variant as the 100 TB scale path, and a
  * centroid assignment (the k-means E-step / IVF coarse quantizer).
  *
  * Scale design:
  *   - s01: query-vs-corpus is embarrassingly parallel; the single
  *     query row is broadcast, TakeOrderedAndProject keeps only k rows
  *     per partition.
  *   - s02: bucket-local joins only — 8 sign bits split the corpus
  *     into ≤256 cells, and at real scale the bit count grows with
  *     log(corpus) to keep cells bounded; no all-pairs product.
  *   - s03: per-label centroids are a tiny broadcastable table; the
  *     element sums use fixed-point BIGINT so they are exact and
  *     order-independent (reproducible across engines and runs —
  *     a double sum would depend on partial-aggregation order).
  */
object Similarity {

  def queries: Seq[QueryDef] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12, s13, s14,
      s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25, s26)

  /** MMR selection rounds (picks after the pure-relevance first). */
  private val MmrK = 5

  /** Coarse-quantizer cell count DERIVED FROM CORPUS SIZE:
    * k = max(8, ⌊√(N/4)⌋) = max(8, √N/2) — the k ∝ √N rule
    * (docs/MICROBENCH.md "ANN at 20× bench scale") promoted from
    * prose to code. At fixed k the s06/s13 candidate join is
    * N·(nprobe/k)·N — quadratic; with k ∝ √N expected cell size is
    * ~2√N, so candidate volume is N·nprobe·2√N — sub-quadratic, the
    * scale contract IVF actually promises, while cells keep ≥ ~40
    * training vectors (the k-means adequacy floor). The floor of 8
    * covers degenerate corpora (< 256 vectors); at sf0.001/sf0.01
    * (500 vectors) k = 11, at sf0.1 (2000) k = 22 — SimilaritySpec
    * pins the growth. The SAME deterministic formula runs in the
    * oracle ([[duckIvfK]]: count → /4.0 → sqrt → floor → greatest),
    * so both engines train the identical quantizer at any N.
    * Baked-literal argmin assignment ([[cellOf]]) stays the right
    * physical shape to k of a few hundred (= corpora of ~100k
    * vectors trained directly); past that, production trains on a
    * SAMPLE sized to keep k there — which this formula then applies
    * to the sample.
    */
  private[operators] def ivfK(n: Long): Int =
    math.max(8L, math.floor(math.sqrt(n / 4.0)).toLong).toInt

  /** DuckDB twin of [[ivfK]] over the `n` CTE — one-row CTE `ksel`. */
  private[operators] val duckIvfK: String =
    "ksel AS (SELECT greatest(8, CAST(floor(sqrt(count(*) / 4.0)) AS BIGINT)) AS k FROM n)"

  /** Trained-coarse-quantizer memos, one per subset tag: (catalog,
    * source content) → centroids. Round-6 bench: five operators
    * (s04/s11/s12/s14/d11) each retrained the identical quantizer inline, ~2.5 s
    * apiece at sf0.1's k=22 — the g-family rebuild-per-operator
    * anti-pattern on the training side. One training per source
    * content, every consumer reuses it; `tag` separates quantizers
    * trained on different SUBSETS of the same source (s14's base
    * partition must not alias the full-corpus model).
    */
  private val coarseBuilt = scala.collection.concurrent.TrieMap
    .empty[String, graft.engine.CatalogMemo[Seq[(Long, Array[Double], Double)]]]

  /** Train the COARSE quantizer with the data-derived cell count —
    * the one entry point every coarse-quantizer consumer (s04–s06,
    * s10–s15, d11) goes through, so k cannot drift between them,
    * memoized per (catalog, source content, subset tag).
    * (PQ codebooks keep their fixed [[PqK]]: a codebook's size is the
    * code's bit width, a format constant, not a tuning knob.)
    */
  private[graft] def trainCoarse(s: org.apache.spark.sql.SparkSession,
      d: String, e: org.apache.spark.sql.DataFrame, tag: String = "full")
      : Seq[(Long, Array[Double], Double)] =
    coarseBuilt.getOrElseUpdate(tag, new graft.engine.CatalogMemo)
      .buildOnce(s, d, keep = _.nonEmpty)(_ => trainQuantizer(e, ivfK(e.count()), 3))

  /** s08: MMR (maximal-marginal-relevance) diversity re-rank — the
    * dedup-aware top-k of retrieval and training-data curation:
    * retrieve a candidate pool by relevance, then greedily pick items
    * that are relevant BUT NOT REDUNDANT with what's already picked
    * (score = λ·rel − (1−λ)·max cos to the selected set, λ = 0.5).
    * Plain top-k (s01) returns near-duplicate neighbors; MMR is the
    * standard fix (Carbonell & Goldstein 1998).
    *
    * Execution shape = the production rerank shape: retrieval is the
    * DISTRIBUTED stage (full-corpus relevance scan + top-20, s01's
    * audited plan; at 100 TB it would be an s05/s06 bucket-pruned
    * probe), and the greedy rerank runs on the bounded candidate set
    * driver-side — O(k·|C|) arithmetic on 20 rows, the same bounded-
    * metadata collect discipline as s04's centroids. The greedy loop
    * is inherently sequential (each pick conditions the next), so
    * distributing it would only add latency.
    *
    * Determinism: every cosine is the strict-fold dot (bit-identical
    * across engines); λ = 0.5 is an exact binary fraction, so
    * 0.5·rel − 0.5·maxsim is correctly rounded identically in both
    * engines and the oracle's five unrolled argmax rounds replay the
    * selection exactly (total tiebreak: score DESC, vec_id).
    */
  val s08 = QueryDef(
    "s08_mmr_rerank",
    Some(s"""${Vec.duckNormCte},
      cand AS MATERIALIZED (
        SELECT a.vec_id, a.v, a.nrm,
          ${Vec.duckDot("a.v", "q.v")} / (a.nrm * q.nrm) AS rel
        FROM n a CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q
        WHERE a.vec_id <> 0
        ORDER BY rel DESC, a.vec_id LIMIT 20),
      sel1 AS MATERIALIZED (
        SELECT vec_id, v, nrm, rel, 0.5 * rel - 0.5 * 0.0 AS score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1)${(2 to MmrK).map { i =>
        val selU = (1 until i).map(j => s"SELECT vec_id, v, nrm FROM sel$j")
          .mkString(" UNION ALL ")
        val selIds = (1 until i).map(j => s"SELECT vec_id FROM sel$j")
          .mkString(" UNION ALL ")
        s""",
      ms$i AS MATERIALIZED (
        SELECT c.vec_id, max(${Vec.duckDot("c.v", "s.v")} / (c.nrm * s.nrm)) AS m
        FROM cand c, ($selU) s GROUP BY c.vec_id),
      sel$i AS MATERIALIZED (
        SELECT c.vec_id, c.v, c.nrm, c.rel, 0.5 * c.rel - 0.5 * ms$i.m AS score
        FROM cand c JOIN ms$i ON c.vec_id = ms$i.vec_id
        WHERE c.vec_id NOT IN ($selIds)
        ORDER BY score DESC, c.vec_id LIMIT 1)"""
      }.mkString}
      ${(1 to MmrK).map(i =>
        s"SELECT CAST($i AS BIGINT) AS pick_rank, vec_id, rel, score FROM sel$i")
        .mkString("\n      UNION ALL ")}
      ORDER BY pick_rank""")) { (s, d) =>
    import s.implicits._
    val e = Vec.withNorm(Tables.embeddings(s, d))
    val q = e.where(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    // DISTRIBUTED retrieval: s01's audited shape (1-row broadcast,
    // corpus-linear scan, fused top-k); the collect is the bounded
    // 20-row candidate pool, not data
    val cand = e.where(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("nrm"),
        (expr(Vec.dot("v", "qv")) / (col("nrm") * col("qn"))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(20)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getDouble(3)))
    // the same strict left fold as vec_dot / duckDot — bit-identical
    def fdot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // greedy MMR over the bounded pool
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double)] // (rank, id, rel, score)
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Double], Double)] // (v, nrm)
    for (rank <- 1L to MmrK.toLong) {
      val best = cand.iterator
        .filter(c => !picked.exists(_._2 == c._1))
        .map { case (id, v, nrm, rel) =>
          val ms =
            if (selected.isEmpty) 0.0
            else selected.map { case (sv, sn) => fdot(v, sv) / (nrm * sn) }.max
          (id, v, nrm, rel, 0.5 * rel - 0.5 * ms)
        }
        .reduceOption((a, b) =>
          if (b._5 > a._5 || (b._5 == a._5 && b._1 < a._1)) b else a)
      best.foreach { case (id, v, nrm, rel, score) =>
        picked += ((rank, id, rel, score))
        selected += ((v, nrm))
      }
    }
    picked.toSeq.toDF("pick_rank", "vec_id", "rel", "score")
      .orderBy("pick_rank")
  }

  /** s05's build memo: catalog → (source content key, (trained
    * centroids, index table)). Same success-only discipline as q37's
    * layout memo; identity + staleness hazards handled by
    * [[graft.engine.CatalogMemo]].
    */
  private val ivfBuilt =
    new graft.engine.CatalogMemo[(Seq[(Long, Array[Double], Double)], String)]

  /** Persistent IVF index + bucket-pruned probe — the build-once /
    * query-many production shape s04 (which trains inline per query)
    * leads to. BUILD: train the identical quantizer as s04 (shared
    * [[trainQuantizer]]), write the assignments BUCKETED by cell
    * ([[graft.engine.Engine.archiveBucketed]]). Buckets are
    * murmur-hash(cell) mod max(8, k), so distinct cells CAN share a bucket —
    * pruning is a best-effort I/O reduction while the cell filter
    * stays exact; on this data the 2 probed cells land in 2 distinct
    * buckets (SimilaritySpec asserts `SelectedBucketsCount` selects a
    * strict subset). At 100 TB
    * the probe cost scales with the probed cells' share of the corpus,
    * not with the corpus, and the probe plan has no shuffle and no
    * join: filter + narrow cosine + global top-k
    * (TakeOrderedAndProject). The oracle replays training, probe
    * selection, and the bucket-local search.
    */
  val s05 = QueryDef(
    "s05_ivf_index_probe",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      q AS (SELECT v, nrm FROM n WHERE vec_id = 0),
      cs AS (SELECT cc.cell, (cc.cn2 - 2 * ${Vec.duckDot("q.v", "cc.cd")}) AS sc
        FROM (SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
              FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM c3)) cc, q),
      probe AS (SELECT cell FROM cs ORDER BY sc, cell LIMIT 2)
      SELECT vec_id, cell, cos_sim FROM (
        SELECT a.vec_id, a.cell,
               ${Vec.duckDot("a.v", "q.v")} / (a.nrm * q.nrm) AS cos_sim
        FROM cells a, probe p, q
        WHERE a.cell = p.cell AND a.vec_id <> 0)
      ORDER BY cos_sim DESC, vec_id LIMIT 20""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(s, d, e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (centroids.isEmpty || qRowOpt.isEmpty)
      // empty corpus, or no vec_id=0 query row: the oracle's q CTE is
      // empty → zero rows, not a crash (s01's missing-query contract)
      e.limit(0).select(col("vec_id"), lit(0L).as("cell"), lit(0.0).as("cos_sim"))
    else {
      val qRow = qRowOpt.get
      val qv = qRow.getSeq[Double](0).toArray
      val qnrm = qRow.getDouble(1)
      // 2 nearest cells by the SAME score arithmetic as the oracle's
      // cs CTE: index-ordered left-fold dot, ties -> lowest cell
      val probed = centroids.map { case (cell, cd, cn2) =>
        var dp = 0.0
        var i = 0
        while (i < cd.length) { dp += qv(i) * cd(i); i += 1 }
        (cn2 - 2 * dp, cell)
      }.sorted.take(2).map(_._2)
      // private-session conf (the d06/q37 pattern): Spark's
      // autoBucketedScan heuristic DISABLES bucketed reads when no
      // operator needs the distribution — which also forfeits bucket
      // PRUNING, the entire point of the probe. Forcing the bucketed
      // scan keeps the SelectedBucketsCount pruning in the plan; the
      // catalog is SharedState-scoped so the index table is visible.
      val co = graft.functions.GraftFunctions.childSession(s)
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      co.table(ivfTable)
        .filter(col("cell").isin(probed: _*) && col("vec_id") =!= 0)
        .select(col("vec_id"), col("cell"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(20)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    }
  }

  /** Build-once face of the persistent IVF index, shared by s05 and
    * s06: a memo HIT reuses the stored centroids AND the on-disk
    * bucketed index — no retraining, no rewrite. The memo is consulted
    * BEFORE training (retraining on every probe would both defeat the
    * index's purpose and, if the dir's files changed, probe a stale
    * index with fresh centroids); it records success only AFTER the
    * write lands, and is content-keyed so a dataset REWRITTEN at the
    * same path misses and rebuilds ([[graft.engine.CatalogMemo]]).
    * Returns the trained centroids and the index table's PHYSICAL
    * name — content-keyed ([[graft.engine.CatalogMemo.tableName]]) so
    * concurrent processes sharing one warehouse but reading different
    * source data cannot clobber each other's index; empty corpus →
    * empty Seq, nothing written.
    */
  private[operators] def ensureIvfIndex(s: org.apache.spark.sql.SparkSession,
      d: String, e: org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Array[Double], Double)], String) =
    ivfBuilt.buildOnce(s, d, keep = _._1.nonEmpty) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_ivf_assign", ck)
      val centroids = trainCoarse(s, d, e)
      // label rides WITH the index (one extra int per row): filtered
      // search (s17) applies its metadata predicate inside the
      // bucket-pruned index scan — a label join-back would reintroduce
      // the corpus-sized side the index exists to avoid
      if (centroids.nonEmpty)
        new graft.engine.Engine(s).archiveBucketed(
          e.withColumn("cell", cellOf(centroids))
            .select(col("vec_id"), col("cell"), col("label"), col("v"), col("nrm")),
          tbl, "cell", ivfBuckets(centroids))
      (centroids, tbl)
    }

  /** DuckDB twins of the s04 k-means legs, composed per unrolled
    * iteration. Every float op is the bit-identical cross-engine form
    * proven elsewhere in this file: strict-fold dots (s01/s02),
    * `round(x*1e6)` fixed-point with BIGINT sums (s03), and
    * truncating integral division (Spark's double→long cast ≡ DuckDB
    * `trunc`+CAST since the quotient is then integral).
    */
  private[operators] def duckAssign(cents: String, name: String, src: String = "n"): String =
    s"""$name AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT $src.vec_id, $src.v, $src.nrm, q.cell,
       |           row_number() OVER (PARTITION BY $src.vec_id
       |             ORDER BY (q.cn2 - 2 * ${Vec.duckDot(s"$src.v", "q.cd")}), q.cell) AS rn
       |    FROM $src CROSS JOIN (
       |      SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
       |      FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM $cents)) q)
       |  WHERE rn = 1)""".stripMargin

  /** Per-vector probe selection: each vector's `nprobe` nearest cells
    * by the same score/tie order as [[duckAssign]] (rn = 1 of this IS
    * the assignment). `src` parameterizes WHOSE vectors get probes
    * (c02 probes only the SemDeDup survivors); operators-visible so
    * the capstone provably replays the identical selection.
    */
  private[operators] def duckProbes(cents: String, name: String, nprobe: Int,
      src: String = "n"): String =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT $src.vec_id, q.cell,
       |           row_number() OVER (PARTITION BY $src.vec_id
       |             ORDER BY (q.cn2 - 2 * ${Vec.duckDot(s"$src.v", "q.cd")}), q.cell) AS rn
       |    FROM $src CROSS JOIN (
       |      SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
       |      FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM $cents)) q)
       |  WHERE rn <= $nprobe)""".stripMargin

  private def duckCentroids(assigned: String, name: String): String =
    s"""$name AS (
       |  SELECT cell, list(ci ORDER BY pos) AS c FROM (
       |    SELECT cell, pos, CAST(trunc(sum(xi) / count(*)) AS BIGINT) AS ci FROM (
       |      SELECT a.cell, r.pos, CAST(round(a.v[r.pos + 1] * 1000000) AS BIGINT) AS xi
       |      FROM $assigned a, unnest(range(0, 64)) AS r(pos))
       |    GROUP BY cell, pos)
       |  GROUP BY cell)""".stripMargin

  /** The full trained-quantizer oracle chain — seed + 3 unrolled
    * k-means rounds + final assignment `cells` — shared by s04/s05/s06
    * and [[Dedup.d11]] so every consumer provably replays the IDENTICAL
    * training ([[trainQuantizer]]'s DuckDB twin). Leaves `c3` (the
    * final centroids) in scope for probe-selection CTEs. Assumes `n`
    * from [[Vec.duckNormCte]] precedes it.
    */
  private[operators] def duckTrainedCells: String =
    s"""$duckIvfK,
       |init AS (
       |  SELECT cell, list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS c FROM (
       |    SELECT vec_id % ksel.k AS cell, v,
       |           row_number() OVER (PARTITION BY vec_id % ksel.k ORDER BY vec_id) AS rn
       |    FROM n CROSS JOIN ksel)
       |  WHERE rn = 1),
       |${duckAssign("init", "a1")},
       |${duckCentroids("a1", "c1")},
       |${duckAssign("c1", "a2")},
       |${duckCentroids("a2", "c2")},
       |${duckAssign("c2", "a3")},
       |${duckCentroids("a3", "c3")},
       |${duckAssign("c3", "cells")}""".stripMargin

  /** s04/s05-shared quantizer machinery: deterministic k-means over
    * fixed-point BIGINT sums, centroids collected (k rows — driver
    * data by definition) and baked into a zero-exchange narrow argmin
    * assignment. Extracted so the PERSISTENT index (s05) provably
    * trains the identical quantizer as the inline query (s04).
    */
  private[operators] def collectedCentroids(
      cents: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Double], Double)] =
    cents.collect().map { r =>
      val cd = r.getSeq[Long](1).map(_ / 1000000.0).toArray
      var cn2 = 0.0
      var i = 0
      while (i < cd.length) { cn2 += cd(i) * cd(i); i += 1 }
      (r.getLong(0), cd, cn2)
    }.toSeq.sortBy(_._1)

  /** THE index bucket-count rule — one definition for every writer
    * that must stay append-compatible with the batch-built layout
    * (ensureIvfIndex, c02's survivor landing, c06's index): a formula
    * drift between writers surfaces as a bucket-spec mismatch on
    * append, or a divergent fresh table.
    */
  private[graft] def ivfBuckets(cents: Seq[(Long, Array[Double], Double)]): Int =
    math.max(8, cents.size)

  private[graft] def cellOf(
      cents: Seq[(Long, Array[Double], Double)]): org.apache.spark.sql.Column =
    cellOf(cents, col("v"))

  /** Argmin-centroid assignment over an arbitrary vector column (s07
    * encodes each SUBVECTOR with its own codebook through this) — one
    * codegen'd [[graft.functions.NearestCell]] kernel call over the
    * flattened centroid literals. Bit- and tie-identical to the baked
    * `least()` + first-match when-chain it replaces (same fold, same
    * ascending-cell first-minimum), whose Janino compile cost grew
    * linearly with the data-derived k (~2 s/query at k = 22).
    */
  private[graft] def cellOf(cents: Seq[(Long, Array[Double], Double)],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("nearest_cell", v, lit(cents.map(_._1).toArray),
      lit(cents.flatMap(_._2).toArray), lit(cents.map(_._3).toArray))

  /** Seed + `rounds` k-means iterations; empty input → empty Seq. */
  private[operators] def trainQuantizer(e: org.apache.spark.sql.DataFrame,
      k: Int, rounds: Int): Seq[(Long, Array[Double], Double)] = {
    var centroids = collectedCentroids(e
      .withColumn("cell", pmod(col("vec_id"), lit(k)))
      .groupBy("cell")
      .agg(min_by(col("v"), col("vec_id")).as("v0"))
      .select(col("cell"), expr("transform(v0, x -> CAST(round(x * 1000000) AS BIGINT))").as("c")))
    if (centroids.isEmpty) Seq.empty
    else {
      for (_ <- 1 to rounds) {
        centroids = collectedCentroids(e.withColumn("cell", cellOf(centroids))
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .withColumn("xi", expr("CAST(round(x * 1000000) AS BIGINT)"))
          .groupBy("cell", "pos")
          .agg((sum("xi") / count(lit(1))).cast("long").as("ci"))
          .groupBy("cell")
          .agg(expr("transform(array_sort(collect_list(struct(pos, ci))), s -> s.ci)").as("c")))
      }
      centroids
    }
  }

  /** IVF ANN with a trained coarse quantizer: k-means (data-derived
    * k = [[ivfK]](N), 3 iterations, deterministic — centroids accumulate in fixed-point
    * BIGINT like s03, initialized from the first vector per vec_id
    * mod k) partitions the corpus into cells; each vector's nearest
    * neighbor is then searched only within its cell. This is the
    * production ANN shape at 100 TB: train on a sample, assign in one
    * broadcast-join pass, search bucket-locally. The oracle unrolls
    * the 3 training rounds as chained CTEs over the same bit-identical
    * float forms, so even the trained quantizer is cross-checked;
    * determinism and convergence are additionally pinned by
    * SimilaritySpec.
    */
  val s04 = QueryDef(
    "s04_ivf_ann",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells
      SELECT va, cell, nn, cos_sim FROM (
        SELECT a.vec_id AS va, a.cell AS cell, b.vec_id AS nn,
               ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos_sim,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
      WHERE rn = 1 ORDER BY va""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    // k centroids are k rows — driver-side data by definition, exactly
    // like any production k-means; see [[trainQuantizer]]/[[cellOf]]:
    // each round bakes them into the assignment as literal columns
    // (score_j = ||c_j||² − 2·v·c_j on the codegen'd vec_dot kernel,
    // argmin = least() + first-match when-chain, ties → lowest cell) —
    // a pure narrow projection, ZERO exchanges; round 2's formulation
    // (crossJoin(broadcast) ×8 row blowup + row_number window) cost
    // 6.5 s at the driver's local[32]. ||c||² is a strict left fold
    // over cd = c/10⁶, the same fold DuckDB's list_reduce runs.
    val centroids = trainCoarse(s, d, e)
    // empty corpus → no centroids → cellOf's least()/last would throw;
    // the correct result is simply no rows (matches the oracle)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), lit(0L).as("cell"),
        col("vec_id").as("nn"), lit(0.0).as("cos_sim"))
    else {
      // final assignment (narrow), then bucket-local nearest neighbor:
      // the cell-equality self-join is the one data-sized shuffle; top-1
      // per vector is a partial-aggregating max_by (ordered by cos desc,
      // then LOWEST nn — the struct key negates nn), not a window sort
      val cells = e.withColumn("cell", cellOf(centroids))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      cells.as("a").join(cells.as("x"),
          col("a.cell") === col("x.cell") && col("a.vec_id") =!= col("x.vec_id"))
        .select(col("a.vec_id").as("va"), col("a.cell").as("cell"),
          col("x.vec_id").as("nn"),
          (expr(Vec.dot("a.v", "x.v")) / (col("a.nrm") * col("x.nrm"))).as("c"))
        .groupBy("va", "cell")
        .agg(max_by(struct(col("nn"), col("c")), struct(col("c"), -col("nn"))).as("m"))
        .select(col("va"), col("cell"), col("m.nn").as("nn"), col("m.c").as("cos_sim"))
        .orderBy("va")
    }
  }

  /** Batch multi-probe ANN over the persistent IVF index — the real
    * 100 TB batch-ANN query shape, and the closure of s04's documented
    * gap: s04 searches only each vector's OWN cell, so cross-cell near
    * neighbors are missed by construction; s06 probes every vector's
    * nprobe=2 NEAREST cells (rank-1 is its own cell by definition of
    * the assignment, so s06's candidate set strictly contains s04's)
    * and returns top-k=3 neighbors.
    *
    * Scale shape: probe selection is NARROW — the k centroid scores
    * are baked as literal columns (the s04 discipline) and the 2 best
    * cells come from one codegen'd `array_sort(array(struct(score,
    * cell)))` + `slice`, no join, no shuffle; the candidate join is
    * deliberately UNHINTED (the d03 count-lookup policy) — the planner
    * broadcasts the index while it is small and falls back to a
    * sort-merge join when it isn't, in which case the index side reads
    * its bucketed layout exchange-free (that at-scale shape is
    * plan-asserted in SimilaritySpec with broadcast disabled).
    * Probe fan-out is bounded (2 rows/vector), never all-pairs; cost
    * ∝ nprobe/k of the corpus per vector, and k grows ~√N with the corpus
    * ([[ivfK]]) so cells stay bounded. The oracle replays training, PER-
    * VECTOR probe selection (duckProbes: same score, same ties), the
    * candidate join, and the top-3 window.
    */
  /** Per-vector nprobe cell selection, NARROWLY: centroid scores as
    * literal columns, natural struct ordering = the oracle's ORDER BY
    * (score, cell). Shared by s06 (batch probe) and s10 (recall eval)
    * so both provably select the identical cells (and operators-wide
    * so c02's capstone probes are the shipped selection, not a twin).
    */
  private[operators] def probeStructs(centroids: Seq[(Long, Array[Double], Double)])
      : Seq[org.apache.spark.sql.Column] =
    centroids.map { case (cell, cd, cn2) =>
      struct((lit(cn2) - lit(2.0) * call_function("vec_dot", col("v"), lit(cd))).as("sc"),
        lit(cell).as("cell"))
    }

  val s06 = QueryDef(
    "s06_ivf_batch_probe",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      ${duckProbes("c3", "pr", 2)},
      cand AS (
        SELECT a.vec_id AS va, x.vec_id AS nn, x.cell AS nn_cell,
               ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c
        FROM n a JOIN pr ON pr.vec_id = a.vec_id
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> a.vec_id)
      SELECT va, nn, nn_cell, c AS cos_sim FROM (
        SELECT va, nn, nn_cell, c,
               row_number() OVER (PARTITION BY va ORDER BY c DESC, nn) AS rn
        FROM cand)
      WHERE rn <= 3 ORDER BY va, cos_sim DESC, nn""")) { (s, d) =>
    // run everything in a private session sharing the parent's
    // SharedState: the index table and build memo are catalog-scoped,
    // and the bucketed-scan conf below must not leak to other queries
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), col("vec_id").as("nn"),
        lit(0L).as("nn_cell"), lit(0.0).as("cos_sim"))
    else {
      // Spark's autoBucketedScan heuristic can forfeit the bucketed
      // layout when it judges the scan cheaper unbucketed; force it so
      // the index side joins exchange-free (the s05 discipline)
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      probeTop3(e, co.table(ivfTable), centroids)
        .select(col("va"), col("nn"), col("nn_cell"), col("c").as("cos_sim"))
        .orderBy(col("va"), col("cos_sim").desc, col("nn"))
    }
  }

  /** THE nprobe=2 / top-3 probe body — ONE definition of s06's probe
    * selection, candidate join, and partial-top-k, shared by s06, s22
    * (mutual filter on top), and s23 (tombstone-filtered operands), so
    * a probe-policy change cannot silently desynchronize the faces
    * whose contracts are stated AGAINST s06 (SimilaritySpec pins
    * both). Queries carry the [[graft.Vec.withNorm]] shape (vec_id, v,
    * nrm); the index side is any (vec_id, cell, v, nrm, …) table.
    * Output: (va, nn, nn_cell, c), unsorted.
    */
  private def probeTop3(queries: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame,
      centroids: Seq[(Long, Array[Double], Double)])
      : org.apache.spark.sql.DataFrame = {
    val probes = queries.select(col("vec_id").as("va"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(slice(array_sort(array(probeStructs(centroids): _*)), 1, 2)).as("p"))
      .select(col("va"), col("qv"), col("qn"), col("p.cell").as("pcell"))
    probes.join(index,
        col("pcell") === col("cell") && col("vec_id") =!= col("va"))
      .select(col("va"), col("vec_id").as("nn"), col("cell").as("nn_cell"),
        (call_function("vec_dot", col("qv"), col("v")) /
          (col("qn") * col("nrm"))).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
      .where(col("rn") <= 3)
      .select(col("va"), col("nn"), col("nn_cell"), col("c"))
  }

  /** s10: recall@3 EVALUATION of the IVF probe (s06's nprobe=2 path)
    * against exact ground truth — the accuracy-measurement operator
    * every production ANN deployment runs before trusting an index.
    * Ground truth is computed on a FIXED QUERY SAMPLE (vec_id ≡ 0
    * mod 37, ~2.7%): recall is a corpus statistic, so a sample
    * estimates it with the exact leg costing |Q|·N dots — LINEAR in
    * the corpus for a fixed sample, never all-pairs (the standard
    * ann-benchmarks protocol, and the difference between an
    * evaluation you can afford at 100 TB and one you can't). The
    * sampled queries broadcast (|Q| rows); the approx leg reuses the
    * s06 probe machinery verbatim ([[probeStructs]], the persistent
    * bucketed index), so the measured recall is the recall OF THE
    * SHIPPED OPERATOR, not of a reimplementation.
    *
    * Output: per-query overlap count and recall@3 ∈ {0, ⅓, ⅔, 1}
    * (n/3.0 is one IEEE division — bit-identical cross-engine).
    */
  val s10 = QueryDef(
    "s10_recall_eval",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      ${duckProbes("c3", "pr", 2)},
      q AS (SELECT vec_id AS va, v, nrm FROM n WHERE vec_id % 37 = 0),
      ex AS (SELECT va, nn FROM (
        SELECT q.va, x.vec_id AS nn,
               row_number() OVER (PARTITION BY q.va
                 ORDER BY ${Vec.duckDot("x.v", "q.v")} / (x.nrm * q.nrm) DESC, x.vec_id) AS rn
        FROM q JOIN n x ON x.vec_id <> q.va) WHERE rn <= 3),
      ap AS (SELECT va, nn FROM (
        SELECT a.va, x.vec_id AS nn,
               row_number() OVER (PARTITION BY a.va
                 ORDER BY ${Vec.duckDot("x.v", "a.v")} / (x.nrm * a.nrm) DESC, x.vec_id) AS rn
        FROM q a JOIN pr ON pr.vec_id = a.va
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> a.va) WHERE rn <= 3)
      SELECT q.va, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        CAST(coalesce(h.n_hit, 0) AS BIGINT) / 3.0 AS recall
      FROM q LEFT JOIN (
        SELECT ex.va, count(*) AS n_hit
        FROM ex JOIN ap ON ap.va = ex.va AND ap.nn = ex.nn
        GROUP BY ex.va) h ON h.va = q.va
      ORDER BY q.va""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), lit(0L).as("n_hit"),
        lit(0.0).as("recall"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // keep the vector column named `v` through the probe-selection
      // select: probeStructs' score expressions reference it by name
      val q = e.where(pmod(col("vec_id"), lit(37)) === 0)
        .select(col("vec_id").as("va"), col("v"), col("nrm").as("qn"))
      // exact leg: broadcast the sample, scan the corpus once — a
      // BroadcastNestedLoopJoin whose broadcast side is the |Q|-row
      // sample by construction (PlanLintSpec whitelist carries this)
      val exact = e.crossJoin(broadcast(q.select(col("va"), col("v").as("qv"), col("qn"))))
        .where(col("vec_id") =!= col("va"))
        .select(col("va"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("v"), col("qv")) / (col("nrm") * col("qn"))).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
        .select(col("va"), col("nn"))
      // approx leg: the s06 probe path verbatim, restricted to the sample
      val approx = q
        .select(col("va"), col("v").as("qv"), col("qn"),
          explode(slice(array_sort(array(probeStructs(centroids): _*)), 1, 2)).as("p"))
        .select(col("va"), col("qv"), col("qn"), col("p.cell").as("pcell"))
        .join(co.table(ivfTable),
          col("pcell") === col("cell") && col("vec_id") =!= col("va"))
        .select(col("va"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
        .select(col("va"), col("nn"))
      val hits = exact.join(approx, Seq("va", "nn"))
        .groupBy("va").agg(count(lit(1)).as("n_hit"))
      q.select("va")
        .join(hits, Seq("va"), "left")
        .select(col("va"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) / lit(3.0)).as("recall"))
        .orderBy("va")
    }
  }

  /** s11: CLUSTERING-QUALITY evaluation of the trained IVF quantizer —
    * the fourth member of the eval family (s10 ANN recall, d12 LSH
    * quality, x22 classifier confusion): per cell, the k-means
    * objective itself (inertia = Σ‖x − c‖²) plus the cell's nearest
    * other-centroid separation — cohesion vs separation, the readout
    * that decides whether k/rounds are adequate before committing an
    * index build. All distances are EXACT BIGINTs in µ²-fixed-point
    * (xi = round(x·10⁶), centroids are already integral in the same
    * units from training): squared diffs ≤ 4·10¹²·64 per vector and
    * corpus-bounded sums stay far under 2⁶³ at any tested SF; the only
    * float ops are one division (mean) and one IEEE-exact sqrt — both
    * bit-identical cross-engine. Assignment is the SHIPPED argmin
    * ([[cellOf]]; oracle replays `cells`), so the graded clustering is
    * the one s04–s06/d11 actually use. Plan: one broadcast join of 8
    * centroid rows + one partial+final aggregate — evaluation cost is
    * one corpus pass.
    */
  val s11 = QueryDef(
    "s11_cluster_quality",
    Some {
      val d2 = (a: String, b: String) =>
        s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
      s"""${Vec.duckNormCte},
      $duckTrainedCells,
      xi AS (SELECT cell, vec_id,
               list_transform(v, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
             FROM cells),
      dd AS (SELECT x.cell, x.vec_id, ${d2("x.q", "t.c")} AS d2
             FROM xi x JOIN c3 t USING (cell)),
      per AS (SELECT cell, count(*) AS n, CAST(sum(d2) AS BIGINT) AS inertia
              FROM dd GROUP BY cell),
      sep AS (SELECT a.cell, min(${d2("a.c", "b.c")}) AS minsep
              FROM c3 a JOIN c3 b ON a.cell <> b.cell GROUP BY a.cell)
      SELECT per.cell, CAST(per.n AS BIGINT) AS n, per.inertia,
        CAST(per.inertia AS DOUBLE) / CAST(per.n AS DOUBLE) AS mean_d2,
        sqrt(CAST(per.inertia AS DOUBLE) / CAST(per.n AS DOUBLE)) / 1000000.0 AS rms_dist,
        CAST(coalesce(sep.minsep, 0) AS BIGINT) AS min_sep
      FROM per LEFT JOIN sep USING (cell) ORDER BY per.cell"""
    }) { (s, d) =>
    import s.implicits._
    val e = Vec.withNorm(Tables.embeddings(s, d))
    val centroids = trainCoarse(s, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("cell"), lit(0L).as("n"),
        lit(0L).as("inertia"), lit(0.0).as("mean_d2"), lit(0.0).as("rms_dist"),
        lit(0L).as("min_sep"))
    else {
      // integral centroid coordinates (µ units) — exact by training
      val ints = centroids.map { case (cell, cd, _) =>
        cell -> cd.map(x => math.round(x * 1e6))
      }
      // nearest-other-centroid separation, exact integer math on the
      // driver (k rows by definition)
      def d2i(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val centDf = broadcast(ints.map { case (cell, ci) =>
        val minsep =
          if (ints.size < 2) 0L
          else ints.collect { case (o, cj) if o != cell => d2i(ci, cj) }.min
        (cell, ci.toSeq, minsep)
      }.toDF("cell", "ci", "min_sep"))
      e.withColumn("cell", cellOf(centroids))
        .join(centDf, "cell")
        .withColumn("d2", expr(
          """aggregate(sequence(1, 64), 0L, (acc, i) ->
             acc + (CAST(round(element_at(v, i) * 1000000) AS BIGINT) - element_at(ci, i))
                 * (CAST(round(element_at(v, i) * 1000000) AS BIGINT) - element_at(ci, i)))"""))
        .groupBy("cell", "min_sep")
        .agg(count(lit(1)).as("n"), sum("d2").as("inertia"))
        .select(col("cell"), col("n"), col("inertia"),
          (col("inertia").cast("double") / col("n").cast("double")).as("mean_d2"),
          (sqrt(col("inertia").cast("double") / col("n").cast("double")) / 1e6)
            .as("rms_dist"),
          col("min_sep"))
        .orderBy("cell")
    }
  }

  /** s07 PQ geometry: M subspaces × SubDim dims, K codes per
    * codebook, R k-means iterations — 64 dims → M codes, a 64×
    * memory compression (512 B of doubles → 8 B of codes).
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 8
  private val PqRounds = 2

  /** s07's trained codebooks, memoized per (catalog, content) — the
    * build-once discipline (s05/s06/x14/x15).
    */
  private val pqBuilt =
    new graft.engine.CatalogMemo[Seq[Seq[(Long, Array[Double], Double)]]]

  /** Train-or-fetch the [[PqM]] per-subspace codebooks over a
    * normed corpus — ONE accessor shared by s07 (encode + ADC score)
    * and s19 (quantization-quality eval), so the eval provably
    * grades the codebooks the scorer ships.
    */
  private def pqCodebooks(s: org.apache.spark.sql.SparkSession, d: String,
      e: org.apache.spark.sql.DataFrame): Seq[Seq[(Long, Array[Double], Double)]] =
    pqBuilt.buildOnce(s, d, keep = _.forall(_.nonEmpty)) { _ =>
      (0 until PqM).map { m =>
        trainQuantizer(
          e.select(col("vec_id"), expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)").as("v")),
          PqK, PqRounds)
      }
    }

  /** DuckDB strict-fold dot over the first `n` elements (1-based). */
  private def duckDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  /** Per-subspace oracle chain: sub → init → (assign → centroids) ×
    * rounds → final assign (the codes) → query LUT. Same fixed-point
    * discipline as [[duckAssign]]/[[duckCentroids]], on
    * [[PqSubDim]]-dim slices. ONE generator serves both PQ oracles —
    * s07 (`pfx` "", slices of the raw vectors `n.v`) and s15 (`pfx`
    * "r", slices of the residuals `res.r`) — so the subspace training
    * discipline (rounding, tie order, LUT form) cannot drift between
    * them. The LUT always dots the RAW query subvector: that IS s07's
    * semantics, and s15's residual-ADC identity (q·x̂ = q·c + q·r̂)
    * requires it.
    */
  private def duckSubspaceChain(m: Int, pfx: String, src: String, vec: String): String = {
    val lo = m * PqSubDim + 1
    val hi = (m + 1) * PqSubDim
    def assign(cents: String, name: String): String =
      s"""$name AS (
         |  SELECT vec_id, sv, cell FROM (
         |    SELECT s.vec_id, s.sv, q.cell,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY (q.cn2 - 2 * ${duckDotN("s.sv", "q.cd", PqSubDim)}), q.cell) AS rn
         |    FROM ${pfx}sub$m s CROSS JOIN (
         |      SELECT cell, cd, ${duckDotN("cd", "cd", PqSubDim)} AS cn2
         |      FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM $cents)) q)
         |  WHERE rn = 1)""".stripMargin
    def cents(assigned: String, name: String): String =
      s"""$name AS (
         |  SELECT cell, list(ci ORDER BY pos) AS c FROM (
         |    SELECT cell, pos, CAST(trunc(sum(xi) / count(*)) AS BIGINT) AS ci FROM (
         |      SELECT a.cell, r.pos, CAST(round(a.sv[r.pos + 1] * 1000000) AS BIGINT) AS xi
         |      FROM $assigned a, unnest(range(0, $PqSubDim)) AS r(pos))
         |    GROUP BY cell, pos)
         |  GROUP BY cell)""".stripMargin
    val sb = new StringBuilder
    sb.append(s"""${pfx}sub$m AS (SELECT vec_id, $vec[$lo:$hi] AS sv FROM $src),
      ${pfx}init$m AS (
        SELECT cell, list_transform(sv, x -> CAST(round(x * 1000000) AS BIGINT)) AS c FROM (
          SELECT vec_id % $PqK AS cell, sv,
                 row_number() OVER (PARTITION BY vec_id % $PqK ORDER BY vec_id) AS rn
          FROM ${pfx}sub$m)
        WHERE rn = 1)""")
    var prev = s"${pfx}init$m"
    for (r <- 1 to PqRounds) {
      sb.append(",\n" + assign(prev, s"${pfx}a${r}_$m") + ",\n" + cents(s"${pfx}a${r}_$m", s"${pfx}c${r}_$m"))
      prev = s"${pfx}c${r}_$m"
    }
    // codes = assignment against the FINAL codebook
    sb.append(",\n" + assign(prev, s"${pfx}codes$m"))
    sb.append(s""",
      ${pfx}lut$m AS (SELECT cc.cell, ${duckDotN("q.sv", "cc.cd", PqSubDim)} AS val
        FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM $prev) cc
        CROSS JOIN (SELECT v[$lo:$hi] AS sv FROM n WHERE vec_id = 0) q)""")
    sb.toString
  }

  private def duckPqSubspace(m: Int): String = duckSubspaceChain(m, "", "n", "v")

  /** Product quantization ANN — the COMPRESSION half of IVF-PQ,
    * completing the s04/s05/s06 coarse-quantizer story: each vector's
    * 64 doubles (512 B) are encoded as [[PqM]] 3-bit codes (one
    * argmin per 8-dim subspace against a per-subspace trained
    * codebook), and the query scores candidates WITHOUT touching the
    * raw vectors — adc_dot = Σₘ LUT[m][codeₘ], where the LUT holds the
    * query-subvector · centroid dots (8 lookups + 7 adds per vector).
    * This is how a billion-vector corpus fits ANN in RAM: 64×
    * compression, table-lookup scoring, exact re-rank only on the
    * shortlist (emitted here as the exact cos_sim column).
    *
    * Determinism/oracle: per-subspace k-means reuses the s04
    * fixed-point discipline (BIGINT centroid sums, trunc division,
    * tie → lowest cell), the LUT values are strict-fold dots of
    * (raw-double query subvector) × (fixed-point centroid / 10⁶), and
    * the ADC sum is a FIXED left-associated 8-term chain — identical
    * IEEE operands and order in both engines. The oracle unrolls all
    * 8 subspaces × 2 training rounds + encoding + LUT + scoring.
    * Training is memoized per (catalog, content); encoding and
    * scoring are narrow codegen'd projections (zero joins, zero
    * shuffles) feeding one TakeOrderedAndProject.
    */
  val s07 = QueryDef(
    "s07_pq_adc",
    Some {
      val subspaces = (0 until PqM).map(duckPqSubspace).mkString(",\n      ")
      val joins = (0 until PqM).map(m =>
        s"JOIN codes$m cd$m ON cd$m.vec_id = n.vec_id JOIN lut$m l$m ON l$m.cell = cd$m.cell")
        .mkString("\n        ")
      val adc = (0 until PqM).map(m => s"l$m.val").mkString(" + ")
      s"""${Vec.duckNormCte},
      $subspaces,
      qq AS (SELECT v, nrm FROM n WHERE vec_id = 0)
      SELECT n.vec_id, ($adc) AS adc_dot,
             ${Vec.duckDot("n.v", "qq.v")} / (n.nrm * qq.nrm) AS cos_sim
      FROM n $joins CROSS JOIN qq
      WHERE n.vec_id <> 0
      ORDER BY adc_dot DESC, n.vec_id LIMIT 20"""
    }) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val codebooks = pqCodebooks(s, d, e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (codebooks.exists(_.isEmpty) || qRowOpt.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0.0).as("adc_dot"), lit(0.0).as("cos_sim"))
    else {
      val qRow = qRowOpt.get
      val qv = qRow.getSeq[Double](0).toArray
      val qnrm = qRow.getDouble(1)
      // LUT: query-subvector · centroid, strict fold — the exact
      // arithmetic of the oracle's lut$m CTEs, computed once on the
      // driver (M × K doubles — the whole point of PQ scoring)
      val lut: Seq[Array[Double]] = (0 until PqM).map { m =>
        val arr = new Array[Double](PqK)
        codebooks(m).foreach { case (cell, cd, _) =>
          var dp = 0.0
          var i = 0
          while (i < cd.length) { dp += qv(m * PqSubDim + i) * cd(i); i += 1 }
          arr(cell.toInt) = dp
        }
        arr
      }
      // adc = fixed left-assoc 8-term chain of LUT lookups; code_m is
      // a narrow argmin over the subvector — all codegen, no shuffle
      val adc = (0 until PqM).map { m =>
        element_at(lit(lut(m)),
          (cellOf(codebooks(m), expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")) + lit(1L))
            .cast("int"))
      }.reduceLeft(_ + _)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), adc.as("adc_dot"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
        .orderBy(col("adc_dot").desc, col("vec_id"))
        .limit(20)
        .orderBy(col("adc_dot").desc, col("vec_id"))
    }
  }

  /** Brute-force cosine top-k (k=20) against the vec_id=0 query
    * vector. The query side is one broadcast row; cosine folds are
    * bit-identical to the oracle's (see [[graft.Vec]]).
    */
  val s01 = QueryDef(
    "s01_cosine_topk",
    Some(s"""${Vec.duckNormCte}
      SELECT a.vec_id, a.label,
        ${Vec.duckDot("a.v", "q.v")} / (a.nrm * q.nrm) AS cos_sim
      FROM n a CROSS JOIN (SELECT v, nrm FROM n WHERE vec_id = 0) q
      ORDER BY ${Vec.duckDot("a.v", "q.v")} / (a.nrm * q.nrm) DESC, a.vec_id
      LIMIT 20""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d))
    val q = e.where(col("vec_id") === 0).select(col("v").as("qv"), col("nrm").as("qn"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (expr(Vec.dot("v", "qv")) / (col("nrm") * col("qn"))).as("c"))
      .orderBy(col("c").desc, col("vec_id"))
      .limit(20)
      .select(col("vec_id"), col("label"), col("c").as("cos_sim"))
  }

  /** Approximate nearest neighbor via sign-LSH: bucket = 8 sign bits
    * of the first 8 dimensions; each vector's NN is searched only
    * within its bucket (vectors alone in their bucket yield no row).
    */
  val s02 = QueryDef(
    "s02_ann_lsh",
    Some(s"""${Vec.duckNormCte},
      b AS (SELECT vec_id, v, nrm,
        list_sum(list_transform(range(1, 9), i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT AS bucket
        FROM n)
      SELECT va, bucket, nn, c AS cos_sim FROM (
        SELECT a.vec_id AS va, a.bucket AS bucket, x.vec_id AS nn,
          ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c,
          row_number() OVER (PARTITION BY a.vec_id
            ORDER BY ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) DESC, x.vec_id) AS rn
        FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id <> x.vec_id)
      WHERE rn = 1 ORDER BY va""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d))
      .withColumn("bucket", expr(
        "aggregate(sequence(1, 8), 0L, (acc, i) -> acc + IF(element_at(v, i) >= 0D, shiftleft(1L, i - 1), 0L))"))
    val pairs = e.as("a").join(e.as("x"),
        col("a.bucket") === col("x.bucket") && col("a.vec_id") =!= col("x.vec_id"))
      .select(col("a.vec_id").as("va"), col("a.bucket").as("bucket"),
        col("x.vec_id").as("nn"),
        (expr(Vec.dot("a.v", "x.v")) / (col("a.nrm") * col("x.nrm"))).as("c"))
    pairs
      .withColumn("rn", row_number().over(
        Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
      .where(col("rn") === 1)
      .select(col("va"), col("bucket"), col("nn"), col("c").as("cos_sim"))
      .orderBy("va")
  }

  /** Per-label centroid assignment: elementwise fixed-point sums
    * (round(x·10⁶) as BIGINT — exact, order-independent) build the
    * centroid; each vector's cosine to its own label centroid follows.
    * Cosine is scale-invariant, so the un-normalized sum centroid
    * equals the mean centroid.
    */
  val s03 = QueryDef(
    "s03_label_centroid",
    Some(s"""${Vec.duckNormCte},
      q AS (SELECT vec_id, label, pos,
              CAST(round(v[pos + 1] * 1000000) AS BIGINT) AS xi
            FROM n, unnest(range(0, 64)) AS r(pos)),
      cent AS (SELECT label, list(ci ORDER BY pos) AS c FROM (
                 SELECT label, pos, sum(xi) AS ci FROM q GROUP BY label, pos)
               GROUP BY label),
      cn AS (SELECT label, c,
               sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(c, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x)) AS cnrm
             FROM cent)
      SELECT vec_id, label,
          list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), i -> n.v[i] * cn.c[i]::DOUBLE)), (acc, x) -> acc + x)
            / (n.nrm * cn.cnrm) AS cos_to_centroid
      FROM n JOIN cn USING (label) ORDER BY vec_id""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d))
    val q = e.select(col("vec_id"), col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("xi", expr("CAST(round(x * 1000000) AS BIGINT)"))
    val cent = q.groupBy("label", "pos").agg(sum("xi").as("ci"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, ci))), s -> CAST(s.ci AS DOUBLE))").as("c"))
      .withColumn("cnrm", expr(s"sqrt(${graft.Vec.dot("c", "c")})"))
    e.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"),
        (expr(graft.Vec.dot("v", "c")) / (col("nrm") * col("cnrm"))).as("cos_to_centroid"))
      .orderBy("vec_id")
  }

  /** s09: INT8 SCALAR QUANTIZATION ANN — the simple half of the
    * compression family, complementing s07's PQ: each dimension is
    * linearly mapped to an 8-bit code against the corpus's per-dim
    * [min, max] (the Faiss SQ8 scheme), an 8× memory cut (512 B of
    * doubles → 64 B of codes) with NO training loop and NO codebook —
    * the variant a pipeline reaches for before PQ's 64×. Scoring
    * reconstructs each code to its cell CENTER (min + (code+½)·span/
    * 255) and takes the query·center dot — like s07's ADC, candidates
    * are ranked without touching raw vectors; the exact cos_sim rides
    * along for the re-rank contract.
    *
    * Determinism: min/max are exact SELECTIONS (any aggregation order
    * → the same double), the quantize/reconstruct chains are fixed
    * left-associated IEEE sequences on identical operands in both
    * engines, and the ADC dot is the [[graft.Vec]] strict fold — so
    * codes AND scores replay bit-for-bit in DuckDB, clamps included.
    *
    * Scale shape: one partial+final aggregation of 128 scalars (the
    * per-dim extrema — driver-bounded metadata, the g02 pattern),
    * then encode/score as narrow codegen projections feeding ONE
    * TakeOrderedAndProject: no joins, no shuffles, nothing
    * corpus-sized on the driver or the broadcast plane.
    */
  /** The per-dim (min, max) extrema CTE — the oracle twin of
    * [[sqExtrema]], ONE definition shared by s09 and s20 so the two
    * quantizers' training step cannot drift.
    */
  private def duckSqExtrema: String =
    """mm AS (SELECT list(mn ORDER BY d) AS mins, list(mx ORDER BY d) AS maxs FROM (
        SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
        FROM n, unnest(range(1, 65)) AS r(d) GROUP BY d))"""

  /** Per-dim (min, span) of the corpus — s09/s20's shared training
    * step: posexplode → groupBy(dim) — 64 tiny groups through one
    * partial+final agg, instead of a single HashAggregate carrying
    * 128 agg expressions (whose Janino compile alone cost seconds;
    * min/max are exact SELECTIONS either way, so the collected
    * doubles are identical). None on an empty corpus.
    */
  private def sqExtrema(e: org.apache.spark.sql.DataFrame)
      : Option[(Array[Double], Array[Double])] = {
    val ext = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .collect()
    if (ext.isEmpty) None
    else {
      val mins = new Array[Double](64)
      val spans = new Array[Double](64)
      ext.foreach { r =>
        val dim = r.getInt(0)
        mins(dim) = r.getDouble(1)
        spans(dim) = r.getDouble(2) - r.getDouble(1)
      }
      Some((mins, spans))
    }
  }

  val s09 = QueryDef(
    "s09_sq_adc",
    Some(s"""${graft.Vec.duckNormCte},
      $duckSqExtrema,
      c AS (SELECT vec_id, list_transform(range(1, 65), d ->
          CASE WHEN mm.maxs[d] - mm.mins[d] = 0 THEN 0
               ELSE least(255, greatest(0, CAST(floor((v[d] - mm.mins[d]) * 255.0 / (mm.maxs[d] - mm.mins[d])) AS BIGINT))) END) AS codes
        FROM n CROSS JOIN mm),
      dq AS (SELECT vec_id, list_transform(range(1, 65), d ->
          (CAST(codes[d] AS DOUBLE) + 0.5) * (mm.maxs[d] - mm.mins[d]) / 255.0 + mm.mins[d]) AS dqv
        FROM c CROSS JOIN mm),
      qq AS (SELECT v, nrm FROM n WHERE vec_id = 0)
      SELECT n.vec_id, ${duckDotN("qq.v", "dq.dqv", 64)} AS adc_dot,
        ${graft.Vec.duckDot("n.v", "qq.v")} / (n.nrm * qq.nrm) AS cos_sim
      FROM n JOIN dq ON dq.vec_id = n.vec_id CROSS JOIN qq
      WHERE n.vec_id <> 0
      ORDER BY adc_dot DESC, n.vec_id LIMIT 20""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val extOpt = sqExtrema(e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (extOpt.isEmpty || qRowOpt.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0.0).as("adc_dot"), lit(0.0).as("cos_sim"))
    else {
      val (mins, spans) = extOpt.get
      val qv = qRowOpt.get.getSeq[Double](0).toArray
      val qnrm = qRowOpt.get.getDouble(1)
      // quantize→reconstruct→ADC fused in ONE codegen'd kernel call
      // (graft.functions.Sq8Adc) — same IEEE sequence as the two
      // interpreted 64-wide transform/element_at chains it replaces
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          call_function("sq8_adc",
            col("v"), lit(mins), lit(spans), lit(qv)).as("adc_dot"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
        .orderBy(col("adc_dot").desc, col("vec_id"))
        .limit(20)
    }
  }

  /** s12: CENTROID-DISTANCE outlier scoring — the embedding-space
    * out-of-distribution filter of a curation pipeline (SemDeDup's
    * sibling pass: d11 removes the too-SIMILAR, this removes the
    * too-FAR): every vector's squared distance to its assigned
    * centroid of the s04-trained quantizer, top-20 farthest emitted.
    * dist² = v·v + (‖c‖² − 2·v·c) — the second term IS the assignment
    * score both engines already compute bit-identically (cellOf /
    * duckAssign), and v·v is the same strict fold, so the doubles
    * (and hence the top-20 cut, ties → lowest vec_id) agree
    * bit-for-bit. Shares [[trainQuantizer]]/[[duckTrainedCells]] with
    * s04/s05/s06/d11 — one quantizer definition across all consumers.
    *
    * Scale shape: training is s04's (sample-sized driver centroids);
    * scoring is a NARROW projection (centroids baked as literals,
    * zero exchanges); top-20 is TakeOrderedAndProject (per-partition
    * heaps + driver merge), never a global sort. At 100 TB the
    * threshold variant (dist² > τ, no top-k) is the same plan minus
    * the heap.
    */
  val s12 = QueryDef(
    "s12_centroid_outliers",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      scq AS (
        SELECT vec_id, cell, score FROM (
          SELECT n.vec_id, q.cell,
                 (q.cn2 - 2 * ${Vec.duckDot("n.v", "q.cd")}) AS score,
                 row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY (q.cn2 - 2 * ${Vec.duckDot("n.v", "q.cd")}), q.cell) AS rn
          FROM n CROSS JOIN (
            SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
            FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM c3)) q)
        WHERE rn = 1),
      o AS (
        SELECT s.vec_id, s.cell,
               (${Vec.duckDot("n.v", "n.v")} + s.score) AS dist2
        FROM scq s JOIN n ON n.vec_id = s.vec_id
        ORDER BY dist2 DESC, s.vec_id LIMIT 20)
      SELECT vec_id, cell, dist2 FROM o ORDER BY vec_id""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val centroids = trainCoarse(s, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("cell"), lit(0.0).as("dist2"))
    else
      e.withColumn("cell", cellOf(centroids))
        .withColumn("dist2",
          expr(Vec.dot("v", "v")) + bestScore(centroids, col("v")))
        .orderBy(col("dist2").desc, col("vec_id"))
        .limit(20)
        .select("vec_id", "cell", "dist2")
        .orderBy("vec_id")
  }

  /** s14: INCREMENTAL index maintenance — the ingest-time half of the
    * IVF story s05 builds and s06 queries: a new ARRIVAL batch (the
    * s10 1/37 id sample, so base and batch are disjoint by shared
    * arithmetic) is folded into a base-corpus index WITHOUT
    * retraining and WITHOUT touching the base: centroids trained on
    * the base are FROZEN, each arrival is assigned by the same
    * baked-literal narrow argmin (zero exchanges on the assignment),
    * and the immediate post-insert query — each arrival's nearest
    * BASE vector, bucket-local — validates placement. Cells the
    * arrivals land in are counted so the maintenance policy (when to
    * retrain/split: a cell drifting hot) is a readout, not a guess.
    * This mirrors d09 (incremental dedup against a stored index) on
    * the similarity side; the production cadence is freeze → append
    * → periodically retrain.
    *
    * Scale shape: base pays ONE training pass (sample-sized driver
    * centroids, the s04 economics); the batch pays a narrow assign +
    * one batch⋈cell-locality join whose left side is the ARRIVAL
    * batch (tiny by definition — AQE broadcasts it); the base corpus
    * is never reshuffled, which is the entire point of incremental
    * maintenance at 100 TB.
    */
  val s14 = QueryDef(
    "s14_index_maintain",
    Some(s"""WITH nb AS (${Vec.duckNormSelect}),
      n AS (SELECT * FROM nb WHERE vec_id % 37 <> 0),
      arr AS (SELECT * FROM nb WHERE vec_id % 37 = 0),
      $duckTrainedCells,
      ${duckAssign("c3", "acell", "arr")},
      cnt AS (SELECT cell, count(*) AS nb_cell FROM cells GROUP BY cell),
      sel AS (
        SELECT a.vec_id, b.vec_id AS nn,
               ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS c,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) DESC, b.vec_id) AS rn
        FROM acell a JOIN cells b ON b.cell = a.cell)
      SELECT a.vec_id, a.cell,
             CAST(coalesce(cnt.nb_cell, 0) AS BIGINT) AS n_base_in_cell,
             coalesce(s.nn, -1) AS nn, coalesce(s.c, 0.0) AS cos_sim
      FROM acell a
      LEFT JOIN (SELECT vec_id, nn, c FROM sel WHERE rn = 1) s
        ON s.vec_id = a.vec_id
      LEFT JOIN cnt ON cnt.cell = a.cell
      ORDER BY a.vec_id""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val base = e.where(pmod(col("vec_id"), lit(37)) =!= 0)
    val arr = e.where(pmod(col("vec_id"), lit(37)) === 0)
    val centroids = trainCoarse(s, d, base, "base37")
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("cell"),
        lit(0L).as("n_base_in_cell"), col("vec_id").as("nn"),
        lit(0.0).as("cos_sim"))
    else {
      val cells = base.withColumn("cell", cellOf(centroids))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      // frozen centroids: the arrival assignment is the same narrow
      // baked-literal argmin the base used — no retraining
      val acell = arr.withColumn("cell", cellOf(centroids))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      val cnt = cells.groupBy("cell").agg(count(lit(1)).as("nb_cell"))
      val nn = acell.as("a").join(cells.as("b"), Seq("cell"))
        .select(col("a.vec_id").as("vec_id"),
          col("b.vec_id").as("nn"),
          (call_function("vec_dot", col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))).as("c"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("nn"), col("c")), struct(col("c"), -col("nn"))).as("m"))
        .select(col("vec_id"), col("m.nn").as("nn"), col("m.c").as("c"))
      acell.select(col("vec_id"), col("cell"))
        .join(nn, Seq("vec_id"), "left")
        .join(cnt, Seq("cell"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("nb_cell"), lit(0L)).as("n_base_in_cell"),
          coalesce(col("nn"), lit(-1L)).as("nn"),
          coalesce(col("c"), lit(0.0)).as("cos_sim"))
        .orderBy("vec_id")
    }
  }

  /** The assignment score of the WINNING cell — `least` over the same
    * per-cell score columns [[cellOf]] argmins, so (cellOf, bestScore)
    * are consistent by construction.
    */
  private[operators] def bestScore(cents: Seq[(Long, Array[Double], Double)],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("nearest_score", v, lit(cents.map(_._1).toArray),
      lit(cents.flatMap(_._2).toArray), lit(cents.map(_._3).toArray))

  /** s13: HARD-NEGATIVE mining — the contrastive-training data op the
    * retrieval family was missing: for every anchor vector, the top-3
    * most-similar vectors with a DIFFERENT label (cosine desc, ties →
    * lowest id). These maximally-confusable cross-class pairs are what
    * a two-tower/embedding trainer needs per anchor; the easy random
    * negatives are free, the HARD ones require exactly this query.
    * Candidates come from the s06 multi-probe over the persistent IVF
    * index (each anchor probes its 2 nearest cells — bounded fan-out,
    * bucket-pruned, never all-pairs); the label of each candidate
    * joins in from the corpus UNHINTED, so AQE broadcasts the narrow
    * (vec_id, label) projection at bench scale and falls back to a
    * shuffle when the corpus is cluster-sized (the d03 policy).
    *
    * Scale shape: identical to s06 (probe explode ×2, exchange-free
    * index side, per-anchor top-k as one window over the bounded
    * candidate set) plus one key-partitioned label join; at 100 TB
    * the mining cost stays ∝ probed cells' share of the corpus.
    */
  val s13 = QueryDef(
    "s13_hard_negatives",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      ${duckProbes("c3", "pr", 2)},
      cand AS (
        SELECT a.vec_id AS va, a.label AS albl, x.vec_id AS nn, xl.label AS nlbl,
               ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c
        FROM n a JOIN pr ON pr.vec_id = a.vec_id
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> a.vec_id
        JOIN n xl ON xl.vec_id = x.vec_id
        WHERE xl.label <> a.label)
      SELECT va, CAST(albl AS BIGINT) AS anchor_label, nn,
             CAST(nlbl AS BIGINT) AS neg_label, c AS cos_sim FROM (
        SELECT va, albl, nn, nlbl, c,
               row_number() OVER (PARTITION BY va ORDER BY c DESC, nn) AS rn
        FROM cand)
      WHERE rn <= 3 ORDER BY va, cos_sim DESC, nn""")) { (s, d) =>
    // private co-session: catalog-scoped index + bucketed-scan conf
    // must not leak (the s06 discipline)
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), lit(0L).as("anchor_label"),
        col("vec_id").as("nn"), lit(0L).as("neg_label"), lit(0.0).as("cos_sim"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val labels = e.select(col("vec_id").as("nn"),
        col("label").cast("long").as("neg_label"))
      val probes = e.select(col("vec_id").as("va"), col("v").as("qv"),
          col("nrm").as("qn"), col("label").cast("long").as("anchor_label"),
          explode(slice(array_sort(array(probeStructs(centroids): _*)), 1, 2)).as("p"))
        .select(col("va"), col("qv"), col("qn"), col("anchor_label"),
          col("p.cell").as("pcell"))
      probes.join(co.table(ivfTable),
          col("pcell") === col("cell") && col("vec_id") =!= col("va"))
        .select(col("va"), col("anchor_label"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
        .join(labels, "nn") // UNHINTED: AQE broadcast vs shuffle
        .where(col("neg_label") =!= col("anchor_label"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
        .select(col("va"), col("anchor_label"), col("nn"), col("neg_label"),
          col("c").as("cos_sim"))
        .orderBy(col("va"), col("cos_sim").desc, col("nn"))
    }
  }

  /** s15's trained state — coarse quantizer + per-subspace RESIDUAL
    * codebooks — memoized per (catalog, content), the build-once
    * discipline (s05/s07/x14).
    */
  private val ivfPqBuilt = new graft.engine.CatalogMemo[
    (Seq[(Long, Array[Double], Double)], Seq[Seq[(Long, Array[Double], Double)]])]

  /** Coarse assignment + residual: r = v − centroid(cell), the vector
    * the PQ half of IVF-PQ encodes. The centroid lookup is a literal
    * when-chain (coarse cells are driver-sized), the subtraction a
    * narrow `zip_with` — both engines subtract the identical doubles
    * (cd = fixed-point/10⁶ on each side), so residuals are
    * bit-identical by construction.
    */
  private def withResidual(e: org.apache.spark.sql.DataFrame,
      coarse: Seq[(Long, Array[Double], Double)]): org.apache.spark.sql.DataFrame =
    e.withColumn("cell", cellOf(coarse))
      .withColumn("r", residualCol(coarse))

  /** r = v − centroid(cell) over an EXISTING `cell` column — the half
    * of [[withResidual]] s21 needs when the cell assignment already
    * rides the bucketed index table (recomputing it would break the
    * scan's bucket pruning). Centroid lookup by POSITION in the
    * flattened literal (the cell id's index in the sorted cells
    * array) — replaces a k-branch when-chain of 64-double array
    * literals; selected values are the identical doubles, so
    * residuals stay bit-identical.
    */
  private def residualCol(
      coarse: Seq[(Long, Array[Double], Double)]): org.apache.spark.sql.Column = {
    val cells = coarse.map(_._1).toArray
    val flat = coarse.flatMap(_._2).toArray
    val cdCol = slice(lit(flat),
      (((array_position(lit(cells), col("cell")) - 1L) * 64L) + 1L).cast("int"),
      lit(64))
    zip_with(col("v"), cdCol, (a, b) => a - b)
  }

  /** s15: IVF-PQ — the composition production ANN systems actually
    * deploy (Faiss `IVFPQ`), assembled from the family's shipped
    * halves: the s04/s05 coarse quantizer restricts the SEARCH (the
    * query probes its nprobe=2 nearest cells), and s07's product
    * quantization compresses the STORAGE — but trained on RESIDUALS
    * v − centroid(cell), which concentrate near zero so the same
    * 8×3-bit budget spends its resolution where vectors actually
    * differ from their cell. Scoring never touches raw candidate
    * vectors: adc = q·centroid(cell) (one constant per probed cell) +
    * Σₘ LUT[m][codeₘ], the standard IP-metric residual ADC identity
    * q·x̂ = q·c + q·r̂. The exact cos_sim rides along as the re-rank
    * column (the s07 contract).
    *
    * Determinism/oracle: coarse training is the SHARED
    * [[duckTrainedCells]] chain (s04/s05/s06/s10/d11 replay the same
    * one); residuals subtract identical doubles on both engines;
    * residual codebooks reuse the s07 fixed-point discipline; probe
    * selection is the s05 score/tie order; the ADC sum is a fixed
    * left-associated 9-term chain. The oracle unrolls ALL of it —
    * coarse (3 rounds) + 8 residual subspaces × 2 rounds + encoding +
    * LUTs + probe + scoring — the deepest shared-fragment oracle in
    * the registry.
    *
    * Scale shape: training is sample-sized and memoized (codebooks =
    * driver metadata); encode + score are narrow codegen projections
    * over ONLY the probed cells' rows feeding TakeOrderedAndProject —
    * zero joins, zero shuffles, cost ∝ probed share of the corpus,
    * candidate memory 8 codes/vector.
    */
  val s15 = QueryDef(
    "s15_ivfpq_adc",
    Some(s"""$duckIvfPqCand
      SELECT vec_id, cell, adc_dot, cos_sim FROM cand
      ORDER BY adc_dot DESC, vec_id LIMIT 10""")) { (s, d) =>
    ivfPqCandidates(s, d)
      .orderBy(col("adc_dot").desc, col("vec_id"))
      .limit(10)
  }

  /** Shared WITH-chain for the IVF-PQ probed-cells candidate set —
    * training, residual encoding, query LUTs, nprobe=2 probe
    * selection, and the per-candidate (adc_dot, exact cos_sim) —
    * ending in the unordered `cand` CTE. s15 tops it by the
    * approximate score; s16 shortlists by it and re-ranks exactly:
    * ONE chain, so the two operators provably score the identical
    * candidate set.
    */
  private def duckIvfPqCand: String = duckIvfPqCandN(2, labeled = false)

  /** The same chain, parameterized: probe width (s15/s16 use 2; s21's
    * filtered search widens to 4, the s17 selectivity compensation)
    * and whether `cand` carries the label column + the
    * [[FilterLabels]] predicate (the s21 hybrid face).
    */
  private def duckIvfPqCandN(nprobe: Int, labeled: Boolean): String = {
    val subspaces = (0 until PqM).map(duckSubspaceChain(_, "r", "res", "r")).mkString(",\n      ")
    val joins = (0 until PqM).map(m =>
      s"JOIN rcodes$m rcd$m ON rcd$m.vec_id = res.vec_id JOIN rlut$m ON rlut$m.cell = rcd$m.cell")
      .mkString("\n        ") +
      (if (labeled) "\n          JOIN n xl ON xl.vec_id = res.vec_id" else "")
    val adc = "probe.qc + " + (0 until PqM).map(m => s"rlut$m.val").mkString(" + ")
    val labelCol = if (labeled) "CAST(xl.label AS BIGINT) AS label, " else ""
    val labelPred =
      if (labeled) s" AND xl.label IN (${FilterLabels.mkString(", ")})" else ""
    s"""${Vec.duckNormCte},
      $duckTrainedCells,
      cdt AS (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM c3),
      res AS (SELECT cells.vec_id, cells.cell, cells.v, cells.nrm,
          list_transform(range(1, 65), i -> cells.v[i] - cdt.cd[i]) AS r
        FROM cells JOIN cdt ON cells.cell = cdt.cell),
      $subspaces,
      qq AS (SELECT v, nrm FROM n WHERE vec_id = 0),
      qsc AS (SELECT cdt.cell, ${Vec.duckDot("qq.v", "cdt.cd")} AS qc,
          (${Vec.duckDot("cdt.cd", "cdt.cd")} - 2 * ${Vec.duckDot("qq.v", "cdt.cd")}) AS score
        FROM cdt CROSS JOIN qq),
      probe AS (SELECT cell, qc FROM (
          SELECT cell, qc, row_number() OVER (ORDER BY score, cell) AS rn FROM qsc)
        WHERE rn <= $nprobe),
      cand AS (
        SELECT res.vec_id, ${labelCol}res.cell, ($adc) AS adc_dot,
          ${Vec.duckDot("res.v", "qq.v")} / (res.nrm * qq.nrm) AS cos_sim
        FROM res JOIN probe ON probe.cell = res.cell
          $joins
          CROSS JOIN qq
        WHERE res.vec_id <> 0$labelPred)"""
  }

  /** The s15/s16-shared candidate frame: every non-query vector in
    * the query's nprobe=2 nearest cells with its residual-ADC score
    * and exact cosine — a zero-join, zero-shuffle narrow projection
    * over the probed cells (the s15 scale shape); typed empty frame
    * when corpus / trained state / query row is missing.
    */
  /** Train-or-fetch the IVF-PQ state (coarse quantizer + residual
    * codebooks) — ONE accessor shared by s15/s16 (via
    * [[ivfPqCandidates]]) and s21, so the filtered variant provably
    * scores with the codebooks the unfiltered one ships.
    */
  private[operators] def ensureIvfPq(s: org.apache.spark.sql.SparkSession,
      d: String, e: org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Array[Double], Double)], Seq[Seq[(Long, Array[Double], Double)]]) =
    ivfPqBuilt.buildOnce(s, d, keep = t => t._1.nonEmpty && t._2.forall(_.nonEmpty)) { _ =>
      val c = trainCoarse(s, d, e)
      val b =
        if (c.isEmpty) Seq.empty[Seq[(Long, Array[Double], Double)]]
        else {
          val resDf = withResidual(e, c)
          (0 until PqM).map { m =>
            trainQuantizer(resDf.select(col("vec_id"),
              expr(s"slice(r, ${m * PqSubDim + 1}, $PqSubDim)").as("v")), PqK, PqRounds)
          }
        }
      (c, b)
    }

  /** Strict left-fold dot of the driver-held query against a codebook
    * slice — the oracle's list_reduce, the driver way.
    */
  private def strictDot(qv: Array[Double], off: Int, cd: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < cd.length) { acc += qv(off + i) * cd(i); i += 1 }
    acc
  }

  /** The query's `nprobe` nearest coarse cells by the s05 score/tie
    * order — shared by s15/s16 (nprobe=2), s17/s21 (nprobe=4).
    */
  private def nearestCells(qv: Array[Double],
      coarse: Seq[(Long, Array[Double], Double)], nprobe: Int): Seq[Long] =
    coarse.map { case (cell, cd, cn2) => (cn2 - 2.0 * strictDot(qv, 0, cd), cell) }
      .sorted.take(nprobe).map(_._2)

  /** The residual-ADC score column — q·centroid(cell) (a when-chain
    * over the probed cells) plus the fixed left-assoc 8-term LUT sum,
    * the oracle's (probe.qc + rlut0.val + … + rlut7.val) order
    * exactly. Expects `cell` and `r` columns in scope.
    */
  private def adcDotCol(qv: Array[Double],
      coarse: Seq[(Long, Array[Double], Double)],
      books: Seq[Seq[(Long, Array[Double], Double)]],
      probed: Seq[Long]): org.apache.spark.sql.Column = {
    val qcByCell = coarse.map { case (cell, cd, _) => cell -> strictDot(qv, 0, cd) }.toMap
    val luts = (0 until PqM).map { m =>
      val arr = new Array[Double](PqK)
      books(m).foreach { case (cell, cd, _) => arr(cell.toInt) = strictDot(qv, m * PqSubDim, cd) }
      arr
    }
    val qcCol = probed.tail.foldLeft(
      when(col("cell") === lit(probed.head), lit(qcByCell(probed.head)))) {
      (acc, c) => acc.when(col("cell") === lit(c), lit(qcByCell(c)))
    }
    (0 until PqM).foldLeft(qcCol: org.apache.spark.sql.Column) { (acc, m) =>
      acc + element_at(lit(luts(m)),
        (cellOf(books(m), expr(s"slice(r, ${m * PqSubDim + 1}, $PqSubDim)")) + lit(1L))
          .cast("int"))
    }
  }

  private[operators] def ivfPqCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val (coarse, books) = ensureIvfPq(s, d, e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (coarse.isEmpty || books.isEmpty || books.exists(_.isEmpty) || qRowOpt.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("cell"),
        lit(0.0).as("adc_dot"), lit(0.0).as("cos_sim"))
    else {
      val qv = qRowOpt.get.getSeq[Double](0).toArray
      val qnrm = qRowOpt.get.getDouble(1)
      val probed = nearestCells(qv, coarse, 2)
      withResidual(e, coarse)
        .filter(col("cell").isin(probed: _*) && col("vec_id") =!= 0)
        .select(col("vec_id"), col("cell"),
          adcDotCol(qv, coarse, books, probed).as("adc_dot"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
    }
  }

  /** How many ADC-ranked candidates survive into s16's exact re-rank.
    * Sized ≥ 5× the final k: the shortlist must out-reach the
    * approximate ranking's noise (s07 measured recall@20 = 7/19 on
    * raw 3-bit codes) while staying k-scaled — a 50-row broadcast is
    * nothing at any corpus size.
    */
  private[operators] val RerankShortK = 50

  /** s16: ADC SHORTLIST → EXACT RE-RANK — the production compressed-
    * index query shape, and the answer to s07/s15's measured recall
    * ceiling on aggressive 3-bit codes: the cheap approximate score
    * (s15's zero-shuffle residual ADC over the probed cells) selects
    * a [[RerankShortK]]-row shortlist, and only that shortlist is
    * re-ranked by EXACT cosine to the final top-10 (retrieve-then-
    * rerank, the s08 two-stage discipline applied to the compressed
    * index). SimilaritySpec measures the recovery against s10's
    * protocol: the re-ranked top-10 recalls ≥ 2× what the raw-ADC
    * top-10 recalls of the probed-pool exact truth.
    *
    * Scale shape: stage 1 is s15's plan verbatim — narrow codegen
    * projection over the probed cells feeding ONE
    * TakeOrderedAndProject (per-partition heaps, 50 rows to the
    * driver); stage 2 re-ranks those 50 rows — a second, trivial
    * TakeOrderedAndProject. On a stored-codes deployment stage 1
    * reads only (id, cell, codes) and stage 2 broadcast-joins the
    * 50 ids back to raw vectors; here the corpus scan already holds
    * the vectors, so the exact cosine rides the same pass (the s15
    * cos_sim column) and the re-rank consumes it.
    */
  val s16 = QueryDef(
    "s16_adc_rerank",
    Some(s"""$duckIvfPqCand,
      short AS (SELECT vec_id, cell, adc_dot, cos_sim FROM cand
        ORDER BY adc_dot DESC, vec_id LIMIT $RerankShortK)
      SELECT vec_id, cell, adc_dot, cos_sim FROM short
      ORDER BY cos_sim DESC, vec_id LIMIT 10""")) { (s, d) =>
    ivfPqCandidates(s, d)
      .orderBy(col("adc_dot").desc, col("vec_id"))
      .limit(RerankShortK)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** s17's metadata predicate: the label whitelist a filtered search
    * carries (vector-DB "hybrid search" — every production retrieval
    * API takes one). A literal set so both engines share it.
    */
  private val FilterLabels = Seq(2, 5, 7)

  /** s17: FILTERED ANN — top-k under a metadata predicate, the hybrid
    * query every production vector store serves ("nearest docs WHERE
    * lang = en AND license = permissive"). The naive compositions both
    * fail at scale: post-filtering the unfiltered top-k starves the
    * result set when the predicate is selective; pre-filtering into a
    * fresh exact search pays the full corpus. The index answer is
    * single-stage: the predicate is applied INSIDE the bucket-pruned
    * index scan — label rides with the index ([[ensureIvfIndex]]), so
    * the scan prunes to the probed cells' buckets (s05's
    * SelectedBucketsCount) AND pushes the label filter into the
    * parquet read (PushedFilters), then one narrow cosine + global
    * top-k (TakeOrderedAndProject). Cost = probed share × predicate
    * selectivity, never a corpus pass, no join, no shuffle. A
    * selective predicate thins CELLS, not the shortlist, so the
    * probe widens to nprobe = 4 (vs s05's 2) to keep the candidate
    * pool — the standard filtered-search compensation (at production
    * scale nprobe scales with 1/selectivity).
    *
    * The oracle replays training, probe selection (same score/tie
    * order as s05), the label predicate, and the cell-local search.
    */
  val s17 = QueryDef(
    "s17_filtered_ann",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      q AS (SELECT v, nrm FROM n WHERE vec_id = 0),
      cs AS (SELECT cc.cell, (cc.cn2 - 2 * ${Vec.duckDot("q.v", "cc.cd")}) AS sc
        FROM (SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
              FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM c3)) cc, q),
      probe AS (SELECT cell FROM cs ORDER BY sc, cell LIMIT 4)
      SELECT vec_id, label, cell, cos_sim FROM (
        SELECT a.vec_id, CAST(xl.label AS BIGINT) AS label, a.cell,
               ${Vec.duckDot("a.v", "q.v")} / (a.nrm * q.nrm) AS cos_sim
        FROM cells a JOIN n xl ON xl.vec_id = a.vec_id, probe p, q
        WHERE a.cell = p.cell AND a.vec_id <> 0
          AND xl.label IN (${FilterLabels.mkString(", ")}))
      ORDER BY cos_sim DESC, vec_id LIMIT 10""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (centroids.isEmpty || qRowOpt.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("label"),
        lit(0L).as("cell"), lit(0.0).as("cos_sim"))
    else {
      val qRow = qRowOpt.get
      val qv = qRow.getSeq[Double](0).toArray
      val qnrm = qRow.getDouble(1)
      // 4 nearest cells, s05's score arithmetic and tie order
      val probed = centroids.map { case (cell, cd, cn2) =>
        var dp = 0.0
        var i = 0
        while (i < cd.length) { dp += qv(i) * cd(i); i += 1 }
        (cn2 - 2 * dp, cell)
      }.sorted.take(4).map(_._2)
      // force the bucketed scan so cell pruning stays live (the s05
      // discipline); the label predicate reaches the parquet reader
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      co.table(ivfTable)
        .filter(col("cell").isin(probed: _*) && col("vec_id") =!= 0 &&
          col("label").isin(FilterLabels: _*))
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("cell"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
        .orderBy(col("cos_sim").desc, col("vec_id"))
    }
  }

  /** s18: the NPROBE TUNING SWEEP — recall@3 vs candidate volume at
    * nprobe ∈ {1..4} in ONE pass, the measurement that CHOOSES the
    * probe width before a production deploy (s10 grades one fixed
    * configuration; every real rollout sweeps the knob and reads the
    * curve's elbow). Protocol is s10's: exact ground truth on the
    * fixed 1/37 query sample (broadcast sample × one corpus scan —
    * linear, never all-pairs), approximate legs over the persistent
    * bucketed index. The sweep costs ONE candidate join, not four:
    * each query's 4 ranked probe cells come from the same baked
    * centroid literals (rank = the s05/s06 score/tie order), each
    * candidate row carries its cell's rank, and a narrow
    * `explode(sequence(prank, 4))` replicates it into every nprobe
    * level it belongs to — no per-level probe, no theta join, no
    * extra shuffle family. Output: one row per nprobe with hit/query
    * counts, recall (one IEEE division of exact counts), and the
    * candidate volume that nprobe pays — the cost axis of the curve.
    */
  val s18 = QueryDef(
    "s18_nprobe_sweep",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      q AS (SELECT vec_id AS va, v, nrm FROM n WHERE vec_id % 37 = 0),
      cent AS (SELECT cell, cd, ${Vec.duckDot("cd", "cd")} AS cn2
        FROM (SELECT cell, list_transform(c, y -> y / 1000000.0) AS cd FROM c3)),
      pr AS (SELECT va, cell, rn AS prank FROM (
          SELECT q.va, t.cell,
                 row_number() OVER (PARTITION BY q.va
                   ORDER BY (t.cn2 - 2 * ${Vec.duckDot("q.v", "t.cd")}), t.cell) AS rn
          FROM q CROSS JOIN cent t) WHERE rn <= 4),
      ex AS (SELECT va, nn FROM (
        SELECT q.va, x.vec_id AS nn,
               row_number() OVER (PARTITION BY q.va
                 ORDER BY ${Vec.duckDot("x.v", "q.v")} / (x.nrm * q.nrm) DESC, x.vec_id) AS rn
        FROM q JOIN n x ON x.vec_id <> q.va) WHERE rn <= 3),
      cand AS (SELECT pr.va, pr.prank, x.vec_id AS nn,
               ${Vec.duckDot("x.v", "q.v")} / (x.nrm * q.nrm) AS c
        FROM pr JOIN q ON q.va = pr.va
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> pr.va),
      expd AS (SELECT np, va, nn, c FROM cand,
        unnest(range(cand.prank, 5)) AS r(np)),
      apk AS (SELECT np, va, nn FROM (
          SELECT np, va, nn,
                 row_number() OVER (PARTITION BY np, va ORDER BY c DESC, nn) AS rn
          FROM expd) WHERE rn <= 3),
      hits AS (SELECT np, count(*) AS n_hits FROM apk
        JOIN ex ON ex.va = apk.va AND ex.nn = apk.nn GROUP BY np),
      vol AS (SELECT np, count(*) AS n_cand FROM expd GROUP BY np),
      lv AS (SELECT unnest(range(1, 5)) AS np),
      nq AS (SELECT count(*) AS n FROM q)
      SELECT CAST(lv.np AS BIGINT) AS nprobe,
        CAST(nq.n AS BIGINT) AS n_queries,
        CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
        CASE WHEN nq.n = 0 THEN 0.0
             ELSE CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / (3.0 * nq.n) END AS recall,
        CAST(coalesce(vol.n_cand, 0) AS BIGINT) AS n_candidates
      FROM lv CROSS JOIN nq
      LEFT JOIN hits ON hits.np = lv.np
      LEFT JOIN vol ON vol.np = lv.np
      ORDER BY nprobe""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    val levels = co.range(1, 5).select(col("id").as("nprobe"))
    if (centroids.isEmpty)
      // the oracle's lv × nq frame survives an empty corpus: 4 rows
      // of zeros, not 0 rows
      levels.select(col("nprobe"), lit(0L).as("n_queries"),
        lit(0L).as("n_hits"), lit(0.0).as("recall"), lit(0L).as("n_candidates"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = e.where(pmod(col("vec_id"), lit(37)) === 0)
        .select(col("vec_id").as("va"), col("v"), col("nrm").as("qn"))
      val nq = q.count() // |Q| — bounded metadata by the 1/37 protocol
      // exact leg: s10's broadcast-sample × one-corpus-scan shape
      val exact = e.crossJoin(broadcast(q.select(col("va"), col("v").as("qv"), col("qn"))))
        .where(col("vec_id") =!= col("va"))
        .select(col("va"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("v"), col("qv")) / (col("nrm") * col("qn"))).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
        .select(col("va"), col("nn"))
      // ONE candidate join for the whole sweep: ranked 4-cell probes
      // from the baked literals, candidates carry their cell's rank
      val probes = q
        .select(col("va"), col("v").as("qv"), col("qn"),
          posexplode(slice(array_sort(array(probeStructs(centroids): _*)), 1, 4))
            .as(Seq("pos", "p")))
        .select(col("va"), col("qv"), col("qn"),
          (col("pos") + 1).as("prank"), col("p.cell").as("pcell"))
      val cand = probes.join(co.table(ivfTable),
          col("pcell") === col("cell") && col("vec_id") =!= col("va"))
        .select(col("va"), col("prank"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("qv"), col("v")) / (col("qn") * col("nrm"))).as("c"))
      // narrow level replication — no theta join, no per-level probe
      val expd = cand
        .withColumn("np", explode(sequence(col("prank"), lit(4L))))
        .select(col("np"), col("va"), col("nn"), col("c"))
        .cache()
      val apk = expd
        .withColumn("rn", row_number().over(
          Window.partitionBy("np", "va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
        .select(col("np"), col("va"), col("nn"))
      val hits = apk.join(exact, Seq("va", "nn"))
        .groupBy(col("np").as("hnp")).agg(count(lit(1)).as("n_hits"))
      val vol = expd.groupBy(col("np").as("vnp")).agg(count(lit(1)).as("n_cand"))
      levels
        .join(hits, col("nprobe") === col("hnp"), "left")
        .join(vol, col("nprobe") === col("vnp"), "left")
        .select(col("nprobe"), lit(nq).as("n_queries"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (if (nq == 0L) lit(0.0)
           else coalesce(col("n_hits"), lit(0L)).cast("double") / (lit(3.0) * lit(nq)))
            .as("recall"),
          coalesce(col("n_cand"), lit(0L)).as("n_candidates"))
        .orderBy("nprobe")
    }
  }

  /** s19: PQ QUANTIZATION-QUALITY eval — s11's clustering-quality
    * readout applied to the COMPRESSION side: per subspace, the
    * reconstruction inertia of the SHIPPED s07 codebooks (via the
    * shared [[pqCodebooks]] accessor, so the eval provably grades
    * what the scorer deploys), in s11's exact µ²-fixed-point BIGINT
    * discipline — vector slices quantized to µ units, codeword
    * coordinates integral by training, squared error an exact BIGINT
    * both engines agree on bit-for-bit. Per subspace it also reports
    * CODEWORD USAGE as bit_count(bit_or(1 << code)) — dead codewords
    * (the classic PQ pathology: a subspace whose k-means collapsed)
    * show up as n_codes_used < K without a distinct-count Expand of
    * the corpus. This is the readout that decides bits-per-subspace
    * and flags which subspace needs retraining BEFORE an index
    * build; mean/rms are single IEEE divisions of the exact counts.
    *
    * Scale shape: encoding + error are narrow codegen'd projections
    * over the baked codebook literals (the s07 path), all 8
    * subspaces fold in ONE corpus pass into ONE partial+final
    * aggregate; the 8-row reshape explodes a one-row aggregate.
    * Zero joins, zero shuffles beyond the final agg exchange.
    */
  val s19 = QueryDef(
    "s19_pq_quality",
    Some {
      val subspaces = (0 until PqM).map(duckPqSubspace).mkString(",\n      ")
      val pers = (0 until PqM).map { m =>
        s"""xi$m AS (SELECT cell,
            list_transform(sv, x -> CAST(round(x * 1000000) AS BIGINT)) AS q
          FROM codes$m),
        dd$m AS (SELECT x.cell,
            list_sum(list_transform(range(1, ${PqSubDim + 1}),
              i -> (x.q[i] - t.c[CAST(i AS INTEGER)]) * (x.q[i] - t.c[CAST(i AS INTEGER)]))) AS d2
          FROM xi$m x JOIN c${PqRounds}_$m t USING (cell)),
        per$m AS (SELECT $m AS m, count(*) AS n,
            coalesce(CAST(sum(d2) AS BIGINT), 0) AS inertia,
            coalesce(bit_count(bit_or(1::BIGINT << CAST(cell AS INTEGER))), 0) AS n_codes_used
          FROM dd$m)"""
      }.mkString(",\n      ")
      val union = (0 until PqM).map(m => s"SELECT * FROM per$m").mkString(" UNION ALL ")
      s"""${Vec.duckNormCte},
      $subspaces,
      $pers,
      u AS ($union)
      SELECT CAST(m AS BIGINT) AS m, CAST(n AS BIGINT) AS n,
        CAST(inertia AS BIGINT) AS inertia,
        CAST(n_codes_used AS BIGINT) AS n_codes_used,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(inertia AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_d2,
        CASE WHEN n = 0 THEN 0.0
             ELSE sqrt(CAST(inertia AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 END AS rms_dist
      FROM u ORDER BY m"""
    }) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val codebooks = pqCodebooks(s, d, e)
    val frame = s.range(0, PqM).toDF("m")
    if (codebooks.exists(_.isEmpty))
      // the oracle's per$m aggregates survive an empty corpus: 8 rows
      // of zeros, not 0 rows
      frame.select(col("m"), lit(0L).as("n"), lit(0L).as("inertia"),
        lit(0L).as("n_codes_used"), lit(0.0).as("mean_d2"), lit(0.0).as("rms_dist"))
    else {
      // per-subspace integral codeword coordinates (µ units — exact
      // by training), flattened into one baked literal per subspace
      val flats: Seq[String] = (0 until PqM).map { m =>
        val arr = new Array[Long](PqK * PqSubDim)
        codebooks(m).foreach { case (cell, cd, _) =>
          var i = 0
          while (i < cd.length) {
            arr(cell.toInt * PqSubDim + i) = math.round(cd(i) * 1e6); i += 1
          }
        }
        arr.mkString("array(", "L, ", "L)")
      }
      var df = e
      (0 until PqM).foreach { m =>
        df = df
          .withColumn(s"code$m",
            cellOf(codebooks(m), expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")))
          .withColumn(s"err$m", expr(
            s"""aggregate(sequence(1, $PqSubDim), 0L, (acc, i) ->
               acc + (CAST(round(element_at(v, ${m * PqSubDim} + i) * 1000000) AS BIGINT)
                      - element_at(${flats(m)}, CAST(code$m * $PqSubDim + i AS INT)))
                   * (CAST(round(element_at(v, ${m * PqSubDim} + i) * 1000000) AS BIGINT)
                      - element_at(${flats(m)}, CAST(code$m * $PqSubDim + i AS INT))))"""))
      }
      val agg = df.agg(
        count(lit(1)).as("n"),
        (0 until PqM).flatMap { m => Seq(
          coalesce(sum(col(s"err$m")), lit(0L)).as(s"inertia$m"),
          coalesce(expr(
            s"bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), CAST(code$m AS INT))))"),
            lit(0L)).as(s"codes$m"))
        }: _*)
      agg
        .select(explode(array((0 until PqM).map { m =>
          struct(lit(m.toLong).as("m"), col("n"), col(s"inertia$m").as("inertia"),
            col(s"codes$m").cast("long").as("n_codes_used"))
        }: _*)).as("s"))
        .select(col("s.m").as("m"), col("s.n").as("n"),
          col("s.inertia").as("inertia"), col("s.n_codes_used").as("n_codes_used"))
        .select(col("m"), col("n"), col("inertia"), col("n_codes_used"),
          when(col("n") === 0L, lit(0.0))
            .otherwise(col("inertia").cast("double") / col("n").cast("double"))
            .as("mean_d2"),
          when(col("n") === 0L, lit(0.0))
            .otherwise(sqrt(col("inertia").cast("double") / col("n").cast("double")) / 1e6)
            .as("rms_dist"))
        .orderBy("m")
    }
  }

  /** s20's bit widths, one definition: levels L = 2^b − 1 mirror
    * s09's 8-bit (255-level) code arithmetic at every width.
    */
  private val SqSweepBits = Seq(2, 4, 8)

  /** s20: the SQ BIT-WIDTH SWEEP — the third member of the tuning
    * trilogy (s18 sweeps probe width, d15 sweeps band geometry, this
    * sweeps quantization bits): per candidate width b ∈ {2, 4, 8},
    * the reconstruction error and storage cost of s09's scalar
    * quantizer, in ONE corpus pass — the error-vs-bytes curve that
    * picks the code width before an index build: each storage
    * doubling (16 → 32 → 64 B/vec) buys 25×, then ~290×, less error
    * (the 1/L² law, measured at sf0.01) — the readout says where the
    * elbow is for this corpus. Quantize/reconstruct is s09's exact
    * arithmetic at L = 2^b − 1 levels; each vector's squared
    * reconstruction error is a FIXED left-associated 64-term IEEE
    * fold (identical operand order both engines), then quantized to
    * nano units (round(e·10⁹) — positive, so HALF_UP and
    * away-from-zero agree) so the cross-vector SUM is an exact
    * order-free BIGINT (the s19 discipline). All three widths fold
    * in the same narrow projection over the baked extrema literals —
    * one partial+final aggregate, zero joins, zero shuffles; the
    * 3-row reshape explodes a one-row aggregate.
    */
  val s20 = QueryDef(
    "s20_sq_bit_sweep",
    Some {
      def reconSql(l: Int): String =
        s"((CASE WHEN mm.maxs[d] - mm.mins[d] = 0 THEN 0.0 " +
          s"ELSE least($l.0, greatest(0.0, floor((v[d] - mm.mins[d]) * $l.0 / (mm.maxs[d] - mm.mins[d])))) END " +
          s"+ 0.5) * (mm.maxs[d] - mm.mins[d]) / $l.0 + mm.mins[d])"
      val widths = SqSweepBits.map { b =>
        val l = (1 << b) - 1
        s"""e$b AS (SELECT CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
            list_transform(range(1, 65), d ->
              (v[d] - ${reconSql(l)}) * (v[d] - ${reconSql(l)}))),
            (acc, x) -> acc + x) * 1000000000) AS BIGINT) AS en
          FROM n CROSS JOIN mm),
        a$b AS (SELECT count(*) AS n, coalesce(CAST(sum(en) AS BIGINT), 0) AS tot,
            coalesce(CAST(max(en) AS BIGINT), 0) AS mx FROM e$b)"""
      }.mkString(",\n      ")
      val union = SqSweepBits.map { b =>
        s"SELECT $b AS bits, ${(1 << b) - 1} AS levels, ${64 * b / 8} AS bytes_per_vec, n, tot, mx FROM a$b"
      }.mkString(" UNION ALL ")
      s"""${Vec.duckNormCte},
      $duckSqExtrema,
      $widths,
      u AS ($union)
      SELECT CAST(bits AS BIGINT) AS bits, CAST(levels AS BIGINT) AS levels,
        CAST(bytes_per_vec AS BIGINT) AS bytes_per_vec, CAST(n AS BIGINT) AS n,
        CAST(tot AS BIGINT) AS err_nano_total, CAST(mx AS BIGINT) AS err_nano_max,
        CASE WHEN n = 0 THEN 0.0
             ELSE CAST(tot AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_err_nano
      FROM u ORDER BY bits"""
    }) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val extOpt = sqExtrema(e)
    val frame = s.range(0, SqSweepBits.length).toDF("i")
    if (extOpt.isEmpty)
      // the oracle's a$b aggregates survive an empty corpus: 3 rows of
      // zeros, not 0 rows
      frame.select(
        element_at(lit(SqSweepBits.map(_.toLong).toArray), (col("i") + 1).cast("int")).as("bits"),
        element_at(lit(SqSweepBits.map(b => ((1L << b) - 1)).toArray), (col("i") + 1).cast("int")).as("levels"),
        element_at(lit(SqSweepBits.map(b => (64L * b / 8)).toArray), (col("i") + 1).cast("int")).as("bytes_per_vec"),
        lit(0L).as("n"), lit(0L).as("err_nano_total"), lit(0L).as("err_nano_max"),
        lit(0.0).as("mean_err_nano"))
        .orderBy("bits")
    else {
      val (mins, spans) = extOpt.get
      val mnArr = lit(mins)
      val spArr = lit(spans)
      def errNano(b: Int): org.apache.spark.sql.Column = {
        val l = ((1 << b) - 1).toDouble
        round(aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, dd) => {
          val idx = dd.cast("int")
          val x = element_at(col("v"), idx)
          val mn = element_at(mnArr, idx)
          val sp = element_at(spArr, idx)
          val code = when(sp === 0.0, lit(0.0)).otherwise(
            least(lit(l), greatest(lit(0.0), floor((x - mn) * lit(l) / sp))))
          val recon = (code + lit(0.5)) * sp / lit(l) + mn
          acc + (x - recon) * (x - recon)
        }) * lit(1e9)).cast("long")
      }
      val coded = e.select(SqSweepBits.map(b => errNano(b).as(s"en$b")): _*)
      val agg = coded.agg(
        count(lit(1)).as("n"),
        SqSweepBits.flatMap { b => Seq(
          coalesce(sum(col(s"en$b")), lit(0L)).as(s"tot$b"),
          coalesce(max(col(s"en$b")), lit(0L)).as(s"mx$b"))
        }: _*)
      agg
        .select(explode(array(SqSweepBits.map { b =>
          struct(lit(b.toLong).as("bits"), lit(((1L << b) - 1)).as("levels"),
            lit(64L * b / 8).as("bytes_per_vec"), col("n"),
            col(s"tot$b").as("err_nano_total"), col(s"mx$b").as("err_nano_max"))
        }: _*)).as("s"))
        .select(col("s.bits").as("bits"), col("s.levels").as("levels"),
          col("s.bytes_per_vec").as("bytes_per_vec"), col("s.n").as("n"),
          col("s.err_nano_total").as("err_nano_total"),
          col("s.err_nano_max").as("err_nano_max"))
        .select(col("bits"), col("levels"), col("bytes_per_vec"), col("n"),
          col("err_nano_total"), col("err_nano_max"),
          when(col("n") === 0L, lit(0.0))
            .otherwise(col("err_nano_total").cast("double") / col("n").cast("double"))
            .as("mean_err_nano"))
        .orderBy("bits")
    }
  }

  /** s21: FILTERED IVF-PQ — s17's predicate-inside-the-pruned-scan
    * composed with s15's residual-ADC scoring, the hybrid query a
    * production vector store actually serves at scale: "nearest docs
    * WHERE label ∈ {…}" against a COMPRESSED index. One scan does all
    * three jobs: the probe prunes to the nprobe=4 nearest cells'
    * buckets (s17's selectivity compensation — a selective predicate
    * thins cells, so the probe widens; SelectedBucketsCount in the
    * plan), the label predicate pushes into the parquet read
    * (PushedFilters — candidates cost probed-share × selectivity,
    * never scan-then-filter), and the surviving rows are scored by
    * the s15 residual-ADC identity q·x̂ = q·centroid + Σₘ LUT[m][codeₘ]
    * as a narrow codegen projection into ONE global top-k
    * (TakeOrderedAndProject) — no join, no shuffle, nothing exact
    * until the rode-along cos_sim column. Training is [[ensureIvfPq]]
    * — the memoized state s15/s16 ship, so the filtered face provably
    * scores with the same codebooks. The residual is computed from
    * the index table's OWN cell column ([[residualCol]]): recomputing
    * the assignment would not change a value, but would stack a
    * 64-double when-chain on the scan for nothing.
    *
    * The oracle is the s15/s16 shared chain with nprobe=4 and the
    * label predicate threaded through ([[duckIvfPqCandN]]) — one
    * WITH-chain, so the three operators provably share training,
    * probe order, encoding, and scoring arithmetic.
    */
  val s21 = QueryDef(
    "s21_filtered_ivfpq",
    Some(s"""${duckIvfPqCandN(4, labeled = true)}
      SELECT vec_id, label, cell, adc_dot, cos_sim FROM cand
      ORDER BY adc_dot DESC, vec_id LIMIT 10""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    val (coarse, books) = ensureIvfPq(co, d, e)
    val qRowOpt = e.filter(col("vec_id") === 0)
      .select(col("v"), col("nrm")).collect().headOption
    if (centroids.isEmpty || coarse.isEmpty || books.exists(_.isEmpty) ||
        books.isEmpty || qRowOpt.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("label"),
        lit(0L).as("cell"), lit(0.0).as("adc_dot"), lit(0.0).as("cos_sim"))
    else {
      val qv = qRowOpt.get.getSeq[Double](0).toArray
      val qnrm = qRowOpt.get.getDouble(1)
      val probed = nearestCells(qv, coarse, 4)
      // force the bucketed scan so cell pruning stays live (the s05
      // discipline); the label predicate reaches the parquet reader
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      co.table(ivfTable)
        .filter(col("cell").isin(probed: _*) && col("vec_id") =!= 0 &&
          col("label").isin(FilterLabels: _*))
        .withColumn("r", residualCol(coarse))
        .select(col("vec_id"), col("label").cast("long").as("label"), col("cell"),
          adcDotCol(qv, coarse, books, probed).as("adc_dot"),
          (call_function("vec_dot", col("v"), lit(qv)) / (col("nrm") * lit(qnrm)))
            .as("cos_sim"))
        .orderBy(col("adc_dot").desc, col("vec_id"))
        .limit(10)
        .orderBy(col("adc_dot").desc, col("vec_id"))
    }
  }

  /** s22: MUTUAL-kNN GRAPH over the IVF index — undirected pairs
    * where EACH vector is in the OTHER's probed top-3. The symmetric
    * core of the kNN graph: one-directional edges include hub
    * neighbors (a centroid-ish vector appears in hundreds of top-3
    * lists without reciprocating), while mutual edges mark genuinely
    * paired content — the graph SemDeDup-style semantic clustering
    * and diversity sampling actually build on (cf. the mutual-kNN
    * construction in agglomerative/spectral clustering practice).
    * Composes the SHIPPED s06 probe machinery verbatim
    * ([[probeStructs]], the persistent bucketed index), then one
    * self-join on the reversed key — so the mutuality readout grades
    * the operator users actually run, not a twin.
    *
    * Determinism: cos(a,b) ≡ cos(b,a) BITWISE — the strict-fold dot
    * multiplies the same elements in the same index order in both
    * directions and the norm product multiplies the same two doubles
    * — so emitting the a→b copy is well-defined; ties in the top-3
    * break on the lowest neighbor id (the s06 order), and the oracle
    * replays training, probe selection, top-3, and the mutual join.
    *
    * Scale shape: s06's plan (narrow probe selection, bucketed-index
    * candidate join, partial-aggregating top-3) plus ONE kNN-sized
    * (≤ 3N rows) self-join hash-shuffled on the pair key — no new
    * fact-sized stage. Empty corpus → no centroids → empty result.
    */
  val s22 = QueryDef(
    "s22_mutual_knn",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      ${duckProbes("c3", "pr", 2)},
      cand AS (
        SELECT a.vec_id AS va, x.vec_id AS nn,
               ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c
        FROM n a JOIN pr ON pr.vec_id = a.vec_id
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> a.vec_id),
      knn AS (
        SELECT va, nn, c FROM (
          SELECT va, nn, c,
                 row_number() OVER (PARTITION BY va ORDER BY c DESC, nn) AS rn
          FROM cand)
        WHERE rn <= 3)
      SELECT a.va, a.nn AS vb, a.c AS cos_sim
      FROM knn a JOIN knn b ON a.va = b.nn AND a.nn = b.va AND a.va < a.nn
      ORDER BY a.va, vb""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), col("vec_id").as("vb"),
        lit(0.0).as("cos_sim"))
    else {
      // force the bucketed layout on the index side (the s05/s06
      // discipline — autoBucketedScan can forfeit it)
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val knn = probeTop3(e, co.table(ivfTable), centroids)
        .select(col("va"), col("nn"), col("c"))
      knn.as("a").join(knn.as("b"),
          col("a.va") === col("b.nn") && col("a.nn") === col("b.va") &&
            col("a.va") < col("a.nn"))
        .select(col("a.va").as("va"), col("a.nn").as("vb"),
          col("a.c").as("cos_sim"))
        .orderBy("va", "vb")
    }
  }

  /** s23: TOMBSTONED ANN — the DELETE face completing the index
    * lifecycle (s05 build, s06 probe, s14 append, s23
    * delete): a deterministic deletion feed (vec_id ≡ 0 mod 9, ~11%)
    * is anti-joined against the PERSISTENT bucketed index at probe
    * time, so deleted vectors neither answer queries nor issue them —
    * the standard production deletion mechanic (Faiss IDSelector /
    * vector-store tombstones): the index file is NEVER rewritten and
    * the centroids stay FROZEN (deletion doesn't retrain — the s14
    * contract from the other direction); a compaction that physically
    * drops tombstoned rows is the K1e shape, run on its own schedule.
    *
    * Plan shape: the tombstone set broadcasts (it is deletion-sized,
    * not corpus-sized) into a LEFT ANTI join INSIDE the bucket-pruned
    * index scan, so probe cost stays probed-share-sized; everything
    * else is s06's plan verbatim. The oracle replays training, probe
    * selection, both-side tombstone exclusion, and the top-3.
    */
  val s23 = QueryDef(
    "s23_tombstone_ann",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      ${duckProbes("c3", "pr", 2)},
      cand AS (
        SELECT a.vec_id AS va, x.vec_id AS nn, x.cell AS nn_cell,
               ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c
        FROM n a JOIN pr ON pr.vec_id = a.vec_id
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> a.vec_id
        WHERE a.vec_id % 9 <> 0 AND x.vec_id % 9 <> 0)
      SELECT va, nn, nn_cell, c AS cos_sim FROM (
        SELECT va, nn, nn_cell, c,
               row_number() OVER (PARTITION BY va ORDER BY c DESC, nn) AS rn
        FROM cand)
      WHERE rn <= 3 ORDER BY va, cos_sim DESC, nn""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), col("vec_id").as("nn"),
        lit(0L).as("nn_cell"), lit(0.0).as("cos_sim"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // the deletion feed — in production an arriving id stream; here
      // the deterministic mod-9 subset so the oracle replays it
      val tomb = e.select(col("vec_id").as("t_id"))
        .where(col("t_id") % 9 === 0)
      val live = co.table(ivfTable)
        .join(broadcast(tomb), col("vec_id") === col("t_id"), "left_anti")
      probeTop3(e.where(col("vec_id") % 9 =!= 0), live, centroids)
        .select(col("va"), col("nn"), col("nn_cell"), col("c").as("cos_sim"))
        .orderBy(col("va"), col("cos_sim").desc, col("nn"))
    }
  }

  /** Radius threshold for s24 — measured against the lake's cosine
    * distribution (p99 ≈ 0.28, max ≈ 0.40 at sf0.01): 0.2 keeps the
    * result RESULT-SIZE-DRIVEN (a few hundred rows per thousand
    * queries), which is the defining property of a range query.
    */
  private val RangeTau = 0.2

  /** s24: RANGE (radius) SEARCH — the k-free dual of the top-k probe:
    * return EVERY indexed vector within cos ≥ τ of each query, however
    * many or few that is. This is the query near-dup candidate
    * generation and policy filters actually want (s06's top-k forces
    * exactly k answers whether the neighborhood holds 0 or 500; a
    * radius returns the true neighborhood), and the second of the two
    * canonical ANN query types (FAISS `range_search` vs `search`).
    * Queries are the s10 sample (vec_id ≡ 0 mod 37); candidates come
    * from each query's nprobe=2 IVF cells — the documented
    * approximation contract shared with s06 (a neighbor outside the
    * probed cells is not returned; s10/s18 measure that miss rate).
    *
    * Exactness: probe selection and cosine are [[probeTop3]]'s own
    * pieces ([[probeStructs]], the strict-fold `vec_dot`), so scores
    * are bit-identical cross-engine; the τ comparison is one literal
    * double both engines parse identically. No row_number cut at all —
    * the predicate IS the operator.
    *
    * Scale shape: identical to s06 — queries broadcast against the
    * bucket-pruned persistent index, cost |Q|·(2/k of the corpus);
    * output is result-sized, so a pipeline can safely range-search a
    * million queries where a top-k would manufacture k·10⁶ rows of
    * mostly-irrelevant padding.
    */
  val s24 = QueryDef(
    "s24_range_search",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      qs AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 37 = 0),
      ${duckProbes("c3", "pr", 2, "qs")}
      SELECT qs.vec_id AS va, x.vec_id AS nn, x.cell AS nn_cell,
             ${Vec.duckDot("qs.v", "x.v")} / (qs.nrm * x.nrm) AS cos_sim
      FROM qs JOIN pr ON pr.vec_id = qs.vec_id
      JOIN cells x ON x.cell = pr.cell AND x.vec_id <> qs.vec_id
      WHERE ${Vec.duckDot("qs.v", "x.v")} / (qs.nrm * x.nrm) >= $RangeTau
      ORDER BY va, cos_sim DESC, nn""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), col("vec_id").as("nn"),
        lit(0L).as("nn_cell"), lit(0.0).as("cos_sim"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      rangeMatches(e.where(col("vec_id") % 37 === 0),
          co.table(ivfTable), centroids)
        .orderBy(col("va"), col("cos_sim").desc, col("nn"))
    }
  }

  /** THE radius-query body — ONE definition of s24's probe selection,
    * candidate join, and τ cut, shared with s25 so the eval provably
    * grades the shipped operator (the probeTop3 discipline applied to
    * the range family). Queries carry the [[graft.Vec.withNorm]]
    * shape; the index side is any (vec_id, cell, v, nrm, …) table.
    * Output: (va, nn, nn_cell, cos_sim) with cos_sim ≥ [[RangeTau]],
    * unsorted.
    */
  private def rangeMatches(queries: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame,
      centroids: Seq[(Long, Array[Double], Double)])
      : org.apache.spark.sql.DataFrame =
    queries
      .select(col("vec_id").as("va"), col("v").as("qv"), col("nrm").as("qn"),
        explode(slice(array_sort(array(probeStructs(centroids): _*)), 1, 2))
          .as("p"))
      .select(col("va"), col("qv"), col("qn"), col("p.cell").as("pcell"))
      .join(index,
        col("pcell") === col("cell") && col("vec_id") =!= col("va"))
      .select(col("va"), col("vec_id").as("nn"), col("cell").as("nn_cell"),
        (call_function("vec_dot", col("qv"), col("v")) /
          (col("qn") * col("nrm"))).as("cos_sim"))
      .where(col("cos_sim") >= RangeTau)

  /** s25: RANGE-SEARCH RECALL evaluation — s24 graded against exact
    * radius ground truth, the fifth member of the eval family (s10
    * ANN recall, d12 LSH quality, d18 containment error, s19 PQ
    * quality): per sampled query, how much of the TRUE cos ≥ τ
    * neighborhood do the two probed cells actually hold? Radius
    * queries need their own eval because top-k recall (s10) says
    * nothing about the tail: a query whose neighborhood has 40
    * members can score 3/3 on s10 yet miss 30 of them here.
    * PRECISION is 1 by construction — cosines are exact, so every
    * returned row genuinely clears τ; the only error mode is misses
    * (bucket pruning), which is exactly what this measures.
    *
    * The exact leg is the s10 protocol: |Q|·N dots over the FIXED
    * sample — linear in the corpus, never all-pairs; the measured leg
    * replays s24's own probe selection and threshold (shared
    * [[probeStructs]]/[[duckProbes]] fragments), so the graded
    * operator is the shipped one. recall = ONE IEEE division; empty
    * true neighborhoods read 1.0 by contract.
    */
  val s25 = QueryDef(
    "s25_range_recall",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      qs AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 37 = 0),
      ${duckProbes("c3", "pr", 2, "qs")},
      tr AS (SELECT qs.vec_id AS va, count(*) AS n_true
        FROM qs JOIN n x ON x.vec_id <> qs.vec_id
        WHERE ${Vec.duckDot("qs.v", "x.v")} / (qs.nrm * x.nrm) >= $RangeTau
        GROUP BY qs.vec_id),
      fo AS (SELECT qs.vec_id AS va, count(*) AS n_found
        FROM qs JOIN pr ON pr.vec_id = qs.vec_id
        JOIN cells x ON x.cell = pr.cell AND x.vec_id <> qs.vec_id
        WHERE ${Vec.duckDot("qs.v", "x.v")} / (qs.nrm * x.nrm) >= $RangeTau
        GROUP BY qs.vec_id)
      SELECT qs.vec_id AS va,
        CAST(coalesce(tr.n_true, 0) AS BIGINT) AS n_true,
        CAST(coalesce(fo.n_found, 0) AS BIGINT) AS n_found,
        CASE WHEN coalesce(tr.n_true, 0) = 0 THEN 1.0
          ELSE CAST(coalesce(fo.n_found, 0) AS DOUBLE) / tr.n_true
        END AS recall
      FROM qs LEFT JOIN tr ON tr.va = qs.vec_id
      LEFT JOIN fo ON fo.va = qs.vec_id
      ORDER BY va""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id").as("va"), lit(0L).as("n_true"),
        lit(0L).as("n_found"), lit(0.0).as("recall"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = e.where(pmod(col("vec_id"), lit(37)) === 0)
        .select(col("vec_id").as("va"), col("v"), col("nrm").as("qn"))
      // exact leg: the s10 broadcast-sample corpus scan, τ-filtered
      val nTrue = e.crossJoin(
          broadcast(q.select(col("va"), col("v").as("qv"), col("qn"))))
        .where(col("vec_id") =!= col("va"))
        .select(col("va"),
          (call_function("vec_dot", col("v"), col("qv")) /
            (col("nrm") * col("qn"))).as("c"))
        .where(col("c") >= RangeTau)
        .groupBy("va").agg(count(lit(1)).as("n_true"))
      // measured leg: the SHARED s24 body ([[rangeMatches]]) — the
      // eval cannot drift from the operator it grades
      val nFound = rangeMatches(
          e.where(pmod(col("vec_id"), lit(37)) === 0),
          co.table(ivfTable), centroids)
        .groupBy("va").agg(count(lit(1)).as("n_found"))
      q.select("va")
        .join(nTrue, Seq("va"), "left")
        .join(nFound, Seq("va"), "left")
        .select(col("va"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_found"), lit(0L)).as("n_found"),
          when(coalesce(col("n_true"), lit(0L)) === 0L, lit(1.0))
            .otherwise(coalesce(col("n_found"), lit(0L)).cast("double") /
              col("n_true")).as("recall"))
        .orderBy("va")
    }
  }

  /** s26: INDEX OCCUPANCY CARD — the physical-layout health readout
    * of the shipped IVF index: per cell, how many vectors it holds,
    * its share of the corpus, and its relative occupancy (n·k/total —
    * 1.0 = perfectly balanced). Cell skew IS probe latency at scale:
    * a cell holding 10× its fair share makes every probe that selects
    * it scan 10× the vectors (and its bucket file 10× the bytes), so
    * this card is what decides a retrain/re-shard BEFORE the p99
    * regresses — the layout-side complement to s11 (geometry
    * cohesion) and s18 (recall-vs-cost). Reads the LANDED index table
    * (the layout being graded is the one probes actually scan).
    *
    * Exactness: counts are exact BIGINTs; share and occupancy are
    * each ONE IEEE division of exact integers. k_live counts cells
    * that actually hold vectors — the denominator a rebalance
    * decision cares about.
    *
    * Scale shape: one exchange-free aggregate over the bucketed index
    * (grouping key = bucket key) plus a k-row broadcast of the
    * one-row total; cost is one index scan at any scale.
    */
  val s26 = QueryDef(
    "s26_index_card",
    Some(s"""${Vec.duckNormCte},
      $duckTrainedCells,
      occ AS (SELECT cell, count(*) AS n_vectors FROM cells GROUP BY cell),
      tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total,
          count(*) AS k_live FROM occ)
      SELECT occ.cell, CAST(occ.n_vectors AS BIGINT) AS n_vectors,
        CAST(occ.n_vectors AS DOUBLE) / tot.total AS share,
        CAST(occ.n_vectors * tot.k_live AS DOUBLE) / tot.total AS occupancy
      FROM occ, tot ORDER BY occ.cell""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val (centroids, ivfTable) = ensureIvfIndex(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(lit(0L).as("cell"), lit(0L).as("n_vectors"),
        lit(0.0).as("share"), lit(0.0).as("occupancy"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val occ = co.table(ivfTable).groupBy("cell")
        .agg(count(lit(1)).as("n_vectors"))
      val tot = occ.agg(sum("n_vectors").as("total"),
        count(lit(1)).as("k_live"))
      occ.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vectors"),
          (col("n_vectors").cast("double") / col("total")).as("share"),
          ((col("n_vectors") * col("k_live")).cast("double") / col("total"))
            .as("occupancy"))
        .orderBy("cell")
    }
  }
}
