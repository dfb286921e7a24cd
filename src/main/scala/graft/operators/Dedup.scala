package graft.operators

import graft.{QueryDef, Qdsl, Tables, Vec}
import Qdsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table — the operations a
  * 100 TB training-data pipeline needs that the reference (an ETL
  * archiver, SURVEY.md §0) delegates entirely to its backing store.
  *
  * Scale design:
  *   - d01 exact: one hash shuffle on the full text (at real scale,
  *     group on a digest of the text instead — same plan shape).
  *   - d02 MinHash+LSH: the scalable near-dup path. Cost is linear in
  *     corpus size: signatures are fixed 32×8 bytes/doc regardless of
  *     document length, and the only join is bucket-local (band hash
  *     equality), never all-pairs.
  *   - d03 exact n-gram Jaccard: the correctness oracle for d02 —
  *     quadratic in the worst case (shingle-match self-join), kept
  *     exact deliberately; at 100 TB you run d02 and sample-verify
  *     with d03 on candidate pairs only.
  *   - d04 SimHash: 60-bit poly-hash fingerprints with pigeonhole
  *     banding — a hamming ≤ 3 pair must agree on ≥1 of 4 15-bit
  *     bands, so the join is bucket-local AND exact at that radius.
  *   - d05 embedding near-dup: exact threshold variant; the
  *     LSH-bucketed ANN variant is s02 in [[Similarity]].
  */
object Dedup {

  def queries: Seq[QueryDef] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14,
      d15, d16, d17, d18, d19, d20)

  /** DuckDB CTE for distinct 3-token shingles per document — the
    * oracle-side counterpart of the Spark-side native
    * `shingle_hashes(text, 3)` kernel (equivalence pinned in
    * ExpressionsSpec).
    */
  private[operators] val gramCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |grams AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      |          FROM toks, unnest(range(1, len(ts) - 1)) AS r(i) WHERE len(ts) >= 3)""".stripMargin

  /** Exact dedup: group identical texts, keep the smallest doc_id.
    * At scale, substitute sha2(text) for text as the shuffle key.
    */
  val d01 = QueryDef(
    "d01_exact_dedup",
    Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY text ORDER BY keep_id""")) { (s, d) =>
    Tables.documents(s, d)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** DuckDB literal arrays of the MinHash affine family's constants —
    * the SAME values [[graft.functions.MinHashAgg]] uses, interpolated
    * so the oracle replays the exact signatures.
    */
  private def duckArr(a: Array[Long]): String = a.mkString("[", ", ", "]")

  /** Oracle SQL fragments replaying [[graft.functions.PolyPair]] —
    * constants interpolated from the ONE Scala definition, and the
    * code-point list materialized once per row (the hashes fold the
    * same list twice; inlining the list_transform into each
    * list_reduce would decode every string twice).
    */
  private[operators] object Oracle {
    import graft.functions.PolyPair.{Base1, Base2, F, P1, P2}
    def cpList(col: String): String =
      s"list_prepend(0::BIGINT, list_transform(range(1, length($col) + 1), i -> CAST(unicode(substr($col, i, 1)) AS BIGINT)))"
    def poly1(cs: String): String = s"list_reduce($cs, (h, c) -> (h * $Base1 + c) % $P1)"
    def poly2(cs: String): String = s"list_reduce($cs, (h, c) -> (h * $Base2 + c) % $P2)"
    def polyPair(cs: String): String = s"${poly1(cs)} * $F + ${poly2(cs)}"
    /** [[graft.functions.PolyPair.fold]]: xor of product halves, 31-bit clamp. */
    def foldMul(m: Long, x: String): String =
      s"xor(($m * $x) % $F, ($m * $x) // $F) % $F"
  }

  /** d02's oracle banding chain — grams → candidate pairs with their
    * signature-agreement estimate (`ce`). ONE definition shared by d02
    * and d12's evaluation so the measured candidate set is provably
    * the shipped one (the s04 `duckTrainedCells` discipline).
    */
  private[operators] def duckMinhashChain: String =
    s"""gcps AS (SELECT doc_id, ${Oracle.cpList("g")} AS cs FROM grams),
      gh AS (SELECT doc_id, ${Oracle.polyPair("cs")} AS gh FROM gcps),
      sigs AS (SELECT doc_id, i,
          min((${duckArr(graft.functions.MinHashAgg.A)}[CAST(i + 1 AS INTEGER)] * (gh % 1000000007)
             + ${duckArr(graft.functions.MinHashAgg.B)}[CAST(i + 1 AS INTEGER)]) % 1000000007) AS s
        FROM gh, unnest(range(0, 32)) AS r(i) GROUP BY doc_id, i),
      sig AS (SELECT doc_id, list(s ORDER BY i) AS sg FROM sigs GROUP BY doc_id),
      bands AS (SELECT doc_id, sg, b,
          sg[CAST(2 * b + 1 AS INTEGER)] * 2147483648 + sg[CAST(2 * b + 2 AS INTEGER)] AS bh
        FROM sig, unnest(range(0, 16)) AS r(b)),
      cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, x.sg AS sa, y.sg AS sb
               FROM bands x JOIN bands y ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id),
      ce AS (SELECT da, db,
          CAST(list_sum(list_transform(range(1, 33), i -> CASE WHEN sa[CAST(i AS INTEGER)] = sb[CAST(i AS INTEGER)] THEN 1 ELSE 0 END)) AS DOUBLE) / 32 AS est_jaccard
        FROM cand)"""

  /** d03's oracle exact-Jaccard chain (grams → `jac`), shared with
    * d12's ground-truth leg.
    */
  private def duckJaccardChain: String =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      jac AS (SELECT da, db, i::DOUBLE / (ca.n + cb.n - i) AS jaccard
              FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)"""

  /** d12's eval-sample anchor density: ground truth is computed only
    * for pairs INCIDENT to the anchor set {doc_id ≡ 0 mod m} — the
    * s10 sampled-eval protocol applied to pairs. A pair's inclusion
    * probability is ≈ 2/m (uniform across pairs, up to the
    * higher-order both-anchored term 1/m²), so sampled recall/
    * precision estimate the corpus-wide rates unbiasedly while the
    * exact leg's shingle self-join shrinks by m× (one side restricted
    * to anchors). m = 7 keeps tens of sampled true pairs at bench
    * scale (7/9/61 at the three SFs); at production scale m grows
    * with the corpus to hold |sampled truth| roughly constant —
    * that is what makes the eval affordable at 100 TB, where the
    * full quadratic ground truth is not a thing anyone computes.
    */
  private val EvalSampleMod = 7

  /** Exact-Jaccard ground truth restricted to anchor-incident pairs
    * ([[EvalSampleMod]]): the anchor side of the shingle self-join is
    * the 1/m subset; the double-count when BOTH endpoints are anchors
    * is excluded by orientation (anchor < other), and pairs are
    * normalized to (least, greatest) so the output keys match the
    * candidate table's da < db convention.
    */
  private def duckSampledJaccardChain: String =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      interS AS (SELECT least(x.doc_id, y.doc_id) AS da,
                        greatest(x.doc_id, y.doc_id) AS db, count(*) AS i
                 FROM grams x JOIN grams y ON x.g = y.g
                   AND x.doc_id % $EvalSampleMod = 0
                   AND x.doc_id <> y.doc_id
                   AND (y.doc_id % $EvalSampleMod <> 0 OR x.doc_id < y.doc_id)
                 GROUP BY 1, 2),
      jacS AS (SELECT da, db, i::DOUBLE / (ca.n + cb.n - i) AS jaccard
               FROM interS JOIN cnt ca ON ca.doc_id = da
               JOIN cnt cb ON cb.doc_id = db)"""

  /** MinHash + LSH near-dup candidates. 32 permutations as affine
    * transforms `(A(i)·(g mod P) + B(i)) mod P` over poly-hashed
    * shingles — plain BIGINT arithmetic, so the ORACLE replays the
    * exact signatures (round 2's xxhash64 chain was rows-only by
    * necessity); 16 bands × 2 rows with an arithmetic band bucket;
    * pairs sharing any band bucket are candidates; estimated Jaccard =
    * matching-minhash fraction, kept at ≥ 0.5. Exact counterpart: d03.
    */
  /** d12: LSH candidate-quality EVALUATION — the dedup analog of s10's
    * ANN recall eval: measures d02's banding (16 bands × 2 rows, the
    * SHIPPED [[minhashCandidates]] chain, not a reimplementation)
    * against exact-Jaccard ground truth at the J ≥ 0.5 working
    * threshold, over the SAMPLED pair population ([[EvalSampleMod]]:
    * pairs incident to the doc_id ≡ 0 mod 7 anchors — the s10
    * protocol applied to pairs, round-6 verdict item 8). Both legs
    * are restricted to the same population, so the measured rates
    * compare like for like; the exact leg's shingle self-join runs
    * anchors × corpus — LINEAR in the corpus for a fixed anchor
    * budget, never all-pairs, which is what makes this evaluation
    * runnable before a 100 TB dedup rather than only on a toy slice.
    * Emits one row: true/candidate/predicted pair counts with their
    * overlaps, candidate recall (did banding SURFACE the true pair?),
    * pair recall and precision after d02's estimate filter — the
    * S-curve operating point that decides band geometry. Ratios are
    * single IEEE divisions of exact BIGINT counts. One full-outer
    * join of the two bounded pair sets + one aggregate.
    */
  val d12 = QueryDef(
    "d12_lsh_eval",
    Some(s"""$gramCte,
      $duckMinhashChain,
      $duckSampledJaccardChain,
      tru AS (SELECT da, db FROM jacS WHERE jaccard >= 0.5),
      ceS AS (SELECT da, db, est_jaccard FROM ce
              WHERE da % $EvalSampleMod = 0 OR db % $EvalSampleMod = 0),
      prd AS (SELECT da, db FROM ceS WHERE est_jaccard >= 0.5),
      m AS (SELECT
        (SELECT count(*) FROM tru) AS n_true,
        (SELECT count(*) FROM ceS) AS n_cand,
        (SELECT count(*) FROM ceS JOIN tru USING (da, db)) AS n_cand_true,
        (SELECT count(*) FROM prd) AS n_pred,
        (SELECT count(*) FROM prd JOIN tru USING (da, db)) AS n_pred_true)
      SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
        CAST(n_cand_true AS BIGINT) AS n_cand_true,
        CAST(n_pred AS BIGINT) AS n_pred,
        CAST(n_pred_true AS BIGINT) AS n_pred_true,
        CASE WHEN n_true = 0 THEN 0.0
             ELSE CAST(n_cand_true AS DOUBLE) / CAST(n_true AS DOUBLE) END AS cand_recall,
        CASE WHEN n_true = 0 THEN 0.0
             ELSE CAST(n_pred_true AS DOUBLE) / CAST(n_true AS DOUBLE) END AS pair_recall,
        CASE WHEN n_pred = 0 THEN 0.0
             ELSE CAST(n_pred_true AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS pair_precision
      FROM m ORDER BY n_true""")) { (s, d) =>
    val tru = sampledJaccardPairs(s, d).where(col("jaccard") >= 0.5)
      .select(col("da"), col("db"), lit(1L).as("t"))
    val cand = minhashCandidates(s, d)
      .where(pmod(col("da"), lit(EvalSampleMod.toLong)) === 0 ||
        pmod(col("db"), lit(EvalSampleMod.toLong)) === 0)
      .select(col("da"), col("db"), col("est_jaccard"), lit(1L).as("c"))
    cand.join(tru, Seq("da", "db"), "full")
      .agg(
        // coalesce the sums: an EMPTY corpus aggregates zero rows and
        // must emit the oracle's zero counts, not NULLs
        coalesce(sum(coalesce(col("t"), lit(0L))), lit(0L)).as("n_true"),
        coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("c").isNotNull && col("t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_cand_true"),
        coalesce(sum(when(col("c").isNotNull && col("est_jaccard") >= 0.5, 1L)
          .otherwise(0L)), lit(0L)).as("n_pred"),
        coalesce(sum(when(col("c").isNotNull && col("est_jaccard") >= 0.5 &&
          col("t").isNotNull, 1L).otherwise(0L)), lit(0L)).as("n_pred_true"))
      .select(col("n_true"), col("n_cand"), col("n_cand_true"), col("n_pred"),
        col("n_pred_true"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("n_cand_true").cast("double") / col("n_true").cast("double"))
          .as("cand_recall"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("n_pred_true").cast("double") / col("n_true").cast("double"))
          .as("pair_recall"),
        when(col("n_pred") === 0L, lit(0.0))
          .otherwise(col("n_pred_true").cast("double") / col("n_pred").cast("double"))
          .as("pair_precision"))
      .orderBy("n_true")
  }

  val d02 = QueryDef(
    "d02_minhash_lsh",
    Some(s"""$gramCte,
      $duckMinhashChain
      SELECT da, db, est_jaccard FROM ce
      WHERE est_jaccard >= 0.5 ORDER BY da, db""")) { (s, d) =>
    minhashCandidates(s, d)
      .where(col("est_jaccard") >= 0.5)
      .select("da", "db", "est_jaccard")
      .orderBy("da", "db")
  }

  /** d02's banding chain up to (but not including) the estimate
    * threshold: every band-colliding pair with its 32-row signature
    * agreement estimate. Shared with d12, which measures this exact
    * candidate set against d03's ground truth — evaluating a
    * REIMPLEMENTATION would prove nothing.
    */
  /** 32-minhash signature per document — the Spark twin of the
    * oracle's `sig` CTE, ONE definition shared by d02's candidate
    * chain and d15's band-geometry sweep: native one-pass shingling
    * (8-byte poly hashes into the signature shuffle, not gram
    * strings), then the one-pass typed MinHashAgg Aggregator (UDAF).
    */
  private[operators] def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    // documentsSpread: the polyhash shingling is the CPU, and the
    // single-row-group scan would run it on one task (guide §2.5)
    Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(expr("shingle_polyhashes(text, 3)")).as("g"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashAgg.minhash(col("g")).as("sig"))
  }

  private[operators] def minhashCandidates(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(s, d)
    // band bucket = sig[2b]·2³¹ + sig[2b+1]: INJECTIVE (both values
    // are < 10⁹+7 < 2³¹, so the pair is recoverable) and reproducible
    // — no engine-internal hash() in the bucketing either
    val bands = sigs.select(
      col("doc_id"), col("sig"),
      explode(expr("transform(sequence(0, 15), b -> struct(b AS band, sig[2*b] * 2147483648L + sig[2*b+1] AS bh))")).as("bd"))
      .select(col("doc_id"), col("sig"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        col("x.sig").as("sa"), col("y.sig").as("sb"))
      .distinct()
      .withColumn("est_jaccard",
        expr("CAST(aggregate(zip_with(sa, sb, (a, b) -> IF(a = b, 1, 0)), 0, (acc, v) -> acc + v) AS DOUBLE) / 32"))
  }

  /** Exact 3-gram Jaccard similarity join: pairs with J ≥ 0.1.
    * Intersection via shingle-equality self-join with map-side partial
    * counts; |A∪B| = |A|+|B|−|A∩B| from per-doc shingle counts.
    *
    * Scale design: this is an inverted-index join (pairs meet only on
    * shared shingles), not all-pairs. The per-doc sizes join the
    * post-aggregation PAIR table, which is orders of magnitude smaller
    * than the shingle legs (the round-2 variant that pushed sizes plus
    * a J ≥ 0.1 length prefilter inside the self-join priced every
    * shingle row and regressed 3.2 → 5.2 s on near-uniform lengths —
    * docs/MICROBENCH.md). Residual hazard at 100 TB is ubiquitous
    * shingles (hot buckets) — mitigate with a document-frequency cap
    * upstream, which trades exactness and is therefore not done here
    * (d02 MinHash-LSH is the approximate scale path; this operator is
    * its exactness oracle).
    */
  val d03 = QueryDef(
    "d03_ngram_jaccard",
    Some(s"""$gramCte,
      $duckJaccardChain
      SELECT da, db, jaccard FROM jac
      WHERE jaccard >= 0.1 ORDER BY da, db""")) { (s, d) =>
    // join on the 64-bit hash of each shingle, not the shingle text:
    // same intersection counts (64-bit collisions are ~(n²/2⁶⁵) ≈
    // never at any realistic corpus), ~40% less shuffle volume; the
    // hashes come from the native one-pass shingle_hashes kernel
    // (ExpressionsSpec pins equivalence to the split/transform/
    // array_distinct/xxhash64 pipeline). The shingle table is
    // materialized ONCE (cache here — MEMORY_AND_DISK, LRU-evictable,
    // a few MB at test scale, and plan-matched so d06/d07's reuse of
    // d03 hits the same entry; a parquet intermediate at real scale)
    // so the self-join legs and the count leg reuse it.
    jaccardPairs(s, d).orderBy("da", "db")
  }

  /** d03's core — unsorted (da, db, jaccard) pairs with J ≥ 0.1.
    * Shared with d06/d07, which consume the pairs as graph edges and
    * must not pay d03's final total sort (a range exchange plus its
    * partition-bound sampling job per invocation).
    */
  /** The near-dup EDGE OPERAND — J ≥ 0.5 pairs of [[jaccardPairs]] —
    * content-memoized and persisted bucketed (the g-family
    * memoEdgeTable discipline): d06, d07, and d16 are three
    * implementations over ONE logical graph, and before this each
    * re-ran the full d03-shaped shingle self-join to rebuild it
    * (~1.3 s apiece at sf0.1). d03 itself keeps paying its honest
    * cost — it IS the exactness-join benchmark; only the components
    * family consumes the memo. At 100 TB this is the only sane shape:
    * no pipeline recomputes its near-dup graph per downstream query.
    */
  private val neardupEdgesBuilt = new graft.engine.CatalogMemo[String]

  /** Partition sizing for the components family's EDGE operands
    * (d06/d07/d10/d16), derived from MEASURED edge volume — the
    * x12/TwoPhase size-derived discipline applied to graphs. The
    * near-dup edge set is duplicate-count-sized (orders of magnitude
    * below the corpus), so: ~1M edges (~16 MB of Long pairs) per
    * partition, floor 1. Never the cluster default (which schedules
    * hundreds of near-empty tasks per propagation round / Pregel
    * superstep — 19.4 s of pure task overhead for ~50 edge rows,
    * round 2) and never a hardcoded 1 (which would funnel a 100 TB
    * corpus's billions of duplicate-pair edges through one task).
    * Counting the memoized bucketed edge operand is cheap — a
    * parquet-footer metadata count, not a join re-run.
    */
  private[operators] val EdgesPerPart = 1000000L
  private[operators] def edgeParts(edgeCount: Long): Int =
    math.max(1, ((edgeCount + EdgesPerPart - 1) / EdgesPerPart).toInt)

  private def neardupEdges(s: SparkSession, d: String): DataFrame =
    Graph.memoEdgeTable(s, d, neardupEdgesBuilt, "graft_neardup_edges", "da") {
      jaccardPairs(s, d).where(col("jaccard") >= 0.5).select("da", "db")
    }

  private[operators] def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    // documentsSpread: one-task scan would otherwise single-thread the
    // shingle kernel that feeds the cached index (guide §2.5)
    jaccardFrom(Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
      .cache())
  }

  /** [[duckSampledJaccardChain]]'s Spark twin: exact Jaccard for
    * anchor-incident pairs only. The anchor side of the self-join is
    * the 1/m shingle subset, so the join is |S|·N-bounded — the
    * affordable ground-truth leg of d12's sampled protocol. The
    * orientation guard (`y` non-anchor OR `x` < `y`) counts each
    * shared shingle of a both-anchored pair exactly once; keys are
    * normalized to (least, greatest) to match the da < db convention.
    */
  private def sampledJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val g = Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
      .cache()
    val n = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val m = lit(EvalSampleMod.toLong)
    val gs = g.where(pmod(col("doc_id"), m) === 0)
    val inter = gs.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id") &&
          (pmod(col("y.doc_id"), m) =!= 0 || col("x.doc_id") < col("y.doc_id")))
      .groupBy(least(col("x.doc_id"), col("y.doc_id")).as("da"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("db"))
      .agg(count(lit(1)).as("i"))
    // count lookups ride the post-agg pair table, unhinted — AQE picks
    // broadcast vs shuffle (the jaccardFrom policy)
    inter
      .join(n.as("na"), col("da") === col("na.doc_id"))
      .join(n.as("nb"), col("db") === col("nb.doc_id"))
      .select(col("da"), col("db"),
        (col("i").cast("double") / (col("na.n") + col("nb.n") - col("i")))
          .as("jaccard"))
  }

  /** J ≥ 0.1 pairs over ANY (doc_id, g) shingle table — d03 runs it on
    * the full index, d08 on the df-capped one (one implementation, so
    * the plan lessons below apply to both).
    */
  private def jaccardFrom(g: DataFrame): DataFrame = {
    val n = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // count lookups ride the POST-aggregation pair table (tiny), not
    // the join legs: round 2 pushed n + a J ≥ 0.1 length prefilter
    // inside the self-join, which priced every shingle row (wider legs
    // + broadcast probe) for a filter that prunes nothing when doc
    // lengths are near-uniform — measured 3.2 → 5.2 s at the driver's
    // local[32] (docs/MICROBENCH.md). Re-add the prefilter only under
    // measured length skew.
    val inter = g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    // n is corpus-sized (one row per doc): broadcast is right at bench
    // scale but would force a corpus-sized build side onto every
    // executor at 100 TB. The lookups are deliberately UNHINTED — the
    // size check is AQE's, which measures n's ACTUAL shuffle bytes at
    // runtime and converts to broadcast-hash below
    // spark.sql.adaptive.autoBroadcastJoinThreshold, keeping a
    // pair-table-sized shuffle join above it (a compile-time stats
    // estimate would see the explode-inflated scan and guess wrong in
    // exactly the cases that matter; a hand-rolled count() would spend
    // a job to learn what AQE learns free). DedupSpec pins both paths
    // to identical rows and the plan landing on BroadcastHashJoin.
    inter
      .join(n.as("na"), col("da") === col("na.doc_id"))
      .join(n.as("nb"), col("db") === col("nb.doc_id"))
      .select(col("da"), col("db"),
        (col("i").cast("double") / (col("na.n") + col("nb.n") - col("i"))).as("jaccard"))
      .where(col("jaccard") >= 0.1)
  }

  /** SimHash near-dup: 60-bit fingerprint from per-token polynomial
    * hashes (two rolling hashes supply 30 vote bits each — plain
    * BIGINT arithmetic, so the ORACLE replays the exact fingerprints;
    * round 2's xxhash64 variant was rows-only by necessity), 4×15-bit
    * band blocking, hamming ≤ 3 verified with bit_count(xor) — at that
    * threshold the 4-band pigeonhole is COMPLETE (any pair within
    * hamming 3 agrees on ≥ 1 whole band), so the operator is exact,
    * not approximate.
    *
    * The pigeonhole join runs over DISTINCT fingerprints (the m06/m14
    * two-tier discipline, [[graft.operators.Multimodal]]): a dup-heavy
    * corpus puts every copy of a popular document on ONE fp row, so
    * the candidate join is sized by fingerprint diversity, never
    * quadratic in the largest duplicate class. Same-fp pairs expand
    * through the membership table as hamming-0 rows (a plain
    * equi-join producing exactly the output rows — unavoidable,
    * because they ARE the answer); cross-fp candidates expand the
    * verified fp-pairs the same way.
    */

  /** (membership, bands, output) for the SimHash near-dup over any
    * documents-shaped frame — split out so DedupSpec can pin that the
    * band join's input is distinct-fp-sized on a corpus with a large
    * exact-dup class. `bands` is the frame BOTH legs of the pigeonhole
    * self-join read: 4 rows per DISTINCT fingerprint.
    */
  private[graft] def simhashTiers(s: SparkSession, docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val member = docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("fp", expr("simhash_poly(toks)"))
      .select("doc_id", "fp")
    val bands = member.select("fp").distinct()
      .select(col("fp"),
        explode(expr("transform(sequence(0, 3), k -> struct(k AS band, shiftright(fp, k * 15) & 32767 AS bh))")).as("bd"))
      .select(col("fp"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    // fp-level candidates: fa < fb canonicalizes, distinct collapses
    // multi-band agreements — a set sized by fingerprint diversity
    val fpPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct()
      .withColumn("hamming", big(bit_count(col("fa").bitwiseXOR(col("fb")))))
      .where(col("hamming") <= 3)
    val sameFp = member.as("x").join(member.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
        lit(0L).as("hamming"))
    val crossFp = fpPairs
      .join(member.as("a"), col("fa") === col("a.fp"))
      .join(member.as("b"), col("fb") === col("b.fp"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"), col("hamming"))
    val out = sameFp.unionAll(crossFp).orderBy("da", "db")
    (member, bands, out)
  }

  val d04 = QueryDef(
    "d04_simhash",
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tok AS (SELECT doc_id, t FROM toks, unnest(ts) AS u(t)),
      cps AS (SELECT doc_id, ${Oracle.cpList("t")} AS cs FROM tok),
      th AS (SELECT doc_id, ${Oracle.poly1("cs")} AS h1, ${Oracle.poly2("cs")} AS h2 FROM cps),
      mx AS (SELECT doc_id,
          ${Oracle.foldMul(graft.functions.SimHashPoly.M1, "h1")} AS y1,
          ${Oracle.foldMul(graft.functions.SimHashPoly.M2, "h2")} AS y2
        FROM th),
      votes AS (SELECT doc_id, b,
          sum((CASE WHEN b < 30 THEN (y1 >> b) & 1 ELSE (y2 >> (b - 30)) & 1 END) * 2 - 1) AS v
        FROM mx, unnest(range(0, 60)) AS r(b) GROUP BY doc_id, b),
      fps AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT) AS fp
              FROM votes GROUP BY doc_id),
      bands AS (SELECT doc_id, fp, k, (fp >> CAST(k * 15 AS INTEGER)) & 32767 AS bh
                FROM fps, unnest(range(0, 4)) AS r(k)),
      cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, x.fp AS fa, y.fp AS fb
               FROM bands x JOIN bands y ON x.k = y.k AND x.bh = y.bh AND x.doc_id < y.doc_id)
      SELECT da, db, hamming FROM (
        SELECT da, db, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming FROM cand)
      WHERE hamming <= 3 ORDER BY da, db""")) { (s, d) =>
    simhashTiers(s, Tables.documents(s, d))._3
  }

  /** Embedding near-dup: all pairs with cosine ≥ 0.4, exact. Dot and
    * norms are strict left folds in double on both engines → the
    * emitted cosine doubles are bit-identical (no DECIMAL guard
    * needed — or allowed, see OutputContractSpec). The LSH-bucketed
    * (sub-quadratic) variant is s02.
    */
  val d05 = QueryDef(
    "d05_embedding_neardup",
    Some(s"""${Vec.duckNormCte}
      SELECT va, vb, c AS cos_sim FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
          ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) AS c
        FROM n a JOIN n b ON a.vec_id < b.vec_id)
      WHERE c >= 0.4 ORDER BY va, vb""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        (expr(Vec.dot("a.v", "b.v")) / (col("a.nrm") * col("b.nrm"))).as("c"))
      .where(col("c") >= 0.4)
      .select(col("va"), col("vb"), col("c").as("cos_sim"))
      .orderBy("va", "vb")
  }
  /** Dedup end-game: collapse near-dup PAIRS (d03, J ≥ 0.5) into
    * CLUSTERS and pick one survivor per cluster — connected components
    * by iterative min-label propagation. Each iteration is one
    * distributed join+aggregate; components here are tiny chains so it
    * converges in ≤ ~6 rounds ([[Fixpoint.until]] stops at the
    * fixpoint; d16/d07 are the long-chain alternatives). Oracle:
    * recursive CTE transitive closure, provably the same min-label
    * result.
    */
  /** The survivor-selection oracle CTE chain (J ≥ 0.5 pairs →
    * symmetric edges → recursive-CTE transitive closure), shared
    * verbatim by the d06/d07 oracles and x09's pipeline oracle —
    * assumes `grams` from [[gramCte]] is in scope.
    */
  private[operators] val survivorCtes =
    """cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT da, db FROM inter
                JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
                WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.5),
      e AS (SELECT da AS a, db AS b FROM pairs
            UNION SELECT db, da FROM pairs),
      reach AS (
        WITH RECURSIVE r(a, b) AS (
          SELECT a, b FROM e
          UNION
          SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
        SELECT * FROM r)"""

  val d06 = QueryDef(
    "d06_dedup_survivors",
    Some(s"""$gramCte,
      $survivorCtes
      SELECT doc_id, survivor, doc_id = survivor AS is_survivor FROM (
        SELECT a AS doc_id, least(a, min(b)) AS survivor
        FROM reach GROUP BY a)
      ORDER BY doc_id""")) { (s, d) =>
    val (edgesLoop, edges) = loopEdges(s, d)
    val nodes = edgesLoop.select(col("a").as("doc_id")).distinct()
    // `changed` rides the state: `done` counts the truncated round
    // instead of a third join per round (OPTIMIZATION_r09.md §1)
    val labels = Fixpoint.until(s, nodes.withColumn("lbl", col("doc_id")), 20,
        "d06 label propagation") { prev =>
      val labels = prev.drop("changed")
      val neighborMin = edgesLoop.join(labels, edgesLoop("b") === labels("doc_id"))
        .groupBy(edgesLoop("a").as("doc_id")).agg(min("lbl").as("nlbl"))
      labels.join(neighborMin, "doc_id")
        .select(col("doc_id"), least(col("lbl"), col("nlbl")).as("lbl"),
          (col("nlbl") < col("lbl")).as("changed"))
    }(_.where(col("changed")).count() == 0L).drop("changed")
    edges.unpersist(blocking = false)
    labels
      .select(col("doc_id"), col("lbl").as("survivor"),
        (col("doc_id") === col("lbl")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** d16: the DataFrame-native O(log d) components — the variant to
    * reach for when d06 hits its round cap: min-label propagation
    * (d06's round) FUSED with POINTER JUMPING — after each propagation, l(u) ← l(l(u)) via one
    * label-table self-join, so label paths HALVE every round and a
    * diameter-d chain converges in O(log d) rounds where d06 needs d.
    * Unlike d07 this stays entirely in DataFrames (Catalyst-planned,
    * AQE-sized, no RDD re-encoding boundary, no GraphX dependency) —
    * at 100 TB it is the shape that runs on the same bucketed layouts
    * as everything else. Third independent implementation over d06's
    * exact near-dup graph, hash-checked against the SAME recursive
    * ground truth oracle; loop disciplines are d06's verbatim
    * ([[loopEdges]], [[Fixpoint.until]], sum-of-labels unchanged ⇒
    * converged — labels only ever decrease, so an unchanged exact
    * BIGINT sum IS the fixed point, one cheap agg instead of a
    * join-based change test).
    */
  val d16 = QueryDef("d16_cc_pointer_jumping", d06.oracle) { (s, d) =>
    val (edgesLoop, edges) = loopEdges(s, d)
    val (labels, _) = ccPointerJump(s, edgesLoop)
    edges.unpersist(blocking = false)
    labels
      .select(col("u").as("doc_id"), col("l").as("survivor"),
        (col("u") === col("l")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** The d06/d16 loop operand: the symmetric near-dup edges (a, b),
    * cached once at full parallelism, then read through a private
    * `childSession` whose shuffle.partitions is the [[edgeParts]]
    * width of the measured edge count — the caller's session never
    * sees the override, and the loop schedules no near-empty
    * default-width tasks (19.4 s → ~2.3 s at local[32], SURVEY.md
    * §7.2.3). Returns (loop-session edge frame, cached frame to
    * unpersist).
    */
  private def loopEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val pairs = neardupEdges(s, d)
    val nParts = edgeParts(2L * pairs.count())
    val edges = pairs.union(pairs.select(col("db"), col("da"))).toDF("a", "b")
      .repartition(nParts).cache()
    edges.count()
    val loop = graft.functions.GraftFunctions.childSession(s)
    loop.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    (loop.createDataFrame(edges.rdd, edges.schema), edges)
  }

  /** The pointer-jumping loop over ANY symmetric (a, b) edge frame —
    * exposed so DedupSpec can prove the O(log d) round bound on a
    * long chain d06's diameter-round loop cannot converge on.
    * Returns (labels (u, l), rounds run).
    */
  private[operators] def ccPointerJump(s: SparkSession,
      edgesLoop: DataFrame, maxRounds: Int = 8): (DataFrame, Int) = {
    val init = edgesLoop.select(col("a").as("u")).distinct().withColumn("l", col("u"))
    var prevSum = Option.empty[Long]
    var rounds = 0
    val labels = Fixpoint.until(s, init, maxRounds, "d16 pointer jumping") { labels =>
      // (1) d06's neighbor-min propagation round. Both union branches
      // re-aliased via toDF: they share `labels`' attribute ids, and
      // Union's constraint rewriting chokes on the overlap
      // (key-not-found on the checkpointed attribute).
      val viaNbr = edgesLoop.join(labels, edgesLoop("b") === labels("u"))
        .select(edgesLoop("a").as("u"), col("l"))
      val prop = labels.toDF("u", "l").union(viaNbr.toDF("u", "l"))
        .groupBy("u").agg(min("l").as("l"))
      // (2) pointer jumping: every label is itself a node with a
      // label, so one self-join halves every remaining label path
      prop.as("x")
        .join(prop.select(col("u").as("pu"), col("l").as("pl")).as("y"),
          col("x.l") === col("pu"))
        .select(col("x.u").as("u"), col("pl").as("l"))
    } { next =>
      // coalesce: an empty edge set aggregates zero label rows — the
      // sum must read 0 (converged), not NULL (getLong crash)
      val sum = next.agg(coalesce(
        org.apache.spark.sql.functions.sum("l"), lit(0L))).head().getLong(0)
      rounds += 1
      val converged = prevSum.contains(sum)
      prevSum = Some(sum)
      converged
    }
    (labels, rounds)
  }

  /** GraphX twin of d06: the same survivor selection through Pregel
    * connectedComponents (min vertex id per component) — converges in
    * O(log n) supersteps regardless of chain diameter, the variant to
    * reach for when near-dup clusters can be long chains. Same oracle
    * as d06: two independent implementations, one recursive-CTE
    * ground truth.
    */
  val d07 = QueryDef("d07_graphx_components", d06.oracle) { (s, d) =>
    import org.apache.spark.graphx.{Edge, Graph}
    val pairs = neardupEdges(s, d)
    // same partition-sizing rule as d06: Pregel's per-superstep task
    // count derives from the MEASURED edge volume via [[edgeParts]]
    // (the count is a footer-cheap read of the memoized bucketed
    // operand) — 1 partition at bench scale, width ∝ edges at 100 TB.
    // repartition, NOT coalesce: coalesce would collapse d03's whole
    // final stage into the same task count; the shuffle boundary keeps
    // the upstream join parallel
    val edgeRdd = pairs.repartition(edgeParts(pairs.count()))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = Graph.fromEdges(edgeRdd, defaultValue = ())
      .connectedComponents()
      .vertices // (doc_id, min doc_id in component)
    s.createDataFrame(cc).toDF("doc_id", "survivor")
      .select(col("doc_id"), col("survivor"),
        (col("doc_id") === col("survivor")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** d03's HOT-SHINGLE-CAPPED variant — the skew mitigation d03's
    * scaladoc defers: shingles whose document frequency exceeds the
    * cap (ubiquitous n-grams — the keys that would make inverted-index
    * join buckets quadratic at 100 TB) are dropped from the index
    * BEFORE the self-join, via a broadcast anti join against the tiny
    * hot set (a handful of keys by construction: each hot shingle owns
    * ≥ cap rows). Jaccard is then computed over the CAPPED shingle
    * sets — a documented approximation of d03 in BOTH directions:
    * dropping a shared hot shingle loses intersection evidence, while
    * dropping a hot shingle only one side holds shrinks the union and
    * can RAISE a pair over the threshold. Fully deterministic and
    * oracle-replayed exactly; at real scale the cap is set relative to
    * corpus size (df ≤ ε·N), fixed here for a reproducible oracle.
    */
  /** One shared cap value, interpolated into the oracle (drift-proof). */
  private val DfCap = 10

  val d08 = QueryDef(
    "d08_dfcap_jaccard",
    Some(s"""$gramCte,
      df AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
      kept AS (SELECT doc_id, grams.g FROM grams JOIN df ON grams.g = df.g WHERE df <= $DfCap),
      cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
      SELECT da, db, jaccard FROM (
        SELECT da, db, i::DOUBLE / (ca.n + cb.n - i) AS jaccard
        FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)
      WHERE jaccard >= 0.1 ORDER BY da, db""")) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
      .cache()
    val hot = g.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") > DfCap).select("g")
    jaccardFrom(g.join(broadcast(hot), Seq("g"), "left_anti"))
      .orderBy("da", "db")
  }

  /** Incremental dedup — the PRODUCTION arrival shape none of d01–d08
    * covers: d01 dedups a corpus against itself, but a live pipeline
    * dedups each incoming BATCH against the corpus it already
    * accepted. The accepted corpus's fingerprint index (min doc id
    * per distinct text) is stored BUCKETED on the join key via the
    * q37/q48 machinery (built once, content-memoized): at 100 TB the
    * index never re-shuffles — each arriving batch shuffles only
    * ITSELF into the index's bucketing, the q48 asymmetry applied to
    * dedup. Every delta doc is classified: duplicate of the base
    * corpus, duplicate within its own batch (first-arrival-wins,
    * keyed by min delta doc id — the d01 survivor rule), or novel;
    * `keep_id` names the surviving representative in all three
    * cases. Join policy is d03's: UNHINTED, so AQE broadcasts the
    * index while it is small and bucket-shuffles only the delta once
    * it is not. The oracle replays base/delta classification over the
    * full table.
    */
  private val dedupIndexBuilt = new graft.engine.CatalogMemo[String]

  val d09 = QueryDef(
    "d09_incremental_dedup",
    Some("""WITH base AS (SELECT text, min(doc_id) AS bkeep
        FROM documents WHERE doc_id % 8 <> 0 GROUP BY 1),
      delta AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 8 = 0
        UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 8 = 1
        UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 16 = 0),
      dmin AS (SELECT text, min(doc_id) AS dkeep FROM delta GROUP BY 1)
      SELECT d.doc_id,
        CASE WHEN b.text IS NOT NULL THEN 'dup_of_base'
             WHEN d.doc_id <> m.dkeep THEN 'dup_in_delta'
             ELSE 'novel' END AS status,
        CASE WHEN b.text IS NOT NULL THEN b.bkeep
             WHEN d.doc_id <> m.dkeep THEN m.dkeep
             ELSE d.doc_id END AS keep_id
      FROM delta d LEFT JOIN base b ON d.text = b.text
        JOIN dmin m ON d.text = m.text
      ORDER BY d.doc_id""")) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val idxTable = dedupIndexBuilt.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_dedup_index", ck)
      new graft.engine.Engine(s).archiveBucketed(
        docs.filter(col("doc_id") % 8 =!= 0)
          .groupBy("text").agg(min("doc_id").as("bkeep")),
        tbl, "text", 8)
      tbl
    }
    // the arrival batch: genuinely novel docs, RE-CRAWLS of already-
    // accepted docs (same text, fresh id — the realistic duplicate
    // source, since the corpus itself has no repeated text), and a
    // within-batch resubmission of each %16 doc
    val delta = docs.filter(col("doc_id") % 8 === 0)
      .unionByName(docs.filter(col("doc_id") % 8 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 16 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val dmin = delta.groupBy("text").agg(min("doc_id").as("dkeep"))
    delta.join(s.table(idxTable), Seq("text"), "left")
      .join(dmin, Seq("text"))
      .select(col("doc_id"),
        when(col("bkeep").isNotNull, "dup_of_base")
          .when(col("doc_id") =!= col("dkeep"), "dup_in_delta")
          .otherwise("novel").as("status"),
        coalesce(col("bkeep"),
          when(col("doc_id") =!= col("dkeep"), col("dkeep"))
            .otherwise(col("doc_id"))).as("keep_id"))
      .orderBy("doc_id")
  }

  /** d10: entity resolution (record linkage) — the OTHER dedup: d01–d09
    * collapse identical/near-identical *content*; this collapses noisy
    * references to the same *entity* (the master-data step every
    * ingestion pipeline runs on names/addresses before joining feeds).
    * Classic blocking-based ER: (1) synthesize a dirty feed — the
    * customer file plus deterministic typo'd re-registrations (a
    * deleted character for every 5th key, an appended character for
    * every 10th) the oracle replays with the same string surgery, the
    * x10 synthesized-PII discipline; (2) BLOCK on (nation, last-4
    * digits of the name's digit string) — typos touch letters, so true
    * duplicates never cross blocks and candidate pairs are bounded by
    * block size, never all-pairs; (3) MATCH within a block by
    * levenshtein ≤ 2 (exact integer distance — both engines agree to
    * the bit, no float similarity); (4) CLUSTER matched pairs by
    * connected components (GraphX, the d07 machinery — transitivity is
    * real here: a base, its two variants, and a cross-key collision
    * chain into one entity) and elect the min-id record canonical.
    *
    * The match rule's precision limit is kept visible, not hidden: keys
    * 10000 apart share their last-4 block and sit at edit distance 1
    * ("Customer#000000123" ~ "Customer#000010123"), so some clusters
    * merge distinct source keys — exactly the trade-off a real ER rule
    * makes, deterministic, and identical in the oracle (cluster sizes
    * up to 6 at sf0.1 exercise the closure path). At 100 TB: blocking
    * keys bound the self-join (the d08 hot-key story applies — cap
    * oversized blocks before the pairwise stage); the edge set is
    * duplicate-sized, so CC runs on a graph ≪ the corpus.
    *
    * Variant-id headroom: the +2000000/+4000000 offsets assume
    * custkey < 2000000 (true through sf ≈ 13 of the driver data; the
    * g01 SuppBase note is the same contract). At cluster scale the
    * record id would be a (source, key) struct — the flat offsets
    * keep the oracle SQL readable, and a collision would corrupt
    * clusters IDENTICALLY in both engines, so the parity gate cannot
    * catch it: the bound is the operator's documented precondition,
    * not an oracle-checked one.
    */
  val d10 = QueryDef(
    "d10_entity_resolution",
    Some("""WITH recs AS MATERIALIZED (
      SELECT c_custkey AS rec_id, c_name AS name, c_nationkey AS nat FROM customer
      UNION ALL
      SELECT c_custkey + 2000000, concat(substr(c_name, 1, 3), substr(c_name, 5)), c_nationkey
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 4000000, c_name || 'x', c_nationkey
      FROM customer WHERE c_custkey % 10 = 0),
    blocked AS MATERIALIZED (
      SELECT rec_id, name, nat,
        right(regexp_replace(name, '[^0-9]', '', 'g'), 4) AS bk FROM recs),
    pairs AS MATERIALIZED (
      SELECT a.rec_id AS ra, b.rec_id AS rb
      FROM blocked a JOIN blocked b
        ON a.nat = b.nat AND a.bk = b.bk AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2),
    e AS (SELECT ra AS a, rb AS b FROM pairs UNION SELECT rb, ra FROM pairs),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
      SELECT * FROM r),
    lab AS (SELECT a AS rec_id, least(a, min(b)) AS entity_id FROM reach GROUP BY a)
    SELECT l.entity_id, l.rec_id, b.name, l.rec_id = l.entity_id AS is_canonical
    FROM lab l JOIN blocked b ON l.rec_id = b.rec_id
    ORDER BY l.rec_id""")) { (s, d) =>
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
    val recs = c.select(col("c_custkey").as("rec_id"),
        col("c_name").as("name"), col("c_nationkey").as("nat"))
      .unionByName(c.filter(col("c_custkey") % 5 === 0)
        .select((col("c_custkey") + 2000000L).as("rec_id"),
          expr("concat(substr(c_name, 1, 3), substr(c_name, 5))").as("name"),
          col("c_nationkey").as("nat")))
      .unionByName(c.filter(col("c_custkey") % 10 === 0)
        .select((col("c_custkey") + 4000000L).as("rec_id"),
          concat(col("c_name"), lit("x")).as("name"),
          col("c_nationkey").as("nat")))
    // Spark regexp_replace is replace-ALL by default (DuckDB needs 'g').
    // persist(): consumed three times (both self-join sides + the
    // final name join) — the oracle's MATERIALIZED mirror; lifetime
    // owned by the harness clearCache, as with q51/e14
    val blocked = recs
      .withColumn("bk", expr("right(regexp_replace(name, '[^0-9]', ''), 4)"))
      .persist()
    val pairs = blocked.as("a").join(blocked.as("b"),
        col("a.nat") === col("b.nat") && col("a.bk") === col("b.bk")
          && col("a.rec_id") < col("b.rec_id"))
      .where(levenshtein(col("a.name"), col("b.name")) <= 2)
      .select(col("a.rec_id").as("ra"), col("b.rec_id").as("rb"))
      // persisted so the sizing count() below doesn't re-run the
      // levenshtein block join (pairs is duplicate-count-sized);
      // lifetime owned by the harness clearCache, like `blocked`
      .persist()
    // components via GraphX (d07 idiom): Pregel width derived from the
    // MEASURED edge volume via [[edgeParts]] — 1 partition at bench
    // scale, ∝ edges at 100 TB, never a hardcoded count
    import org.apache.spark.graphx.{Edge, Graph => XGraph}
    val edgeRdd = pairs.repartition(edgeParts(pairs.count())).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = XGraph.fromEdges(edgeRdd, defaultValue = ())
      .connectedComponents()
      .vertices // (rec_id, min rec_id in component)
    s.createDataFrame(cc).toDF("rec_id", "entity_id")
      .join(blocked.select("rec_id", "name"), Seq("rec_id"))
      .select(col("entity_id"), col("rec_id"), col("name"),
        (col("rec_id") === col("entity_id")).as("is_canonical"))
      .orderBy("rec_id")
  }

  /** d11: SEMANTIC dedup, cluster-bucketed — SemDeDup (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023) with the greedy min-id keeper rule: train
    * the s04 coarse quantizer (k-means, k=8, 3 rounds — the IDENTICAL
    * training, shared [[Similarity.trainQuantizer]] /
    * [[Similarity.duckTrainedCells]]), then flag a vector as a
    * duplicate iff some LOWER-id vector in its OWN cluster has cosine
    * ≥ 0.4. This is TO d05 (all-pairs, exact) what d02 is to d03: the
    * pair search runs CLUSTER-LOCAL — one shuffle on the cell key,
    * candidate volume Σ|cell|² instead of N² — and misses cross-cluster
    * duplicates BY CONTRACT (the approximation the paper accepts;
    * quantified for this corpus in DedupSpec against d05's exact pair
    * set). Emits the full per-vector verdict: (vec_id, cell, is_kept,
    * n_dup_lower), the survivor table a pipeline filters against.
    */
  val d11 = QueryDef(
    "d11_semdedup",
    Some(s"""${Vec.duckNormCte},
      ${Similarity.duckTrainedCells},
      pr AS (
        SELECT a.vec_id AS lo, b.vec_id AS hi
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
      m AS (SELECT hi, count(*) AS nd FROM pr GROUP BY hi)
      SELECT c.vec_id, c.cell, m.hi IS NULL AS is_kept,
             coalesce(m.nd, 0) AS n_dup_lower
      FROM cells c LEFT JOIN m ON c.vec_id = m.hi
      ORDER BY c.vec_id""")) { (s, d) =>
    val e = Vec.withNorm(Tables.embeddings(s, d)).cache()
    val centroids = Similarity.trainCoarse(s, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(col("vec_id"), lit(0L).as("cell"),
        lit(true).as("is_kept"), lit(0L).as("n_dup_lower"))
    else {
      // narrow zero-exchange assignment (s04's literal-centroid argmin)
      val cells = e.withColumn("cell", Similarity.cellOf(centroids))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      val dups = cells.as("a").join(cells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .where((expr(Vec.dot("a.v", "b.v")) / (col("a.nrm") * col("b.nrm"))) >= 0.4)
        .groupBy(col("b.vec_id").as("vec_id"))
        .agg(count(lit(1)).as("nd"))
      cells.join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          col("nd").isNull.as("is_kept"),
          coalesce(col("nd"), lit(0L)).as("n_dup_lower"))
        .orderBy("vec_id")
    }
  }

  /** d13: EDIT-DISTANCE near-dup — the character-level verifier the
    * token/shingle family (d02/d03/d04) can't express: pairs whose
    * normalized edit similarity `1 − lev/max(len)` is ≥ 0.8, i.e.
    * near-dups under insert/delete/substitute edits rather than
    * set-of-shingles overlap. Candidates are d02's SHIPPED MinHash
    * banding chain ([[minhashCandidates]] — evaluating a
    * reimplementation would prove nothing, the d12 discipline), so
    * generation is bucket-local and bounded; only surfaced pairs pay
    * the O(|a|·|b|) DP, via the engines' native `levenshtein`
    * kernels. The similarity is one IEEE division + subtraction of
    * exact ints — bit-identical across engines.
    *
    * Scale shape: banding bounds candidates exactly as in d02; the
    * two text join-backs key on the pair table (orders of magnitude
    * smaller than the corpus — AQE picks broadcast vs shuffle, the
    * d03 policy). The DP itself is the cost center, bounded two ways
    * — both EXACT, neither changes the result set: (1) a length
    * prefilter `5·|la−lb| ≤ max(la,lb)` (lev ≥ |la−lb|, so a bigger
    * gap can't reach sim 0.8) kills most candidates before any DP;
    * (2) the surviving pairs run Spark's THRESHOLD-bounded
    * levenshtein (Ukkonen band, O(τ·len) per pair) with τ =
    * ⌈max-corpus-len/5⌉ ≥ every pair's own 0.2·max budget — a kept
    * row's lev is exact, and a −1 overflow could only hit pairs the
    * sim filter drops anyway. Together: 3.8 s → sub-second at sf0.1.
    */
  val d13 = QueryDef(
    "d13_editdist_neardup",
    Some(s"""$gramCte,
      $duckMinhashChain,
      lv AS (SELECT c.da, c.db,
          CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
          1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
            CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS edit_sim
        FROM ce c
        JOIN documents a ON a.doc_id = c.da
        JOIN documents b ON b.doc_id = c.db)
      SELECT da, db, lev, edit_sim FROM lv
      WHERE edit_sim >= 0.8 ORDER BY da, db""")) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // τ for the banded DP: the corpus-wide max length bounds every
    // pair's own 0.2·max(la,lb) budget (one column-pruned scan)
    val maxLen = docs.agg(max(length(col("text")))).head().get(0) match {
      case null => 0
      case n: Int => n
    }
    // Spread the CANDIDATE PAIRS (ids only — 16 bytes/row) across the
    // cluster BEFORE attaching texts: the banded DP below is the cost
    // center, and without this the pair table arrives AQE-coalesced to
    // a byte-sized partition count (byte-based coalescing is blind to
    // per-row CPU — guide §2.5/§2.6), serializing the O(τ·len) DP. The
    // explicit count is never re-coalesced; the text join-backs are
    // broadcast-shaped and preserve it.
    val dpParts = math.max(s.sparkContext.defaultParallelism,
      s.sessionState.conf.numShufflePartitions)
    minhashCandidates(s, d).select("da", "db")
      .repartition(dpParts, col("da"), col("db"))
      .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), "da")
      .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), "db")
      // exact prune: lev ≥ |la−lb|, so 5·|la−lb| > max(la,lb) can't
      // reach sim 0.8 — evaluated before any DP runs
      .where(lit(5) * abs(length(col("ta")) - length(col("tb"))) <=
        greatest(length(col("ta")), length(col("tb"))))
      .withColumn("lev",
        levenshtein(col("ta"), col("tb"), maxLen / 5 + 1).cast("long"))
      .withColumn("edit_sim",
        lit(1.0) - col("lev").cast("double") /
          greatest(length(col("ta")), length(col("tb"))).cast("double"))
      // lev ≥ 0 drops the threshold-overflow sentinel (−1), whose
      // true distance is > τ ≥ the pair's budget → sim < 0.8 anyway
      .where(col("lev") >= 0L && col("edit_sim") >= 0.8)
      .select("da", "db", "lev", "edit_sim")
      .orderBy("da", "db")
  }

  /** d14: NEAR-DUP DECONTAMINATION across the train/test boundary —
    * the paraphrase-robust variant of x07's exact n-gram containment
    * (the GPT-3 appendix-C lesson: exact matching misses lightly
    * edited test copies): a TRAIN document is contaminated when it
    * band-collides with a TEST document at the d02 working threshold
    * (est J ≥ 0.5). Splits come from x05's content-addressed rule
    * (rolling-hash mod 10 — ONE definition across split, sample, and
    * now decontamination, so "which split is this doc in" can never
    * drift between operators); candidates are the SHIPPED
    * [[minhashCandidates]] chain (the d12/d13 discipline). Emits one
    * row per contaminated train doc: how many test docs it collides
    * with, the lowest such test doc, and the strongest estimate —
    * the drop-list a pretraining run consumes.
    *
    * Scale shape: d02's banding bounds the pair set; the two split
    * lookups join the PAIR table (orders smaller than the corpus —
    * AQE broadcast vs shuffle, the d03 policy); the final per-doc
    * aggregate is partial+final on the train doc id.
    */
  val d14 = QueryDef(
    "d14_neardup_decontam",
    Some(s"""$gramCte,
      $duckMinhashChain,
      sp AS (SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) % 10 AS m FROM documents),
      pair AS (
        SELECT CASE WHEN a.m < 8 THEN c.da ELSE c.db END AS doc_id,
               CASE WHEN a.m < 8 THEN c.db ELSE c.da END AS test_doc,
               c.est_jaccard
        FROM ce c JOIN sp a ON a.doc_id = c.da JOIN sp b ON b.doc_id = c.db
        WHERE c.est_jaccard >= 0.5
          AND ((a.m < 8 AND b.m = 9) OR (a.m = 9 AND b.m < 8)))
      SELECT doc_id, count(*) AS n_test_matches,
             min(test_doc) AS min_test_doc, max(est_jaccard) AS max_est
      FROM pair GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
    val sp = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.splitFingerprint.as("m"))
    val cand = minhashCandidates(s, d)
      .where(col("est_jaccard") >= 0.5)
      .select("da", "db", "est_jaccard")
    decontamCollisions(cand, sp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_test_matches"),
        min("test_doc").as("min_test_doc"), max("est_jaccard").as("max_est"))
      .orderBy("doc_id")
  }

  /** d14's train×test COLLISION rule over ANY (da, db, est_jaccard)
    * candidate table and (doc_id, m) split table — ONE implementation
    * so the capstone (c01) decontaminates with the standalone
    * operator's exact rule rather than an inline copy that can drift.
    * Emits (doc_id = the colliding TRAIN doc, test_doc, est_jaccard);
    * split lookups ride the bounded pair table, UNHINTED (AQE
    * broadcast vs shuffle, the d03 policy).
    */
  private[operators] def decontamCollisions(
      cand: DataFrame, sp: DataFrame): DataFrame =
    cand
      .join(sp.select(col("doc_id").as("da"), col("m").as("ma")), "da")
      .join(sp.select(col("doc_id").as("db"), col("m").as("mb")), "db")
      .where((col("ma") < 8 && col("mb") === 9) ||
        (col("ma") === 9 && col("mb") < 8))
      .select(
        when(col("ma") < 8, col("da")).otherwise(col("db")).as("doc_id"),
        when(col("ma") < 8, col("db")).otherwise(col("da")).as("test_doc"),
        col("est_jaccard"))

  /** d15's band geometries over the 32-minhash signature: (bands ×
    * rows) with bands·rows = 32, from no-banding (32×1 — every
    * single-hash collision is a candidate) to high-precision 4×8.
    * ONE definition, interpolated into the oracle.
    */
  private val SweepCfgs = Seq((32, 1), (16, 2), (8, 4), (4, 8))

  /** DuckDB: does SOME band of `b` bands × `r` rows fully agree
    * between sa and sb? (DuckDB lists are 1-indexed.)
    */
  private def duckBandAgree(b: Int, r: Int): String =
    s"len(list_filter(range(0, $b), j -> $r = len(list_filter(range(0, $r), " +
      s"t -> sa[CAST(j*$r + t + 1 AS INTEGER)] = sb[CAST(j*$r + t + 1 AS INTEGER)])))) > 0"

  /** d15: the BAND-GEOMETRY SWEEP — the s18 tuning-sweep shape
    * applied to LSH dedup: candidate recall AND precision at every
    * (bands × rows) split of the 32-minhash signature in ONE pass,
    * the S-curve measurement that CHOOSES the banding before a
    * production dedup (d12 grades the one shipped 16×2 config; every
    * real rollout sweeps the geometry and reads the curve). Protocol
    * is d12's: exact-Jaccard ground truth on the anchor-incident pair
    * sample ([[EvalSampleMod]] — anchors × corpus, linear, never
    * all-pairs), J ≥ 0.5 working threshold, both legs sharing the
    * population so rates compare like for like.
    *
    * The sweep costs ONE candidate join, not four: band agreements
    * NEST when boundaries align (an 8-row band agreeing ⇒ its two
    * 4-row halves agree ⇒ … ⇒ all its singles agree), so the finest
    * granularity — single-minhash buckets, config (32,1) — generates
    * the union of every config's candidates, and each coarser
    * config's membership is then pure per-pair array arithmetic over
    * the signatures the pair already carries (`exists(bands,
    * forall(rows, =))` — no second shuffle family, no per-config
    * probe). Anchor restriction rides ONE side of the bucket join
    * (the sampled-truth discipline), so candidate volume is 1/m of
    * the full single-hash join. Output: one row per geometry with
    * exact BIGINT counts and recall/precision as single IEEE
    * divisions — at sf0.1 the curve reads recall 1.0 → 0.98 as
    * precision climbs 0.0008 → 1.0 from (32,1) to (4,8): the
    * monotone S-curve trade, with the shipped 16×2 sitting at
    * recall 1.0 / precision 0.07 and 8×4 at 1.0 / 0.98 — exactly
    * the readout that would argue for widening d02's rows-per-band
    * on a corpus with this similarity profile.
    */
  val d15 = QueryDef(
    "d15_band_sweep",
    Some(s"""$gramCte,
      $duckMinhashChain,
      $duckSampledJaccardChain,
      tru AS (SELECT da, db FROM jacS WHERE jaccard >= 0.5),
      singles AS (SELECT doc_id, sg, i, sg[CAST(i + 1 AS INTEGER)] AS v
                  FROM sig, unnest(range(0, 32)) AS r(i)),
      candS AS (SELECT DISTINCT
          least(x.doc_id, y.doc_id) AS da, greatest(x.doc_id, y.doc_id) AS db,
          CASE WHEN x.doc_id < y.doc_id THEN x.sg ELSE y.sg END AS sa,
          CASE WHEN x.doc_id < y.doc_id THEN y.sg ELSE x.sg END AS sb
        FROM singles x JOIN singles y ON x.i = y.i AND x.v = y.v
          AND x.doc_id % $EvalSampleMod = 0 AND x.doc_id <> y.doc_id
          AND (y.doc_id % $EvalSampleMod <> 0 OR x.doc_id < y.doc_id)),
      fl AS (SELECT da, db,
          ${SweepCfgs.map { case (b, r) => s"${duckBandAgree(b, r)} AS c_r$r" }.mkString(",\n          ")}
        FROM candS),
      j AS (SELECT ${SweepCfgs.map { case (_, r) => s"fl.c_r$r" }.mkString(", ")},
          t.da IS NOT NULL AS is_true
        FROM fl FULL JOIN tru t ON fl.da = t.da AND fl.db = t.db),
      m AS (SELECT
          coalesce(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0) AS n_true,
          ${SweepCfgs.map { case (_, r) =>
            s"coalesce(sum(CASE WHEN coalesce(c_r$r, false) THEN 1 ELSE 0 END), 0) AS nc$r,\n          " +
            s"coalesce(sum(CASE WHEN coalesce(c_r$r, false) AND is_true THEN 1 ELSE 0 END), 0) AS nt$r"
          }.mkString(",\n          ")}
        FROM j),
      cfg AS (SELECT * FROM (VALUES ${SweepCfgs.map { case (b, r) => s"($b, $r)" }.mkString(", ")}) AS t(n_bands, rows_per_band))
      SELECT CAST(cfg.n_bands AS BIGINT) AS n_bands,
        CAST(cfg.rows_per_band AS BIGINT) AS rows_per_band,
        CAST(m.n_true AS BIGINT) AS n_true,
        CAST(CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nc$r" }.mkString(" ")} END AS BIGINT) AS n_cand,
        CAST(CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nt$r" }.mkString(" ")} END AS BIGINT) AS n_cand_true,
        CASE WHEN m.n_true = 0 THEN 0.0
             ELSE CAST(CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nt$r" }.mkString(" ")} END AS DOUBLE)
                  / CAST(m.n_true AS DOUBLE) END AS cand_recall,
        CASE WHEN CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nc$r" }.mkString(" ")} END = 0 THEN 0.0
             ELSE CAST(CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nt$r" }.mkString(" ")} END AS DOUBLE)
                  / CAST(CASE cfg.rows_per_band ${SweepCfgs.map { case (_, r) => s"WHEN $r THEN nc$r" }.mkString(" ")} END AS DOUBLE) END AS cand_precision
      FROM cfg CROSS JOIN m ORDER BY rows_per_band""")) { (s, d) =>
    val m = lit(EvalSampleMod.toLong)
    val singles = minhashSignatures(s, d)
      .select(col("doc_id"), col("sig"), posexplode(col("sig")).as(Seq("i", "v")))
    val anch = singles.where(pmod(col("doc_id"), m) === 0)
    val cand = anch.as("x").join(singles.as("y"),
        col("x.i") === col("y.i") && col("x.v") === col("y.v") &&
          col("x.doc_id") =!= col("y.doc_id") &&
          (pmod(col("y.doc_id"), m) =!= 0 || col("x.doc_id") < col("y.doc_id")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("da"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("db"),
        when(col("x.doc_id") < col("y.doc_id"), col("x.sig")).otherwise(col("y.sig")).as("sa"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.sig")).otherwise(col("x.sig")).as("sb"))
      .distinct()
    val flags = cand.select(col("da") +: col("db") +: SweepCfgs.map { case (b, r) =>
      expr(s"exists(sequence(0, ${b - 1}), j -> " +
        s"forall(sequence(0, ${r - 1}), t -> sa[j*$r + t] = sb[j*$r + t]))").as(s"c_r$r")
    }: _*)
    val tru = sampledJaccardPairs(s, d).where(col("jaccard") >= 0.5)
      .select(col("da"), col("db"), lit(1L).as("t"))
    val agg = flags.join(tru, Seq("da", "db"), "full")
      .agg(
        // the d12 coalesce discipline: an EMPTY corpus aggregates zero
        // rows and must emit the oracle's zero counts, not NULLs
        coalesce(sum(coalesce(col("t"), lit(0L))), lit(0L)).as("n_true"),
        SweepCfgs.flatMap { case (_, r) => Seq(
          coalesce(sum(when(coalesce(col(s"c_r$r"), lit(false)), 1L).otherwise(0L)),
            lit(0L)).as(s"nc$r"),
          coalesce(sum(when(coalesce(col(s"c_r$r"), lit(false)) && col("t").isNotNull, 1L)
            .otherwise(0L)), lit(0L)).as(s"nt$r"))
        }: _*)
    agg
      .select(explode(array(SweepCfgs.map { case (b, r) =>
        struct(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          col("n_true"), col(s"nc$r").as("n_cand"), col(s"nt$r").as("n_cand_true"))
      }: _*)).as("s"))
      .select(col("s.n_bands").as("n_bands"),
        col("s.rows_per_band").as("rows_per_band"),
        col("s.n_true").as("n_true"), col("s.n_cand").as("n_cand"),
        col("s.n_cand_true").as("n_cand_true"))
      .select(col("n_bands"), col("rows_per_band"), col("n_true"),
        col("n_cand"), col("n_cand_true"),
        when(col("n_true") === 0L, lit(0.0))
          .otherwise(col("n_cand_true").cast("double") / col("n_true").cast("double"))
          .as("cand_recall"),
        when(col("n_cand") === 0L, lit(0.0))
          .otherwise(col("n_cand_true").cast("double") / col("n_cand").cast("double"))
          .as("cand_precision"))
      .orderBy("rows_per_band")
  }

  /** d17: CONTAINMENT near-dup detection — pairs where the SMALLER
    * shingle set is mostly inside the larger one: i / min(|A|, |B|) ≥
    * 0.8 over the df-capped distinct-3-gram sets.
    * The asymmetric complement of d03/d08's Jaccard: a snippet quoted
    * inside a long page scores near-zero Jaccard (the union is huge)
    * but containment ≈ 1 — exactly the doc-inside-doc duplication
    * (quotes, aggregator pages, concatenated dumps) resemblance-based
    * dedup misses by construction (Broder 1997 distinguishes the two
    * measures for this reason). Output keeps both set sizes so the
    * direction (who contains whom) is read off n_a vs n_b.
    *
    * Determinism: the threshold test is EXACT — `10·i ≥ 8·min(n_a,
    * n_b)` in BIGINT (the e25/x18 cleared-denominator discipline);
    * the reported containment is ONE IEEE division of exact integers.
    *
    * Scale shape: d08's skew-valved inverted-index self-join verbatim
    * — hot shingles (df > [[DfCap]]) leave the index BEFORE the join
    * via a broadcast anti join, bounding every join bucket at df ≤
    * cap rows, so the pair enumeration is Σ df² over CAPPED dfs,
    * never quadratic in a hot key. The df cap is also semantics here
    * (shared boilerplate shingles shouldn't vote for containment);
    * at real scale it is set relative to corpus size (df ≤ ε·N).
    */
  val d17 = QueryDef(
    "d17_containment",
    Some(s"""$gramCte,
      df AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
      kept AS (SELECT doc_id, grams.g FROM grams JOIN df ON grams.g = df.g WHERE df <= $DfCap),
      cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      inter AS (SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS i
                FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
      SELECT da, db, CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        CAST(i AS BIGINT) AS n_shared,
        CAST(i AS DOUBLE) / least(ca.n, cb.n) AS containment
      FROM inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
      WHERE i * 10 >= least(ca.n, cb.n) * 8
      ORDER BY da, db""")) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
      .cache()
    val hot = g.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") > DfCap).select("g")
    val kept = g.join(broadcast(hot), Seq("g"), "left_anti")
    val n = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = kept.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    // count lookups ride the post-aggregation pair table, UNHINTED
    // (the jaccardFrom policy: AQE broadcasts n while it is small)
    inter
      .join(n.as("na"), col("da") === col("na.doc_id"))
      .join(n.as("nb"), col("db") === col("nb.doc_id"))
      .where(col("i") * 10 >= least(col("na.n"), col("nb.n")) * 8)
      .select(col("da"), col("db"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"),
        col("i").as("n_shared"),
        (col("i").cast("double") / least(col("na.n"), col("nb.n")))
          .as("containment"))
      .orderBy("da", "db")
  }

  /** d18: CONTAINMENT-ESTIMATE evaluation — the d12 protocol applied
    * to d17's measure: MinHash signatures estimate RESEMBLANCE (Ĵ),
    * not containment, but with the exact set sizes (which a dedup
    * index stores anyway) containment derives algebraically —
    * J = i/(|A|+|B|−i) ⟹ i = J·(|A|+|B|)/(1+J) ⟹
    * Ĉ = Ĵ·(|A|+|B|) / ((1+Ĵ)·min) (Broder 1997's size-augmented
    * containment estimator). d18 grades that estimator per SHIPPED
    * d02 candidate pair against the exact full-set containment —
    * the readout that decides whether the cheap signature path can
    * replace d17's exact index join at scale. NOTE the semantics
    * difference from d17: signatures see ALL shingles, so the truth
    * leg here is FULL-set containment, not d17's df-capped variant.
    *
    * Determinism: Ĵ is an exact k/32 double; the estimator is the
    * IDENTICAL formula text in both engines (same IEEE op order);
    * the exact leg is integer counts and ONE division; band-collision
    * pairs with zero shared shingles coalesce to exact 0 (LEFT join).
    *
    * Scale shape: candidates are the bounded d02 banding output; the
    * truth leg pays d03's documented exactness-join cost ONCE (the
    * d12 convention for evaluation ground truth — an eval runs
    * offline, not per-query).
    */
  val d18 = QueryDef(
    "d18_containment_eval",
    Some(s"""$gramCte,
      $duckMinhashChain,
      $duckJaccardChain
      SELECT da, db, n_a, n_b, n_shared, est_jaccard,
        est_containment, exact_containment,
        abs(est_containment - exact_containment) AS abs_err
      FROM (
        SELECT c.da, c.db,
          CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
          CAST(coalesce(iv.i, 0) AS BIGINT) AS n_shared, c.est_jaccard,
          c.est_jaccard * (ca.n + cb.n) / ((1 + c.est_jaccard) * least(ca.n, cb.n)) AS est_containment,
          CAST(coalesce(iv.i, 0) AS DOUBLE) / least(ca.n, cb.n) AS exact_containment
        FROM ce c JOIN cnt ca ON ca.doc_id = c.da
        JOIN cnt cb ON cb.doc_id = c.db
        LEFT JOIN inter iv ON iv.da = c.da AND iv.db = c.db)
      ORDER BY da, db""")) { (s, d) =>
    val cand = minhashCandidates(s, d).select("da", "db", "est_jaccard")
    val g = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
      .cache()
    val n = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = g.as("x").join(g.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
    cand
      .join(n.as("na"), col("da") === col("na.doc_id"))
      .join(n.as("nb"), col("db") === col("nb.doc_id"))
      .join(inter, Seq("da", "db"), "left")
      .select(col("da"), col("db"), col("na.n").as("n_a"), col("nb.n").as("n_b"),
        coalesce(col("i"), lit(0L)).as("n_shared"), col("est_jaccard"))
      .withColumn("est_containment",
        expr("est_jaccard * (n_a + n_b) / ((1 + est_jaccard) * least(n_a, n_b))"))
      .withColumn("exact_containment",
        expr("CAST(n_shared AS DOUBLE) / least(n_a, n_b)"))
      .withColumn("abs_err", expr("abs(est_containment - exact_containment)"))
      .orderBy("da", "db")
  }

  /** d19: DUPLICATE-CLUSTER SIZE PROFILE — the capacity-planning
    * readout over the SHIPPED component assignment: how many clusters
    * exist at each size, how many documents they hold, and how many
    * rows deduplication would actually remove (n_docs − n_clusters
    * per size). This is the histogram every dedup rollout decision
    * reads first — a corpus whose mass sits in a few giant clusters
    * dedups cheaply and dangerously (one bad edge merges unrelated
    * docs); one dominated by pairs dedups safely but saves little.
    * Singletons are INCLUDED (size-1 clusters = the untouched corpus
    * mass): components only label docs that have an edge, so the
    * corpus left-join is the operator's point, not decoration.
    *
    * Stage reuse: the labels ARE d16's output (the O(log d)
    * pointer-jumping face — the family's scale path), which itself
    * reads the memoized near-dup edge operand; this entry adds one
    * corpus-keyed left join and two bounded aggregations. All counts
    * exact BIGINTs.
    */
  val d19 = QueryDef(
    "d19_cluster_profile",
    Some(s"""$gramCte,
      $survivorCtes,
      surv AS (SELECT a AS doc_id, least(a, min(b)) AS survivor
        FROM reach GROUP BY a),
      allv AS (SELECT d.doc_id, coalesce(s.survivor, d.doc_id) AS survivor
        FROM documents d LEFT JOIN surv s ON s.doc_id = d.doc_id),
      cl AS (SELECT survivor, count(*) AS sz FROM allv GROUP BY survivor)
      SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(sz) AS BIGINT) AS n_docs,
        CAST(sum(sz - 1) AS BIGINT) AS n_collapsible
      FROM cl GROUP BY sz ORDER BY sz""")) { (s, d) =>
    val labels = d16.fn(s, d).select(col("doc_id"), col("survivor"))
    val allv = Tables.documents(s, d).select(col("doc_id").as("did"))
      .join(labels, col("did") === col("doc_id"), "left")
      .select(col("did"),
        coalesce(col("survivor"), col("did")).as("survivor"))
    allv.groupBy("survivor").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        sum(col("sz") - 1).as("n_collapsible"))
      .orderBy("cluster_size")
  }

  /** d20: the DEDUP DIVIDEND — what deduplication is actually worth,
    * priced in TOKENS: near-dup clusters weighted by token mass, not
    * document count (d19's histogram), because training budgets are
    * token budgets — 50 duplicate tweets and 2 duplicate books are
    * the same d19 rows-removed story but a 1000× different training
    * story. One corpus row: cluster/doc counts from the SHIPPED d16
    * labels, tokens held by dup clusters, tokens REMOVABLE
    * (everything but each cluster's survivor), and the dividend —
    * removable tokens as a fraction of the whole corpus — the number
    * that decides whether the dedup pass pays for itself.
    *
    * Exactness: token counts and sums are exact BIGINTs; the dividend
    * is ONE IEEE division against the one-row corpus-token aggregate
    * (the q50 cross shape, bounded by construction).
    *
    * Scale shape: d16's labels are dup-cluster-sized; the token join
    * touches only labeled docs (broadcast-or-hash by AQE); the corpus
    * total is one partial+final aggregate over a single column.
    */
  val d20 = QueryDef(
    "d20_dedup_dividend",
    Some(s"""$gramCte,
      $survivorCtes,
      surv AS (SELECT a AS doc_id, least(a, min(b)) AS survivor
        FROM reach GROUP BY a),
      tok AS (SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
      cl AS (SELECT s.survivor,
          count(*) AS sz,
          CAST(sum(t.nt) AS BIGINT) AS tot,
          CAST(sum(CASE WHEN s.doc_id <> s.survivor THEN t.nt ELSE 0 END)
            AS BIGINT) AS rem
        FROM surv s JOIN tok t ON t.doc_id = s.doc_id
        GROUP BY s.survivor),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
          CAST(sum(sz) AS BIGINT) AS n_docs,
          CAST(sum(sz) - count(*) AS BIGINT) AS n_removable,
          CAST(sum(tot) AS BIGINT) AS dup_tokens,
          CAST(sum(rem) AS BIGINT) AS tokens_removable
        FROM cl),
      tt AS (SELECT CAST(sum(nt) AS BIGINT) AS corpus_tokens FROM tok)
      SELECT agg.n_clusters, agg.n_docs, agg.n_removable,
        agg.dup_tokens, agg.tokens_removable, tt.corpus_tokens,
        CAST(agg.tokens_removable AS DOUBLE) / tt.corpus_tokens AS dividend
      FROM agg CROSS JOIN tt""")) { (s, d) =>
    val labels = d16.fn(s, d).select(col("doc_id"), col("survivor"))
    val tok = Tables.documents(s, d)
      .select(col("doc_id").as("tid"),
        graft.Qdsl.big(size(split(col("text"), " "))).as("nt"))
    val cl = labels.join(tok, col("doc_id") === col("tid"))
      .groupBy("survivor")
      .agg(count(lit(1)).as("sz"), sum("nt").as("tot"),
        sum(when(col("doc_id") =!= col("survivor"), col("nt"))
          .otherwise(0L)).as("rem"))
    val agg = cl.agg(count(lit(1)).as("n_clusters"),
      sum("sz").as("n_docs"),
      (sum("sz") - count(lit(1))).as("n_removable"),
      sum("tot").as("dup_tokens"),
      sum("rem").as("tokens_removable"))
    val tt = tok.agg(sum("nt").as("corpus_tokens"))
    agg.crossJoin(broadcast(tt))
      .select(col("n_clusters"), col("n_docs"), col("n_removable"),
        col("dup_tokens"), col("tokens_removable"), col("corpus_tokens"),
        (col("tokens_removable").cast("double") / col("corpus_tokens"))
          .as("dividend"))
  }
}
