package graft.operators

import graft.{QueryDef, Tables, Vec}
import graft.Qdsl._
import org.apache.spark.sql.functions._

/** The cross-family pipeline capstone: x09 curates text, m13 curates
  * images — c01 is the END-TO-END training-data program the whole
  * registry exists to serve, composed from the SHIPPED stage
  * operators (never reimplementations, the x09/d12 discipline):
  *
  *   corpus → quality gate (x03's scorer) → near-dup collapse (d02's
  *   banding chain, keep-lowest) → train/valid/test split (x05's
  *   content-addressed rule) → cross-split decontamination (d14's
  *   collision rule) → sequence packing (x12's distributed prefix
  *   sum) → sharded parquet landing with a K1d `_MANIFEST.json` +
  *   recount audit.
  *
  * The reference's whole program is one stage of this pipeline — the
  * landing (chiv.go:96–140 extract→format→upload); c01 shows the
  * landing as the LAST stage of the program a 100 TB training-data
  * run actually executes.
  *
  * Scale shape / shared scans: the corpus is read once per STAGE
  * FAMILY, not once per stage — (1) the per-document attribute pass
  * (quality features + split fingerprint + token count fused into ONE
  * scan-and-project, cached); (2) the shingle pass feeding d02's
  * banding (its band self-join reuses the signature shuffle, not the
  * scan). Every drop stage then joins the BOUNDED pair table or the
  * cached per-doc frame — the corpus is never rescanned or re-paired.
  * PipelineSpec pins the scan count; PlanDriftSpec locks the plan.
  */
object Pipeline {

  def queries: Seq[QueryDef] = Seq(c01, c02, c04, c05, c06, c07)

  /** Token budget per packed shard — x12's constant, one definition. */
  private val PackBudget = 2000L

  /** c01's landing memo: content-keyed build-once (the s05/q37
    * discipline) — the sharded landing + manifest write/audit runs
    * once per (catalog, source content); repeat queries reuse it.
    */
  private val landMemo = new graft.engine.CatalogMemo[String]

  /** Land the packed train shards as a sharded parquet archive with a
    * K1d manifest, then re-audit it (shard loss / drift / intrusion /
    * corruption all surface) — a landing that fails its own audit
    * must fail the pipeline, not pass silently.
    */
  private def ensureLanded(s: org.apache.spark.sql.SparkSession, d: String,
      packed: org.apache.spark.sql.DataFrame): Unit =
    landMemo.buildOnce(s, d) { ck =>
      val destDir = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/" + graft.engine.CatalogMemo.tableName("graft_c01_land", ck)
      val eng = new graft.engine.Engine(s)
      val dest = eng.archiveDF(packed, destDir, "train_shards",
        _.copy(sharded = true, format = graft.engine.Format.Parquet))
      eng.writeManifestAudited(dest, graft.engine.Format.Parquet, "c01 landing")
      dest
    }

  /** c01: the curation capstone (see object doc). Output is the
    * per-shard packing summary — the artifact a training run's data
    * loader consumes (shard → doc/token counts and id range); the
    * sharded parquet + manifest landing happens en route.
    *
    * Stage semantics are the STANDALONE operators', composed as set
    * subtractions over the same global artifacts: quality from x03's
    * scorer; near-dup drop = the higher id of every d02 candidate at
    * the est J ≥ 0.5 working threshold (keep-lowest, the d11/m13
    * collapse rule); split membership from x05's fp mod 10; the
    * decontamination drop-list exactly d14's train∩test collision
    * rule; packing exactly x12's prefix-sum shard assignment over the
    * surviving train docs. The oracle chains the SAME shared CTE
    * fragments (gramCte, duckMinhashChain, duckQualityCase, the x04
    * rolling-hash fold), so no stage can drift from its standalone
    * twin.
    */
  val c01 = QueryDef(
    "c01_curation_pipeline",
    Some(s"""${Dedup.gramCte},
      ${Dedup.duckMinhashChain},
      q AS (SELECT doc_id, ${TextAnalysis.duckQualityCase} AS quality FROM (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)),
      sp AS (SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) % 10 AS m FROM documents),
      dup AS (SELECT DISTINCT db AS doc_id FROM ce WHERE est_jaccard >= 0.5),
      cont AS (SELECT DISTINCT CASE WHEN a.m < 8 THEN c.da ELSE c.db END AS doc_id
        FROM ce c JOIN sp a ON a.doc_id = c.da JOIN sp b ON b.doc_id = c.db
        WHERE c.est_jaccard >= 0.5
          AND ((a.m < 8 AND b.m = 9) OR (a.m = 9 AND b.m < 8))),
      kept AS (SELECT t.doc_id, t.n_tokens FROM (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents) t
        JOIN q ON q.doc_id = t.doc_id JOIN sp ON sp.doc_id = t.doc_id
        WHERE q.quality <> 'low' AND sp.m < 8
          AND t.doc_id NOT IN (SELECT doc_id FROM dup)
          AND t.doc_id NOT IN (SELECT doc_id FROM cont)),
      packed AS (SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackBudget
            AS BIGINT) AS shard_id
        FROM kept)
      SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM packed GROUP BY shard_id ORDER BY shard_id""")) { (s, d) =>
    // stage family 1 — per-document attributes: quality features,
    // split fingerprint, token count, fused into ONE corpus scan.
    // NOT documentsSpread: measured r8 (surgical interleaved A/B)
    // c01 runs 2.41 s unspread vs 3.33 s spread — the attribute frame
    // here is slim (no text carried) and TwoPhase's range sampling
    // pays for the extra exchange; contrast c07, where the SAME feed
    // carries text into a text-keyed aggregate and the spread wins.
    // Also NOT the d13 slim-spread shape (r9, VERDICT item 6): spread
    // the 8-byte doc ids to 32 partitions and broadcast-join the text
    // back before scoring — interleaved A/B min 3.80 s vs 3.17 s
    // unspread (med 4.56 vs 3.36): the broadcast of the text column
    // costs more than the parallel scoring saves on this slim
    // attribute frame, the same verdict as r8's full-frame spread.
    val perDoc = TextAnalysis.qualityScored(Tables.documents(s, d))
      .withColumn("m", TextAnalysis.splitFingerprint)
      .select(col("doc_id"), col("quality"), col("m"), col("n_tokens"))
      .cache()
    // stage family 2 — the SHIPPED d02 banding chain at the working
    // threshold; the pair table is bounded (banding, never all-pairs)
    val cand = Dedup.minhashCandidates(s, d)
      .where(col("est_jaccard") >= 0.5)
      .select("da", "db", "est_jaccard")
      .cache()
    // near-dup collapse: keep-lowest — drop the higher id of each pair
    val dup = cand.select(col("db").as("doc_id")).distinct()
    // decontamination: the SHIPPED d14 collision rule (one
    // implementation — Dedup.decontamCollisions; splits from the
    // cached per-doc frame)
    val sp = perDoc.select(col("doc_id"), col("m"))
    val cont = Dedup.decontamCollisions(cand, sp)
      .select("doc_id").distinct()
    val kept = perDoc
      .where(col("quality") =!= "low" && col("m") < 8)
      .join(dup, Seq("doc_id"), "left_anti")
      .join(cont, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"))
    // stage family 3 — x12's two-phase distributed prefix sum over
    // the survivors (range partitions sized to the data; persist pins
    // ONE range sampling across both phases — TwoPhase.scala)
    val kRows = kept.count()
    import org.apache.spark.sql.Encoders
    val tupEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val typed = kept
      .repartitionByRange(TwoPhase.sizedParts(s, kRows), col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)](tupEnc)
      .persist()
    val byPid = TwoPhase.partitionPrefix[(Long, Long)](
      typed, 0L, (acc, t) => acc + t._2, _ + _)
    val packed = typed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var running = byPid(pid)
      it.map { case (id, n) =>
        val before = running
        running += n
        (id, n, before / PackBudget)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "n_tokens", "shard_id")
    // stage family 4 — the landing: sharded parquet + K1d manifest +
    // audit, content-keyed build-once; an empty corpus lands nothing
    // (the s05 empty contract)
    if (kRows > 0) ensureLanded(s, d, packed)
    packed.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), big(sum("n_tokens")).as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")
  }

  /** c02's index-landing memo: content-keyed build-once, the same
    * discipline as [[landMemo]] — the survivor index is landed (and
    * audited) once per (catalog, source content).
    */
  private val idxMemo = new graft.engine.CatalogMemo[String]

  /** Land an index frame as a bucketed catalog table (bucketed by
    * cell — the s05 probe layout) and audit the landed directory with
    * a K1d `_MANIFEST.json` recount, exactly as c01 audits its shard
    * landing: an index a retrieval service will trust must prove it
    * is still the index that was written. One memo + table-name base
    * per consumer (c02's survivor index, c06's lifecycle base).
    * Returns the content-keyed physical table name.
    */
  private def ensureIndexLanded(s: org.apache.spark.sql.SparkSession,
      d: String, surv: org.apache.spark.sql.DataFrame, buckets: Int,
      memo: graft.engine.CatalogMemo[String] = idxMemo,
      tableBase: String = "graft_c02_index"): String = {
    val tbl = memo.buildOnce(s, d) { ck =>
      val name = graft.engine.CatalogMemo.tableName(tableBase, ck)
      val eng = new graft.engine.Engine(s)
      eng.archiveBucketed(surv, name, "cell", buckets)
      eng.writeManifestAudited(landedPath(s, name), graft.engine.Format.Parquet,
        s"$tableBase landing")
      name
    }
    // the (memo, tableBase) pairing is one-to-one BY CONTRACT — a
    // caller reusing a memo under a different base would otherwise be
    // handed a name that was never landed; make that loud (a hit's
    // name is `<base>_<hex>` of the same content key)
    require(tbl.substring(0, tbl.lastIndexOf('_')) == tableBase,
      s"graft: memo/tableBase mismatch: memo holds $tbl but caller's " +
        s"base is $tableBase — use one CatalogMemo per tableBase")
    tbl
  }

  /** A catalog table's landed directory (where its manifest goes). */
  private def landedPath(s: org.apache.spark.sql.SparkSession, tbl: String): String =
    s.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).toString

  /** c02: the RETRIEVAL-INDEX capstone — c01's end-to-end discipline
    * applied to the embedding side of a training-data platform. One
    * DAG composes the SHIPPED similarity/dedup stages (never
    * reimplementations, the x09/d12/c01 discipline):
    *
    *   embeddings → SemDeDup collapse (d11's cluster-local ≥ 0.4
    *   keep-lowest rule over the shared trained coarse quantizer) →
    *   survivor index LANDED bucketed-by-cell with a K1d
    *   `_MANIFEST.json` + recount audit ([[ensureIndexLanded]]) →
    *   hard-negative mining (s13's probe-2-cells, top-3-per-anchor
    *   rule) run against the LANDED survivor index → per-cell build
    *   report.
    *
    *   Output: one row per coarse cell — survivors kept, duplicates
    *   collapsed, hard-negative triplets mined from anchors in the
    *   cell, and the strongest mined negative's cosine — the
    *   artifact an embedding-training run reviews before consuming
    *   the index (and its triplets) as training data.
    *
    * Scale shape / shared passes: the corpus is normed and assigned
    * ONCE (cached `cells` frame: the d11 collapse, the per-cell
    * kept/dropped readout, and the survivor index all derive from
    * it); the dedup pair search is cluster-local (Σ|cell|², never
    * N²); the mining stage joins survivors to the landed index on
    * the bucketed cell key with per-anchor probe selection baked as
    * centroid literals (no shuffle to pick probes); triplet top-3 is
    * one window over the bounded candidate set. At 100 TB each stage
    * keeps the bound it has standalone — the capstone adds no new
    * join shape, only composition.
    *
    * Oracle: the SAME shared CTE chains ([[Vec.duckNormCte]],
    * [[Similarity.duckTrainedCells]], [[Similarity.duckProbes]] with
    * src = the survivor CTE), so no stage can drift from its
    * standalone twin (d11/s13's exact rules replayed over survivors).
    */
  val c02 = QueryDef(
    "c02_retrieval_pipeline",
    Some(s"""${Vec.duckNormCte},
      ${Similarity.duckTrainedCells},
      pr AS (
        SELECT a.vec_id AS lo, b.vec_id AS hi
        FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${Vec.duckDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
      dup AS (SELECT DISTINCT hi AS vec_id FROM pr),
      flags AS (
        SELECT c.vec_id, c.cell, c.v, c.nrm, dup.vec_id IS NOT NULL AS isdup
        FROM cells c LEFT JOIN dup ON dup.vec_id = c.vec_id),
      surv AS (SELECT vec_id, cell, v, nrm FROM flags WHERE NOT isdup),
      ${Similarity.duckProbes("c3", "pb", 2, "surv")},
      cand AS (
        SELECT a.vec_id AS va, a.cell AS acell, x.vec_id AS nn,
               ${Vec.duckDot("a.v", "x.v")} / (a.nrm * x.nrm) AS c
        FROM surv a JOIN pb ON pb.vec_id = a.vec_id
        JOIN surv x ON x.cell = pb.cell AND x.vec_id <> a.vec_id
        JOIN n al ON al.vec_id = a.vec_id
        JOIN n xl ON xl.vec_id = x.vec_id
        WHERE xl.label <> al.label),
      trip AS (SELECT va, acell, nn, c FROM (
          SELECT va, acell, nn, c,
                 row_number() OVER (PARTITION BY va ORDER BY c DESC, nn) AS rn
          FROM cand)
        WHERE rn <= 3),
      base AS (SELECT cell,
          sum(CASE WHEN isdup THEN 0 ELSE 1 END) AS n_kept,
          sum(CASE WHEN isdup THEN 1 ELSE 0 END) AS n_dropped
        FROM flags GROUP BY cell),
      t AS (SELECT acell AS cell, count(*) AS n_triplets,
          max(c) AS top_neg_cos
        FROM trip GROUP BY acell)
      SELECT b.cell, CAST(b.n_kept AS BIGINT) AS n_kept,
        CAST(b.n_dropped AS BIGINT) AS n_dropped,
        CAST(coalesce(t.n_triplets, 0) AS BIGINT) AS n_triplets,
        coalesce(t.top_neg_cos, 0.0) AS top_neg_cos
      FROM base b LEFT JOIN t ON t.cell = b.cell
      ORDER BY b.cell""")) { (s, d) =>
    // private co-session: catalog-scoped index table + bucketed-scan
    // conf must not leak (the s05/s06/s13 discipline)
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val centroids = Similarity.trainCoarse(co, d, e)
    if (centroids.isEmpty)
      e.limit(0).select(lit(0L).as("cell"), lit(0L).as("n_kept"),
        lit(0L).as("n_dropped"), lit(0L).as("n_triplets"),
        lit(0.0).as("top_neg_cos"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // one normed-and-assigned pass feeds every downstream stage
      val cells = e.withColumn("cell", Similarity.cellOf(centroids))
        .select(col("vec_id"), col("label"), col("cell"), col("v"), col("nrm"))
        .cache()
      // stage 1 — SemDeDup collapse: d11's cluster-local keep-lowest
      // rule verbatim (pair search bounded by Σ|cell|²)
      val dup = cells.as("a").join(cells.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .where((expr(Vec.dot("a.v", "b.v")) / (col("a.nrm") * col("b.nrm"))) >= 0.4)
        .select(col("b.vec_id").as("vec_id")).distinct()
      val flags = cells.join(
        dup.withColumn("isdup", lit(true)), Seq("vec_id"), "left")
      val surv = flags.where(col("isdup").isNull)
        .select(col("vec_id"), col("label"), col("cell"), col("v"), col("nrm"))
      // stage 2 — land the survivor index bucketed by cell + audit
      // (an empty corpus lands nothing, the c01/s05 empty contract)
      val idxTable = ensureIndexLanded(co, d, surv,
        Similarity.ivfBuckets(centroids))
      // stage 3 — s13's hard-negative rule against the LANDED index:
      // probe cells picked narrowly from centroid literals, candidates
      // joined bucket-locally, top-3 per anchor
      val probes = surv.select(col("vec_id").as("va"),
          col("cell").as("acell"), col("v").as("qv"), col("nrm").as("qn"),
          col("label").as("albl"),
          explode(slice(array_sort(array(
            Similarity.probeStructs(centroids): _*)), 1, 2)).as("p"))
        .select(col("va"), col("acell"), col("qv"), col("qn"), col("albl"),
          col("p.cell").as("pcell"))
      val trip = probes.join(co.table(idxTable),
          col("pcell") === col("cell") && col("vec_id") =!= col("va"))
        .where(col("label") =!= col("albl"))
        .select(col("va"), col("acell"), col("vec_id").as("nn"),
          (call_function("vec_dot", col("qv"), col("v")) /
            (col("qn") * col("nrm"))).as("c"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("va").orderBy(col("c").desc, col("nn"))))
        .where(col("rn") <= 3)
      // stage 4 — the per-cell build report
      val base = flags.groupBy("cell").agg(
        sum(when(col("isdup").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("isdup").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      val t = trip.groupBy(col("acell").as("cell"))
        .agg(count(lit(1)).as("n_triplets"), max(col("c")).as("top_neg_cos"))
      base.join(t, Seq("cell"), "left")
        .select(col("cell"), big(col("n_kept")).as("n_kept"),
          big(col("n_dropped")).as("n_dropped"),
          big(coalesce(col("n_triplets"), lit(0L))).as("n_triplets"),
          coalesce(col("top_neg_cos"), lit(0.0)).as("top_neg_cos"))
        .orderBy("cell")
    }
  }

  /** c04's landing memo: content-keyed build-once, the [[landMemo]]
    * discipline applied to the image archive.
    */
  private val imgLandMemo = new graft.engine.CatalogMemo[String]

  /** Land the curated image assets (original encoded bytes + their
    * decode-derived metadata) as a Z-ORDER-CLUSTERED parquet table —
    * `archiveClustered` on (width, height), the layout a size-
    * predicated consumer scans ("all ≥ 512×512 frames") with
    * row-group skipping on BOTH dims — then write + audit a K1d
    * `_MANIFEST.json` over the landed directory, the c01/c02 rule:
    * a landing that fails its own recount audit fails the pipeline.
    * Returns the content-keyed physical table name.
    */
  private def ensureImagesLanded(s: org.apache.spark.sql.SparkSession,
      d: String, curated: org.apache.spark.sql.DataFrame): String =
    imgLandMemo.buildOnce(s, d) { ck =>
      val tbl = graft.engine.CatalogMemo.tableName("graft_c04_images", ck)
      val eng = new graft.engine.Engine(s)
      eng.archiveClustered(curated, tbl, "width", "height")
      eng.writeManifestAudited(landedPath(s, tbl), graft.engine.Format.Parquet,
        "c04 landing")
      tbl
    }

  /** c04: the MULTIMODAL curation-landing capstone — m13 ends at a
    * verdict table; c04 ends where c01 does, at an AUDITED ARCHIVE:
    *
    *   image assets → m13's curation chain over ONE CACHED decode
    *   pass ([[MultimodalOps.curatedImageMetrics]] — the shipped
    *   stages: exact phash collapse, near-dup keep-lowest over the
    *   group table, m10 entropy gate) → curated bytes re-attached
    *   (a narrow bytes-only second read; NEVER a second decode) →
    *   landed Z-order-clustered on (width, height) with a K1d
    *   `_MANIFEST.json` + recount audit → per-codec landing report.
    *
    * Output is the report a training run reviews before consuming
    * the archive: per codec, assets landed, source members they
    * represent, pixel volume, exact nano-entropy mass, and the id
    * range. The oracle aggregates the SAME synthetic-pixel chain
    * m13's verdict table replays ([[MultimodalOps.duckCuratedChain]]),
    * so the landed set provably equals the curated set.
    *
    * Scale shape: curation keeps m13's bounds (group-table banding,
    * never the corpus); the bytes re-attach is one equi-join where
    * the curated side is collapse-output-sized (AQE broadcasts it);
    * the landing inherits archiveClustered's range-partitioned
    * write (partition count a caller-visible default, data-derived
    * clustering codes); the report is a per-codec aggregate of the
    * CACHED metrics — the decode pass stays exactly one
    * (PipelineSpec pins scan counts and the audit).
    */
  val c04 = QueryDef(
    "c04_multimodal_landing",
    Some(s"""${MultimodalOps.duckCuratedChain},
      cur AS (SELECT reps.rep AS asset_id,
          CASE WHEN reps.rep % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
          reps.members, ent.n, ent.s
        FROM reps JOIN g ON g.doc_id = reps.rep JOIN ent ON ent.doc_id = reps.rep
        WHERE ent.s >= ent.n * 1000000000)
      SELECT codec, CAST(count(*) AS BIGINT) AS n_assets,
        CAST(sum(members) AS BIGINT) AS n_members,
        CAST(sum(n) AS BIGINT) AS total_px,
        CAST(sum(s) AS BIGINT) AS ent_nano_total,
        min(asset_id) AS first_asset, max(asset_id) AS last_asset
      FROM cur GROUP BY codec ORDER BY codec""")) { (s, d) =>
    val curated = MultimodalOps.curatedImageMetrics(s, d)
    // re-attach the original encoded bytes for a SERVABLE archive: a
    // bytes-only pass over the asset source (no decode), equi-joined
    // to the small curated side
    val withBytes = graft.multimodal.MultimodalPipeline.imageAssets(s, d)
      .select(col("asset_id"), col("data"))
      .join(curated, Seq("asset_id"))
      .select(col("asset_id"), col("codec"), col("width"), col("height"),
        col("members"), col("phash"), col("ent_nano"), col("data"))
    if (!curated.isEmpty) ensureImagesLanded(s, d, withBytes)
    curated.groupBy("codec")
      .agg(count(lit(1)).as("n_assets"), big(sum("members")).as("n_members"),
        big(sum("n_px")).as("total_px"),
        big(sum("ent_nano")).as("ent_nano_total"),
        min("asset_id").as("first_asset"), max("asset_id").as("last_asset"))
      .orderBy("codec")
  }

  /** c05: the corpus DATA CARD — the datasheet a training run
    * publishes with its corpus (Gebru et al., "Datasheets for
    * Datasets", 2021; model cards cite exactly this table): per
    * predicted language, document/token/char volume, the quality-
    * class mix, and the exact-duplicate rate. Where c01 EXECUTES the
    * curation, c05 REPORTS what a corpus contains before/after it —
    * the first artifact a data audit asks for. Composed from the
    * SHIPPED stages (the x09/c01 discipline, never twins): language
    * from x02's scorer ([[TextAnalysis.langidScored]]), quality from
    * x03's ([[TextAnalysis.qualityScored]]), duplication from d01's
    * min-id-per-text rule; the oracle chains the SAME shared
    * fragments (duckLangidCte, duckQualityCase), so the card cannot
    * drift from the operators it summarizes.
    *
    * Determinism: every count is an exact BIGINT; dup_rate is ONE
    * IEEE division of exact integers (the g06/d17 discipline).
    *
    * Scale shape: ONE cached per-document scoring pass — x03's
    * quality features and x02's language scores FUSE into a single
    * scan-and-project ([[TextAnalysis.langidScoredDf]], the c01
    * fused-attribute-pass discipline) — plus d01's one text-keyed
    * aggregation over that same cached frame for the dup index; the
    * per-language rollup is a ≤6-group reduction. At 100 TB the card
    * costs one corpus read — the same plan.
    */
  val c05 = QueryDef(
    "c05_data_card",
    Some(s"""WITH ${TextAnalysis.duckLangidCte},
      q AS (SELECT doc_id, n_chars, n_tokens,
          ${TextAnalysis.duckQualityCase} AS quality FROM (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)),
      dup AS (SELECT doc_id,
          CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY text) THEN 1 ELSE 0 END AS is_dup
        FROM documents)
      SELECT s.pred_lang,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(q.n_chars) AS BIGINT) AS n_chars,
        CAST(sum(CASE WHEN q.quality = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        CAST(sum(CASE WHEN q.quality = 'medium' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        CAST(sum(CASE WHEN q.quality = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        CAST(sum(dup.is_dup) AS BIGINT) AS n_dup,
        CAST(sum(dup.is_dup) AS DOUBLE) / count(*) AS dup_rate
      FROM scored s JOIN q ON q.doc_id = s.doc_id
      JOIN dup ON dup.doc_id = s.doc_id
      GROUP BY s.pred_lang ORDER BY s.pred_lang""")) { (s, d) =>
    // ONE fused scoring pass: quality features + language scores in a
    // single scan-and-project, cached for its two consumers (the
    // rollup and the dup index)
    val perDoc = TextAnalysis.langidScoredDf(
        TextAnalysis.qualityScored(Tables.documents(s, d)))
      .select(col("doc_id"), col("text"), col("pred_lang"),
        col("n_chars"), col("n_tokens"), col("quality"))
      .cache()
    val keep = perDoc.groupBy("text").agg(min("doc_id").as("keep_id"))
    val dup = perDoc.select("doc_id", "text").join(keep, Seq("text"))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("is_dup"))
    perDoc.join(dup, Seq("doc_id"))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        sum(when(col("quality") === "high", 1L).otherwise(0L)).as("n_high"),
        sum(when(col("quality") === "medium", 1L).otherwise(0L)).as("n_medium"),
        sum(when(col("quality") === "low", 1L).otherwise(0L)).as("n_low"),
        sum("is_dup").as("n_dup"))
      .select(col("pred_lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_high"), col("n_medium"), col("n_low"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy("pred_lang")
  }

  private val lifecycleMemo = new graft.engine.CatalogMemo[String]

  /** c06: the INDEX-LIFECYCLE capstone — the full operational arc a
    * production vector index lives through, composed from the SHIPPED
    * stages (never reimplementations, the c01/c02 discipline):
    *
    *   BUILD: train the coarse quantizer on the base corpus
    *   (vec_id ≢ 0 mod 37 — s14's split, and literally s14's
    *   training: [[Similarity.trainCoarse]] tag "base37", so ONE
    *   training serves both operators) and LAND the base index
    *   bucketed-by-cell with a K1d manifest + recount audit
    *   ([[ensureIndexLanded]], c02's landing verbatim) →
    *   MAINTAIN: arrivals (vec_id ≡ 0 mod 37) assigned under FROZEN
    *   centroids (s14's incremental-insert rule) are unioned
    *   LOGICALLY over the landed base index — the on-disk table stays
    *   base-only (PipelineSpec pins that); a production deployment
    *   would route arrivals through the same bucketed-append path the
    *   landing used, which is mechanical, while the cell assignment
    *   rule is the part this entry oracle-checks →
    *   TOMBSTONE: the s23 deletion feed (vec_id ≡ 0 mod 9) anti-joins
    *   the maintained index →
    *   READOUT: the per-cell lifecycle ledger — base/arrived/
    *   tombstoned/live counts plus a live-membership CHECKSUM (sum of
    *   live vec_ids), so the row proves exact membership, not just
    *   cardinality.
    *
    * The base counts are read back from the LANDED catalog table (the
    * landing is load-bearing, not ceremony); K1e compaction and K1f
    * retention apply to the landed directory unchanged — EngineSpec
    * covers them on their own entries.
    *
    * Determinism: everything is BIGINT counting and id sums over
    * deterministic subsets; the only floats (centroid training) are
    * the shared fixed-point chain every consumer replays.
    *
    * Scale shape: training is sampled/memoized as in s04; the landing
    * writes each cell's bucket once; arrival assignment is a narrow
    * baked-literal argmin (no shuffle); the tombstone anti join and
    * the two ledgers group on the index's own bucket key, so the
    * whole lifecycle costs one corpus pass plus node-sized
    * bookkeeping at any scale.
    */
  val c06 = QueryDef(
    "c06_index_lifecycle",
    Some(s"""WITH nb AS (${Vec.duckNormSelect}),
      n AS (SELECT * FROM nb WHERE vec_id % 37 <> 0),
      arr AS (SELECT * FROM nb WHERE vec_id % 37 = 0),
      ${Similarity.duckTrainedCells},
      ${Similarity.duckAssign("c3", "acell", "arr")},
      all_rows AS (
        SELECT vec_id, cell FROM cells
        UNION ALL SELECT vec_id, cell FROM acell)
      SELECT cell,
        CAST(sum(CASE WHEN vec_id % 37 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        CAST(sum(CASE WHEN vec_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_arrived,
        CAST(sum(CASE WHEN vec_id % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned,
        CAST(sum(CASE WHEN vec_id % 9 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
        CAST(sum(CASE WHEN vec_id % 9 <> 0 THEN vec_id ELSE 0 END) AS BIGINT) AS live_checksum
      FROM all_rows GROUP BY cell ORDER BY cell""")) { (s, d) =>
    val co = graft.functions.GraftFunctions.childSession(s)
    val e = Vec.withNorm(Tables.embeddings(co, d)).cache()
    val base = e.where(pmod(col("vec_id"), lit(37)) =!= 0)
    val arr = e.where(pmod(col("vec_id"), lit(37)) === 0)
    // ONE training with s14 (same content key, same "base37" tag)
    val centroids = Similarity.trainCoarse(co, d, base, "base37")
    if (centroids.isEmpty)
      e.limit(0).select(lit(0L).as("cell"), lit(0L).as("n_base"),
        lit(0L).as("n_arrived"), lit(0L).as("n_tombstoned"),
        lit(0L).as("n_live"), lit(0L).as("live_checksum"))
    else {
      co.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // BUILD + LAND (manifest-audited, memoized per content)
      val baseIdx = base.withColumn("cell", Similarity.cellOf(centroids))
        .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      val idxTable = ensureIndexLanded(co, d, baseIdx,
        Similarity.ivfBuckets(centroids), lifecycleMemo, "graft_c06_index")
      // MAINTAIN: frozen-centroid arrival assignment appends
      val acell = arr.withColumn("cell", Similarity.cellOf(centroids))
        .select(col("vec_id"), col("cell"))
      val maintained = co.table(idxTable).select(
          col("vec_id"), col("cell"), lit(false).as("arrived"))
        .unionByName(acell.withColumn("arrived", lit(true)))
      // TOMBSTONE: the s23 feed, applied structurally (anti join)
      val tomb = maintained.where(col("vec_id") % 9 === 0)
        .select(col("vec_id").as("t_id"))
      val live = maintained.join(tomb,
        maintained("vec_id") === col("t_id"), "left_anti")
      // READOUT: both ledgers group on the bucket key, then one
      // cell-sized join (a cell can tombstone away entirely -> left)
      val fullLed = maintained.groupBy("cell").agg(
        sum(when(!col("arrived"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("arrived"), 1L).otherwise(0L)).as("n_arrived"),
        sum(when(col("vec_id") % 9 === 0, 1L).otherwise(0L)).as("n_tombstoned"))
      val liveLed = live.groupBy("cell").agg(
        count(lit(1)).as("n_live"), sum("vec_id").as("live_checksum"))
      fullLed.join(liveLed, Seq("cell"), "left")
        .select(col("cell"), col("n_base"), col("n_arrived"),
          col("n_tombstoned"),
          coalesce(col("n_live"), lit(0L)).as("n_live"),
          coalesce(col("live_checksum"), lit(0L)).as("live_checksum"))
        .orderBy("cell")
    }
  }

  /** c07's landing memo: content-keyed build-once, the [[landMemo]]
    * discipline applied to the training-pair table.
    */
  private val pairLandMemo = new graft.engine.CatalogMemo[String]

  /** Land the cross-modal training pairs as a sharded parquet archive
    * with a K1d manifest + recount audit — the c01 landing rule: a
    * pair table that fails its own audit fails the pipeline. Returns
    * the landed directory.
    */
  private def ensurePairsLanded(s: org.apache.spark.sql.SparkSession,
      d: String, pairs: org.apache.spark.sql.DataFrame): String =
    pairLandMemo.buildOnce(s, d) { ck =>
      val destDir = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/" + graft.engine.CatalogMemo.tableName("graft_c07_pairs", ck)
      val eng = new graft.engine.Engine(s)
      val dest = eng.archiveDF(pairs, destDir, "train_pairs",
        _.copy(sharded = true, format = graft.engine.Format.Parquet))
      eng.writeManifestAudited(dest, graft.engine.Format.Parquet, "c07 landing")
      destDir
    }

  /** c07: the PAIRED CROSS-MODAL capstone — the composition a
    * multimodal training run needs that no single-family entry
    * covers: an (image, caption) TRAINING-PAIR table where BOTH sides
    * are dedup survivors, landed audited with its own data card.
    *
    *   image side — the c04-curated archive content verbatim
    *   ([[MultimodalOps.curatedImageMetrics]]: ONE cached decode pass
    *   → m06 exact-phash collapse → pigeonhole near-dup keep-lowest →
    *   m10 entropy gate) →
    *   caption pairing — deterministic on the synthetic keys (asset
    *   asset_id ≡ caption doc_id, the corpus's own construction: the
    *   image lake is derived per document) →
    *   text side — the caption must be its OWN d01 exact-dedup keeper
    *   (min doc_id per identical text) AND not the shadow (greater
    *   id) of any d02 near-dup candidate at the est-J ≥ 0.5 working
    *   threshold — pairs where EITHER side is a near-dup survivor's
    *   shadow are dropped, so the pair space collapses with BOTH
    *   modalities' dedup verdicts (the c01 keep-lowest rule applied
    *   cross-modally) →
    *   landing — the surviving pairs as a sharded parquet archive
    *   with a K1d manifest + recount audit ([[ensurePairsLanded]]) →
    *   readout — the c05-style PAIR CARD: per (pred_lang, codec),
    *   pair/member/token/pixel volume and the quality-class mix, so
    *   the card reconciles against c05's per-language document counts
    *   on the shared corpus (PipelineSpec pins n_pairs ≤ n_docs per
    *   language, plus the decode-pass and audit contracts).
    *
    * Every stage is the SHIPPED operator (the c01/x09 discipline):
    * the oracle chains gramCte + duckMinhashChain (text shadows),
    * duckCuratedChain (image curation), duckLangidCte + the c05
    * quality CTE — one set of shared fragments, so no side of the
    * pair can drift from the family that owns it.
    *
    * Determinism: counts are exact BIGINTs; language/quality labels
    * come from the shared exact scorers; ids are lake integers.
    *
    * Scale shape: the image side is curated-output-sized (collapse +
    * gates ran before any pairing); the text attribute pass is ONE
    * fused scan (langid + quality + d01 key in a single project, the
    * c05 discipline, cached for its two consumers); the d02 shadow
    * set arrives from the banded signature shuffle, never an
    * all-pairs join; the final pair join keys on the lake's own id,
    * so at 100 TB it is one co-partitioned equi-join of two already-
    * reduced sides, and the card is a ≤|langs|·|codecs| rollup.
    */
  val c07 = QueryDef(
    "c07_crossmodal_pairs",
    Some(s"""${Dedup.gramCte},
      ${Dedup.duckMinhashChain},
      ${MultimodalOps.duckCuratedChain.stripPrefix("WITH ")},
      ${TextAnalysis.duckLangidCte},
      q AS (SELECT doc_id, n_chars, n_tokens,
          ${TextAnalysis.duckQualityCase} AS quality FROM (
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)),
      keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      shadow AS (SELECT DISTINCT db AS doc_id FROM ce WHERE est_jaccard >= 0.5),
      txt AS (SELECT k.doc_id FROM keep1 k
        WHERE NOT EXISTS (SELECT 1 FROM shadow sh WHERE sh.doc_id = k.doc_id)),
      img AS (SELECT reps.rep AS pair_id,
          CASE WHEN reps.rep % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
          reps.members, CAST(g.w * g.h AS BIGINT) AS n_px
        FROM reps JOIN g ON g.doc_id = reps.rep JOIN ent ON ent.doc_id = reps.rep
        WHERE ent.s >= ent.n * 1000000000),
      pairs AS (SELECT i.pair_id, i.codec, i.members, i.n_px,
          s.pred_lang, q.quality, q.n_tokens, q.n_chars
        FROM img i
        JOIN txt t ON t.doc_id = i.pair_id
        JOIN scored s ON s.doc_id = i.pair_id
        JOIN q ON q.doc_id = i.pair_id)
      SELECT pred_lang, codec,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(members) AS BIGINT) AS n_members,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        CAST(sum(n_px) AS BIGINT) AS total_px,
        CAST(sum(CASE WHEN quality = 'high' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        min(pair_id) AS first_pair, max(pair_id) AS last_pair
      FROM pairs GROUP BY pred_lang, codec
      ORDER BY pred_lang, codec""")) { (s, d) =>
    // image side: the c04 curated set (already collapse+prune+gated),
    // sharing the memoized ONE-decode metrics frame with m13/c04
    val curated = MultimodalOps.curatedImageMetrics(s, d)
    // text side: ONE fused attribute scan (langid + quality), cached
    // for its two consumers (the d01 keeper aggregate and the pair
    // join). Lifetime: Bench/Verify clearCache between entries owns
    // release, as with c01's attribute frame.
    // (documentsSpread: langid + quality scoring are per-row CPU over
    // the one-task scan, and the frame carries text into the d01
    // keeper aggregate — surgical interleaved A/B: 6.67 s spread vs
    // 10.68 s unspread — guide §2.5)
    val scored = TextAnalysis.langidScoredDf(
      TextAnalysis.qualityScored(Tables.documentsSpread(s, d)))
      .select(col("doc_id"), col("text"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("n_chars"))
    // d01 keeper fused into ONE text-keyed aggregate (r9, guide §2.4
    // "two operations keyed the same way share one exchange"): the
    // former groupBy(text){min(doc_id)} + join-back-on-text shuffled
    // the text column twice; min_by over the attribute struct keeps
    // exactly the min-doc_id row per distinct text in a single
    // partial+final aggregation (doc_id is unique, so the selected
    // row is unambiguous). This also leaves `scored` with one
    // consumer, so the text-carrying cache is gone.
    // (the row_number-over-text + TopKRewrite formulation was also
    // A/B'd — min 4.42/med 5.10 vs min_by's 4.03/5.60, a wash — the
    // struct-buffer SortAggregate here is NOT the x25 situation: it
    // replaces an agg + join-back, not a TopKPerKey plan)
    val own = scored
      .groupBy("text")
      .agg(min_by(struct(col("doc_id"), col("pred_lang"), col("quality"),
        col("n_tokens"), col("n_chars")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.pred_lang").as("pred_lang"),
        col("r.quality").as("quality"), col("r.n_tokens").as("n_tokens"),
        col("r.n_chars").as("n_chars"))
    val shadows = Dedup.minhashCandidates(s, d)
      .where(col("est_jaccard") >= 0.5)
      .select(col("db").as("doc_id")).distinct()
    val txt = own.join(shadows, Seq("doc_id"), "left_anti")
    // the pair table is the small, twice-consumed end of the chain
    // (landing probe + rollup) — cache IT, not the fact-sized text
    // frame: before r9 the un-cached pair chain re-executed end to
    // end for the isEmpty probe and again for the rollup. Lifetime:
    // Bench/Verify clearCache between entries owns release.
    val pairs = curated.join(txt, curated("asset_id") === txt("doc_id"))
      .select(col("asset_id").as("pair_id"), col("codec"), col("width"),
        col("height"), col("members"), col("n_px"), col("pred_lang"),
        col("quality"), col("n_tokens"), col("n_chars"))
      .cache()
    if (!pairs.isEmpty) ensurePairsLanded(s, d, pairs)
    pairs.groupBy("pred_lang", "codec")
      .agg(count(lit(1)).as("n_pairs"),
        big(sum("members")).as("n_members"),
        big(sum("n_tokens")).as("n_tokens"),
        big(sum("n_chars")).as("n_chars"),
        big(sum("n_px")).as("total_px"),
        sum(when(col("quality") === "high", 1L).otherwise(0L)).as("n_high"),
        min("pair_id").as("first_pair"), max("pair_id").as("last_pair"))
      .orderBy("pred_lang", "codec")
  }
}
