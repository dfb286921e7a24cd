package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.functions._

/** Text analysis over `documents`: token statistics, heuristic
  * language ID, quality scoring, and content fingerprinting — the
  * per-document feature extraction stage of a training-data pipeline.
  *
  * All four are narrow per-row map operations: no shuffle at all
  * except the final presentation ORDER BY (dropped in production), so
  * they scale linearly and stay entirely inside whole-stage codegen /
  * vectorized evaluation at any corpus size.
  */
object TextAnalysis {

  def queries: Seq[QueryDef] =
    Seq(x01, x02, x03, x04, x05, x06, x07, x08, x09, x10, x11, x12, x13, x14, x15,
      x16, x17, x18, x19, x20, x21, x22, x23, x24, x25, x26, x27, x28, x29,
      x30)

  /** x13's ln lookup table: round(ln(n)·10⁹) for n = 1..4094, computed
    * ONCE here and embedded as a literal in BOTH the Spark plan and
    * the oracle SQL — neither engine ever calls its own ln. This is
    * the q35 discipline applied to transcendentals: Java's Math.log
    * and DuckDB's ln differ by 1 ulp on ~1 in 50k integers (measured),
    * so any recomputed log breaks bit-parity eventually; a shared
    * literal table cannot. Nano-ln values are BIGINT, so per-document
    * sums are EXACT integers — order-independent under partial
    * aggregation — and the only float op is one final division pair
    * on identical operands. Index bound 4094 = cap(c1)=2047 +
    * cap(V)=2047; count capping is part of the MODEL's definition
    * (standard practice for LM quality filters), not an approximation
    * of it.
    */
  private val LnNano: Array[Long] =
    Array.tabulate(4094)(i => math.round(math.log(i + 1.0) * 1e9))

  /** Sequence packing: assign documents (in doc_id order) to training
    * shards of ~2000 tokens each — the shard-construction step between
    * a curated corpus and a training run. The assignment needs a
    * GLOBAL running token count, which a window over () would compute
    * on a single partition (the classic scale trap); instead this is
    * the distributed two-phase prefix sum: range-partition by doc_id,
    * (1) one narrow pass sums tokens per partition, the P partial sums
    * — P rows, driver-sized by definition — become per-partition start
    * offsets via scanLeft; (2) a second narrow pass adds the offset to
    * a local running sum. No shuffle beyond the range partitioning;
    * both passes pipeline. shard_id = tokens-before ÷ budget, so a doc
    * straddling a boundary belongs to the shard it STARTS in — the
    * same rule the oracle's 1-PRECEDING window cumsum expresses.
    */
  val x12 = QueryDef(
    "x12_sequence_pack",
    Some("""WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents)
      SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
          AS BIGINT) AS shard_id
      FROM t ORDER BY doc_id""")) { (s, d) =>
    val budget = 2000L
    // TwoPhase (shared with q51/e14): range partitions sized to the
    // data (the d06 discipline; the row count is a metadata-only
    // parquet-footer count(*)), the persist() pinning ONE range
    // sampling across both jobs — see TwoPhase.scala for why that is
    // correctness, not economy. Cache lifetime: Bench/Verify
    // clearCache between entries; a direct library caller owns it, as
    // with q33.
    val rows = Tables.documents(s, d).count()
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), big(size(split(col("text"), " "))).as("n_tokens"))
      .repartitionByRange(TwoPhase.sizedParts(s, rows), col("doc_id"))
      .sortWithinPartitions("doc_id")
      .persist()
    import org.apache.spark.sql.Encoders
    val tupEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val typed = docs.as[(Long, Long)](tupEnc)
    // per-partition token sums prefix-combined (exclusive) on the
    // driver: byPid(p) = tokens in all earlier partitions; phase 1
    // also materializes the cache
    val byPid = TwoPhase.partitionPrefix[(Long, Long)](
      typed, 0L, (acc, t) => acc + t._2, _ + _)
    // phase 2: narrow map — local running sum + this partition's offset
    typed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var running = byPid(pid)
      it.map { case (id, n) =>
        val before = running
        running += n
        (id, n, before / budget)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "n_tokens", "shard_id")
      .orderBy("doc_id")
  }

  /** Out-of-vocabulary rate against a corpus-derived vocabulary — the
    * vocabulary-coverage filter of a training pipeline (docs full of
    * tokens the tokenizer has never seen are usually noise). Two
    * passes, both shuffle-efficient: (1) token document frequency →
    * vocab = tokens in ≥ 20% of docs (one shuffle on token; on this
    * corpus that admits every common token and excludes the rare
    * near-dup marker); (2) per-doc OOV instance count via a LEFT ANTI
    * join of token instances against the vocab — AQE broadcasts the
    * vocab while it is small (thresholded, so usually tokenizer-sized)
    * and falls back to a shuffle join when it isn't, same policy as
    * d03's count lookups. The ratio is one exact IEEE division.
    */
  val x11 = QueryDef(
    "x11_oov_rate",
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
      dfc AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
      nd AS (SELECT count(*) AS n FROM documents),
      vocab AS (SELECT tok FROM dfc, nd WHERE df * 5 >= n),
      oov AS (SELECT t.doc_id, count(*) AS n_oov
              FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
              WHERE v.tok IS NULL GROUP BY t.doc_id)
      SELECT d.doc_id,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        CAST(coalesce(o.n_oov, 0) AS DOUBLE) / len(string_split(d.text, ' ')) AS oov_ratio
      FROM documents d LEFT JOIN oov o ON d.doc_id = o.doc_id
      ORDER BY d.doc_id""")) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val tok = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val vocab = tok.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      .crossJoin(nDocs) // 1-row side: broadcast by construction
      .filter(col("df") * 5 >= col("n"))
      .select("tok")
    val oov = tok.join(vocab, Seq("tok"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_oov"))
    docs.select(col("doc_id"), big(size(col("toks"))).as("n_tokens"))
      .join(oov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        big(coalesce(col("n_oov"), lit(0L))).as("n_oov"),
        (coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens"))
          .as("oov_ratio"))
      .orderBy("doc_id")
  }

  /** x10's PII patterns — ONE definition feeding the Spark stage AND
    * (interpolated) the oracle SQL. Both engines' regex dialects
    * (Java util.regex / RE2) agree on this subset: char classes,
    * bounded repetition, literal escapes; no backrefs or lookaround.
    */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\+1-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the scrubbing stage every training-data pipeline
    * runs before anything else sees the text. The synthetic corpus
    * carries no natural PII, so (the m01–m04 pattern) contact strings
    * are synthesized deterministically from doc_id — every doc gains
    * one email + one phone, every third doc a second email — and the
    * oracle replays synthesis and redaction. Redaction itself is two
    * chained `regexp_replace`s: a narrow codegen'd map, no shuffle,
    * linear at any corpus size. DuckDB's regexp_replace needs the 'g'
    * flag for replace-all parity with Spark.
    */
  val x10 = QueryDef(
    "x10_pii_redact",
    Some(s"""WITH src AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail.example.com'
             || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@ex.org' ELSE '' END
             || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
      FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(s, '$EmailPat')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(s, '$PhonePat')) AS BIGINT) AS n_phones,
        CAST(strlen(regexp_replace(regexp_replace(s, '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g')) AS BIGINT) AS red_len,
        right(regexp_replace(regexp_replace(s, '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'), 60) AS tail
      FROM src ORDER BY doc_id""")) { (s, d) =>
    val src = Tables.documents(s, d)
      .select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0, " cc admin@ex.org").otherwise(""),
        lit(" or +1-555-"), lpad(col("doc_id") % 10000, 4, "0")).as("s"))
    val red = regexp_replace(
      regexp_replace(col("s"), lit(EmailPat), lit("<EMAIL>")),
      lit(PhonePat), lit("<PHONE>"))
    src.withColumn("red", red)
      .select(col("doc_id"),
        big(size(regexp_extract_all(col("s"), lit(EmailPat), lit(0)))).as("n_emails"),
        big(size(regexp_extract_all(col("s"), lit(PhonePat), lit(0)))).as("n_phones"),
        big(octet_length(col("red"))).as("red_len"),
        expr("right(red, 60)").as("tail"))
      .orderBy("doc_id")
  }

  /** x03's quality thresholds — ONE definition feeding the Spark stage
    * AND (interpolated) the x03/x09 oracle SQL, so a tweak cannot
    * drift either pair apart.
    */
  private val QCharsLo = 100; private val QCharsHi = 450
  private val QDivHigh = 0.3
  private val QStopLo = 0.02; private val QStopHi = 0.4
  private val QCharsMed = 60; private val QDivMed = 0.15

  private[operators] val duckQualityCase: String =
    s"""CASE WHEN n_chars BETWEEN $QCharsLo AND $QCharsHi AND diversity >= $QDivHigh AND stop_ratio BETWEEN $QStopLo AND $QStopHi THEN 'high'
           WHEN n_chars >= $QCharsMed AND diversity >= $QDivMed THEN 'medium'
           ELSE 'low' END"""

  /** x03's scoring as a reusable stage (shared with the x09 pipeline
    * so the filter semantics cannot drift between them).
    */
  private[graft] def qualityScored(docs: org.apache.spark.sql.DataFrame) = docs
    .withColumn("toks", split(col("text"), " "))
    .withColumn("n_chars", big(length(col("text"))))
    .withColumn("n_tokens", big(size(col("toks"))))
    .withColumn("diversity",
      size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
    .withColumn("stop_ratio",
      expr("CAST(size(filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / size(toks)"))
    .withColumn("quality",
      when(col("n_chars").between(QCharsLo, QCharsHi) && col("diversity") >= QDivHigh &&
        col("stop_ratio").between(QStopLo, QStopHi), "high")
        .when(col("n_chars") >= QCharsMed && col("diversity") >= QDivMed, "medium")
        .otherwise("low"))


  /** x30: QUALITY-GATE EXPLAIN — the rejection-reason histogram behind
    * x03's verdict: per document, a BITMASK of which individual
    * high-bar conditions fail (bit 0 too short, 1 too long, 2 low
    * diversity, 3 stopwords too rare, 4 stopwords too dense), rolled
    * up to one row per distinct failure pattern with decoded flag
    * columns. x03 says WHAT a document scored; this says WHY — the
    * first thing a curation engineer reads when a gate suddenly drops
    * 30% of a feed (is it one condition, or a co-failure pattern?),
    * and the evidence for tuning any threshold: each row prices a
    * rule change in documents. The thresholds are THE x03 constants
    * (same interpolated literals on both engines), so the explain
    * provably describes the shipped gate: mask 0 ⟺ x03 'high'
    * (TextAnalysisSpec pins the equivalence).
    *
    * Shape: one narrow scan-and-project into a ≤32-group aggregate —
    * the explain costs one corpus pass at any scale. The mask
    * arithmetic is exact-integer; flags decode from the mask by
    * integer division, so the row is self-consistent by construction.
    */
  val x30 = QueryDef(
    "x30_gate_explain",
    Some(s"""WITH f AS (SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
        len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
      FROM documents),
    m AS (SELECT doc_id,
        CAST(CASE WHEN n_chars < $QCharsLo THEN 1 ELSE 0 END
           + CASE WHEN n_chars > $QCharsHi THEN 2 ELSE 0 END
           + CASE WHEN diversity < $QDivHigh THEN 4 ELSE 0 END
           + CASE WHEN stop_ratio < $QStopLo THEN 8 ELSE 0 END
           + CASE WHEN stop_ratio > $QStopHi THEN 16 ELSE 0 END AS BIGINT)
          AS fail_mask
      FROM f)
    SELECT fail_mask, CAST(count(*) AS BIGINT) AS n_docs,
      fail_mask % 2 = 1 AS too_short,
      (fail_mask // 2) % 2 = 1 AS too_long,
      (fail_mask // 4) % 2 = 1 AS low_diversity,
      (fail_mask // 8) % 2 = 1 AS stop_too_low,
      (fail_mask // 16) % 2 = 1 AS stop_too_high
    FROM m GROUP BY fail_mask ORDER BY fail_mask""")) { (s, d) =>
    qualityScored(Tables.documents(s, d))
      .select(col("doc_id"),
        (when(col("n_chars") < QCharsLo, 1L).otherwise(0L)
          + when(col("n_chars") > QCharsHi, 2L).otherwise(0L)
          + when(col("diversity") < QDivHigh, 4L).otherwise(0L)
          + when(col("stop_ratio") < QStopLo, 8L).otherwise(0L)
          + when(col("stop_ratio") > QStopHi, 16L).otherwise(0L))
          .as("fail_mask"))
      .groupBy("fail_mask")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("fail_mask"), col("n_docs"),
        (col("fail_mask") % 2 === 1).as("too_short"),
        (expr("fail_mask div 2") % 2 === 1).as("too_long"),
        (expr("fail_mask div 4") % 2 === 1).as("low_diversity"),
        (expr("fail_mask div 8") % 2 === 1).as("stop_too_low"),
        (expr("fail_mask div 16") % 2 === 1).as("stop_too_high"))
      .orderBy("fail_mask")
  }

  /** Repetition filters (the Gopher-rules complement to x03's quality
    * score): duplicate-word fraction and most-frequent-bigram mass per
    * document — the standard signals for filtering degenerate
    * repetitive text out of a training corpus. Pure per-document
    * narrow work + one tiny per-doc aggregation; all ratios are
    * exact-integer divisions in double (bit-identical cross-engine).
    */
  val x08 = QueryDef(
    "x08_repetition",
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tot AS (SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS nd
              FROM toks WHERE len(ts) >= 2),
      bg AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b
             FROM toks, unnest(range(1, len(ts))) AS r(i) WHERE len(ts) >= 2),
      bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      bgtop AS (SELECT doc_id, max(c) AS mx, sum(c) AS nb FROM bgc GROUP BY doc_id)
      SELECT t.doc_id,
        CAST(t.n - t.nd AS DOUBLE) / t.n AS dup_word_frac,
        CAST(g.mx AS DOUBLE) / g.nb AS top_bigram_frac
      FROM tot t JOIN bgtop g ON g.doc_id = t.doc_id
      ORDER BY t.doc_id""")) { (s, d) =>
    val toks = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
    val tot = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("n"),
      size(array_distinct(col("toks"))).cast("long").as("nd"))
    val bgtop = toks
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"), sum("c").as("nb"))
    tot.join(bgtop, "doc_id")
      .select(col("doc_id"),
        ((col("n") - col("nd")).cast("double") / col("n")).as("dup_word_frac"),
        (col("mx").cast("double") / col("nb")).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Benchmark-contamination detection (the decontamination pass every
    * serious training pipeline runs): for each eval-set document, find
    * training documents that CONTAIN it — |grams(eval) ∩ grams(train)|
    * / |grams(eval)| ≥ 0.5 over distinct 5-gram word shingles.
    * Containment is asymmetric (a short eval doc inside a long train
    * doc scores 1.0 where Jaccard would be tiny), which is exactly why
    * decontamination uses it instead of d03's symmetric similarity.
    * The eval set here is the deterministic `doc_id % 50 = 0` slice.
    *
    * Scale design: inverted-index join on hashed shingles — eval-side
    * grams meet train-side grams only on equal shingles, so work is
    * proportional to shared-shingle pairs, never |eval|×|train|; the
    * shingle table is computed once (cache; parquet intermediate at
    * real scale) and the eval-side size table is tiny (|eval docs|)
    * and broadcast. Containment = exact-int ÷ exact-int in double —
    * bit-identical to the oracle.
    */
  val x07 = QueryDef(
    "x07_contamination",
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      grams AS (SELECT DISTINCT doc_id, ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4] AS g
                FROM toks, unnest(range(1, len(ts) - 3)) AS r(i) WHERE len(ts) >= 5),
      cnt AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS i
                FROM grams e JOIN grams t ON e.g = t.g
                WHERE e.doc_id % 50 = 0 AND t.doc_id % 50 <> 0
                GROUP BY 1, 2)
      SELECT eval_id, train_id, i::DOUBLE / c.n AS containment
      FROM inter JOIN cnt c ON c.doc_id = eval_id
      WHERE i::DOUBLE / c.n >= 0.5
      ORDER BY eval_id, train_id""")) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 5)")).as("g"))
      .cache()
    val ev = g.where(col("doc_id") % 50 === 0)
    val tr = g.where(col("doc_id") % 50 =!= 0)
    val nEval = ev.groupBy("doc_id").agg(count(lit(1)).as("n"))
    ev.as("e").join(tr.as("t"), col("e.g") === col("t.g"))
      .groupBy(col("e.doc_id").as("eval_id"), col("t.doc_id").as("train_id"))
      .agg(count(lit(1)).as("i"))
      .join(broadcast(nEval), col("eval_id") === nEval("doc_id"))
      .select(col("eval_id"), col("train_id"),
        (col("i").cast("double") / col("n")).as("containment"))
      .where(col("containment") >= 0.5)
      .orderBy("eval_id", "train_id")
  }

  /** Deterministic train/valid/test split: the x04 rolling fingerprint
    * mod 10 buckets 80/10/10. Content-addressed (not row-order or
    * rand()) so the split is stable across engines, runs, and
    * repartitioning — the property a reproducible training pipeline
    * needs. Oracle recomputes the identical assignment.
    */
  val x05 = QueryDef(
    "x05_train_test_split",
    Some("""SELECT split, lang, count(*) AS n, min(doc_id) AS first_doc FROM (
      SELECT doc_id, lang,
        CASE WHEN fp % 10 < 8 THEN 'train'
             WHEN fp % 10 = 8 THEN 'valid'
             ELSE 'test' END AS split
      FROM (SELECT doc_id, lang,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS fp
        FROM documents))
      GROUP BY split, lang ORDER BY split, lang""")) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("m", splitFingerprint)
      .withColumn("split",
        when(col("m") < 8, "train")
          .when(col("m") === 8, "valid")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("split", "lang")
  }

  /** x05's content-addressed SPLIT fingerprint — rolling_hash(text)
    * mod 10, membership m < 8 train / m = 8 valid / m = 9 test. ONE
    * definition for every split-aware operator (x05 itself, d14's
    * decontamination, c01's capstone): an inline copy that drifts
    * from the split rule silently decontaminates against the wrong
    * boundary.
    */
  private[operators] def splitFingerprint: org.apache.spark.sql.Column =
    expr("rolling_hash(text, 31L, 1000000007L)") % 10

  /** Stratified sampling (`sampleBy`): per-language fractions in one
    * pass — corpus rebalancing. Sampling is seeded-pseudo-random and
    * engine-specific → rows-only check; determinism within Spark is
    * pinned by the seed.
    */
  /** Content-addressed stratified sampling: per-language keep
    * fractions applied by thresholding the x04/x05 rolling fingerprint
    * (`fp % 1000 < frac·1000`) instead of a seeded RNG. Same one-pass,
    * shuffle-free shape as `df.stat.sampleBy` (which remains the
    * RNG-based alternative, exercised in SamplingSpec), but the sample
    * is a pure function of document CONTENT — stable across engines,
    * runs, partitionings, and row order, which is what a reproducible
    * training pipeline actually needs, and what makes this operator
    * oracle-checkable rather than rows-only.
    */
  val x06 = QueryDef(
    "x06_stratified_sample",
    Some("""SELECT lang, count(*) AS n_sampled FROM (
      SELECT lang,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) % 1000 AS bucket
      FROM documents)
      WHERE bucket < CASE WHEN lang = 'en' THEN 500 ELSE 1000 END
      GROUP BY lang ORDER BY lang""")) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("bucket", expr("rolling_hash(text, 31L, 1000000007L) % 1000"))
      .where(col("bucket") <
        when(col("lang") === "en", 500).otherwise(1000))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Temperature-based domain mixture resampling — the data-MIXING
    * operator between x06's fixed per-stratum fractions and a learned
    * mixture (DoReMi-style): per-domain sampling weights ∝ n_d^α with
    * α = 0.5, so large domains are downweighted relative to their
    * size and small domains upweighted — the standard multilingual/
    * multi-domain rebalancing temperature. Everything stays EXACT
    * integer arithmetic so the oracle replays it bit-for-bit:
    * weight_d = ⌊√n_d⌋ (IEEE sqrt is correctly rounded — unlike ln
    * (x13) it IS bit-stable across engines, and ⌊√n⌋ is exact for any
    * n ≪ 2⁵³), quota_d = ⌊(N/2)·w_d / Σw⌋ by BIGINT division, and the
    * quota is filled content-addressed — each domain keeps its
    * lowest-(fingerprint, doc_id) documents, the x05/x06 discipline —
    * so the selected SET is a pure function of the corpus (pinned
    * here by per-domain count + id-sum + first-id of the selection).
    * Quotas above n_d keep the whole domain (no upsampling; the
    * repetition factor is quota/n_d if a trainer wants epochs).
    *
    * At 100 TB: the doc-level work is one fingerprint map + one
    * per-domain window rank (single shuffle on domain; domain count
    * is small, so skew is the window's real hazard — the rank could
    * be replaced by the x06 threshold form `fp % M < quota·M/n_d`
    * for a shuffle-free approximation, traded here for exact quota
    * fill). The domain table is DOMAIN-COUNT-sized, so its
    * unpartitioned total-weight window and its broadcast back to the
    * corpus are bounded metadata by construction — the x12 "window
    * over ()" hazard does not apply to a bounded dimension table.
    */
  val x16 = QueryDef(
    "x16_temperature_mix",
    Some("""WITH f AS (SELECT doc_id, lang,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS fp
        FROM documents),
      c AS (SELECT lang, count(*) AS n_docs FROM f GROUP BY lang),
      w AS (SELECT lang, n_docs, CAST(floor(sqrt(n_docs)) AS BIGINT) AS wt FROM c),
      t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total, CAST(sum(wt) AS BIGINT) AS wsum FROM w),
      q AS (SELECT lang, n_docs, wt, ((total // 2) * wt) // wsum AS quota FROM w, t),
      r AS (SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rn FROM f),
      sel AS (SELECT r.lang, count(*) AS n_sampled, sum(r.doc_id) AS id_sum,
          min(r.doc_id) AS first_id
        FROM r JOIN q ON r.lang = q.lang WHERE r.rn <= q.quota GROUP BY r.lang)
      SELECT q.lang AS lang, CAST(q.n_docs AS BIGINT) AS n_docs, q.wt AS weight,
        CAST(q.quota AS BIGINT) AS quota,
        CAST(coalesce(sel.n_sampled, 0) AS BIGINT) AS n_sampled,
        CAST(coalesce(sel.id_sum, 0) AS BIGINT) AS sampled_id_sum,
        CAST(coalesce(sel.first_id, -1) AS BIGINT) AS first_sampled
      FROM q LEFT JOIN sel ON q.lang = sel.lang ORDER BY lang""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val f = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("rolling_hash(text, 31L, 1000000007L)").as("fp"))
    val counts = f.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wt", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    // unpartitioned window over the DOMAIN table (bounded rows — see
    // scaladoc), not over the corpus
    val wTot = Window.partitionBy()
    val quotas = counts
      .withColumn("total", sum("n_docs").over(wTot))
      .withColumn("wsum", sum("wt").over(wTot))
      // integer division end-to-end (Spark's `/` is double division;
      // `div` is the BIGINT `//` the oracle uses)
      .withColumn("quota", expr("((total div 2) * wt) div wsum"))
      .select("lang", "n_docs", "wt", "quota")
    val ranked = f.withColumn("rn",
      row_number().over(Window.partitionBy("lang").orderBy("fp", "doc_id")))
    val sel = ranked.join(broadcast(quotas.select("lang", "quota")), Seq("lang"))
      .where(col("rn") <= col("quota"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("id_sum"),
        min("doc_id").as("first_id"))
    quotas.join(sel, Seq("lang"), "left")
      .select(col("lang"), big(col("n_docs")).as("n_docs"),
        col("wt").as("weight"), col("quota"),
        big(coalesce(col("n_sampled"), lit(0L))).as("n_sampled"),
        big(coalesce(col("id_sum"), lit(0L))).as("sampled_id_sum"),
        big(coalesce(col("first_id"), lit(-1L))).as("first_sampled"))
      .orderBy("lang")
  }

  /** Token statistics: counts, distinct counts, longest token, mean
    * token length (exact: (chars − separators) / tokens), and a
    * BPE-ish piece count ([a-z]+ | [0-9]+ | other-non-space runs).
    */
  val x01 = QueryDef(
    "x01_token_stats",
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(list_max(list_transform(string_split(text, ' '), t -> len(t))) AS BIGINT) AS max_tok_len,
      (length(text) - len(string_split(text, ' ')) + 1)::DOUBLE / len(string_split(text, ' ')) AS avg_tok_len,
      CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT) AS n_pieces
      FROM documents ORDER BY doc_id""")) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        big(size(col("toks"))).as("n_tokens"),
        big(size(array_distinct(col("toks")))).as("n_distinct"),
        big(length(col("text"))).as("n_chars"),
        big(expr("array_max(transform(toks, t -> length(t)))")).as("max_tok_len"),
        ((length(col("text")) - size(col("toks")) + 1).cast("double") /
          size(col("toks"))).as("avg_tok_len"),
        big(regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]+"))).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** Heuristic language ID: stopword-hit ratio per language profile +
    * a non-ASCII character ratio for CJK; argmax with a deterministic
    * preference order. (The synthetic corpus is English-vocab, so the
    * interesting part is the deterministic scoring, not the labels.)
    */
  /** x22: CLASSIFIER EVALUATION against labeled ground truth — the
    * text-side member of the eval family (s10 ANN recall, d12 LSH
    * quality): x02's language classifier graded cell-by-cell against
    * the corpus's `lang` labels as a CONFUSION MATRIX, with per-cell
    * rate and per-true-class recall on the diagonal. The classifier
    * leg IS the shipped one ([[langidScored]] / [[duckLangidCte]] —
    * one definition feeds operator and eval). Plan: one narrow
    * classify pass + one (lang, pred) aggregate + one window over the
    * tiny matrix — evaluation cost is the classify pass, the
    * reduction is label-cardinality-sized at any corpus scale.
    * Honest readout on this synthetic corpus: the labels are random
    * while the token distribution is uniformly English-ish, so the
    * matrix shows exactly what a real eval would — the heuristic
    * predicts en/unknown regardless of label (en recall 0.91, the
    * rest ~0). Making that VISIBLE is the operator's purpose.
    */
  val x22 = QueryDef(
    "x22_langid_eval",
    Some(s"""WITH $duckLangidCte,
      cm AS (SELECT lang, pred_lang, count(*) AS n FROM scored GROUP BY 1, 2)
      SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
        CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS cell_rate,
        lang = pred_lang AS is_correct
      FROM cm ORDER BY lang, pred_lang""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    langidScored(s, d)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum("n").over(Window.partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
        (col("n").cast("double") / col("n_lang").cast("double")).as("cell_rate"),
        (col("lang") === col("pred_lang")).as("is_correct"))
      .orderBy("lang", "pred_lang")
  }

  /** x02's scoring chain as ONE shared definition — the oracle CTE and
    * the Spark DF both come from here, so x22's evaluation provably
    * grades the shipped classifier (the d12/s10 discipline).
    */
  private[operators] def duckLangidCte: String =
    """scored AS (SELECT doc_id, lang, s_en, s_de, s_es, s_fr, ratio_nonascii,
      CASE WHEN ratio_nonascii > 0.3 THEN 'zh'
           WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
           WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
           WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
           WHEN s_fr > 0 THEN 'fr'
           ELSE 'unknown' END AS pred_lang
      FROM (SELECT doc_id, lang,
        len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS s_en,
        len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'und', 'das', 'ist')))::DOUBLE / len(string_split(text, ' ')) AS s_de,
        len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'de', 'que', 'y')))::DOUBLE / len(string_split(text, ' ')) AS s_es,
        len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'et', 'un', 'une')))::DOUBLE / len(string_split(text, ' ')) AS s_fr,
        len(regexp_extract_all(text, '[^ -~]'))::DOUBLE / length(text) AS ratio_nonascii
        FROM documents))"""

  private[operators] def langidScored(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    langidScoredDf(Tables.documents(s, d))
      .select("doc_id", "lang", "s_en", "s_de", "s_es", "s_fr",
        "ratio_nonascii", "pred_lang")

  /** x02's scorer over ANY frame carrying (doc_id, text, …) — the
    * DataFrame-in face, so a composer (c05) can FUSE language scoring
    * into an existing per-document scan instead of paying a second
    * corpus read; other columns pass through.
    */
  private[graft] def langidScoredDf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def score(name: String, words: String) =
      expr(s"CAST(size(filter(lid_toks, t -> t IN ($words))) AS DOUBLE) / size(lid_toks)").as(name)
    docs
      .withColumn("lid_toks", split(col("text"), " "))
      .withColumns(Map(
        "s_en" -> score("s_en", "'the', 'a', 'of', 'and', 'to'"),
        "s_de" -> score("s_de", "'der', 'die', 'und', 'das', 'ist'"),
        "s_es" -> score("s_es", "'el', 'la', 'de', 'que', 'y'"),
        "s_fr" -> score("s_fr", "'le', 'les', 'et', 'un', 'une'"),
        "ratio_nonascii" -> (regexp_count(col("text"), lit("[^ -~]")).cast("double") /
          length(col("text")))))
      .drop("lid_toks")
      .withColumn("pred_lang",
        when(col("ratio_nonascii") > 0.3, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
            col("s_de") > 0, "de")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("unknown"))
  }

  val x02 = QueryDef(
    "x02_langid",
    Some(s"""WITH $duckLangidCte
      SELECT doc_id, lang, s_en, s_de, s_es, s_fr, ratio_nonascii, pred_lang
      FROM scored ORDER BY doc_id""")) { (s, d) =>
    langidScored(s, d).orderBy("doc_id")
  }

  /** Quality scoring: length / lexical-diversity / stopword-ratio
    * features plus a bucketed quality class, the usual pre-training
    * corpus filter shape.
    */
  val x03 = QueryDef(
    "x03_quality",
    Some(s"""SELECT doc_id, n_chars, n_tokens, diversity, stop_ratio,
      $duckQualityCase AS quality
      FROM (SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
        len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
        FROM documents)
      ORDER BY doc_id""")) { (s, d) =>
    qualityScored(Tables.documents(s, d))
      .select("doc_id", "n_chars", "n_tokens", "diversity", "stop_ratio", "quality")
      .orderBy("doc_id")
  }

  /** The pipeline CAPSTONE: quality gate → near-dup survivor selection
    * → content-addressed split, composed from x03 + d07 + x05 — the
    * corpus-curation flow a 100 TB training-data run actually executes,
    * as ONE program (the quality and split stages fuse into narrow
    * codegen; the dedup stage inherits d07's shuffles — shingle
    * self-join, pair aggregation, Pregel supersteps — plus the
    * anti-join and the final summary aggregation). The oracle chains
    * the same stages as CTEs, with the
    * survivor set from the recursive-CTE ground truth d06/d07 share.
    * Non-survivors are removed with a left-anti join on doc_id —
    * pair-table-sized, never corpus² — and docs in no near-dup cluster
    * pass through untouched.
    */
  val x09 = QueryDef(
    "x09_corpus_pipeline",
    Some(s"""${Dedup.gramCte},
      ${Dedup.survivorCtes},
      nonsurv AS (SELECT a AS doc_id FROM reach GROUP BY a
                  HAVING least(a, min(b)) <> a),
      q AS (SELECT doc_id, text,
        $duckQualityCase AS quality
        FROM (SELECT doc_id, text,
          CAST(length(text) AS BIGINT) AS n_chars,
          len(list_distinct(string_split(text, ' ')))::DOUBLE / len(string_split(text, ' ')) AS diversity,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' ')) AS stop_ratio
          FROM documents)),
      kept AS (SELECT doc_id, quality, text FROM q
               WHERE quality <> 'low'
                 AND doc_id NOT IN (SELECT doc_id FROM nonsurv)),
      sp AS (SELECT doc_id, quality,
          CASE WHEN fp % 10 < 8 THEN 'train'
               WHEN fp % 10 = 8 THEN 'valid'
               ELSE 'test' END AS split
        FROM (SELECT doc_id, quality,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
            (h, c) -> (h * 31 + c) % 1000000007) AS fp
          FROM kept))
      SELECT split, quality, count(*) AS n, min(doc_id) AS first_doc
      FROM sp GROUP BY split, quality ORDER BY split, quality""")) { (s, d) =>
    val qual = qualityScored(Tables.documents(s, d))
      .where(col("quality") =!= "low")
      .select("doc_id", "quality", "text")
    val nonSurvivors = Dedup.d07.fn(s, d)
      .where(!col("is_survivor")).select("doc_id")
    qual.join(nonSurvivors, Seq("doc_id"), "left_anti")
      .withColumn("fp", expr("rolling_hash(text, 31L, 1000000007L)"))
      .withColumn("split",
        when(col("fp") % 10 < 8, "train")
          .when(col("fp") % 10 === 8, "valid")
          .otherwise("test"))
      .groupBy("split", "quality")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("split", "quality")
  }

  /** Content fingerprint: polynomial rolling hash over the character
    * stream, h ← (31·h + codepoint) mod 1 000 000 007 — identical
    * arithmetic on both engines (all-positive BIGINT ops), plus a
    * 64-way shard key derived from it (the scale-out dedup/bucketing
    * handle).
    */
  val x04 = QueryDef(
    "x04_fingerprint",
    Some("""SELECT doc_id, fingerprint, fingerprint % 64 AS shard FROM (
      SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
      FROM documents) ORDER BY doc_id""")) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("fingerprint", expr("rolling_hash(text, 31L, 1000000007L)"))
      .select(col("doc_id"), col("fingerprint"),
        (col("fingerprint") % 64).as("shard"))
      .orderBy("doc_id")
  }

  /** Bigram-LM perplexity quality score — the standard model-based
    * quality filter between x03's surface heuristics and a real
    * classifier: train an add-one-smoothed bigram LM over the corpus
    * (counts capped per [[LnNano]]'s model definition), then score
    * each document's average negative log-likelihood
    *
    *   nll(d) = 1/|bigrams(d)| · Σ [ln(cap(c(w₁))+V′) − ln(cap(c(w₁w₂))+1)]
    *
    * — low avg_nll = fluent under the corpus model, high = improbable
    * token sequences (noise, boilerplate, wrong language).
    *
    * Scale design: training is TWO count aggregations (bigram counts;
    * prefix counts derived from them by partial re-aggregation — never
    * a second pass over the corpus); scoring joins each document's
    * bigrams against the count tables UNHINTED, so AQE broadcasts the
    * model while it fits (a capped-vocab LM usually does) and falls
    * back to a shuffle join when it doesn't — the d03 count-lookup
    * policy. V is one driver scalar (a count, like s04's k centroids);
    * the ln lookup is a literal-array `element_at` — pure codegen'd
    * projection. Per-doc sums are exact BIGINT nano-lns; the only
    * float math is the final division pair, identical in both engines.
    */
  val x13 = QueryDef(
    "x13_lm_quality",
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      bg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
                i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS p FROM t),
      bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      vc AS (SELECT least(count(DISTINCT tok), 2047) AS v FROM
               (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      lt AS (SELECT ${LnNano.mkString("[", ", ", "]")} AS a),
      scored AS (SELECT bg.doc_id,
          lt.a[CAST(least(c1.c1, 2047) + vc.v AS INT)]
            - lt.a[CAST(least(c12.c12, 1023) + 1 AS INT)] AS nll
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        CROSS JOIN vc CROSS JOIN lt),
      agg AS (SELECT doc_id, count(*) AS n_bigrams,
                CAST(sum(nll) AS BIGINT) AS s FROM scored GROUP BY 1)
      SELECT t.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
        coalesce(agg.s, 0) AS sum_nll_nano,
        CASE WHEN coalesce(agg.n_bigrams, 0) = 0 THEN 0.0
             ELSE CAST(agg.s AS DOUBLE) / CAST(agg.n_bigrams AS DOUBLE)
                  / 1000000000.0 END AS avg_nll
      FROM t LEFT JOIN agg USING (doc_id) ORDER BY t.doc_id""")) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    // adjacent-pair extraction without a join: two slices zipped — a
    // single-token doc slices to empty arrays and yields no bigrams
    val bigrams = docs.select(col("doc_id"),
        explode(expr("""zip_with(slice(ts, 1, size(ts) - 1),
                                 slice(ts, 2, size(ts) - 1),
                                 (a, b) -> struct(a AS w1, b AS w2))""")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .cache() // reused by training and scoring; Bench/Verify clear between entries
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vCap = math.min(
      docs.select(explode(col("ts")).as("tok")).agg(countDistinct("tok")).first().getLong(0),
      2047L)
    val lnArr = lit(LnNano)
    val scored = bigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"),
        (element_at(lnArr, (least(col("c1"), lit(2047L)) + lit(vCap)).cast("int"))
          - element_at(lnArr, (least(col("c12"), lit(1023L)) + lit(1L)).cast("int"))).as("nll"))
    val agg = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("sum_nll_nano"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        big(coalesce(col("n_bigrams"), lit(0L))).as("n_bigrams"),
        big(coalesce(col("sum_nll_nano"), lit(0L))).as("sum_nll_nano"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("sum_nll_nano").cast("double")
            / col("n_bigrams").cast("double") / lit(1e9)).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Number of BPE merge rules x14 learns. Each rule costs one
    * corpus-wide pair-count aggregation, so the constant bounds both
    * bench time and oracle size; production tokenizer training raises
    * it (GPT-2: 50k) without changing the per-iteration shape.
    */
  private val BpeMerges = 16

  /** x14's oracle: the [[BpeMerges]] learning iterations unrolled as
    * CTE chains. Greedy leftmost non-overlapping merging is expressed
    * with the gaps-and-islands construction — within each maximal run
    * of consecutive match positions, exactly the odd-ranked positions
    * merge and each consumes its successor — which equals the
    * sequential left-to-right scan ([[BpeKernel.applyMerge]]): a
    * position's rank in its island is odd iff the scan arrives at it
    * un-consumed. LEFT JOIN ON TRUE (not CROSS JOIN) against the
    * 1-row argmax keeps all sequences alive when no pair exists.
    */
  private def bpeOracle(n: Int): String =
    bpeOracleChain(n) + "\n      SELECT * FROM (" +
      (1 to n)
        .map(i => s"SELECT CAST($i AS BIGINT) AS merge_rank, w1, w2, c FROM b$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY merge_rank"

  /** The WITH-chain alone (seq1..seq{n+1} + per-iteration CTEs), shared
    * by x14 (emits the rules) and x15 (emits the final tokenization).
    */
  private def bpeOracleChain(n: Int): String = {
    val sb = new StringBuilder
    sb.append("""WITH seq1 AS MATERIALIZED (
      SELECT doc_id * 100000 + wp AS wid,
             list_transform(range(1, length(w) + 1), i -> w[i]) AS ts
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS wp
            FROM documents)
      WHERE length(w) >= 1)""")
    for (i <- 1 to n) {
      sb.append(s""",
      e$i AS MATERIALIZED (SELECT wid, j, tok, lead(tok) OVER (PARTITION BY wid ORDER BY j) AS nxt
              FROM (SELECT wid, unnest(range(1, len(ts) + 1)) AS j, unnest(ts) AS tok
                    FROM seq$i)),
      p$i AS MATERIALIZED (SELECT tok AS w1, nxt AS w2, count(*) AS c FROM e$i
              WHERE nxt IS NOT NULL GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT w1, w2, c FROM p$i ORDER BY c DESC, w1, w2 LIMIT 1),
      m$i AS MATERIALIZED (SELECT e.wid, e.j, e.tok, e.nxt,
                     CASE WHEN b.w1 IS NOT NULL AND e.tok = b.w1 AND e.nxt = b.w2
                          THEN 1 ELSE 0 END AS mt
              FROM e$i e LEFT JOIN b$i b ON TRUE),
      g$i AS MATERIALIZED (SELECT wid, j, j - row_number() OVER (PARTITION BY wid ORDER BY j) AS isl
              FROM m$i WHERE mt = 1),
      s$i AS MATERIALIZED (SELECT wid, j, row_number() OVER (PARTITION BY wid, isl ORDER BY j) AS r
              FROM g$i),
      seq${i + 1} AS MATERIALIZED (
        SELECT m.wid,
               list(CASE WHEN s.r IS NOT NULL AND s.r % 2 = 1 THEN m.tok || m.nxt
                         ELSE m.tok END ORDER BY m.j) AS ts
        FROM m$i m
        LEFT JOIN s$i s ON m.wid = s.wid AND m.j = s.j
        LEFT JOIN s$i sp ON m.wid = sp.wid AND m.j - 1 = sp.j AND sp.r % 2 = 1
        WHERE sp.j IS NULL
        GROUP BY m.wid)""")
    }
    sb.toString
  }

  /** BPE tokenizer construction as a distributed iterative aggregation
    * — the d06/k-means driver-loop pattern applied to pair counting:
    * learn the first [[BpeMerges]] byte-pair-encoding merge rules over
    * the corpus. Sequences start as per-word character lists; each
    * iteration (1) counts adjacent symbol pairs corpus-wide — one
    * partial+final aggregation, (2) picks the most frequent pair
    * (deterministic tie-break: count DESC, then lexicographic), (3)
    * applies the merge greedily leftmost to every sequence — a narrow
    * map re-deriving from the CACHED base so lineage stays constant.
    * Driver state is the merge table itself (≤ 16 rows — the
    * tokenizer artifact, driver-sized by definition, like s04's
    * centroids). At 100 TB the same loop runs with bigger counts; the
    * only growing cost is one aggregation per learned rule, which is
    * what real BPE trainers pay too.
    */
  val x14 = QueryDef(
    "x14_bpe_merges",
    Some(bpeOracle(BpeMerges))) { (s, d) =>
    import s.implicits._
    learnBpe(s, d).toDF("merge_rank", "w1", "w2", "c").orderBy("merge_rank")
  }

  /** The learned-tokenizer memo: x14 (emit the rules) and x15 (apply
    * them) share one training run per (catalog, source content) — the
    * q37/s05 build-once discipline applied to a MODEL artifact.
    */
  private val bpeLearned =
    new graft.engine.CatalogMemo[Seq[(Long, String, String, Long)]]

  /** Train-once BPE: returns (rank, w1, w2, count) rows, memoized.
    * See [[x14]]'s doc for the algorithm and scale design.
    */
  private[operators] def learnBpe(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, String, Long)] =
    bpeLearned.buildOnce(s, d)(_ => trainBpe(s, d))

  /** The BPE trainers' shared input: the char-split WORD-FREQUENCY
    * DICTIONARY (the standard trainer reduction — every pair count is
    * Σ(distinct word's pairs × multiplicity), identical to the
    * per-instance total the oracle counts, but the iterated data
    * shrinks from corpus size to vocabulary size; it stays
    * DISTRIBUTED: at 100 TB the vocabulary is still billions of
    * rows), plus the x12 size-derived partition count (~1M distinct
    * words/partition).
    */
  private def bpeDict(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.Dataset[(Array[String], Long)], Int) = {
    import s.implicits._
    val dict = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("n"))
      // char-split via transform+substring: sequence(1, 0) would be the
      // DESCENDING [1,0] trap, hence the length >= 1 filter above
      // (mirrored in the oracle's length(w) >= 1)
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("ts"),
        col("n"))
      .as[(Array[String], Long)]
    val vocabRows = dict.count()
    (dict, math.max(1, (vocabRows / 1000000L).toInt +
      (if (vocabRows % 1000000L == 0) 0 else 1)))
  }

  /** Corpus-wide adjacent-pair counts over a rolling dictionary state
    * — ONE partition-local pass with an open hash map (each pair
    * weighted by its word's multiplicity), so the shuffle carries
    * only each partition's DISTINCT pairs, never pair instances: an
    * explicit partial aggregate, shared by the sequential (x14) and
    * batched (x28) trainers.
    */
  private def bpePairCounts(s: org.apache.spark.sql.SparkSession,
      cur: org.apache.spark.sql.Dataset[(Array[String], Long)])
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    cur.mapPartitions { it =>
      val m = new java.util.HashMap[(String, String), Long]
      it.foreach { case (ts, n) =>
        var i = 0
        while (i < ts.length - 1) {
          m.merge((ts(i), ts(i + 1)), n, _ + _)
          i += 1
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => (e.getKey._1, e.getKey._2, e.getValue))
    }
      .groupBy("_1", "_2").agg(sum("_3").as("c"))
      .select(col("_1").as("w1"), col("_2").as("w2"), col("c"))
  }

  private def trainBpe(
      s: org.apache.spark.sql.SparkSession, d: String): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    val (dict, parts) = bpeDict(s, d)
    val rows = scala.collection.mutable.ListBuffer[(Long, String, String, Long)]()
    // rolling state: `cur` holds the dictionary with all learned rules
    // APPLIED, truncated per generation (OPTIMIZATION_r09.md §1)
    var cur = Fixpoint.truncate(s, dict.repartition(parts))
    var rank = 1
    var done = false
    while (!done && rank <= BpeMerges) {
      val top = bpePairCounts(s, cur)
        .orderBy(col("c").desc, col("w1"), col("w2")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        rows += ((rank.toLong, a, b, r.getLong(2)))
        cur = Fixpoint.truncate(s,
          cur.map { case (ts, n) => (BpeKernel.applyMerge(ts, a, b), n) })
        rank += 1
      }
    }
    rows.toSeq
  }

  /** Rounds of batched learning x28 runs. Three rounds already learn
    * tens of rules on this corpus (vs x14's 16 in 16 driver rounds);
    * production trainers run the same protocol until the vocabulary
    * target is hit.
    */
  private[operators] val BpeBatchRounds = 3

  /** The LOCAL-MAXIMA batch selection: a pair survives iff it beats —
    * by (count DESC, w1, w2), a strict total order — every other pair
    * sharing one of its symbols. Survivors are therefore pairwise
    * symbol-DISJOINT (two sharing pairs can't both be maximal), which
    * makes the batch's SIMULTANEOUS application well-defined
    * ([[BpeKernel.applyBatch]] — matches marked against the pre-round
    * sequence only, the oracle's exact semantics; adjacent matches of
    * two different pairs would share the middle symbol, so the only
    * overlap case is the self-run). Note disjointness of the symbol
    * STRINGS does NOT make sequential per-rule application safe — an
    * earlier rule's output token can equal a later rule's symbol —
    * which is why application is batched, not folded. One narrow
    * explode + one equi-join on the shared symbol + one anti join;
    * per-symbol neighbor count is bounded by the adjacent-symbol
    * alphabet, so no skewed key.
    */
  private def bpeLocalMaxima(
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sym = pairs.select(col("w1"), col("w2"), col("c"),
      explode(array(col("w1"), col("w2"))).as("sym"))
    val beaten = sym.as("p").join(sym.as("q"),
        col("p.sym") === col("q.sym") &&
          !(col("q.w1") === col("p.w1") && col("q.w2") === col("p.w2")) &&
          (col("q.c") > col("p.c") || (col("q.c") === col("p.c") &&
            (col("q.w1") < col("p.w1") ||
              (col("q.w1") === col("p.w1") && col("q.w2") < col("p.w2"))))))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2")).distinct()
    pairs.join(beaten, Seq("w1", "w2"), "left_anti")
  }

  /** x28's oracle: [[BpeBatchRounds]] batched rounds unrolled — the
    * x14 gaps-and-islands scaffolding verbatim, with the 1-row argmax
    * `b` replaced by the local-maxima SET and the match mark joined
    * on the pair instead of compared against one literal row. The
    * island construction is unchanged and still correct for a batch:
    * consecutive match positions can only come from the SAME
    * (self-run) pair, because adjacent matches of two different pairs
    * would share a symbol — excluded by maximality.
    */
  private def bpeBatchOracle(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("""WITH seq1 AS MATERIALIZED (
      SELECT doc_id * 100000 + wp AS wid,
             list_transform(range(1, length(w) + 1), i -> w[i]) AS ts
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS wp
            FROM documents)
      WHERE length(w) >= 1)""")
    for (i <- 1 to rounds) {
      sb.append(s""",
      e$i AS MATERIALIZED (SELECT wid, j, tok, lead(tok) OVER (PARTITION BY wid ORDER BY j) AS nxt
              FROM (SELECT wid, unnest(range(1, len(ts) + 1)) AS j, unnest(ts) AS tok
                    FROM seq$i)),
      p$i AS MATERIALIZED (SELECT tok AS w1, nxt AS w2, count(*) AS c FROM e$i
              WHERE nxt IS NOT NULL GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT w1, w2, c FROM p$i p
              WHERE NOT EXISTS (SELECT 1 FROM p$i q
                WHERE NOT (q.w1 = p.w1 AND q.w2 = p.w2)
                  AND (q.w1 = p.w1 OR q.w1 = p.w2 OR q.w2 = p.w1 OR q.w2 = p.w2)
                  AND (q.c > p.c OR (q.c = p.c AND
                       (q.w1 < p.w1 OR (q.w1 = p.w1 AND q.w2 < p.w2)))))),
      m$i AS MATERIALIZED (SELECT e.wid, e.j, e.tok, e.nxt,
                     CASE WHEN b.w1 IS NOT NULL THEN 1 ELSE 0 END AS mt
              FROM e$i e LEFT JOIN b$i b ON e.tok = b.w1 AND e.nxt = b.w2),
      g$i AS MATERIALIZED (SELECT wid, j, j - row_number() OVER (PARTITION BY wid ORDER BY j) AS isl
              FROM m$i WHERE mt = 1),
      s$i AS MATERIALIZED (SELECT wid, j, row_number() OVER (PARTITION BY wid, isl ORDER BY j) AS r
              FROM g$i),
      seq${i + 1} AS MATERIALIZED (
        SELECT m.wid,
               list(CASE WHEN s.r IS NOT NULL AND s.r % 2 = 1 THEN m.tok || m.nxt
                         ELSE m.tok END ORDER BY m.j) AS ts
        FROM m$i m
        LEFT JOIN s$i s ON m.wid = s.wid AND m.j = s.j
        LEFT JOIN s$i sp ON m.wid = sp.wid AND m.j - 1 = sp.j AND sp.r % 2 = 1
        WHERE sp.j IS NULL
        GROUP BY m.wid)""")
    }
    sb.append("\n      SELECT CAST(row_number() OVER (ORDER BY round, c DESC, w1, w2) AS BIGINT) AS merge_rank, round, w1, w2, CAST(c AS BIGINT) AS c FROM (" +
      (1 to rounds)
        .map(i => s"SELECT CAST($i AS BIGINT) AS round, w1, w2, c FROM b$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY merge_rank")
    sb.toString
  }

  /** x28: BATCHED BPE training — the production-trainer protocol the
    * x14 review note points at: x14 learns ONE rule per corpus pass
    * (16 sequential driver rounds — inherent to exact sequential BPE,
    * each merge depends on the counts the previous one changed),
    * while real trainers batch NON-INTERACTING merges per round. The
    * batch rule here is deterministic LOCAL MAXIMA
    * ([[bpeLocalMaxima]]): a pair merges iff it beats every pair
    * sharing one of its symbols — survivors are provably disjoint,
    * the whole batch applies in one narrow pass, and
    * [[BpeBatchRounds]] rounds learn what x14-style training needs
    * tens of rounds for. Per round: ONE pair-count aggregate (the
    * shared [[bpePairCounts]] kernel), one symbol-keyed self-join to
    * select, one narrow apply — driver collects only the batch (the
    * MODEL artifact, centroid-table-sized by definition). Output:
    * every learned rule with its round, global rank, and count — a
    * DIFFERENT (documented) merge sequence from x14's, which is the
    * point: the two operators bracket the exactness/throughput trade
    * production tokenizer training actually navigates.
    */
  val x28 = QueryDef(
    "x28_bpe_batch",
    Some(bpeBatchOracle(BpeBatchRounds))) { (s, d) =>
    import s.implicits._
    val (dict, parts) = bpeDict(s, d)
    var cur = Fixpoint.truncate(s, dict.repartition(parts))
    val out = scala.collection.mutable.ListBuffer[(Long, Long, String, String, Long)]()
    var rank = 1L
    for (round <- 1 to BpeBatchRounds) {
      val sel = bpeLocalMaxima(bpePairCounts(s, cur))
        .orderBy(col("c").desc, col("w1"), col("w2")).collect()
      if (sel.nonEmpty) {
        sel.foreach { r =>
          out += ((rank, round.toLong, r.getString(0), r.getString(1), r.getLong(2)))
          rank += 1
        }
        // SIMULTANEOUS application against the pre-round sequence
        // (applyBatch) — a sequential fold could let one rule's output
        // token feed another rule whose symbol equals the
        // concatenation, diverging from the oracle's pre-round marking
        val rules = sel.map(r => (r.getString(0), r.getString(1))).toSet
        cur = Fixpoint.truncate(s,
          cur.map { case (ts, n) => (BpeKernel.applyBatch(ts, rules), n) })
      }
    }
    out.toSeq.toDF("merge_rank", "round", "w1", "w2", "c").orderBy("merge_rank")
  }

  /** Tokenize the corpus with the x14-learned tokenizer — closing the
    * construction→application loop: per document, word count, BPE
    * token count and character count under the learned rules, plus
    * chars-per-token (the compression ratio a tokenizer is judged by).
    *
    * Scale shape: training is memoized ([[learnBpe]] — pay once per
    * catalog+content, the q37/s05 discipline); tokenization applies
    * the 16 rules to the DISTINCT-word dictionary only (vocab-sized
    * narrow map), then per-doc counts ride an unhinted join of word
    * instances against that dictionary — AQE broadcasts the tokenized
    * vocab while it fits, shuffles when it doesn't (d03 policy). The
    * oracle re-runs the full 16-iteration chain on word instances and
    * aggregates seq17 per document — same values, independently
    * derived.
    */
  val x15 = QueryDef(
    "x15_bpe_tokenize",
    Some(bpeOracleChain(BpeMerges) + s""",
      fin AS (SELECT wid, len(ts) AS nt FROM seq${BpeMerges + 1}),
      orig AS (SELECT wid // 100000 AS doc_id, wid, len(ts) AS nc FROM seq1),
      agg AS (SELECT orig.doc_id, count(*) AS n_words,
                CAST(sum(fin.nt) AS BIGINT) AS n_bpe_tokens,
                CAST(sum(orig.nc) AS BIGINT) AS n_chars
              FROM orig JOIN fin USING (wid)
              GROUP BY orig.doc_id)
      SELECT t.doc_id, coalesce(agg.n_words, 0) AS n_words,
        coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
        coalesce(agg.n_chars, 0) AS n_chars,
        CASE WHEN coalesce(agg.n_bpe_tokens, 0) = 0 THEN 0.0
             ELSE CAST(agg.n_chars AS DOUBLE) / CAST(agg.n_bpe_tokens AS DOUBLE)
        END AS chars_per_token
      FROM documents t LEFT JOIN agg ON t.doc_id = agg.doc_id
      ORDER BY t.doc_id""")) { (s, d) =>
    import s.implicits._
    val rules = learnBpe(s, d).map(m => (m._2, m._3)).toList
    val docs = Tables.documents(s, d)
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
    // tokenize the DISTINCT vocabulary once (narrow, vocab-sized)…
    val dictTok = words.select("w").distinct().as[String]
      .map(w => (w, BpeKernel.applyAll(BpeKernel.codePoints(w), rules).length.toLong))
      .toDF("w", "nt")
    // …then count per doc via the unhinted instance×vocab join
    val agg = words.join(dictTok, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("nt").as("n_bpe_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        big(coalesce(col("n_words"), lit(0L))).as("n_words"),
        big(coalesce(col("n_bpe_tokens"), lit(0L))).as("n_bpe_tokens"),
        big(coalesce(col("n_chars"), lit(0L))).as("n_chars"),
        when(coalesce(col("n_bpe_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction — top-3 terms per document by
    * tf·ln(N/df), the classic relevance score between x03's surface
    * heuristics and x13's LM. All scoring is EXACT integer
    * arithmetic: the idf ln goes through the shared [[LnNano]]
    * literal table (the x13 transcendental discipline — neither
    * engine calls its own ln), so score = tf·(lnN − ln df) in nano
    * units is BIGINT on both sides; N and df cap at the table bound
    * 4094 as part of the model definition, which usefully zeroes the
    * idf of corpus-saturating stopwords. Ties (this corpus has ~31
    * distinct words, so they are common) break on term text — a
    * total order, the determinism contract every top-k here obeys.
    *
    * Scale design: tf is ONE shuffle on (doc, term); df is a partial
    * re-aggregation OF TF, never a second corpus pass; the scoring
    * join on term is UNHINTED (d03 policy — AQE broadcasts a vocab
    * that fits, shuffles one that doesn't); top-k is a per-document
    * window — millions of tiny partitions, no global sort. N is one
    * metadata-only parquet count.
    */
  val x17 = QueryDef(
    "x17_tfidf_keywords",
    Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      nd AS (SELECT count(*) AS n FROM documents),
      lt AS (SELECT ${LnNano.mkString("[", ", ", "]")} AS a),
      sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
          tf.tf * (lt.a[CAST(least(nd.n, 4094) AS INT)]
                 - lt.a[CAST(least(df.df, 4094) AS INT)]) AS score_nano
        FROM tf JOIN df USING (tok) CROSS JOIN nd CROSS JOIN lt),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score_nano DESC, tok) AS rank FROM sc)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok AS term,
        CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        CAST(score_nano AS BIGINT) AS score_nano
      FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val nDocs = Tables.documents(s, d).count() // parquet footer metadata only
    // documentsSpread: tokenize+explode over the one-task scan is the
    // CPU-dense stage (guide §2.5)
    val tf = Tables.documentsSpread(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val lnArr = lit(LnNano)
    val scored = tf.join(df, Seq("tok"))
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        // greatest(…, 1): constant-folding would evaluate index 0 on an
        // EMPTY corpus (ANSI error) even though no row ever flows
        (col("tf") * (element_at(lnArr, greatest(least(lit(nDocs), lit(4094L)), lit(1L)).cast("int"))
          - element_at(lnArr, least(col("df"), lit(4094L)).cast("int"))))
          .as("score_nano"))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score_nano").desc, col("tok"))))
      .where(col("rank") <= 3)
      .select(col("doc_id"), big(col("rank")).as("rank"), col("tok").as("term"),
        big(col("tf")).as("tf"), big(col("df")).as("df"),
        big(col("score_nano")).as("score_nano"))
      .orderBy("doc_id", "rank")
  }

  /** x18: bigram COLLOCATION extraction — the corpus-statistics
    * complement to x17's per-document tf-idf: which adjacent word
    * pairs co-occur far more than their unigram frequencies predict
    * (phrase mining / tokenizer-vocabulary seeding; the observed/
    * expected "lift" form of PMI). lift = c(w1,w2)·N / (c(w1)·c(w2))
    * — exactly exp(PMI) under token-window normalization — computed
    * as ONE IEEE division of two exact BIGINT products, so both
    * engines emit the identical double (the q35/x13 discipline:
    * never let either engine near a transcendental). Contract bound:
    * products stay exact below 2^53 — c_xy·N < 2^53 holds to ~10⁸
    * tokens with the busiest bigram at 10⁷; a corpus beyond that
    * shifts to the x13 nano-log table and sums ln-counts instead.
    *
    * Scale shape: bigram counting is ONE shuffle keyed on the pair
    * (map-side partial agg absorbs the explode fan-out); the two
    * unigram lookups ride the post-aggregation pair table and are
    * deliberately UNHINTED — AQE measures the vocabulary's actual
    * bytes and picks broadcast vs shuffle (the d03/x11 policy). N is
    * one driver-side scalar (bounded metadata, the g02 pattern).
    * Nothing is ever all-pairs; state is vocabulary-sized.
    */
  val x18 = QueryDef(
    "x18_collocations",
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      uni AS (SELECT t AS w, count(*) AS c FROM toks, unnest(ts) AS u(t) GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
      bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2, count(*) AS c
             FROM toks, unnest(range(1, len(ts))) AS r(i) GROUP BY 1, 2)
      SELECT w1, w2, CAST(bg.c AS BIGINT) AS n_pair,
        CAST(u1.c AS BIGINT) AS n_w1, CAST(u2.c AS BIGINT) AS n_w2,
        CAST(bg.c * tot.n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
      FROM bg JOIN uni u1 ON u1.w = bg.w1 JOIN uni u2 ON u2.w = bg.w2
        CROSS JOIN tot
      WHERE bg.c >= 5
      ORDER BY lift DESC, w1, w2 LIMIT 100""")) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    // vocabulary-sized; cached because BOTH the driver-side N scalar
    // and the main plan's two lookup legs consume it (the d03 shared-
    // leg discipline — without the cache the corpus tokenize+count
    // runs twice)
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .cache()
    // N: one driver-side Long (bounded metadata, the g02/s07 pattern);
    // None on an empty corpus — no bigram row flows, emit 0
    val n = uni.agg(sum("c")).head().get(0) match {
      case l: java.lang.Long => l.longValue(); case _ => 0L
    }
    // guard size ≥ 2 BEFORE sequence(0, size-2): Spark's sequence
    // DESCENDS when start > stop, so a 1-token doc would fabricate
    // the pair (ts[0], ts[-1]) instead of nothing
    val bg = toks.where(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] AS w1, ts[i+1] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("np"))
      .where(col("np") >= 5)
    bg.join(uni.as("u1"), col("w1") === col("u1.w"))
      .join(uni.as("u2"), col("w2") === col("u2.w"))
      .select(col("w1"), col("w2"), big(col("np")).as("n_pair"),
        big(col("u1.c")).as("n_w1"), big(col("u2.c")).as("n_w2"),
        ((col("np") * lit(n)).cast("double") /
          (col("u1.c") * col("u2.c")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** x19: document CHUNKING — the doc → overlapping-window generator
    * between cleaning and training/retrieval: each document splits
    * into [[ChunkTokens]]-token windows advancing by [[ChunkStride]]
    * (16-token overlap, the standard long-context-continuity trick),
    * each chunk content-addressed by the x04 rolling hash so
    * downstream dedup/provenance work on chunks exactly as they do on
    * documents. x12 packs whole documents into shards; this is the
    * complementary intra-document split the pipeline runs FIRST when
    * documents exceed the sequence budget.
    *
    * Scale shape: a pure narrow generator — split, one `explode` over
    * the per-doc start offsets, slice + join + codegen'd rolling
    * hash; no shuffle but the presentation sort. Fan-out is bounded
    * by ⌈n/stride⌉ per document, and the hash keeps rows narrow (the
    * chunk TEXT never needs to leave the stage that consumes it).
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  val x19 = QueryDef(
    "x19_chunking",
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      st AS (SELECT doc_id, ts, CAST(s AS BIGINT) AS start_tok
             FROM toks, unnest(range(0, len(ts), $ChunkStride)) AS r(s)),
      ch AS (SELECT doc_id, start_tok,
               array_to_string(ts[start_tok + 1 : least(start_tok + $ChunkTokens, len(ts))], ' ') AS t,
               CAST(least(start_tok + $ChunkTokens, len(ts)) - start_tok AS BIGINT) AS n_tok
             FROM st)
      SELECT doc_id, CAST(start_tok // $ChunkStride AS BIGINT) AS chunk_no,
        start_tok, n_tok,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(t) + 1), i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007) AS chunk_hash
      FROM ch ORDER BY doc_id, chunk_no""")) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), size(col("ts")) - 1, lit(ChunkStride)))
          .as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / ChunkStride).cast("long").as("chunk_no"),
        col("start_tok").cast("long").as("start_tok"),
        expr(s"slice(ts, start_tok + 1, $ChunkTokens)").as("chunk"))
      .select(col("doc_id"), col("chunk_no"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_tok"),
        expr("rolling_hash(array_join(chunk, ' '), 31L, 1000000007L)")
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_no")
  }

  /** x20: DUPLICATE-SPAN detection — exact substring-level dedup, the
    * operator document-level dedup (d01–d08) cannot express: a span
    * duplicated across (or within) documents is flagged even when the
    * documents as a whole are unique. This is the distributed
    * equivalent of the suffix-array substring dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL
    * 2022), specialized to a fixed minimum span of [[SpanTokens]]
    * tokens: a token position is covered iff some [[SpanTokens]]-gram
    * through it occurs ≥ 2 times in the corpus, and the union of
    * covered windows — merged per document by a gaps-and-islands
    * window — is EXACTLY the set of maximal duplicated runs of length
    * ≥ [[SpanTokens]] that a suffix array would report. Emits one row
    * per maximal span: (doc_id, span_start, span_end, dup_tok); the
    * cleaning pass that excises `[span_start, span_end)` is a narrow
    * map over this table joined back to the corpus.
    *
    * Scale shape: three key-partitioned shuffles, never all-pairs —
    * (1) count by 8-gram, (2) join duplicated grams back to positions
    * (AQE decides broadcast vs shuffle from the measured dup-set size,
    * the d03/x11 policy), (3) one per-doc window for the island merge.
    * The join key is the gram STRING (~40 B) — at 100 TB substitute
    * the 62-bit PolyPair hash to narrow the shuffle (the d02 trick;
    * collision odds ~n²/2⁶² are a documented contract change, which is
    * why the registry entry keeps the exact form). The window-position
    * table is cached: it feeds both the counting leg and the join-back
    * leg, and recomputing it would double the split/slice work
    * (Bench/Verify clear caches between entries).
    */
  private val SpanTokens = 8

  val x20 = QueryDef(
    "x20_dupspan",
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      pos AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
                array_to_string(ts[i + 1 : i + $SpanTokens], ' ') AS g
              FROM toks, unnest(range(0, len(ts) - ${SpanTokens - 1})) AS r(i)
              WHERE len(ts) >= $SpanTokens),
      dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) > 1),
      hit AS (SELECT doc_id, p FROM pos JOIN dup USING (g)),
      isl AS (SELECT doc_id, p,
                sum(CASE WHEN lp IS NULL OR p > lp + $SpanTokens THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY p) AS island
              FROM (SELECT doc_id, p,
                      lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lp FROM hit))
      SELECT doc_id, span_start, span_end, span_end - span_start AS dup_tok FROM (
        SELECT doc_id, min(p) AS span_start, max(p) + $SpanTokens AS span_end
        FROM isl GROUP BY doc_id, island)
      ORDER BY doc_id, span_start""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // documentsSpread: the span-gram explode (one row per token
    // position, string slicing per row) is the CPU (guide §2.5)
    val pos = Tables.documentsSpread(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= SpanTokens)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), size(col("ts")) - SpanTokens)).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("p"),
        array_join(expr(s"slice(ts, i + 1, $SpanTokens)"), " ").as("g"))
      .cache()
    val dup = pos.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select("g")
    // UNHINTED: AQE picks broadcast when the duplicated-gram set is
    // small (typical) and falls back to a shuffle join when it isn't
    val hit = pos.join(dup, "g").select("doc_id", "p")
    val byP = Window.partitionBy("doc_id").orderBy("p")
    val isl = hit
      .withColumn("lp", lag("p", 1).over(byP))
      .withColumn("flag",
        when(col("lp").isNull || col("p") > col("lp") + SpanTokens, 1L).otherwise(0L))
      .withColumn("island", sum("flag").over(byP))
    isl.groupBy("doc_id", "island")
      .agg(min("p").as("span_start"), (max("p") + SpanTokens).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("dup_tok"))
      .orderBy("doc_id", "span_start")
  }

  /** x21: span-excise CLEANING pass — the corpus REWRITE that x20 only
    * flags: every token covered by a duplicated [[SpanTokens]]-gram
    * whose occurrence is NOT the first in the corpus is cut, and the
    * surviving tokens are re-joined into the cleaned text. Keep-first
    * semantics (Lee et al. 2022 §3.2 — "remove all but one"): the
    * first occurrence of each gram in global (doc_id, p) order anchors
    * nothing; every later occurrence marks its window `[p, p+8)`
    * covered. Coverage is resolved WITHOUT exploding each hit into 8
    * rows: hits are a subset of token positions, so one running
    * `max(p + 8)` window per document over the token sequence gives
    * each position its covering end, and `t < ce` decides the cut —
    * O(tokens) state, one window sort.
    *
    * Scale shape: two key-partitioned shuffles — (1) row_number over
    * grams (partition key = the gram; a hot gram's partition is
    * bounded by its occurrence count, and the d08 df-cap is the skew
    * valve if a gram goes viral), (2) one per-doc sort shared by the
    * coverage window and the ordered re-join. The rebuilt text never
    * moves twice: the same doc-keyed exchange feeds both the window
    * and the final groupBy.
    */
  val x21 = QueryDef(
    "x21_dedup_clean",
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      tok AS (SELECT doc_id, CAST(i AS BIGINT) AS t, ts[i + 1] AS w
              FROM toks, unnest(range(0, len(ts))) AS r(i)),
      pos AS (SELECT doc_id, CAST(i AS BIGINT) AS p,
                array_to_string(ts[i + 1 : i + $SpanTokens], ' ') AS g
              FROM toks, unnest(range(0, len(ts) - ${SpanTokens - 1})) AS r(i)
              WHERE len(ts) >= $SpanTokens),
      hit AS (SELECT doc_id, p FROM (
                SELECT doc_id, p,
                  row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
                FROM pos) WHERE rn > 1),
      cov AS (SELECT k.doc_id, k.t, k.w,
                max(CASE WHEN h.p IS NOT NULL THEN k.t + $SpanTokens END) OVER
                  (PARTITION BY k.doc_id ORDER BY k.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
              FROM tok k LEFT JOIN hit h ON h.doc_id = k.doc_id AND h.p = k.t)
      SELECT doc_id,
        coalesce(string_agg(w, ' ' ORDER BY t)
          FILTER (WHERE ce IS NULL OR ce <= t), '') AS clean_text,
        count(*) AS n_orig,
        count(*) FILTER (WHERE ce IS NULL OR ce <= t) AS n_kept,
        count(*) FILTER (WHERE ce IS NOT NULL AND ce > t) AS n_cut
      FROM cov GROUP BY doc_id ORDER BY doc_id""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val tok = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("i", "w")))
      .select(col("doc_id"), col("i").cast("long").as("t"), col("w"))
    val pos = toks.where(size(col("ts")) >= SpanTokens)
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0), size(col("ts")) - SpanTokens)).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("p"),
        array_join(expr(s"slice(ts, i + 1, $SpanTokens)"), " ").as("g"))
    // keep-first: rn = 1 in global (doc_id, p) order anchors the one
    // surviving copy; rn > 1 exists only for grams occurring >= 2
    // times, so no separate duplicated-gram filter is needed
    val hit = pos
      .withColumn("rn",
        row_number().over(Window.partitionBy("g").orderBy("doc_id", "p")))
      .where(col("rn") > 1)
      .select(col("doc_id").as("h_doc"), col("p"))
    val byT = Window.partitionBy("doc_id").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cov = tok
      .join(hit, tok("doc_id") === col("h_doc") && col("t") === col("p"), "left")
      .select(tok("doc_id"), col("t"), col("w"), col("p"))
      .withColumn("ce",
        max(when(col("p").isNotNull, col("t") + SpanTokens)).over(byT))
    val kept = col("ce").isNull || col("ce") <= col("t")
    cov.groupBy("doc_id")
      .agg(
        // ordered string_agg: collect_list ignores the NULLs the
        // `when` produces for cut tokens; array_sort on (t, w) structs
        // restores document order under any partitioning (q30 idiom)
        array_join(
          transform(array_sort(collect_list(when(kept, struct(col("t"), col("w"))))),
            x => x("w")), " ").as("clean_text"),
        count(lit(1)).as("n_orig"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, 0L).otherwise(1L)).as("n_cut"))
      .orderBy("doc_id")
  }

  /** Hashed feature-vector dimensionality (the hashing-trick `m`). */
  private val HashDim = 64

  /** x23: FEATURE HASHING (the hashing trick, Weinberger et al. 2009)
    * — documents to fixed-dimension term-frequency vectors with NO
    * vocabulary: bucket = PolyPair(token) mod [[HashDim]], value =
    * occurrence count. Emitted SPARSE — one (doc_id, bucket, tf) row
    * per nonzero — which is both the honest storage layout at scale
    * and what any downstream trainer consumes. The bridge from the
    * text family to the similarity family: x11/x14 build explicit
    * vocabularies where this op deliberately doesn't — streaming-new
    * tokens land in a stable bucket with zero coordination, the
    * whole point of the trick for a 100 TB corpus with unbounded
    * vocabulary. Token hashing is the scalar `poly_pair` native
    * expression (the shingle kernel dedups within a document — wrong
    * for TF counts), so the oracle replays buckets exactly via the
    * shared PolyPair fragments and multiplicities survive.
    *
    * Scale shape: one narrow codegen'd generate + ONE hash shuffle on
    * (doc_id, bucket) — partial counts combine map-side; cardinality
    * is capped at docs×[[HashDim]] regardless of vocabulary size.
    */
  val x23 = QueryDef(
    "x23_feature_hash",
    Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cps AS (SELECT doc_id, ${Dedup.Oracle.cpList("w")} AS cs FROM tok),
      h AS (SELECT doc_id, (${Dedup.Oracle.polyPair("cs")}) % $HashDim AS bucket
        FROM cps)
      SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
             count(*) AS tf
      FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket""")) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        pmod(expr("poly_pair(w)"), lit(HashDim.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "bucket")
  }

  /** x24: DOMAIN SIMILARITY matrix — pairwise cosine between the
    * sources' unigram COUNT vectors, the standard diagnostic run
    * before choosing mixture weights (x06 fixed fractions, x16
    * temperature): near-duplicate domains shouldn't both get full
    * weight, and an outlier domain (low similarity to everything)
    * warrants a quality look. Complements x13 (how well ONE corpus
    * model explains a doc) with how much the DOMAINS overlap each
    * other.
    *
    * Determinism: dot products and squared norms are exact BIGINT
    * sums of count products; sqrt is IEEE-correctly-rounded in both
    * engines, and the final multiply+divide is one IEEE expression on
    * identical operands — the s-family discipline without vectors.
    * Headroom: Σc² stays under 2⁵³ until a single (domain, token)
    * count reaches ~10⁸ — rescale counts (e.g. per-million) past that.
    *
    * Shape: one (source, tok) count aggregation (cached — it feeds
    * both self-join sides and the norms), then the inverted-index
    * self-join ON TOK (the d03 pattern: pairs meet only where they
    * share a token — never a domains × domains × vocab blowup), one
    * (src_a, src_b) aggregate, and a norms join that is
    * domain-cardinality-sized at any corpus scale.
    */
  val x24 = QueryDef(
    "x24_domain_sim",
    Some("""WITH c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM
        (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY 1, 2),
      nrm AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS n2 FROM c GROUP BY 1),
      pr AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, dot,
        CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
      FROM pr JOIN nrm na ON pr.src_a = na.source
              JOIN nrm nb ON pr.src_b = nb.source
      ORDER BY src_a, src_b""")) { (s, d) =>
    val c = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .cache() // three consumers (both join legs + norms); Bench/Verify clear between entries
    val nrm = c.groupBy("source").agg(sum(col("c") * col("c")).as("n2"))
    val pairs = c.select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
      .join(c.select(col("source").as("src_b"), col("tok"), col("c").as("cb")),
        Seq("tok"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(sum(col("ca") * col("cb")).as("dot"))
    pairs
      .join(nrm.select(col("source").as("src_a"), col("n2").as("na")), Seq("src_a"))
      .join(nrm.select(col("source").as("src_b"), col("n2").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("dot"),
        (col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cos_sim"))
      .orderBy("src_a", "src_b")
  }

  /** x25: TRAINED Bernoulli naive-Bayes domain classifier + its
    * confusion-matrix eval — the model-based step past x02's
    * hand-written heuristics: train per-source token-PRESENCE
    * probabilities over a 64-token vocabulary, predict every doc's
    * source by MAP, grade against the true labels (the x22 eval
    * shape, but the classifier under test is LEARNED from the data).
    * On the synthetic corpus it genuinely beats chance (diagonal
    * cells up to ~0.5 vs 0.05 uniform) — the readout a quality/domain
    * classifier gate needs before it's trusted.
    *
    * Model definition (exact, oracle-replayable): vocabulary = top-64
    * tokens by (document frequency DESC, token ASC); for source s with
    * nd_s docs and in-source df of token t, with caps ndc = min(nd_s,
    * 2046), dfc = min(df, ndc) — caps are part of the MODEL (the x13
    * convention), bounding every index into the shared [[LnNano]]
    * table so NO engine ever calls its own ln:
    *   present weight  w1 = ln(dfc+1) − ln(ndc+2)      (add-one over 2 outcomes)
    *   absent weight   w0 = ln(ndc−dfc+1) − ln(ndc+2)
    *   score(d, s)     = ln(ndc) + Σ_t∈V [t ∈ d ? w1 : w0]
    * All scores are exact BIGINT nano-ln sums; argmax ties break by
    * source ASC — fully deterministic.
    *
    * Shape (the 100 TB story): the model is (domains × 64) rows —
    * broadcast-sized by construction, independent of corpus size.
    * Scoring decomposes as score = base_s + Σ_{t∈V∩d}(w1−w0), so the
    * corpus is touched ONCE: per-doc distinct tokens join the tiny
    * delta table (AQE broadcasts it), one (doc, source) aggregate, a
    * doc-keyed argmax window over |domains| rows per doc, and a
    * label-cardinality-sized confusion reduction. The docs × domains
    * cross join is against the domain-count base table — bounded,
    * whitelisted in PlanLintSpec.
    */
  val x25 = QueryDef(
    "x25_nb_domain",
    Some(s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      dt AS (SELECT doc_id, source, unnest(list_distinct(ts)) AS tok FROM t),
      gdf AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1),
      vocab AS (SELECT tok FROM gdf ORDER BY df DESC, tok LIMIT 64),
      nd AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY 1),
      dfs AS (SELECT dt.source, dt.tok, CAST(count(*) AS BIGINT) AS df
        FROM dt JOIN vocab USING (tok) GROUP BY 1, 2),
      lt AS (SELECT ${LnNano.mkString("[", ", ", "]")} AS a),
      grid AS (SELECT nd.source, vocab.tok,
          least(nd.nd, 2046) AS ndc,
          least(coalesce(dfs.df, 0), least(nd.nd, 2046)) AS dfc
        FROM nd CROSS JOIN vocab
        LEFT JOIN dfs ON dfs.source = nd.source AND dfs.tok = vocab.tok),
      wts AS (SELECT source, tok, ndc,
          lt.a[CAST(dfc + 1 AS INT)] - lt.a[CAST(ndc + 2 AS INT)] AS w1,
          lt.a[CAST(ndc - dfc + 1 AS INT)] - lt.a[CAST(ndc + 2 AS INT)] AS w0
        FROM grid CROSS JOIN lt),
      base AS (SELECT w.source AS m_src,
          CAST(min(lt.a[CAST(w.ndc AS INT)]) + sum(w.w0) AS BIGINT) AS base
        FROM wts w CROSS JOIN lt GROUP BY 1),
      delta AS (SELECT source AS m_src, tok, w1 - w0 AS dw FROM wts),
      dsum AS (SELECT dt.doc_id, delta.m_src, CAST(sum(delta.dw) AS BIGINT) AS dsum
        FROM dt JOIN delta ON dt.tok = delta.tok GROUP BY 1, 2),
      scores AS (SELECT t.doc_id, t.source, base.m_src,
          base.base + coalesce(dsum.dsum, 0) AS score
        FROM t CROSS JOIN base
        LEFT JOIN dsum ON dsum.doc_id = t.doc_id AND dsum.m_src = base.m_src),
      pred AS (SELECT doc_id, source, m_src AS pred_source FROM (
          SELECT doc_id, source, m_src,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, m_src) AS rn
          FROM scores) WHERE rn = 1),
      cm AS (SELECT source, pred_source, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2)
      SELECT source, pred_source, n,
        CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE) AS cell_rate,
        source = pred_source AS is_correct
      FROM cm ORDER BY source, pred_source""")) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val lnArr = lit(LnNano)
    def ln9(c: org.apache.spark.sql.Column) = element_at(lnArr, c.cast("int"))
    // no compute-spread: measured r8 (A/B warm min-of-3) x25 runs
    // 2.25 s unspread vs 4.10 s spread — the tokenize is cheap next to
    // the cached multi-consumer frame, and the extra exchange + 32-way
    // stages lose to the 1-task scan here
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"))
    // per-doc distinct tokens WITHOUT a distinct shuffle: array_distinct
    // is narrow, so (doc_id, tok) rows are unique by construction
    val dt = docs
      .select(col("doc_id"), col("source"),
        explode(array_distinct(col("ts"))).as("tok"))
      .cache() // two consumers (the (source, tok) df pass, doc scoring)
    // ONE multi-aggregate pass over the cached frame (r9, guide §1.2
    // "fewer passes"): per-(source, tok) document frequencies serve
    // BOTH the vocabulary ranking (summed over sources — identical to
    // the former global groupBy(tok) count, since (doc_id, tok) rows
    // are unique) AND the per-source df table, so the cached dt is
    // read twice instead of three times. The (source, tok) frame is
    // sources × |vocabulary| — small — and is itself cached for its
    // two readers.
    val st = dt.groupBy("source", "tok").agg(count(lit(1)).as("df")).cache()
    val vocab = st.groupBy("tok").agg(sum("df").as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(64) // TakeOrdered, no global sort
      .select("tok")
    val nd = docs.groupBy("source").agg(count(lit(1)).as("nd"))
      .withColumn("ndc", least(col("nd"), lit(2046L)))
    val dfs = st.join(broadcast(vocab), Seq("tok"))
      .select("source", "tok", "df")
    val wts = nd.crossJoin(broadcast(vocab)) // domains × 64 — the model grid
      .join(dfs, Seq("source", "tok"), "left")
      .withColumn("dfc", least(coalesce(col("df"), lit(0L)), col("ndc")))
      .select(col("source"), col("tok"), col("ndc"),
        (ln9(col("dfc") + 1) - ln9(col("ndc") + 2)).as("w1"),
        (ln9(col("ndc") - col("dfc") + 1) - ln9(col("ndc") + 2)).as("w0"))
    val base = wts.groupBy("source")
      .agg((min(ln9(col("ndc"))) + sum(col("w0"))).as("base"))
      .select(col("source").as("m_src"), col("base"))
    val delta = wts.select(col("source").as("m_src"), col("tok"),
      (col("w1") - col("w0")).as("dw"))
    val dsum = dt.select("doc_id", "tok").join(delta, Seq("tok")) // unhinted: AQE broadcasts the model
      .groupBy("doc_id", "m_src").agg(sum("dw").as("dsum"))
    val scores = docs.select("doc_id", "source")
      .crossJoin(broadcast(base)) // domains-sized; whitelisted in PlanLintSpec
      .join(dsum, Seq("doc_id", "m_src"), "left")
      .select(col("doc_id"), col("source"), col("m_src"),
        (col("base") + coalesce(col("dsum"), lit(0L))).as("score"))
    // argmax stays the row_number window ON PURPOSE (r9): TopKRewrite
    // turns it into the bounded-heap TopKPerKey plan (no sort, single
    // exchange — docs/MICROBENCH.md), while the tempting
    // min_by(m_src, struct(-score, m_src)) formulation carries a
    // struct-typed aggregation buffer, which falls out of
    // HashAggregate into SortAggregate AND loses the rewrite —
    // measured no better (4-combo interleaved A/B, two sessions:
    // window mins 3.78/3.47 vs min_by 4.99/3.42, window more
    // consistent), plan strictly worse (+4 Exchange, +2 SortAggregate
    // in the drift fingerprint).
    val pred = scores
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("m_src").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("m_src").as("pred_source"))
    pred.groupBy("source", "pred_source").agg(count(lit(1)).as("n"))
      .withColumn("n_src", sum("n").over(Window.partitionBy("source")))
      .select(col("source"), col("pred_source"), col("n"), col("n_src"),
        (col("n").cast("double") / col("n_src").cast("double")).as("cell_rate"),
        (col("source") === col("pred_source")).as("is_correct"))
      .orderBy("source", "pred_source")
  }

  /** x26's centi-ln table (round(ln(n)·10⁴) for n = 1..4094) — a
    * COARSER unit than [[LnNano]] on purpose: the Zipf sufficient
    * statistics multiply two lns and sum 1000 products, so nano-lns
    * would overflow int64 (n·Σxy ~ 10²⁰); centi-lns keep the whole
    * chain under 10¹⁷ with 10⁻⁴ precision — far below the fit's
    * statistical noise.
    */
  private[operators] val LnCenti: Array[Long] =
    Array.tabulate(4094)(i => math.round(math.log(i + 1.0) * 1e4))

  /** Quantized centi-ln of an UNBOUNDED count — the piece [[LnNano]]'s
    * bounded table cannot give: ln(n) = ln(n ≫ k) + k·ln2 for the
    * smallest k putting the mantissa in table range, i.e. n quantized
    * to 9 significant bits (relative error < 2⁻⁹, part of the MODEL
    * definition — the x13 capping convention generalized to unbounded
    * domains). Emitted as ONE CASE chain whose text is generated here
    * for BOTH engines — same thresholds, same table, same k·6931
    * offsets — so no recomputed transcendental can drift. `div` is the
    * dialect seam: Spark `div` ≡ DuckDB `//` on positives.
    */
  private[operators] def lnCentiQ(v: String, idx: String => String, divOp: String): String =
    "CASE " + (0 to 40).map { k =>
      s"WHEN $v <= ${512L * (1L << k)} THEN ${idx(s"($v) $divOp ${1L << k}")} + ${k * 6931L}"
    }.mkString(" ") + " ELSE NULL END"

  /** x26: ZIPF-LAW fit of the token frequency distribution — the
    * corpus-health statistic between x01's per-doc counts and x13's
    * LM: natural corpora follow freq ∝ rank^s with s ≈ −1, so the
    * least-squares slope of (ln rank, ln freq) over the top-1000
    * tokens flags degenerate inputs (uniform synthetic text, template
    * boilerplate → s near 0 with low r²; a handful of spam tokens →
    * s far below −1). On THIS corpus it honestly reads s ≈ −0.18,
    * r² ≈ 0.05 — the driver's vocabulary is uniform, and surfacing
    * that is the operator's job (the x22 honesty discipline).
    *
    * Exactness: ranks ≤ 1000 hit [[LnCenti]] directly; frequencies
    * are unbounded, so they go through [[lnCentiQ]]'s 9-bit-mantissa
    * quantization (live at every bench SF — max tf is 964 at sf0.01,
    * 9182 at sf0.1). The regression is e19's sufficient-statistics
    * pattern: exact BIGINT (n, Σx, Σy, Σxy, Σx², Σy²), slope and r²
    * as identically-shaped IEEE expressions on identical operands.
    *
    * Scale shape: one (tok) count aggregation, a TakeOrdered top-1000
    * (no global sort), a rank window over the BOUNDED 1000-row pool
    * (the s08 pattern), one 6-sum aggregate. The corpus is touched
    * once.
    */
  val x26 = QueryDef(
    "x26_zipf_fit",
    Some {
      val lncase = lnCentiQ("tf", e => s"lt.a[CAST($e AS INT)]", "//")
      s"""WITH tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM
          (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1),
        top AS (SELECT tok, tf, row_number() OVER (ORDER BY tf DESC, tok) AS rank
          FROM (SELECT tok, tf FROM tf ORDER BY tf DESC, tok LIMIT 1000)),
        lt AS (SELECT ${LnCenti.mkString("[", ", ", "]")} AS a),
        pts AS (SELECT rank, tf, CAST(lt.a[CAST(rank AS INT)] AS BIGINT) AS x,
            CAST($lncase AS BIGINT) AS y
          FROM top CROSS JOIN lt),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
          FROM pts)
        SELECT n, CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
          CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
          CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
               ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END AS zipf_slope,
          CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
               ELSE (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
        FROM st"""
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc).limit(1000) // TakeOrdered
    // rank window over the BOUNDED top-1000 pool only
    val top = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("tf").desc, col("tok").asc)))
    val lnArr = lit(LnCenti)
    val pts = top
      .withColumn("ln4q", lnArr)
      .select(
        element_at(lnArr, col("rank").cast("int")).as("x"),
        expr(lnCentiQ("tf", e => s"element_at(ln4q, CAST($e AS INT))", "div")).as("y"))
    val st = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    // the e19 zero-denominator guard: a fully-deduped corpus (all
    // tf = 1 → every y = 0) or a single-token one makes den or dy 0,
    // and 0/0 is NaN in Spark but NULL in DuckDB — degenerate inputs
    // must yield a deterministic 0.0, not engine-dependent non-values
    st.select(col("n"), num.cast("long").as("slope_num"),
      den.cast("long").as("slope_den"),
      when(den === 0L, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double")).as("zipf_slope"),
      when(den === 0L || dy === 0L, lit(0.0))
        .otherwise((num.cast("double") * num.cast("double")) /
          (den.cast("double") * dy.cast("double"))).as("r2"))
  }

  /** Obfuscated-contact detector for x27's audit leg: the "user at
    * host dot example dot com" spelling the [[EmailPat]] regex
    * cannot see (no `@`). Character classes only — identical
    * semantics under Java regex and RE2.
    */
  private val ObfEmailPat = "[a-z0-9]+ at [a-z]+ dot [a-z]+ dot [a-z]+"

  /** x27: REDACTION-COMPLETENESS AUDIT — the eval-family entry
    * (s10/d12/s18/d15/x22) for the PII scrubber: grades the SHIPPED
    * x10 redaction against a corpus whose PII inventory is KNOWN
    * arithmetically, the release gate a privacy review actually
    * wants ("what fraction of contact strings did the scrubber
    * catch, and what is still in there?"). The plant is x10's (one
    * address + a CC for every third doc + one phone), EXTENDED with
    * an obfuscated "userN at mail dot example dot com" spelling on
    * every fifth doc — the evasion pattern regex scrubbing is known
    * to miss. Planted counts come from the plant arithmetic (never
    * from re-running the detector being graded — no tautology);
    * caught counts read the `<EMAIL>`/`<PHONE>` markers the redactor
    * actually wrote; residual counts re-scan the REDACTED text with
    * the direct patterns (must be 0 — the scrubber is idempotent-
    * complete on its own language) and with the obfuscated detector
    * (every fifth doc — the honest miss, the x22 convention).
    * Coverage and miss rate are single IEEE divisions of exact
    * BIGINT counts. ONE narrow pass over the corpus into a one-row
    * aggregate — no shuffle beyond the final partial+final agg; at
    * 100 TB the audit costs one scan, which is why it can run on
    * every release.
    */
  val x27 = QueryDef(
    "x27_redaction_audit",
    Some(s"""WITH src AS (SELECT doc_id,
        text || ' contact user' || doc_id || '@mail.example.com'
             || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@ex.org' ELSE '' END
             || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || CASE WHEN doc_id % 5 = 0
                THEN ' reach user' || doc_id || ' at mail dot example dot com'
                ELSE '' END AS s
      FROM documents),
      red AS (SELECT doc_id,
          regexp_replace(regexp_replace(s, '$EmailPat', '<EMAIL>', 'g'),
            '$PhonePat', '<PHONE>', 'g') AS r
        FROM src),
      m AS (SELECT
          count(*) AS n_docs,
          coalesce(sum(2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                         + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END), 0) AS n_planted,
          coalesce(sum(len(regexp_extract_all(r, '<EMAIL>'))
                     + len(regexp_extract_all(r, '<PHONE>'))), 0) AS n_redacted,
          coalesce(sum(len(regexp_extract_all(r, '$EmailPat'))
                     + len(regexp_extract_all(r, '$PhonePat'))), 0) AS n_residual_direct,
          coalesce(sum(len(regexp_extract_all(r, '$ObfEmailPat'))), 0) AS n_residual_obfuscated
        FROM red)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
        CAST(n_planted AS BIGINT) AS n_planted,
        CAST(n_redacted AS BIGINT) AS n_redacted,
        CAST(n_residual_direct AS BIGINT) AS n_residual_direct,
        CAST(n_residual_obfuscated AS BIGINT) AS n_residual_obfuscated,
        CASE WHEN n_planted = 0 THEN 0.0
             ELSE CAST(n_redacted AS DOUBLE) / CAST(n_planted AS DOUBLE) END AS coverage,
        CASE WHEN n_planted = 0 THEN 0.0
             ELSE CAST(n_residual_obfuscated AS DOUBLE) / CAST(n_planted AS DOUBLE) END AS miss_rate
      FROM m ORDER BY n_docs""")) { (s, d) =>
    val src = Tables.documents(s, d)
      .select(col("doc_id"), concat(
        col("text"), lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0, " cc admin@ex.org").otherwise(""),
        lit(" or +1-555-"), lpad(col("doc_id") % 10000, 4, "0"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" reach user"), col("doc_id"),
            lit(" at mail dot example dot com"))).otherwise("")).as("s"))
    val r = regexp_replace(
      regexp_replace(col("s"), lit(EmailPat), lit("<EMAIL>")),
      lit(PhonePat), lit("<PHONE>"))
    def hits(c: org.apache.spark.sql.Column, pat: String) =
      big(size(regexp_extract_all(c, lit(pat), lit(0))))
    src.withColumn("r", r)
      .agg(
        // the d12 coalesce discipline: an empty corpus must emit the
        // oracle's zero counts, not NULLs
        count(lit(1)).as("n_docs"),
        coalesce(sum(lit(2L) + when(col("doc_id") % 3 === 0, 1L).otherwise(0L)
          + when(col("doc_id") % 5 === 0, 1L).otherwise(0L)), lit(0L)).as("n_planted"),
        coalesce(sum(hits(col("r"), "<EMAIL>") + hits(col("r"), "<PHONE>")),
          lit(0L)).as("n_redacted"),
        coalesce(sum(hits(col("r"), EmailPat) + hits(col("r"), PhonePat)),
          lit(0L)).as("n_residual_direct"),
        coalesce(sum(hits(col("r"), ObfEmailPat)), lit(0L)).as("n_residual_obfuscated"))
      .select(col("n_docs"), col("n_planted"), col("n_redacted"),
        col("n_residual_direct"), col("n_residual_obfuscated"),
        when(col("n_planted") === 0L, lit(0.0))
          .otherwise(col("n_redacted").cast("double") / col("n_planted").cast("double"))
          .as("coverage"),
        when(col("n_planted") === 0L, lit(0.0))
          .otherwise(col("n_residual_obfuscated").cast("double") /
            col("n_planted").cast("double"))
          .as("miss_rate"))
      .orderBy("n_docs")
  }

  /** x29: N-GRAM NOVELTY scoring — per document, the fraction of its
    * distinct 3-token shingles that appear in NO other document
    * (document frequency 1). The memorization-risk / boilerplate dual
    * of x08's within-doc repetition: novelty ≈ 0 means every shingle
    * the doc contributes already exists elsewhere in the corpus (a
    * template or near-copy — nothing new to learn, high dup-cluster
    * affinity), novelty ≈ 1 means the doc is the corpus's sole source
    * for its content (high training value, and high memorization risk
    * if it contains secrets — the x10/x27 redaction surface). Classic
    * corpus-curation signal (cf. the n-gram-overlap novelty filters
    * in public LLM-data pipelines); chiv has no text surface at all.
    *
    * Determinism: both counts are exact BIGINTs over the SAME
    * distinct-shingle relation the dedup family uses (Spark: the
    * codegen'd `shingle_hashes` kernel; oracle: [[Dedup.gramCte]] —
    * equivalence pinned in ExpressionsSpec); novelty is ONE IEEE
    * division of the two exact integers. Docs under 3 tokens have no
    * shingles and are absent by contract in both engines.
    *
    * Scale shape: ONE inverted-index aggregation (shingle → df) and
    * one re-join to the doc side — both shuffles on the shingle hash,
    * the d08 index shape WITHOUT the quadratic self-join (df counting
    * is linear in corpus shingles; hot shingles cost one combiner
    * row each thanks to partial aggregation, so no df cap is needed
    * here). At 100 TB: identical plan, partition count from data
    * size, no driver-side state.
    */
  val x29 = QueryDef(
    "x29_ngram_novelty",
    Some(s"""${Dedup.gramCte},
      df AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
      per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
              FROM grams JOIN df ON grams.g = df.g GROUP BY doc_id)
      SELECT doc_id, n_grams, n_unique,
        CAST(n_unique AS DOUBLE) / n_grams AS novelty
      FROM per ORDER BY doc_id""")) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("g"))
    val df = g.groupBy("g").agg(count(lit(1)).as("df"))
    g.join(df, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }
}

/** The BPE merge kernel: greedy leftmost non-overlapping replacement
  * of an adjacent symbol pair — the sequential form of the oracle's
  * islands construction (see [[TextAnalysis.bpeOracle]]).
  */
object BpeKernel {
  def applyMerge(ts: Array[String], a: String, b: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](ts.length)
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) { out += a + b; i += 2 }
      else { out += ts(i); i += 1 }
    }
    out.toArray
  }

  def applyAll(ts: Array[String], merges: List[(String, String)]): Array[String] =
    merges.foldLeft(ts) { case (cur, (a, b)) => applyMerge(cur, a, b) }

  /** Apply a BATCH of merges SIMULTANEOUSLY — one greedy left-to-right
    * pass marking matches against the ORIGINAL sequence only, exactly
    * the oracle's gaps-and-islands semantics. This is NOT equivalent
    * to folding [[applyMerge]] over the batch: sequential application
    * lets an earlier rule's OUTPUT token feed a later rule whose
    * symbol happens to equal the concatenation (e.g. (\"ab\",\"c\")
    * then (\"abc\",\"d\") — string-disjoint, yet the first merge
    * manufactures \"abc\" tokens the second would then consume),
    * which the pre-round marking never does. Adjacent matches of two
    * DIFFERENT pairs still cannot occur (they would share the middle
    * symbol — excluded by local-maxima disjointness), so the greedy
    * scan's only overlap case remains the self-run (a,a), handled by
    * the skip-after-merge exactly like the oracle's odd-island rule.
    */
  def applyBatch(ts: Array[String], merges: Set[(String, String)]): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](ts.length)
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && merges.contains((ts(i), ts(i + 1)))) {
        out += ts(i) + ts(i + 1); i += 2
      } else { out += ts(i); i += 1 }
    }
    out.toArray
  }

  /** Split by Unicode CODE POINT — the unit Spark's `substring(w,i,1)`
    * (training) and DuckDB's `w[i]` (oracle) both use; a UTF-16 char
    * split would shear surrogate pairs and diverge from both.
    */
  def codePoints(w: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toArray
  }
}
