package graft.operators

import graft.{QueryDef, Qdsl, Tables}
import Qdsl._
import org.apache.spark.sql.functions._

/** Multimodal/binary column operators (queries-map surface; the
  * reusable pipeline lives in [[graft.multimodal.MultimodalPipeline]]).
  */
object MultimodalOps {

  def queries: Seq[QueryDef] =
    Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10, m11, m12, m13, m14,
      m15, m16)

  /** DuckDB luma at synthetic sample point (gx, gy): replays the
    * m05 pixel arithmetic through the same integer (299r+587g+114b)/
    * 1000 luma the Spark side computes from DECODED pixels.
    */
  private def duckLuma(gx: String, gy: String, id: String = "doc_id"): String = {
    val base = s"($id*7+($gx)*3+($gy)*5)"
    s"((299*(($base)%256) + 587*(($base+11)%256) + 114*(($base+22)%256)) // 1000)"
  }

  /** The pHash60 bit k replayed in DuckDB over the synthetic pixel
    * function of `id` (w/h in scope) — ONE definition of the dHash
    * sample-point comparison shared by m06, m15, and the m13/c04
    * curated chain, so the sample grid cannot drift between the
    * oracles that all claim to replay the same shipped kernel.
    */
  private def duckPhashBit(id: String = "doc_id"): String =
    s"CASE WHEN ${duckLuma("(((k%10)+1)*w)//11", "((k//10)*h)//6", id)}" +
      s" > ${duckLuma("((k%10)*w)//11", "((k//10)*h)//6", id)} THEN (1::BIGINT << k) ELSE 0 END"

  /** Binary payload features computed relationally: byte length, head
    * bytes as hex, and an additive codepoint checksum — all
    * oracle-checkable (the corpus is ASCII, so codepoints = bytes).
    */
  val m01 = QueryDef(
    "m01_binary_features",
    Some("""SELECT doc_id,
      CAST(strlen(text) AS BIGINT) AS byte_len,
      hex(encode(substr(text, 1, 8))) AS head_hex,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        (acc, c) -> (acc + c) % 997) AS checksum
      FROM documents ORDER BY doc_id""")) { (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        big(octet_length(col("text"))).as("byte_len"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("head_hex"),
        expr("rolling_hash(text, 1L, 997L)").as("checksum"))
      .orderBy("doc_id")
  }

  /** Stubbed decode pipeline end-to-end (mapPartitions over binary
    * payloads → typed features). The decoder is still the documented
    * STUB (no codecs in this container), but its byte-level arithmetic
    * is fully deterministic over the UTF-8 payloads — so the whole
    * mapPartitions pipeline is cross-checked against a DuckDB oracle
    * recomputing the same features from the text (ASCII corpus:
    * codepoints = bytes, proven by m01).
    */
  val m02 = QueryDef(
    "m02_decode_pipeline",
    Some("""SELECT doc_id AS asset_id,
      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      CAST(strlen(text) AS BIGINT) AS byte_len,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        (h, c) -> (h * 31 + c) % 1000000007) AS checksum,
      CAST(CASE WHEN strlen(text) = 0 THEN 0 WHEN doc_id % 3 = 2 THEN 4 ELSE 1 END AS BIGINT) AS n_frames,
      CAST(len(list_filter(list_transform(range(1, length(text) + 1), i -> unicode(substr(text, i, 1))), c -> c < 16)) AS BIGINT) AS hist_bucket0,
      CAST(strlen(text) AS BIGINT) AS hist_total
      FROM documents ORDER BY asset_id""")) { (s, d) =>
    graft.multimodal.MultimodalPipeline.features(s, d)
  }

  /** Frame sampling as a generator: "video" assets explode into 4
    * frame rows each with per-frame byte features — the row-explosion
    * shape a real video pipeline has (asset → frames → per-frame
    * model input). Frame offsets and checksums are pure byte
    * arithmetic over the deterministic payloads, so the oracle
    * recomputes each frame's slice and rolling checksum from the
    * source text.
    */
  val m03 = QueryDef(
    "m03_frame_sample",
    Some("""SELECT doc_id AS asset_id, CAST(k AS BIGINT) AS frame_no,
      CAST(least(256, L - off) AS BIGINT) AS frame_bytes,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(off + 1, off + least(256, L - off) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        (h, c) -> (h * 31 + c) % 1000000007) AS frame_checksum
      FROM (
        SELECT doc_id, text, strlen(text) AS L, k, (strlen(text) * k) // 4 AS off
        FROM documents, unnest(range(0, 4)) AS r(k)
        WHERE doc_id % 3 = 2 AND strlen(text) > 0)
      ORDER BY asset_id, frame_no""")) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val assets = graft.multimodal.MultimodalPipeline.assetsFromDocuments(s, d)
      .filter(_.modality == "video")
    val frames = assets.mapPartitions { it =>
      it.flatMap { a =>
        graft.multimodal.ByteFeatures.frameSample(a.data, 4, 256)
          .zipWithIndex.map { case (f, i) =>
            (a.asset_id, i, f.length, graft.multimodal.ByteFeatures.checksum(f))
          }
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong))
    frames.toDF("asset_id", "frame_no", "frame_bytes", "frame_checksum")
      .select(col("asset_id"), big(col("frame_no")).as("frame_no"),
        big(col("frame_bytes")).as("frame_bytes"), col("frame_checksum"))
      .orderBy("asset_id", "frame_no")
  }

  /** Arrow-batch (columnar) byte-stats stage — the Scala-native
    * `mapInArrow` shape: partitions are processed as Arrow
    * `VectorSchemaRoot` batches with a single-pass kernel over the
    * offset/value buffers (see [[graft.multimodal.ArrowBatchStage]]).
    * Features are codec-free byte arithmetic, so the oracle recomputes
    * them from the source text (ASCII corpus: codepoints = bytes).
    */
  val m04 = QueryDef(
    "m04_arrow_batch",
    Some("""SELECT doc_id AS asset_id,
      CAST(strlen(text) AS BIGINT) AS byte_len,
      CAST(len(list_filter(list_transform(range(1, length(text) + 1), i -> unicode(substr(text, i, 1))), c -> c <= 32)) AS BIGINT) AS ws_count,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
        (h, c) -> (h * 131 + c) % 1000000007) AS checksum
      FROM documents ORDER BY asset_id""")) { (s, d) =>
    graft.multimodal.ArrowBatchStage
      .byteStats(graft.multimodal.MultimodalPipeline.assetsFromDocuments(s, d))
      .orderBy("asset_id")
  }

  /** REAL image decode — the codec plugged into the m04 Arrow seam:
    * per document, a genuine encoded image (hand-built uncompressed
    * BMP for even ids, JDK-encoded PNG with a real DEFLATE stream for
    * odd ids; every channel value the pure function
    * (id·7 + x·3 + y·5 + c·11) mod 256) travels as a binary column and
    * is decoded by `javax.imageio` — format sniff, inflate, pixel
    * access — inside [[graft.multimodal.ArrowBatchStage.decodeImages]].
    * The oracle replays the ARITHMETIC, never the bytes: detected
    * codec, dimensions, per-channel sums, and a ×131 rolling checksum
    * over row-major (R,G,B) values must all survive the encode→decode
    * round trip bit-for-bit, so any stride/channel-order/row-direction
    * /palette mistake in the decode path breaks the hash.
    */
  val m05 = QueryDef(
    "m05_image_decode",
    Some("""WITH g AS (SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents)
      SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(list_sum(list_transform(range(0, w*h), k -> (doc_id*7 + (k % w)*3 + (k // w)*5) % 256)) AS BIGINT) AS r_sum,
        CAST(list_sum(list_transform(range(0, w*h), k -> (doc_id*7 + (k % w)*3 + (k // w)*5 + 11) % 256)) AS BIGINT) AS g_sum,
        CAST(list_sum(list_transform(range(0, w*h), k -> (doc_id*7 + (k % w)*3 + (k // w)*5 + 22) % 256)) AS BIGINT) AS b_sum,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(0, w*h*3), k -> (doc_id*7 + ((k//3) % w)*3 + ((k//3) // w)*5 + (k%3)*11) % 256)),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS px_checksum
      FROM g ORDER BY asset_id""")) { (s, d) =>
    graft.multimodal.ArrowBatchStage.decodeImages(
      graft.multimodal.MultimodalPipeline.imageAssets(s, d))
      .orderBy("asset_id")
  }

  /** Image near-duplicate detection over DECODED pixels — the
    * perceptual-dedup stage of the multimodal pipeline (m13 composes
    * it with the m10 quality gate into the full curation capstone),
    * chaining m05's real codec path into the dedup discipline: each image is decoded (javax.imageio) and
    * perceptually hashed ([[graft.multimodal.ImageCodecs.pHash60]] —
    * 60-bit dHash of luma gradient signs on a 10×6 grid), exact-phash
    * groups collapse in ONE shuffle (the d01 shape: min-id
    * representative + member count), and NEAR groups (hamming ≤ 3)
    * are found by the d04 pigeonhole banding — 4×15-bit bands, ≤ 3
    * differing bits leave ≥ 1 band intact, so the bucket-local join
    * over DISTINCT phashes is EXACT, never all-pairs, and runs on the
    * group table (541 rows at sf0.1), not the corpus. Emits per group:
    * representative, phash, member count, near-group count. The oracle
    * replays luma sampling, hash, banding, and hamming from the
    * synthetic pixel arithmetic — the Spark side computes them from
    * genuinely decoded bytes, so codec fidelity is load-bearing.
    */
  /** The oracle's synthetic-pixel replay of the image fingerprints —
    * (doc_id, phash) after the m05 pixel function and the m06 dHash
    * bit construction. ONE text shared by m06 and m16's eval so the
    * graded fingerprint space is provably the shipped one (the d12 /
    * duckMinhashChain discipline).
    */
  private def duckImagePhashCtes: String = {
    val bit = duckPhashBit()
    s"""g AS (SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents),
      ph AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 60), k -> $bit)) AS BIGINT) AS phash
        FROM g)"""
  }

  /** The decoded (doc_id, phash) frame — a narrow projection of the
    * MEMOIZED one-decode metrics frame ([[imageMetrics]], which
    * already carries the pHash60 per decoded asset), so m06 and m16
    * share the SAME decode pass as
    * m13/c04/c07 instead of running a second `javax.imageio` sweep
    * per call (undecodable assets quarantine out identically — the
    * metrics frame only holds decoded rows).
    */
  private def imagePhashes(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    imageMetrics(s, d).select(col("asset_id").as("doc_id"), col("phash"))

  val m06 = QueryDef(
    "m06_phash_neardup",
    Some {
      s"""WITH $duckImagePhashCtes,
      grp AS (SELECT phash, min(doc_id) AS rep, count(*) AS members FROM ph GROUP BY phash),
      b AS (SELECT phash, rep, unnest(range(0, 4)) AS band FROM grp),
      bb AS (SELECT phash, rep, band,
          (phash >> CAST(band * 15 AS INT)) & 32767 AS bv FROM b),
      cp AS (SELECT DISTINCT least(a.rep, x.rep) AS ra, greatest(a.rep, x.rep) AS rb
        FROM bb a JOIN bb x ON a.band = x.band AND a.bv = x.bv AND a.phash <> x.phash
        WHERE bit_count(xor(a.phash, x.phash)) <= 3),
      nr AS (SELECT r, count(*) AS n_near FROM
               (SELECT ra AS r FROM cp UNION ALL SELECT rb AS r FROM cp) GROUP BY r)
      SELECT grp.rep, grp.phash, CAST(grp.members AS BIGINT) AS members,
        CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near
      FROM grp LEFT JOIN nr ON grp.rep = nr.r
      ORDER BY rep"""
    }) { (s, d) =>
    val ph = imagePhashes(s, d)
    val grp = ph.groupBy("phash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("members"))
    val bands = grp.select(col("phash"), col("rep"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(phash, CAST(band * 15 AS INT)) & 32767"))
    val pairs = bands.as("a").join(bands.as("x"),
        col("a.band") === col("x.band") && col("a.bv") === col("x.bv") &&
          col("a.phash") =!= col("x.phash"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("x.phash"))) <= 3)
      .select(least(col("a.rep"), col("x.rep")).as("ra"),
        greatest(col("a.rep"), col("x.rep")).as("rb"))
      .distinct()
    val near = pairs.select(col("ra").as("r"))
      .unionAll(pairs.select(col("rb").as("r")))
      .groupBy("r").agg(count(lit(1)).as("n_near"))
    grp.join(near, col("rep") === col("r"), "left")
      .select(col("rep"), col("phash"), big(col("members")).as("members"),
        big(coalesce(col("n_near"), lit(0L))).as("n_near"))
      .orderBy("rep")
  }

  /** REAL audio decode — the second modality through the m04 Arrow
    * seam, completing the m05 story: per document, a genuine encoded
    * audio clip (hand-built RIFF/WAV with little-endian PCM for even
    * ids, JDK-encoded AIFF with big-endian frames for odd ids; every
    * sample the pure function (id·31 + i²·13 + i·17) mod 65536 − 32768)
    * travels as a binary column and is decoded by `javax.sound.sampled`
    * — container sniff, frame parse, endianness resolution — inside
    * [[graft.multimodal.ArrowBatchStage.decodeAudio]]. The oracle
    * replays the ARITHMETIC, never the bytes: detected container,
    * sample count, rate, amplitude/energy sums, peak, zero crossings,
    * and a ×131 rolling checksum over unsigned sample values must all
    * survive the encode→decode round trip bit-for-bit, so any
    * endianness/sign/header-offset mistake in the decode path breaks
    * the hash.
    */
  /** REAL video decode — the third modality, closing the family:
    * per document, a GVID frame container ([[graft.multimodal
    * .VideoCodecs]] — 'GVID' magic, u32 LE count, length-prefixed
    * frames) whose 2–5 frames are REAL encoded images of the derived
    * id 97·id + f (even derived ids hand-built BMP, odd JDK PNG, so
    * codecs alternate WITHIN one video). The operator walks the
    * framing (bounds-checked, zero-copy slices), decodes every frame
    * through the genuine `javax.imageio` path, and explodes to one
    * row per frame — the asset→frames generator shape of m03 with a
    * real demux + codec underneath. Malformed containers and frames
    * quarantine as sentinel rows (VideoContainerSpec pins junk,
    * truncation, lying lengths, trailing bytes, corrupt payloads);
    * the oracle replays codec/dims/checksum arithmetically from the
    * derived-id pixel function.
    */
  val m08 = QueryDef(
    "m08_video_decode",
    Some("""WITH f AS (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS k FROM documents),
      d AS (SELECT doc_id, k, doc_id*97 + k AS fid FROM f),
      g AS (SELECT doc_id, k, fid, fid % 5 + 4 AS w, fid % 3 + 3 AS h FROM d)
      SELECT doc_id AS asset_id, CAST(k AS BIGINT) AS frame_no,
        CASE WHEN fid % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(0, w*h*3), j -> (fid*7 + ((j//3) % w)*3 + ((j//3) // w)*5 + (j%3)*11) % 256)),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS px_checksum
      FROM g ORDER BY asset_id, frame_no""")) { (s, d) =>
    import s.implicits._
    graft.multimodal.MultimodalPipeline.videoAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.VideoCodecs.decodeFrames(a.data) match {
            case None => // container-level quarantine: one sentinel row
              Iterator.single((a.asset_id, -1L, "quarantine", -1L, -1L, -1L))
            case Some(frames) =>
              frames.iterator.zipWithIndex.map { case ((off, len), f) =>
                graft.multimodal.ImageCodecs.decode(a.data, off, len) match {
                  case Some(dec) =>
                    (a.asset_id, f.toLong, dec.codec, dec.width.toLong,
                      dec.height.toLong, dec.pxChecksum)
                  case None => // frame-level quarantine
                    (a.asset_id, f.toLong, "quarantine", -1L, -1L, -1L)
                }
              }
          }
        }
      }
      .toDF("asset_id", "frame_no", "codec", "width", "height", "px_checksum")
      .orderBy("asset_id", "frame_no")
  }

  val m07 = QueryDef(
    "m07_audio_decode",
    Some("""WITH g AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents),
      s AS (SELECT doc_id, n,
        list_transform(range(0, n), i -> (doc_id*31 + i*i*13 + i*17) % 65536) AS raw FROM g)
      SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 2 = 0 THEN 'wave' ELSE 'aiff' END AS codec,
        CAST(n AS BIGINT) AS n_samples,
        CAST(8000 AS BIGINT) AS sample_rate,
        CAST(list_sum(list_transform(raw, v -> v - 32768)) AS BIGINT) AS amp_sum,
        CAST(list_sum(list_transform(raw, v -> abs(v - 32768))) AS BIGINT) AS abs_sum,
        CAST(list_max(list_transform(raw, v -> abs(v - 32768))) AS BIGINT) AS peak,
        CAST(len(list_filter(range(1, n),
          i -> ((raw[i+1] - 32768) >= 0) <> ((raw[i] - 32768) >= 0))) AS BIGINT) AS zero_crossings,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(raw, v -> CAST(v AS BIGINT))),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS checksum
      FROM s ORDER BY asset_id""")) { (s, d) =>
    graft.multimodal.ArrowBatchStage.decodeAudio(
      graft.multimodal.MultimodalPipeline.audioAssets(s, d))
      .orderBy("asset_id")
  }

  /** m09: decode → RESIZE → featurize — the geometric-transform stage
    * missing between m05 (decode) and m06 (fingerprint): every image
    * is decoded through the genuine `javax.imageio` path, resampled
    * to a fixed 8×8 thumbnail by integer nearest-neighbor
    * ([[graft.multimodal.ImageCodecs.resizeNearest]] — out(x,y) =
    * in(⌊x·w/8⌋, ⌊y·h/8⌋); Java2D's own scaler is implementation-
    * dependent and therefore banned here), and reduced to channel
    * sums + the m05 rolling checksum over the RESIZED pixels. This is
    * the normalize-resolution step every vision training pipeline
    * runs before batching; the oracle replays the sample-index
    * arithmetic from the synthetic pixel function, so a half-pixel
    * offset, a transposed axis, or a codec mis-decode all break the
    * hash. Narrow partition-local kernel — no shuffle but the final
    * presentation sort.
    */
  val m09 = QueryDef(
    "m09_resize_stats",
    Some {
      def srcIdx(k: String) =
        s"(doc_id*7 + (((($k) % 8) * w) // 8)*3 + (((($k) // 8) * h) // 8)*5"
      s"""WITH g AS (SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents)
      SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
        CAST(w AS BIGINT) AS src_width, CAST(h AS BIGINT) AS src_height,
        CAST(list_sum(list_transform(range(0, 64), k -> ${srcIdx("k")}) % 256)) AS BIGINT) AS r_sum,
        CAST(list_sum(list_transform(range(0, 64), k -> ${srcIdx("k")} + 11) % 256)) AS BIGINT) AS g_sum,
        CAST(list_sum(list_transform(range(0, 64), k -> ${srcIdx("k")} + 22) % 256)) AS BIGINT) AS b_sum,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(0, 192), k -> ${srcIdx("k//3")} + (k%3)*11) % 256)),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS px_checksum
      FROM g ORDER BY asset_id"""
    }) { (s, d) =>
    import s.implicits._
    graft.multimodal.MultimodalPipeline.imageAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.ImageCodecs.decodeImage(a.data, 0, a.data.length)
            .map { case (codec, img) =>
              val thumb = graft.multimodal.ImageCodecs.resizeNearest(img, 8, 8)
              val (rs, gs, bs, ck) = graft.multimodal.ImageCodecs.pixelStats(thumb)
              (a.asset_id, codec, img.getWidth.toLong, img.getHeight.toLong,
                rs, gs, bs, ck)
            }
        }
      }
      .toDF("asset_id", "codec", "src_width", "src_height",
        "r_sum", "g_sum", "b_sum", "px_checksum")
      .orderBy("asset_id")
  }

  /** m11: decode → RESAMPLE → featurize for audio — m09's geometric-
    * transform slot applied to the second modality: every clip is
    * decoded through the genuine `javax.sound.sampled` path
    * ([[graft.multimodal.AudioCodecs.decodeSamples]] — the raw-sample
    * half of m07's decoder), DECIMATED 2:1 by the same integer
    * index-map discipline as m09's resize (out(j) = in(2j); a
    * windowed/filtered resampler is implementation-dependent, so the
    * kernel is the replayable nearest-sample form), and reduced to
    * m07's signal-statistics family over the RESAMPLED series. The
    * oracle replays the decimated sample arithmetic; the Spark side
    * computes from genuinely decoded bytes, so endianness/container
    * fidelity stays load-bearing through the transform. Narrow
    * partition-local kernel — no shuffle but the presentation sort.
    */
  val m11 = QueryDef(
    "m11_audio_resample",
    Some("""WITH g AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents),
      s AS (SELECT doc_id, n, (n + 1) // 2 AS m,
        list_transform(range(0, (n + 1) // 2),
          j -> (doc_id*31 + (2*j)*(2*j)*13 + (2*j)*17) % 65536) AS raw FROM g)
      SELECT doc_id AS asset_id,
        CASE WHEN doc_id % 2 = 0 THEN 'wave' ELSE 'aiff' END AS codec,
        CAST(n AS BIGINT) AS n_in, CAST(m AS BIGINT) AS n_out,
        CAST(4000 AS BIGINT) AS out_rate,
        CAST(list_sum(list_transform(raw, v -> v - 32768)) AS BIGINT) AS amp_sum,
        CAST(list_sum(list_transform(raw, v -> abs(v - 32768))) AS BIGINT) AS abs_sum,
        CAST(list_max(list_transform(raw, v -> abs(v - 32768))) AS BIGINT) AS peak,
        CAST(len(list_filter(range(1, m),
          j -> ((raw[j+1] - 32768) >= 0) <> ((raw[j] - 32768) >= 0))) AS BIGINT) AS zero_crossings,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(raw, v -> CAST(v AS BIGINT))),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS checksum
      FROM s ORDER BY asset_id""")) { (s, d) =>
    import s.implicits._
    graft.multimodal.MultimodalPipeline.audioAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.AudioCodecs.decodeSamples(a.data, 0, a.data.length)
            .map { case (codec, rate, _, samples) =>
              val n = samples.length
              val (amp, ab, peak, zc, ck) =
                graft.multimodal.AudioCodecs.foldStats(samples, 0, n, 2)
              (a.asset_id, codec, n.toLong, ((n + 1) / 2).toLong, rate / 2,
                amp, ab, peak, zc, ck)
            }
        }
      }
      .toDF("asset_id", "codec", "n_in", "n_out", "out_rate", "amp_sum",
        "abs_sum", "peak", "zero_crossings", "checksum")
      .orderBy("asset_id")
  }

  /** m10's ln lookup: round(ln(n)·10⁹) for n = 1..40 (max pixel count
    * is 8×5) — the x13/x18 shared-literal-transcendental discipline at
    * image scale: neither engine calls its own ln, so the entropy sum
    * is an EXACT BIGINT in both.
    */
  private val M10LnNano: IndexedSeq[Long] =
    (1 to 40).map(n => math.round(math.log(n.toDouble) * 1e9))

  /** ln(n)·10⁹ with graceful degradation: the shared-literal table
    * within the oracle-replayed bound (n ≤ 40, the synthetic
    * fixture's 8×5 pixel max), a deterministic JVM fallback beyond it
    * — so a real-sized image flows through the m10/m13 entropy path
    * instead of throwing on the table bound. The table IS the
    * cross-engine contract only where an oracle replays the pixels;
    * past it, exactness-to-DuckDB has no meaning and round(log(n)·1e9)
    * is the same formula the table was built from.
    */
  private def lnNano(tbl: Array[Long], n: Long): Long =
    if (n < 1) 0L
    else if (n <= tbl.length) tbl(n.toInt - 1)
    else math.round(math.log(n.toDouble) * 1e9)

  /** m10: image QUALITY filter over decoded pixels — the multimodal
    * analog of x03's text-quality heuristics: per image, the 8-bucket
    * luma-histogram Shannon entropy (flat/synthetic/banner images
    * score low; natural images high) and the luma contrast span, with
    * a low-information flag the curation pipeline drops on. Entropy in
    * EXACT integer nats·10⁹: H·N·10⁹ = Σ_b n_b·(lnN − ln n_b) over the
    * shared [[M10LnNano]] literals, so the only float op is one final
    * IEEE division by N·10⁹ on identical operands, and the FLAG
    * compares exact integers (s < N·10⁹ ⇔ H < 1 nat) — no float
    * threshold anywhere. The Spark side computes everything from
    * genuinely DECODED bytes (`javax.imageio` via
    * [[graft.multimodal.ImageCodecs.decodeImage]]); the oracle replays
    * the pixel arithmetic, so codec fidelity stays load-bearing
    * (the m05 contract). Narrow partition-local kernel — no shuffle
    * but the presentation sort; at 100 TB this is a pure map stage
    * whose cost is decode-bound, exactly where a columnar batch codec
    * (m04's Arrow seam) slots in.
    */
  val m10 = QueryDef(
    "m10_image_quality",
    Some {
      val base = "(doc_id*7 + (k % w)*3 + (k // w)*5)"
      val luma = s"((299*(($base) % 256) + 587*(($base + 11) % 256) + 114*(($base + 22) % 256)) // 1000)"
      s"""WITH g AS (SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents),
      lum AS (SELECT doc_id, w*h AS n, $luma AS y
              FROM g, unnest(range(0, w*h)) AS r(k)),
      hist AS (SELECT doc_id, n, y // 32 AS b, count(*) AS nb FROM lum GROUP BY 1, 2, 3),
      lt AS (SELECT ${M10LnNano.mkString("[", ", ", "]")} AS a),
      ent AS (SELECT doc_id, n,
                CAST(sum(nb * (lt.a[CAST(n AS INT)] - lt.a[CAST(nb AS INT)])) AS BIGINT) AS s
              FROM hist CROSS JOIN lt GROUP BY 1, 2),
      rng AS (SELECT doc_id, count(DISTINCT y // 32) AS n_buckets,
                max(y) - min(y) AS contrast FROM lum GROUP BY 1)
      SELECT e.doc_id AS asset_id, CAST(e.n AS BIGINT) AS n_px,
        CAST(r.n_buckets AS BIGINT) AS n_buckets,
        CAST(r.contrast AS BIGINT) AS contrast,
        e.s AS ent_nano,
        CAST(e.s AS DOUBLE) / CAST(e.n * 1000000000 AS DOUBLE) AS entropy,
        e.s < e.n * 1000000000 AS is_lowinfo
      FROM ent e JOIN rng r USING (doc_id) ORDER BY asset_id"""
    }) { (s, d) =>
    import s.implicits._
    val ln = M10LnNano.toArray
    graft.multimodal.MultimodalPipeline.imageAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.ImageCodecs.decodeImage(a.data, 0, a.data.length)
            .map { case (_, img) =>
              val w = img.getWidth; val h = img.getHeight
              val hist = new Array[Long](8)
              var minY = Int.MaxValue; var maxY = Int.MinValue
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                    114 * (rgb & 0xff)) / 1000
                  hist(lum / 32) += 1
                  if (lum < minY) minY = lum
                  if (lum > maxY) maxY = lum
                  x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              var s = 0L; var nBuckets = 0L; var b = 0
              while (b < 8) {
                if (hist(b) > 0) {
                  nBuckets += 1
                  s += hist(b) * (lnNano(ln, n) - lnNano(ln, hist(b)))
                }
                b += 1
              }
              (a.asset_id, n, nBuckets, (maxY - minY).toLong, s,
                s.toDouble / (n * 1000000000L).toDouble, s < n * 1000000000L)
            }
        }
      }
      .toDF("asset_id", "n_px", "n_buckets", "contrast", "ent_nano",
        "entropy", "is_lowinfo")
      .orderBy("asset_id")
  }

  /** m12: SCENE-CHANGE detection — the temporal-segmentation pass a
    * video curation pipeline runs after demux (m08): consecutive
    * frames of each GVID container are decoded through the genuine
    * `javax.imageio` path, normalized to 8×8 by the m09 integer
    * nearest-neighbor kernel (frames in one container have differing
    * native dims — normalization is what makes them comparable, as in
    * any real shot-boundary detector), and scored by the L1 pixel
    * distance over the 192 resized channel values; a CUT fires where
    * the distance exceeds τ=6000 (both classes live at every SF:
    * 161/1089 at sf0.01). The oracle replays decode→resize→diff
    * arithmetically from the frame-id pixel function, so axis
    * transposition, off-by-one frame pairing, or a codec mis-decode
    * all break the hash.
    *
    * Scale shape: narrow partition-local kernel — each asset's frames
    * decode and difference inside one task, no shuffle but the
    * presentation sort; per-asset state is ONE previous thumbnail
    * (192 ints), so arbitrarily long videos stream through the
    * iterator without materializing all frames.
    */
  val m12 = QueryDef(
    "m12_scene_detect",
    Some("""WITH f AS (SELECT doc_id, unnest(range(1, doc_id % 4 + 2)) AS k FROM documents),
      g AS (SELECT doc_id, k, doc_id*97 + k AS fid, doc_id*97 + k - 1 AS pfid FROM f),
      h AS (SELECT doc_id, k, fid, pfid, fid % 5 + 4 AS w, fid % 3 + 3 AS hh,
              pfid % 5 + 4 AS pw, pfid % 3 + 3 AS ph FROM g),
      d AS (SELECT doc_id, k,
        list_sum(list_transform(range(0, 192), j ->
          abs( (fid*7 + ((((j//3)%8)*w)//8)*3 + ((((j//3)//8)*hh)//8)*5 + (j%3)*11) % 256
             - (pfid*7 + ((((j//3)%8)*pw)//8)*3 + ((((j//3)//8)*ph)//8)*5 + (j%3)*11) % 256 ))) AS l1
      FROM h)
      SELECT doc_id AS asset_id, CAST(k AS BIGINT) AS frame_no,
        CAST(l1 AS BIGINT) AS l1_diff, l1 > 6000 AS is_cut
      FROM d ORDER BY asset_id, frame_no""")) { (s, d) =>
    import s.implicits._
    graft.multimodal.MultimodalPipeline.videoAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.VideoCodecs.decodeFrames(a.data) match {
            case None => Iterator.empty
            case Some(frames) =>
              // stream the frame sequence with one-thumb state
              var prev: Array[Int] = null
              frames.iterator.zipWithIndex.flatMap { case ((off, len), f) =>
                val cur = graft.multimodal.ImageCodecs
                  .decodeImage(a.data, off, len).map { case (_, img) =>
                    val t = graft.multimodal.ImageCodecs.resizeNearest(img, 8, 8)
                    val vals = new Array[Int](192)
                    var j = 0
                    var y = 0
                    while (y < 8) {
                      var x = 0
                      while (x < 8) {
                        val rgb = t.getRGB(x, y)
                        vals(j) = (rgb >> 16) & 0xFF
                        vals(j + 1) = (rgb >> 8) & 0xFF
                        vals(j + 2) = rgb & 0xFF
                        j += 3
                        x += 1
                      }
                      y += 1
                    }
                    vals
                  }.orNull
                val out = (prev, cur) match {
                  case (p, c) if p != null && c != null =>
                    var l1 = 0L
                    var j = 0
                    while (j < 192) { l1 += math.abs(c(j) - p(j)); j += 1 }
                    Iterator.single((a.asset_id, f.toLong, l1, l1 > 6000L))
                  case _ => Iterator.empty
                }
                prev = cur
                out
              }
          }
        }
      }
      .toDF("asset_id", "frame_no", "l1_diff", "is_cut")
      .orderBy("asset_id", "frame_no")
  }

  /** m13: the multimodal CURATION capstone — x09's declarative
    * pipeline shape applied to images, chaining the family's shipped
    * stages over ONE decode pass: (1) exact perceptual collapse —
    * assets grouped by the m06 dHash, lowest-id representative kept
    * with its member count (500 docs → 102 groups at sf0.01); (2)
    * near-dup pruning — the m06 pigeonhole banding over the DISTINCT
    * survivor hashes, any rep that is the greater of a hamming ≤ 3
    * pair dropped (keep-lowest, the x09 survivor rule; → 54); (3) the
    * m10 entropy quality gate — only images carrying ≥ 1 nat of luma-
    * histogram information survive (→ 22 curated). Dedup runs BEFORE
    * quality on purpose: at scale the collapse shrinks the set the
    * scorer must touch — the order a production curation pipeline
    * uses for the same reason.
    *
    * Every metric (codec, dims, dHash, entropy) comes from genuinely
    * DECODED pixels in one `mapPartitions` pass; the oracle replays
    * all three stages from the synthetic pixel arithmetic, reusing
    * the m06 bit construction and the m10 histogram chain. Shape:
    * one narrow decode pass → one phash-keyed aggregate → the
    * banding self-join over group-table rows (never the corpus) →
    * one anti join → a narrow filter.
    */
  /** The m13 oracle's shared CTE chain — synthetic-pixel replay of
    * decode → phash collapse → near-dup prune → entropy inputs,
    * ending with `reps` (curated groups), `g` (dims), `ent` (nano-
    * entropy sums). m13 selects per-asset rows from it; c04's landing
    * report aggregates it per codec ([[graft.operators.Pipeline]]) —
    * one chain, so the capstone provably lands exactly what the
    * verdict table shows.
    */
  private[operators] val duckCuratedChain: String = {
    val base = "(doc_id*7 + (k % w)*3 + (k // w)*5)"
    val luma = s"((299*(($base) % 256) + 587*(($base + 11) % 256) + 114*(($base + 22) % 256)) // 1000)"
    val bit = duckPhashBit()
    s"""WITH g AS (SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents),
      ph AS (SELECT g.doc_id,
          CAST(list_sum(list_transform(range(0, 60), k -> $bit)) AS BIGINT) AS phash
        FROM g),
      grp AS (SELECT phash, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS members
        FROM ph GROUP BY phash),
      bb AS (SELECT phash, rep, unnest(range(0, 4)) AS band FROM grp),
      bv AS (SELECT phash, rep, band,
          (phash >> CAST(band * 15 AS INT)) & 32767 AS bv FROM bb),
      cp AS (SELECT DISTINCT least(a.rep, x.rep) AS ra, greatest(a.rep, x.rep) AS rb
        FROM bv a JOIN bv x ON a.band = x.band AND a.bv = x.bv AND a.phash <> x.phash
        WHERE bit_count(xor(a.phash, x.phash)) <= 3),
      reps AS (SELECT grp.* FROM grp
        WHERE NOT EXISTS (SELECT 1 FROM cp WHERE cp.rb = grp.rep)),
      lum AS (SELECT doc_id, w*h AS n, $luma AS y
        FROM g JOIN reps ON reps.rep = g.doc_id, unnest(range(0, w*h)) AS r(k)),
      hist AS (SELECT doc_id, n, y // 32 AS b, count(*) AS nb FROM lum GROUP BY 1, 2, 3),
      lt AS (SELECT ${M10LnNano.mkString("[", ", ", "]")} AS a),
      ent AS (SELECT doc_id, n,
          CAST(sum(nb * (lt.a[CAST(n AS INT)] - lt.a[CAST(nb AS INT)])) AS BIGINT) AS s
        FROM hist CROSS JOIN lt GROUP BY 1, 2)"""
  }

  val m13 = QueryDef(
    "m13_curation_pipeline",
    Some(s"""$duckCuratedChain
      SELECT reps.rep AS asset_id,
        CASE WHEN reps.rep % 2 = 0 THEN 'bmp' ELSE 'png' END AS codec,
        CAST(g.w AS BIGINT) AS width, CAST(g.h AS BIGINT) AS height,
        reps.members, reps.phash, ent.s AS ent_nano,
        CAST(ent.s AS DOUBLE) / CAST(ent.n * 1000000000 AS DOUBLE) AS entropy
      FROM reps JOIN g ON g.doc_id = reps.rep JOIN ent ON ent.doc_id = reps.rep
      WHERE ent.s >= ent.n * 1000000000
      ORDER BY asset_id""")) { (s, d) =>
    curatedImageMetrics(s, d)
      .select(col("asset_id"), col("codec"), col("width"), col("height"),
        col("members"), col("phash"), col("ent_nano"),
        (col("ent_nano").cast("double") /
          (col("n_px") * lit(1000000000L)).cast("double")).as("entropy"))
      .orderBy("asset_id")
  }

  /** One memoized decode-metrics PLAN per (catalog, content) —
    * without the memo, each [[curatedImageMetrics]] call would build
    * a FRESH mapPartitions closure, whose function identity defeats
    * CacheManager's sameResult match, so m13 then c04 in one session
    * would decode the corpus twice and pin two duplicate cache
    * entries. The memo stores the UNCACHED frame; the caller
    * re-`persist()`s it per use (idempotent when already cached),
    * because a harness clearCache UNREGISTERS cache entries — a
    * memoized pre-cached plan would silently degrade to re-decoding
    * per branch after the first clearCache.
    */
  private val imageMetricsMemo =
    new graft.engine.CatalogMemo[org.apache.spark.sql.DataFrame]

  /** The memoized decode-metrics frame, re-`persist()`ed per use
    * (idempotent; re-registers after any clearCache).
    */
  private def imageMetrics(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    imageMetricsMemo.buildOnce(s, d)(_ => buildImageMetrics(s, d)).persist()

  /** m13's curation chain over ONE CACHED decode pass, shared with
    * the c04 landing capstone: decode-derived metrics → exact phash
    * collapse → near-dup keep-lowest over the GROUP table → entropy
    * gate. Returns the curated frame WITH n_px so consumers derive
    * their own views (m13 the per-asset verdict table, c04 the
    * landed archive + per-codec report). The persist is what makes
    * the "one decode pass" claim literal: every downstream branch —
    * banding legs, drop anti join, landing, report — reads the
    * materialized metrics, never the codec path again (PipelineSpec
    * pins it); the memo above extends the sharing ACROSS operators.
    * Cache-block lifetime owned by the harness clearCache, as with
    * c01's attribute frame.
    */
  private[graft] def curatedImageMetrics(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    curateFromMetrics(imageMetrics(s, d))

  /** The raw decode pass: ONE mapPartitions yields every downstream
    * metric — codec, dims, perceptual hash, entropy — so curation
    * never re-decodes. UNCACHED by design (see [[imageMetricsMemo]]).
    */
  private def buildImageMetrics(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ln = M10LnNano.toArray
    graft.multimodal.MultimodalPipeline.imageAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.ImageCodecs.decodeImage(a.data, 0, a.data.length)
            .map { case (codec, img) =>
              val w = img.getWidth; val h = img.getHeight
              val phash = graft.multimodal.ImageCodecs.pHash60(img)
              val hist = new Array[Long](8)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                    114 * (rgb & 0xff)) / 1000
                  hist(lum / 32) += 1
                  x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              var sNano = 0L; var b = 0
              while (b < 8) {
                if (hist(b) > 0)
                  sNano += hist(b) * (lnNano(ln, n) - lnNano(ln, hist(b)))
                b += 1
              }
              (a.asset_id, codec, w.toLong, h.toLong, phash, sNano, n)
            }
        }
      }
      .toDF("asset_id", "codec", "width", "height", "phash", "ent_nano", "n_px")
  }

  /** collapse → near-dup prune → entropy gate over a (persisted)
    * metrics frame — cheap derivations rebuilt per call; the
    * expensive operand is the shared memoized metrics plan.
    */
  private def curateFromMetrics(
      metrics: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // (1) exact perceptual collapse: lowest-id rep carries its metrics
    val grp = metrics.groupBy("phash")
      .agg(min_by(struct(col("asset_id"), col("codec"), col("width"),
          col("height"), col("ent_nano"), col("n_px")), col("asset_id")).as("m"),
        count(lit(1)).as("members"))
      .select(col("m.asset_id").as("asset_id"), col("m.codec").as("codec"),
        col("m.width").as("width"), col("m.height").as("height"),
        col("phash"), col("m.ent_nano").as("ent_nano"),
        col("m.n_px").as("n_px"), col("members"))
    // (2) near-dup keep-lowest over the GROUP table (never the corpus)
    val bands = grp.select(col("phash"), col("asset_id").as("rep"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(phash, CAST(band * 15 AS INT)) & 32767"))
    val drops = bands.as("a").join(bands.as("x"),
        col("a.band") === col("x.band") && col("a.bv") === col("x.bv") &&
          col("a.phash") =!= col("x.phash"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("x.phash"))) <= 3)
      .select(greatest(col("a.rep"), col("x.rep")).as("rb"))
      .distinct()
    // (3) the m10 entropy gate over what remains
    grp.join(drops, col("asset_id") === col("rb"), "left_anti")
      .where(col("ent_nano") >= col("n_px") * lit(1000000000L))
  }

  /** m14: audio NEAR-DUP fingerprinting — the third modality's entry
    * in the near-dup matrix (text d02, image m06, audio here), the
    * re-encode/truncation-robust dedup an audio corpus runs before
    * training: every clip is decoded through the genuine
    * `javax.sound.sampled` path ([[graft.multimodal.AudioCodecs
    * .decodeSamples]] — m07/m11's decoder), LENGTH-NORMALIZED to a
    * fixed 20-probe grid by m09's integer index map (probe k reads
    * sample ⌊k·n/20⌋ — clips of different duration become comparable,
    * the resize discipline applied to time), and reduced to a 19-bit
    * DELTA-SIGN fingerprint (bit k = probe k+1 > probe k — the
    * Haitsma–Kalman sign-of-change idea at probe granularity). The
    * delta form makes the print DC-offset invariant: two clips
    * differing by a constant amplitude shift (exactly how this
    * synthetic family varies within a wrap class) fingerprint
    * identically, which a raw-sample hash would miss. Collapse is
    * m06's two-tier discipline verbatim: exact fp grouping keeps the
    * lowest asset_id with a member count, then pigeonhole banding
    * over the DISTINCT fingerprints (4 disjoint bands × 5 bits;
    * hamming ≤ 3 ⇒ some band agrees, so banding is EXACT at the ≤ 3
    * radius, never all-pairs — the pair join runs over fingerprint
    * GROUPS, whose count is bounded by 2¹⁹ regardless of corpus
    * size). Honest readout on THIS corpus: the synthetic quadratic
    * sweep is near-monotone, so fingerprints collapse to a handful of
    * wrap classes (3 groups for 500 clips at sf0.01) that all sit
    * within hamming ≤ 2 of each other — the operator correctly
    * reports one big perceptual family (the x22 honesty convention). The oracle replays the probe arithmetic
    * from the synthetic sample function; the Spark side computes from
    * genuinely DECODED bytes, so endianness/container fidelity stays
    * load-bearing through the fingerprint.
    */
  val m14 = QueryDef(
    "m14_audio_neardup",
    Some {
      def raw(i: String) = s"(doc_id*31 + ($i)*($i)*13 + ($i)*17) % 65536"
      s"""WITH g AS (SELECT doc_id, doc_id % 50 + 20 AS n FROM documents),
      fp AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 19), k ->
            CASE WHEN ${raw("((k+1)*n)//20")} > ${raw("(k*n)//20")}
              THEN (1::BIGINT << CAST(k AS INTEGER)) ELSE 0 END)) AS BIGINT) AS fp
        FROM g),
      grp AS (SELECT fp, min(doc_id) AS rep, count(*) AS members FROM fp GROUP BY fp),
      b AS (SELECT fp, rep, unnest(range(0, 4)) AS band FROM grp),
      bb AS (SELECT fp, rep, band,
          (fp >> CAST(band * 5 AS INT)) & 31 AS bv FROM b),
      cp AS (SELECT DISTINCT least(a.rep, x.rep) AS ra, greatest(a.rep, x.rep) AS rb
        FROM bb a JOIN bb x ON a.band = x.band AND a.bv = x.bv AND a.fp <> x.fp
        WHERE bit_count(xor(a.fp, x.fp)) <= 3),
      nr AS (SELECT r, count(*) AS n_near FROM
               (SELECT ra AS r FROM cp UNION ALL SELECT rb AS r FROM cp) GROUP BY r)
      SELECT grp.rep, grp.fp, CAST(grp.members AS BIGINT) AS members,
        CAST(coalesce(nr.n_near, 0) AS BIGINT) AS n_near
      FROM grp LEFT JOIN nr ON grp.rep = nr.r
      ORDER BY rep"""
    }) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val fp = graft.multimodal.MultimodalPipeline.audioAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          // undecodable clips quarantine out of the fingerprint space
          // (none in the synthetic corpus; the oracle sees all rows)
          graft.multimodal.AudioCodecs.decodeSamples(a.data, 0, a.data.length)
            .collect { case (_, _, _, samples) if samples.length >= 1 =>
              (a.asset_id,
                graft.multimodal.AudioCodecs.deltaSignFingerprint(samples, 20))
            }
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("asset_id", "fp")
    val grp = fp.groupBy("fp")
      .agg(min("asset_id").as("rep"), count(lit(1)).as("members"))
    val bands = grp.select(col("fp"), col("rep"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(fp, CAST(band * 5 AS INT)) & 31"))
    val pairs = bands.as("a").join(bands.as("x"),
        col("a.band") === col("x.band") && col("a.bv") === col("x.bv") &&
          col("a.fp") =!= col("x.fp"))
      .filter(bit_count(col("a.fp").bitwiseXOR(col("x.fp"))) <= 3)
      .select(least(col("a.rep"), col("x.rep")).as("ra"),
        greatest(col("a.rep"), col("x.rep")).as("rb"))
      .distinct()
    val near = pairs.select(col("ra").as("r"))
      .unionAll(pairs.select(col("rb").as("r")))
      .groupBy("r").agg(count(lit(1)).as("n_near"))
    grp.join(near, col("rep") === col("r"), "left")
      .select(col("rep"), col("fp"), big(col("members")).as("members"),
        big(coalesce(col("n_near"), lit(0L))).as("n_near"))
      .orderBy("rep")
  }

  /** Hub cap for m15's shared-fingerprint join: frame phashes held by
    * more videos than this are dropped before pairing (the d08/d17 df
    * cap applied to the fingerprint index) — they are intros/outros/
    * test-cards shared corpus-wide, which carry no near-dup signal
    * AND would make the join bucket quadratic. At real scale the cap
    * is set relative to catalog size (df ≤ ε·N).
    */
  private val VideoDfCap = 10

  /** m15: VIDEO near-dup via frame-fingerprint overlap — two videos
    * are near-duplicates when the df-capped DISTINCT frame-phash sets
    * overlap by ≥ 0.8 of the smaller set (re-encodes, trims, and
    * re-edits share most frames; the d17 containment measure applied
    * to the visual domain — the standard shot-level CBCD shape:
    * fingerprint frames, invert, score shared frames). Composes the
    * SHIPPED decode path end-to-end: m08's GVID demux + frame decode
    * (`javax.imageio`, zero-copy slices) feeding m06's pHash60 —
    * every fingerprint comes off REAL decoded pixels, and the oracle
    * replays the whole chain arithmetically from the frame-id pixel
    * function (the m08 discipline: any demux/codec/hash bug breaks
    * the hash).
    *
    * Determinism: fingerprints and counts are exact BIGINTs; the
    * threshold is the cleared-denominator `10·i ≥ 8·min` (d17);
    * `overlap` is ONE IEEE division of exact integers. Undecodable
    * containers/frames quarantine out of the fingerprint space (none
    * in the synthetic corpus, so the oracle sees every frame).
    *
    * Scale shape: decode is the one asset-sized pass (narrow,
    * partition-parallel); the fingerprint index self-join is bounded
    * by [[VideoDfCap]] per bucket — Σ df² over capped dfs, never
    * quadratic in a hub fingerprint; everything after is pair-sized.
    */
  val m15 = QueryDef(
    "m15_video_neardup",
    Some {
      val bit = duckPhashBit("fid")
      s"""WITH f AS (SELECT doc_id, unnest(range(0, doc_id % 4 + 2)) AS k2 FROM documents),
      d AS (SELECT doc_id, doc_id*97 + k2 AS fid FROM f),
      g AS (SELECT doc_id, fid, fid % 5 + 4 AS w, fid % 3 + 3 AS h FROM d),
      ph AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 60), k -> $bit)) AS BIGINT) AS phash
        FROM g),
      vp AS (SELECT DISTINCT doc_id, phash FROM ph),
      dfc AS (SELECT phash, count(*) AS df FROM vp GROUP BY 1),
      kept AS (SELECT doc_id, vp.phash FROM vp JOIN dfc ON vp.phash = dfc.phash
               WHERE df <= $VideoDfCap),
      vc AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
      shared AS (SELECT a.doc_id AS va, b.doc_id AS vb, count(*) AS i
        FROM kept a JOIN kept b ON a.phash = b.phash AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT va, vb, CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
        CAST(i AS BIGINT) AS n_shared,
        CAST(i AS DOUBLE) / least(ca.n, cb.n) AS overlap
      FROM shared JOIN vc ca ON ca.doc_id = va JOIN vc cb ON cb.doc_id = vb
      WHERE i * 10 >= least(ca.n, cb.n) * 8
      ORDER BY va, vb"""
    }) { (s, d) =>
    import org.apache.spark.sql.Encoders
    val fp = graft.multimodal.MultimodalPipeline.videoAssets(s, d)
      .mapPartitions { it =>
        it.flatMap { a =>
          graft.multimodal.VideoCodecs.decodeFrames(a.data).iterator.flatMap {
            frames =>
              frames.iterator.flatMap { case (off, len) =>
                graft.multimodal.ImageCodecs.decodeImage(a.data, off, len).map {
                  case (_, img) =>
                    (a.asset_id, graft.multimodal.ImageCodecs.pHash60(img))
                }
              }
          }
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF("doc_id", "phash")
      .distinct()
    val hot = fp.groupBy("phash").agg(count(lit(1)).as("df"))
      .where(col("df") > VideoDfCap).select("phash")
    val kept = fp.join(broadcast(hot), Seq("phash"), "left_anti")
    val vc = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = kept.as("a").join(kept.as("b"),
        col("a.phash") === col("b.phash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("va"), col("b.doc_id").as("vb"))
      .agg(count(lit(1)).as("i"))
    // count lookups ride the pair table, UNHINTED (the jaccardFrom
    // policy: AQE broadcasts vc while it is small)
    shared.join(vc.as("ca"), col("va") === col("ca.doc_id"))
      .join(vc.as("cb"), col("vb") === col("cb.doc_id"))
      .where(col("i") * 10 >= least(col("ca.n"), col("cb.n")) * 8)
      .select(col("va"), col("vb"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        col("i").as("n_shared"),
        (col("i").cast("double") / least(col("ca.n"), col("cb.n")))
          .as("overlap"))
      .orderBy("va", "vb")
  }

  /** m16: PERCEPTUAL NEAR-DUP EVAL — the m-family's eval entry,
    * closing the per-family symmetry (d12 grades d02's banding, s10
    * grades ANN recall, x22 grades lang-ID, g09 grades g08's
    * partition; the perceptual near-dup family had operators but no
    * readout). Grades m06's 4×15-bit pigeonhole banding over the
    * SHIPPED fingerprint space ([[imagePhashes]] — the real decode
    * path; oracle replays [[duckImagePhashCtes]], the same text m06
    * uses) against EXACT hamming ≤ 3 ground truth computed all-pairs
    * over the DISTINCT fingerprints — the d03/d05 exactness-baseline
    * rule: the quadratic leg runs on the fingerprint table (541 rows
    * at sf0.1), never the corpus.
    *
    * What the row proves: `cand_recall` = 1.0 is the PIGEONHOLE
    * THEOREM as data (≤ 3 differing bits leave ≥ 1 of 4 bands
    * intact — a band-geometry edit that breaks the guarantee fails
    * the hash, not just a code review); `cand_precision` = true
    * pairs / band-colliding pairs is the VERIFICATION EFFICIENCY —
    * the fraction of bucket collisions worth the hamming check,
    * which is the number that prices the banding at 100 TB (every
    * false candidate is a wasted distance computation); `max_bucket`
    * is the band-occupancy skew the bucket join's worst task sees.
    *
    * Determinism: counts are exact BIGINTs over exact fingerprints;
    * the two ratios are single IEEE divisions (the d12 convention).
    *
    * Scale shape: banding legs are fingerprint-table-sized; the
    * exact leg is the documented all-pairs baseline over distinct
    * fingerprints (at production fingerprint cardinality, sample
    * anchors as d12 does — the protocol transfers unchanged).
    */
  val m16 = QueryDef(
    "m16_neardup_eval",
    Some(s"""WITH $duckImagePhashCtes,
      hs AS (SELECT DISTINCT phash FROM ph),
      bv AS (SELECT phash, band,
          (phash >> CAST(band * 15 AS INT)) & 32767 AS bv
        FROM (SELECT phash, unnest(range(0, 4)) AS band FROM hs)),
      cand AS (SELECT DISTINCT least(a.phash, x.phash) AS pa,
          greatest(a.phash, x.phash) AS pb
        FROM bv a JOIN bv x ON a.band = x.band AND a.bv = x.bv
          AND a.phash <> x.phash),
      tru AS (SELECT a.phash AS pa, x.phash AS pb
        FROM hs a JOIN hs x ON a.phash < x.phash
        WHERE bit_count(xor(a.phash, x.phash)) <= 3),
      occ AS (SELECT band, bv, count(*) AS c FROM bv GROUP BY 1, 2),
      m AS (SELECT
        (SELECT count(*) FROM hs) AS n_hashes,
        (SELECT count(*) FROM tru) AS n_true,
        (SELECT count(*) FROM cand) AS n_cand,
        (SELECT count(*) FROM cand JOIN tru USING (pa, pb)) AS n_cand_true,
        (SELECT max(c) FROM occ) AS max_bucket)
      SELECT CAST(n_hashes AS BIGINT) AS n_hashes,
        CAST(n_true AS BIGINT) AS n_true,
        CAST(n_cand AS BIGINT) AS n_cand,
        CAST(n_cand_true AS BIGINT) AS n_cand_true,
        CASE WHEN n_true = 0 THEN 1.0
             ELSE CAST(n_cand_true AS DOUBLE) / CAST(n_true AS DOUBLE) END AS cand_recall,
        CASE WHEN n_cand = 0 THEN 1.0
             ELSE CAST(n_cand_true AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS cand_precision,
        CAST(max_bucket AS BIGINT) AS max_bucket
      FROM m""")) { (s, d) =>
    // distinct fingerprints: the space both legs run on (cached — the
    // banding legs, the exact leg, and the occupancy readout all read
    // it; lifetime owned by the harness clearCache, as with q51/e14)
    val hs = imagePhashes(s, d).select("phash").distinct().cache()
    val bv = hs.select(col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(phash, CAST(band * 15 AS INT)) & 32767"))
    val cand = bv.as("a").join(bv.as("x"),
        col("a.band") === col("x.band") && col("a.bv") === col("x.bv") &&
          col("a.phash") =!= col("x.phash"))
      .select(least(col("a.phash"), col("x.phash")).as("pa"),
        greatest(col("a.phash"), col("x.phash")).as("pb"))
      .distinct()
    // exact ground truth: all-pairs hamming over DISTINCT fingerprints
    // — the d03/d05 documented exactness baseline (group-table-sized)
    val tru = hs.as("a").join(hs.as("x"), col("a.phash") < col("x.phash"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("x.phash"))) <= 3)
      .select(col("a.phash").as("pa"), col("x.phash").as("pb"))
    val counts = cand.withColumn("c", lit(1L))
      .join(tru.withColumn("t", lit(1L)), Seq("pa", "pb"), "full")
      .agg(
        coalesce(sum(coalesce(col("t"), lit(0L))), lit(0L)).as("n_true"),
        coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L)).as("n_cand"),
        coalesce(sum(when(col("c").isNotNull && col("t").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_cand_true"))
    counts
      .crossJoin(hs.agg(count(lit(1)).as("n_hashes")))
      .crossJoin(bv.groupBy("band", "bv").agg(count(lit(1)).as("c"))
        .agg(max("c").as("max_bucket")))
      .select(col("n_hashes"), col("n_true"), col("n_cand"),
        col("n_cand_true"),
        when(col("n_true") === 0L, lit(1.0))
          .otherwise(col("n_cand_true").cast("double") / col("n_true").cast("double"))
          .as("cand_recall"),
        // n_cand_true (NOT n_true) over n_cand: the two only agree
        // while recall is 1.0 — a broken band geometry must not let
        // never-candidate true pairs inflate the efficiency readout
        when(col("n_cand") === 0L, lit(1.0))
          .otherwise(col("n_cand_true").cast("double") / col("n_cand").cast("double"))
          .as("cand_precision"),
        col("max_bucket"))
  }
}
