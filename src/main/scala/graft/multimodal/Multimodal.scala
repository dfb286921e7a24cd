package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads + typed
  * metadata, with decode / feature-extract / frame-sample stages as
  * partition-local transforms.
  *
  * The reference has no binary/media handling at all (its cells are
  * untyped byte strings rendered to CSV/JSON/YAML, SURVEY.md §1.1);
  * this is part of the training-data-pipeline extension surface.
  *
  * Design for 100 TB:
  *   - assets travel as `binary` columns inside the DataFrame — never
  *     collected, never driver-side; all stages are mapPartitions-
  *     shaped and pipeline inside a single stage (no shuffle).
  *   - image decode is REAL: [[ImageCodecs]] + m05 run the JDK's own
  *     `javax.imageio` codecs (PNG/BMP/JPEG/GIF/TIFF) at the Arrow
  *     batch seam ([[ArrowBatchStage.decodeImages]]).
  *   - audio decode is REAL too: [[AudioCodecs]] + m07 run the JDK's
  *     `javax.sound.sampled` codecs (WAV/AIFF/AU) at the same seam
  *     ([[ArrowBatchStage.decodeAudio]]). The byte-level features
  *     below ([[ByteFeatures.byteHistogram]]) remain as the
  *     codec-FREE path — the features a pipeline computes without
  *     decoding (video has no JDK codec; a production system plugs
  *     ffmpeg into the same batch seam).
  */
final case class Asset(
    asset_id: Long,
    modality: String, // "image" | "audio" | "video" | "text"
    data: Array[Byte],
    width: Int,
    height: Int)

final case class AssetFeatures(
    asset_id: Long,
    modality: String,
    byte_len: Int,
    checksum: Long,
    histogram: Array[Long], // 16-bucket byte histogram (decode stub)
    n_frames: Int)

object ByteFeatures {

  /** Byte-level (no-decode) feature: 16-bucket histogram of the raw
    * payload bytes. This is NOT a decoder stand-in — real image decode
    * lives in [[ImageCodecs.decode]]/m05 and real audio decode in
    * [[AudioCodecs.decode]]/m07 — it is the codec-free feature path
    * for modalities without a JDK codec (video), where production
    * plugs a native decoder into the same [[ArrowBatchStage]] seam.
    */
  def byteHistogram(data: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < data.length) { hist((data(i) & 0xff) >> 4) += 1; i += 1 }
    hist
  }

  /** Rolling checksum (same shape as the x04 text fingerprint). */
  def checksum(data: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < data.length) { h = (h * 31 + (data(i) & 0xff)) % 1000000007L; i += 1 }
    h
  }

  /** Frame sampling for "video" payloads: n evenly spaced fixed-size
    * slices (a real implementation would seek keyframes; the slicing,
    * batching and schema are what Spark cares about).
    */
  def frameSample(data: Array[Byte], n: Int, frameSize: Int): Seq[Array[Byte]] = {
    if (data.isEmpty || n <= 0) Seq.empty
    else (0 until n).map { k =>
      val off = ((data.length.toLong * k) / n).toInt
      data.slice(off, math.min(off + frameSize, data.length))
    }
  }
}

object MultimodalPipeline {

  /** Wrap the documents table as binary assets (deterministic UTF-8
    * payloads — the container has no real media testdata).
    */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(
        col("doc_id").as("asset_id"),
        // deterministic modality assignment, 3 classes
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("modality"),
        encode(col("text"), "UTF-8").as("data"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"))
      .as[Asset]
  }

  /** Synthesized IMAGE assets: one real encoded image per document id
    * (even ids BMP, odd ids PNG — [[ImageCodecs.encode]]), generated
    * executor-side in a narrow map. Stands in for a binary image
    * column read from storage; every payload is a pure function of
    * the id, so the m05 oracle can replay the decoded pixels without
    * ever seeing the bytes.
    */
  def imageAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    // spread the id scan BEFORE the codec map: the single-row-group
    // documents scan is one task, and encode/decode is the cost (the
    // ids crossing the exchange are 8 bytes/row) — guide §2.5
    graft.Tables.spreadForCompute(
      graft.Tables.documents(spark, dir).select(col("doc_id")),
      col("doc_id")).as[Long]
      .map { id =>
        val (w, h) = ImageCodecs.dims(id)
        Asset(id, "image", ImageCodecs.encode(id), w, h)
      }
  }

  /** Synthesized AUDIO assets: one real encoded clip per document id
    * (even ids hand-built RIFF/WAV, odd ids JDK-encoded AIFF —
    * [[AudioCodecs.encode]]), generated executor-side in a narrow map.
    * Every sample is a pure function of (id, i), so the m07 oracle can
    * replay the decoded signal statistics without ever seeing the
    * bytes. width/height carry (n_samples, sample_rate) for the Asset
    * shape.
    */
  def audioAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    // NO compute-spread here, unlike imageAssets/videoAssets: measured
    // r8 (A/B, warm min-of-3 at sf0.1/local[32]) the audio family gets
    // 2–2.5× SLOWER spread 32-way (m07 2.2→5.7 s, m11 1.9→3.5,
    // m14 2.0→4.0) — javax.sound's AudioSystem provider registry is a
    // process-global synchronized service lookup on EVERY
    // encode/write/sniff call, so concurrent tasks convoy on the lock
    // and pay contention on top of serialization. The production shape
    // plugs a native (lock-free) decoder into the same batch seam, and
    // THEN the imageAssets spread applies verbatim.
    graft.Tables.documents(spark, dir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        Asset(id, "audio", AudioCodecs.encode(id),
          AudioCodecs.nSamples(id), AudioCodecs.SampleRate)
      }
  }

  /** Synthesized VIDEO assets: one GVID frame container per document
    * id, each frame a real BMP/PNG image of the derived id 97·id + f
    * ([[VideoCodecs.encode]]), generated executor-side in a narrow
    * map. width carries the frame count for the Asset shape.
    */
  def videoAssets(spark: SparkSession, dir: String): Dataset[Asset] = {
    import spark.implicits._
    // id-scan spread before the codec map (see imageAssets)
    graft.Tables.spreadForCompute(
      graft.Tables.documents(spark, dir).select(col("doc_id")),
      col("doc_id")).as[Long]
      .map { id =>
        Asset(id, "video", VideoCodecs.encode(id), VideoCodecs.nFrames(id), 0)
      }
  }

  /** Partition-local decode + feature extraction. One iterator pass
    * per partition, constant memory, no shuffle — the plan stays a
    * single map stage whatever the corpus size.
    */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val frames =
          if (a.modality == "video") ByteFeatures.frameSample(a.data, 4, 256).size
          else if (a.data.isEmpty) 0
          else 1
        AssetFeatures(
          a.asset_id, a.modality, a.data.length,
          ByteFeatures.checksum(a.data),
          ByteFeatures.byteHistogram(a.data), frames)
      }
    }
  }

  /** Full stub pipeline as a DataFrame (queries-map entry point).
    * Counters emit as BIGINT to align with the DuckDB oracle schema.
    */
  def features(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(assetsFromDocuments(spark, dir)).toDF()
      .select(col("asset_id"), col("modality"),
        col("byte_len").cast("long").as("byte_len"),
        col("checksum"),
        col("n_frames").cast("long").as("n_frames"),
        element_at(col("histogram"), 1).as("hist_bucket0"),
        aggregate(col("histogram"), lit(0L), (acc, x) => acc + x).as("hist_total"))
      .orderBy("asset_id")
}
