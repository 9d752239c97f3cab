package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (BASELINE.json north star): media payloads
  * ride as opaque `binary` columns with typed metadata alongside; decode /
  * feature-extraction runs batched per partition.
  *
  * The container has no image/audio codecs, so [[DecodeStub.decode]] is a
  * DETERMINISTIC FAKE — the Spark-side plumbing (schema, batching,
  * partition-parallel execution, feature schema) is real and tested; a
  * production build swaps only the stub body for a JNI/codec call.
  *
  * Scale notes: payload bytes stay columnar in parquet, decode is
  * `mapPartitions` (one codec init per partition, not per row — the same
  * batch shape as an Arrow-batched pandas UDF), and metadata-only queries
  * never touch the payload column thanks to parquet column pruning.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
      width: Int, height: Int, checksum: Long)

  /** Synthesize a media table from `documents`: the text bytes stand in for
    * an encoded payload; media_type cycles deterministically. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      col("text").cast("binary").as("payload"))

  /** Batched "decode": one decoder init per partition, rows processed
    * through an iterator (never materializing the partition). The feature
    * math is the stub — byte-derived pseudo width/height/checksum. */
  object DecodeStub {
    /** STUB: stands in for a real codec (libpng/ffmpeg/...). Deterministic
      * so tests and reruns agree. */
    def decode(payload: Array[Byte]): (Int, Int, Long) = {
      var checksum = 0L
      var i = 0
      while (i < payload.length) { checksum = checksum * 131 + (payload(i) & 0xff); i += 1 }
      val w = 64 + math.abs(checksum % 1024).toInt
      val h = 64 + math.abs((checksum >> 10) % 1024).toInt
      (w, h, checksum)
    }
  }

  /** Partition-parallel feature extraction over the media table. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (one per task, not per row)
      rows.map { r =>
        val (w, h, sum) = DecodeStub.decode(r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length, w, h, sum)
      }
    }
  }

  final case class FrameRow(doc_id: Long, frame_idx: Int, frame_ms: Int,
      frame_checksum: Long)

  /** Video frame sampling — the training-data op that turns a video corpus
    * into a bounded image set. Frame COUNT comes from container metadata
    * (stubbed as payload_bytes/64, one "frame" per 64-byte window); stride
    * sampling caps output at ≤8 frames per doc regardless of duration, so
    * the fan-out is bounded and the downstream table grows with the corpus,
    * not with video length. Per-frame decode+checksum is the deterministic
    * stub (polynomial over the frame's byte window — a production build
    * swaps in the codec seek+decode); the sampling plan (which indices,
    * their timestamps) is pure arithmetic the oracle re-derives exactly.
    * Same batch shape as [[extractFeatures]]: flatMap inside mapPartitions,
    * one decoder init per partition, never materializing the partition. */
  def sampleFrames(media: Dataset[MediaRow]): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.filter(col("media_type") === lit("video/mp4")).as[MediaRow]
      .mapPartitions { rows =>
        // per-partition codec init would go here
        rows.flatMap { r =>
          val nFrames = math.max(r.payload.length / 64, 1)
          val stride = (nFrames + 7) / 8 // ceil → at most 8 sampled frames
          Iterator.range(0, nFrames, stride).map { i =>
            val from = math.min(i * 64, r.payload.length)
            val until = math.min(from + 64, r.payload.length)
            var cs = 0L
            var j = from
            while (j < until) { cs = cs * 131 + (r.payload(j) & 0xff); j += 1 }
            FrameRow(r.doc_id, i, i * 40, cs) // 25 fps → 40 ms per frame
          }
        }
      }
  }

  /** 64-bit perceptual hash of a payload — the decode→downscale→DCT→
    * median-threshold pipeline of a real pHash STUBBED as interleaved
    * byte-sum parities: bit i = parity of the sum of payload bytes at
    * positions ≡ i (mod 64). The stub keeps the locality property the
    * whole screen exists for: a same-length re-encode artifact touching
    * k bytes flips AT MOST k bits (Hamming ≤ k), while unrelated payloads
    * land ~32 apart — so banding + Hamming-verify downstream behaves
    * exactly as it would over real DCT bits, and a production build swaps
    * only this body for the codec+DCT call. Same batch shape as
    * [[extractFeatures]]: mapPartitions, one decoder init per partition. */
  def phashTable(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec init would go here
      rows.map { r =>
        val sums = new Array[Long](64)
        var i = 0
        while (i < r.payload.length) { sums(i & 63) += (r.payload(i) & 0xff); i += 1 }
        var ph = 0L
        var b = 0
        while (b < 64) { if ((sums(b) & 1L) == 1L) ph |= 1L << b; b += 1 }
        (r.doc_id, ph)
      }
    }.toDF("doc_id", "phash")
  }

  /** Read schema of the standing pHash index ([[phashIngestBatch]]). */
  val PhashSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phash",
        org.apache.spark.sql.types.LongType)))

  /** One micro-batch of pHash near-dup maintenance at ingest: hash the
    * batch's payloads once, emit the batch's near-dup pairs against the
    * standing hash index (O(delta) — base×base pairs were earlier
    * batches' output), and merge the batch's hashes into the index.
    * Exactly-once by the shared [[IngestRecipe.applyBatch]] armor:
    * per-batch partition-overwrite output + anti-join pre-crash base, so
    * a crash-replay can neither double pairs nor pair the batch against
    * its own half-merged rows. `batch` needs (doc_id, text) — text bytes
    * stand in for the payload per [[mediaTable]]'s contract. */
  def phashIngestBatch(batch: DataFrame, indexPath: String,
      pairsOutPath: String, batchId: Long, maxHamming: Int = 3): Unit = {
    import batch.sparkSession.implicits._
    val h = phashTable(mediaTable(batch.select("doc_id", "text")).as[MediaRow])
      .localCheckpoint()
    IngestRecipe.applyBatch(batchId, pairsOutPath,
      Seq(IngestRecipe.IndexPart(s"$indexPath/hashes", PhashSchema, h)
        -> h.select(col("doc_id")))) {
      case Seq(base) => Dedup.bandedHammingPairsDelta(base, h, "phash", maxHamming)
    }
  }

  /** Metadata-only view — SQL-expressible, oracle-checked: payload size and
    * type stats without decoding (and, at scale, without even reading the
    * payload pages when the parquet layout splits columns). */
  def metadata(docs: DataFrame): DataFrame =
    mediaTable(docs)
      .select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).as("n_bytes"))
      .orderBy("doc_id")
}
