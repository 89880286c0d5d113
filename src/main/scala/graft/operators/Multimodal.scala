package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing for training-data pipelines: image/audio/video
 * payloads ride as opaque `binary` columns with a kind tag, and
 * decode/feature-extract/resize/frame-sample run as batched per-partition
 * transforms (the Scala analog of mapInPandas: one partition = a stream of
 * batches, heavy codec state initialized once per partition, vectorized
 * work inside).
 *
 * No image/audio codec ships with the engine, so decode is a deterministic
 * stub codec (`StubCodec`) — the Spark-side contract (schema,
 * partitioning, batch shape, null handling) is real and tested; swapping
 * `StubCodec` for a JNI/ffmpeg-backed codec changes no plan shape.
 */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  final case class FeatureRow(media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, features: Array[Float])

  /**
   * === STUB CODEC ===
   * Deterministic fake decode: "features" are derived from payload bytes by
   * seeded hashing — stable, testable plumbing. A real deployment replaces
   * exactly this object (decode → pixels/samples → resize/frame-sample →
   * embedding) and nothing else.
   */
  object StubCodec {
    val featureDim = 16
    def decodeAndExtract(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](featureDim)
      var h = 0xfeedL
      var i = 0
      while (i < payload.length) {
        h = graft.functions.Hashing.mix2(h, payload(i).toLong)
        out(i % featureDim) += ((h & 0xffff).toInt - 32768) / 32768.0f
        i += 1
      }
      out
    }
  }

  /** Attach media payloads (here: the html bytes) as a media table. */
  def mediaFromPages(pages: DataFrame): DataFrame =
    pages.select(col("id").as("media_id"), lit("html").as("kind"),
      col("html").as("payload"))

  /**
   * Batched per-partition feature extraction. Codec state ("model load")
   * initialized once per partition; rows processed in order within the
   * partition iterator — the batch shape a vectorized codec needs.
   */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRow] = media
      .select(col("media_id").cast("long"), col("kind"), col("payload"))
      .as[MediaRow]
    ds.mapPartitions { it =>
      // per-partition init point (real codec: load model/codec here, once)
      val codec = StubCodec
      it.map { row =>
        val payload = if (row.payload == null) Array.empty[Byte] else row.payload
        var checksum = 0xc0decL
        var i = 0
        while (i < payload.length) {
          checksum = graft.functions.Hashing.mix2(checksum, payload(i).toLong)
          i += 1
        }
        FeatureRow(row.media_id, row.kind, payload.length.toLong, checksum,
          codec.decodeAndExtract(payload))
      }
    }.toDF()
  }
}
