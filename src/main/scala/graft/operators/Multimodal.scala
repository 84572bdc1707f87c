package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * travel as opaque `binary` payload columns with typed metadata alongside,
  * and per-row decoding runs batched inside `mapPartitions` so codec state is
  * amortized per partition (the Scala analogue of `mapInPandas` batches).
  *
  * The decode step itself is a STUB: this container has no image/audio codec
  * libraries, so [[StubImageDecoder]] derives deterministic fake dimensions
  * from the byte length. Everything around it — the payload column, the
  * metadata schema, partition-batched execution, the 1→N frame-sampling
  * shape — is real, tested, and oracle-checked; swapping the stub for a real
  * codec changes no plumbing.
  *
  * Scale notes: decode is embarrassingly parallel (narrow, no shuffle); the
  * payload column stays unprojected until the decode stage, so Parquet column
  * pruning keeps scans cheap for metadata-only queries. Frame sampling fans
  * out k rows per input inside the same narrow stage.
  */
object Multimodal {

  /** Decoded media metadata (what a real codec would surface). */
  final case class Decoded(width: Int, height: Int, mediaType: String)

  /** Per-partition-instantiable decoder; must be serializable to ship to
    * executors. Real implementations hold codec contexts per partition.
    */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): Decoded
  }

  /** STUB decoder — deterministic fake dimensions from payload length.
    * Replace with a real codec (JavaCPP/FFmpeg, ImageIO, …) in deployment.
    */
  object StubImageDecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): Decoded =
      Decoded(320 + bytes.length % 320, 240 + bytes.length % 240, "image/stub")
  }

  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int,
                             height: Int, media_type: String)

  /** Decode payloads to typed metadata, batched per partition. */
  def decodeMeta(df: DataFrame, idCol: String, payloadCol: String,
                 decoder: MediaDecoder = StubImageDecoder): Dataset[MediaMeta] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // decoder is reused across the whole partition — codec-state amortization
        it.map { case (id, bytes) =>
          val d = decoder.decode(bytes)
          MediaMeta(id, bytes.length.toLong, d.width, d.height, d.mediaType)
        }
      }
  }

  final case class MediaFeatures(doc_id: Long, embedding: Array[Float])

  /** Stub feature extraction: payload → fixed-dim float vector, the
    * embedding-model stand-in that bridges multimodal payloads into the
    * [[Embeddings]] similarity/dedup operators. Features are 24-bit integers
    * from the payload's MD5, scaled by 2⁻²⁴ — exactly representable in
    * float32 AND recomputable in the DuckDB oracle, so downstream cosine
    * arithmetic is bit-identical across engines. The digest instance is
    * reused across the partition (the codec-state-amortization shape a real
    * vision/audio encoder needs); a real model plugs in at exactly this spot
    * with the same batch semantics.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaFeatures] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // per-partition reuse
        it.map { case (id, bytes) =>
          md.reset()
          val hex = md.digest(bytes).map("%02x".format(_)).mkString
          val feats = Array.tabulate(5) { i =>
            java.lang.Integer.parseInt(hex.substring(6 * i, 6 * i + 6), 16).toFloat / 16777216.0f
          }
          MediaFeatures(id, feats)
        }
      }
  }

  final case class FrameFeatures(doc_id: Long, frame_idx: Int, embedding: Array[Float])

  /** Per-FRAME stub features: each payload is cut into `k` evenly-sized byte
    * ranges (same boundaries as [[sampleFrames]]) and every range runs through
    * the same md5-derived 5-dim encoder as [[extractFeatures]] — the
    * frame-level embedding pass of a video pipeline (demux → per-frame
    * encoder), batched 1→k inside one narrow `mapPartitions` stage with the
    * digest reused across the partition. Deterministic and oracle-expressible
    * like the document-level features.
    */
  def frameFeatures(df: DataFrame, idCol: String, payloadCol: String,
                    k: Int): Dataset[FrameFeatures] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          val n = bytes.length
          val base = n / k
          (0 until k).iterator.map { i =>
            val len = if (i < k - 1) base else n - base * (k - 1)
            md.reset()
            val hex = md.digest(java.util.Arrays.copyOfRange(bytes, i * base, i * base + len))
              .map("%02x".format(_)).mkString
            val feats = Array.tabulate(5) { j =>
              java.lang.Integer.parseInt(hex.substring(6 * j, 6 * j + 6), 16).toFloat / 16777216.0f
            }
            FrameFeatures(id, i, feats)
          }
        }
      }
  }

  /** Keyframe selection over [[frameFeatures]]: a frame is kept when it opens
    * its payload or its feature cosine to the PREDECESSOR frame drops below
    * `threshold` (the scene-change signal — consecutive near-identical frames
    * are the first redundancy a video pipeline drops). The lag window spans k
    * frames per document, so no sort scales with the corpus; stateless across
    * payloads, so the same plan serves batch tables and per-micro-batch
    * streaming ingest through [[graft.streaming.EachBatch]]
    * (`MediaIngestStreamSpec`).
    */
  def keyframes(df: DataFrame, idCol: String, payloadCol: String,
                k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val E = Embeddings
    val f = frameFeatures(df, idCol, payloadCol, k).toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    f.withColumn("prev", lag(col("embedding"), 1).over(w))
      .withColumn("cos",
        E.dotD(col("embedding"), col("prev"))
          / (E.l2Norm(col("embedding")) * E.l2Norm(col("prev"))))
      .select(col("doc_id"), col("frame_idx"),
        when(col("prev").isNull || col("cos") < threshold, 1L)
          .otherwise(0L).as("is_keyframe"))
  }

  final case class FrameSample(doc_id: Long, frame_idx: Int, frame_len: Long)

  /** Sample `k` evenly-sized frames per payload (last frame takes the
    * remainder) — the 1→N batched fan-out shape of video frame extraction;
    * the "frame" here is a byte-range slice, a real demuxer plugs in the same
    * place.
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   k: Int): Dataset[FrameSample] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = bytes.length.toLong
          val base = n / k
          (0 until k).iterator.map { i =>
            val len = if (i < k - 1) base else n - base * (k - 1)
            FrameSample(id, i, len)
          }
        }
      }
  }
}
