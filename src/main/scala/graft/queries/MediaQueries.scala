package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal plumbing exercised end-to-end over the driver's `documents`
  * table: the text column cast to binary stands in for real media payloads
  * (the testdata ships no binary table), the stub decoder's deterministic
  * arithmetic keeps both queries oracle-expressible, and the Spark side runs
  * the real partition-batched `mapPartitions` path.
  */
object MediaQueries {

  private def payloads(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(payloads(spark, dir), "doc_id", "payload").toDF()

  def mediaFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(payloads(spark, dir), "doc_id", "payload", k = 3).toDF()

  /** Cosine threshold for media near-dup over the 5-dim stub features: the
    * harness payloads' feature cosines top out ≈0.9998, so 0.999 yields a
    * small stable pair set (5 at sf0.01, 7 at sf0.001).
    */
  val MediaNearDupThreshold = 0.999

  /** Centroid count / probe width for the bucketed media blocking: first-C
    * feature vectors serve as centroids (deterministic, oracle-mirrorable —
    * same convention as [[EmbeddingQueries.NumCentroids]]), each vector lands
    * in its top-[[MediaNearDupAssign]] buckets. C is deliberately HIGH for
    * the dimensionality: the stub features are near-random positive
    * 5-vectors (weakly clusterable), so coarse buckets barely prune — 8
    * centroids kept ~50% of all pairs as candidates, turning the bucket join
    * into a worse all-pairs; 64 buckets × top-2 cuts candidates ~10×. At a
    * real deployment the encoder's features cluster and C tracks sqrt(n).
    */
  val MediaNumCentroids = 64
  val MediaNearDupAssign = 2

  /** One checkpointed (vec_id, 5-float embedding) frame per query: the IVF
    * blocking consumes its vector frame from several plan branches (both
    * assignment sides, both verify sides, the centroid slice), and a lazy
    * frame would re-run the payload scan + codec extraction once PER branch —
    * the decode is the expensive stage, the feature frame is doc-level and
    * tiny, so materializing it once is the only sane trade at any scale.
    */
  private def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(payloads(spark, dir), "doc_id", "payload").toDF()
      .select(col("doc_id").as("vec_id"), col("embedding"))
      .pipe(graft.operators.Lineage.cut)

  /** Multimodal → similarity-search composition: payloads through the batched
    * feature extractor, then the BUCKETED embedding near-dup operator — the
    * cross-modal dedup shape (payload → encoder → centroid blocking → exact
    * cosine verify) with the stub encoder in the encoder seat. This is the
    * production seat, so `q_media_neardup` runs the sub-quadratic
    * [[graft.operators.Embeddings.ivfNearDupPairs]] plan; the all-pairs form
    * is demoted to the baseline of its recall twin `q_media_neardup_recall`
    * (one integer row — the all-pairs plan's one remaining job, mirroring
    * `q_embed_neardup_recall`).
    */
  private lazy val nearDupTwin = RecallTwins.PairTwin(
    "q_media_neardup", "q_media_neardup_recall", None, MediaNearDupThreshold,
    mediaPairsBase, "blocked_pairs", "doc", mediaFeatures,
    graft.operators.Embeddings.ivfNearDupPairs(_, MediaNumCentroids,
      MediaNearDupAssign, MediaNearDupThreshold))

  /** Keyframe gate: a frame opens a new "scene" when its feature cosine to
    * the previous frame drops below this (stub features of distinct byte
    * ranges behave like random positive 5-vectors, cosines mostly 0.6–0.95,
    * so 0.8 yields a stable mixed verdict set).
    */
  val KeyframeThreshold = 0.8

  /** Temporal frame dedup / keyframe selection: per payload, k frames through
    * the frame-level encoder, each compared to its PREDECESSOR frame — a
    * frame is a keyframe when it starts the payload or its cosine to the
    * previous frame falls below [[KeyframeThreshold]] (the scene-change
    * signal; consecutive near-identical frames are the redundancy a video
    * training pipeline drops first). The comparison is a lag window over
    * (doc, frame_idx) — k rows per document, so the window's per-partition
    * sort is bounded by k, never by corpus size; the verdict is a comparison
    * of bit-identical doubles, so the boolean output is oracle-exact.
    */
  def keyframes(spark: SparkSession, dir: String): DataFrame =
    Multimodal.keyframes(payloads(spark, dir), "doc_id", "payload",
      k = 4, threshold = KeyframeThreshold)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    RecallTwins.pairQueries(Seq(nearDupTwin)) ++ Map(
      "q_media_meta" -> (mediaMeta _),
      "q_media_frames" -> (mediaFrames _),
      "q_keyframes" -> (keyframes _))

  /** Shared oracle CTEs: stub features recomputed from md5 hex (24-bit ints /
    * 2^24 are exact in float32 and double; dot/norm arithmetic evaluates in
    * the same left-to-right double sequence as the Spark DotProduct
    * expression), then the bucketed blocking mirrored
    * operation-for-operation — first-[[MediaNumCentroids]] centroids,
    * top-[[MediaNearDupAssign]] assignment by (cosine DESC, cent_id ASC),
    * bucket-local candidate self-join, exact cosine verify — plus the
    * all-pairs `exact_pairs` baseline the recall query scores against.
    */
  private lazy val mediaPairsBase =
    s"""WITH f AS (
          SELECT doc_id,
            CAST('0x' || substring(md5(text), 1, 6) AS INT)::DOUBLE / 16777216.0 AS a1,
            CAST('0x' || substring(md5(text), 7, 6) AS INT)::DOUBLE / 16777216.0 AS a2,
            CAST('0x' || substring(md5(text), 13, 6) AS INT)::DOUBLE / 16777216.0 AS a3,
            CAST('0x' || substring(md5(text), 19, 6) AS INT)::DOUBLE / 16777216.0 AS a4,
            CAST('0x' || substring(md5(text), 25, 6) AS INT)::DOUBLE / 16777216.0 AS a5
          FROM documents
        ), n AS (
          SELECT doc_id, a1, a2, a3, a4, a5,
                 sqrt(a1*a1 + a2*a2 + a3*a3 + a4*a4 + a5*a5) AS nm
          FROM f),
        c AS (SELECT doc_id AS cent_id, a1, a2, a3, a4, a5, nm
              FROM n WHERE doc_id < $MediaNumCentroids),
        massign AS (
          SELECT doc_id, cent_id FROM (
            SELECT n.doc_id, c.cent_id,
              row_number() OVER (PARTITION BY n.doc_id ORDER BY
                ((n.a1*c.a1 + n.a2*c.a2 + n.a3*c.a3 + n.a4*c.a4 + n.a5*c.a5)
                  / (n.nm * c.nm)) DESC, c.cent_id ASC) AS rn
            FROM n CROSS JOIN c)
          WHERE rn <= $MediaNearDupAssign),
        cand AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM massign x JOIN massign y
            ON x.cent_id = y.cent_id AND x.doc_id < y.doc_id),
        blocked_pairs AS (
          SELECT cd.doc_a, cd.doc_b
          FROM cand cd
          JOIN n x ON x.doc_id = cd.doc_a
          JOIN n y ON y.doc_id = cd.doc_b
          WHERE (x.a1*y.a1 + x.a2*y.a2 + x.a3*y.a3 + x.a4*y.a4 + x.a5*y.a5)
                  / (x.nm * y.nm) >= $MediaNearDupThreshold),
        exact_pairs AS (
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM n x JOIN n y ON x.doc_id < y.doc_id
          WHERE (x.a1*y.a1 + x.a2*y.a2 + x.a3*y.a3 + x.a4*y.a4 + x.a5*y.a5)
                  / (x.nm * y.nm) >= $MediaNearDupThreshold)
     """

  val oracleSql: Map[String, String] = RecallTwins.pairOracle(Seq(nearDupTwin)) ++ Map(
    "q_media_meta" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
           (320 + strlen(text) % 320)::INT AS width,
           (240 + strlen(text) % 240)::INT AS height,
           'image/stub' AS media_type
         FROM documents""",
    "q_media_frames" ->
      """SELECT doc_id, i::INT AS frame_idx,
           (CASE WHEN i < 2 THEN strlen(text) // 3
                 ELSE strlen(text) - 2 * (strlen(text) // 3)
            END)::BIGINT AS frame_len
         FROM documents, unnest([0, 1, 2]) AS u(i)""",
    // frame boundaries mirror q_media_frames (i*base slices, last takes the
    // remainder); per-frame features re-derive from md5 of the slice, and the
    // keyframe verdict compares bit-identical doubles, so booleans hash-match
    "q_keyframes" ->
      s"""WITH fr AS (
            SELECT doc_id, i,
              md5(substring(text, i * (strlen(text) // 4) + 1,
                CASE WHEN i < 3 THEN strlen(text) // 4
                     ELSE strlen(text) - 3 * (strlen(text) // 4) END)) AS h
            FROM documents, unnest([0, 1, 2, 3]) AS u(i)
          ), f AS (
            SELECT doc_id, i,
              CAST('0x' || substring(h, 1, 6) AS INT)::DOUBLE / 16777216.0 AS a1,
              CAST('0x' || substring(h, 7, 6) AS INT)::DOUBLE / 16777216.0 AS a2,
              CAST('0x' || substring(h, 13, 6) AS INT)::DOUBLE / 16777216.0 AS a3,
              CAST('0x' || substring(h, 19, 6) AS INT)::DOUBLE / 16777216.0 AS a4,
              CAST('0x' || substring(h, 25, 6) AS INT)::DOUBLE / 16777216.0 AS a5
            FROM fr
          ), n2 AS (
            SELECT doc_id, i, a1, a2, a3, a4, a5,
                   sqrt(a1*a1 + a2*a2 + a3*a3 + a4*a4 + a5*a5) AS nm
            FROM f)
          SELECT c.doc_id, c.i::INT AS frame_idx,
                 (CASE WHEN p.doc_id IS NULL THEN 1
                       WHEN (c.a1*p.a1 + c.a2*p.a2 + c.a3*p.a3 + c.a4*p.a4 + c.a5*p.a5)
                              / (c.nm * p.nm) < $KeyframeThreshold THEN 1
                       ELSE 0 END)::BIGINT AS is_keyframe
          FROM n2 c LEFT JOIN n2 p ON p.doc_id = c.doc_id AND p.i = c.i - 1""")
}
