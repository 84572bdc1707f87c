package graft

import org.apache.spark.sql.functions._
import graft.operators.Embeddings
import graft.queries.EmbeddingQueries

/** Two-stage retrieve-then-rerank (Embeddings.ivfPqRerank) — the FAISS
  * refine pattern's two structural guarantees, driven on the sf0.001 corpus:
  *
  * 1. Containment: the reranked top-k is a subset of the stage-1 ADC
  *    candidate pool (the exact stage only re-orders, never re-opens the
  *    candidate set).
  * 2. Per-query recall DOMINANCE: rerank hits ≥ plain IVF∘PQ hits for every
  *    query. Proof: if a global-top-k member is in the pool, at most k−1
  *    candidates (the global top-(k−1)) can beat it on the exact score, so
  *    the exact rerank keeps it — whereas ADC's quantized order may not.
  *    The recall gap the rerank buys back is exactly the quantization loss
  *    inside the pool; only blocking loss remains.
  */
class RerankSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def vectors = graft.sources.Tables(spark, dir, "embeddings")
  private def queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)

  import EmbeddingQueries.{NumCentroids, NProbe, RerankR, K}

  test("reranked top-k is contained in the stage-1 candidate pool") {
    val pool = Embeddings.ivfPqTopK(vectors, queries, NumCentroids, NProbe, RerankR)
      .select("query_id", "neighbor_id")
    val rr = Embeddings.ivfPqRerank(vectors, queries, NumCentroids, NProbe, RerankR, K)
      .select("query_id", "neighbor_id")
    assert(rr.count() > 0, "rerank output must be non-empty")
    assert(rr.join(pool, Seq("query_id", "neighbor_id"), "left_anti").count() == 0L,
      "reranked rows must all come from the ADC candidate pool")
  }

  test("per-query rerank hits dominate plain IVF-PQ hits") {
    val plain = Embeddings.knnRecallOf(vectors, queries, K,
        Embeddings.ivfPqTopK(vectors, queries, NumCentroids, NProbe, K))
      .select(col("query_id"), col("hits").as("plain_hits"))
    val rr = Embeddings.knnRecallOf(vectors, queries, K,
        Embeddings.ivfPqRerank(vectors, queries, NumCentroids, NProbe, RerankR, K))
      .select(col("query_id"), col("hits").as("rr_hits"))
    val joined = plain.join(rr, "query_id").collect()
    assert(joined.length == EmbeddingQueries.NumQueries)
    joined.foreach { r =>
      assert(r.getAs[Long]("rr_hits") >= r.getAs[Long]("plain_hits"),
        s"query ${r.getAs[Long]("query_id")}: rerank ${r.getAs[Long]("rr_hits")} " +
          s"< plain ${r.getAs[Long]("plain_hits")}")
    }
    val plainSum = joined.map(_.getAs[Long]("plain_hits")).sum
    val rrSum = joined.map(_.getAs[Long]("rr_hits")).sum
    info(s"recall: plain ${plainSum}/${joined.length * K} -> rerank ${rrSum}/${joined.length * K}")
    assert(rrSum >= plainSum)
  }
}
