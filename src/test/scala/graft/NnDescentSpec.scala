package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Embeddings
import graft.queries.EmbeddingQueries

/** Graph-ANN construction (multi-probe seed + NN-Descent round): the payoff,
  * the closure hazard, and the graph contract — pinned on harness data.
  */
class NnDescentSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def vectors: DataFrame =
    graft.sources.Tables(spark, sfDir, "embeddings")
  private def centroids: DataFrame =
    vectors.filter(col("vec_id") < EmbeddingQueries.NumCentroids)
  private val K = EmbeddingQueries.K

  private def recallMap(stages: Seq[(String, DataFrame, DataFrame)]): Map[String, Long] =
    Embeddings.knnGraphRecallWith(Embeddings.sampleExact(vectors, K,
        EmbeddingQueries.NnSampleMod, EmbeddingQueries.NnSampleRem), stages)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("one NN-Descent round strictly improves sampled recall over the multi-probe seed") {
    val seedCands = Embeddings.seedCandidates(vectors, centroids,
      EmbeddingQueries.NnSeedAssign)
    val seed = Embeddings.knnGraphSeed(vectors, centroids,
      EmbeddingQueries.NnSeedAssign, K)
    val r1 = Embeddings.nnDescentRound(vectors, seed, K)
    val hits = recallMap(Seq(("seed", seed, seedCands),
      ("round1", r1, Embeddings.descentCandidates(seed))))
    assert(hits("round1") > hits("seed"),
      s"descent round added no recall: seed=${hits("seed")} round1=${hits("round1")}")
  }

  /** The closure hazard the seed's `nAssign` ≥ 2 requirement documents: a
    * SINGLE-assignment cell seed is transitively closed (two-hop paths never
    * leave the cell whose pairs the seed scored exhaustively), so the
    * descent round reproduces the seed bit-for-bit — if this ever stops
    * holding, the scaladoc's measured claim is stale.
    */
  test("over a single-assignment seed the descent round is a fixed point") {
    val seed = Embeddings.knnGraphSeed(vectors, centroids, 1, K)
    val r1 = Embeddings.nnDescentRound(vectors, seed, K)
    assert(r1.exceptAll(seed).isEmpty && seed.exceptAll(r1).isEmpty,
      "descent over a closed single-cell seed changed the graph")
  }

  test("the descent graph keeps the kNN contract: no self-edges, <= K ranked neighbors per node") {
    val g = EmbeddingQueries.nnDescentGraph(spark, sfDir)
    assert(g.filter(col("node_id") === col("neighbor_id")).isEmpty)
    val perNode = g.groupBy("node_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        count_distinct(col("neighbor_id")).as("nd"))
    assert(perNode.filter(col("n") > K).isEmpty, "node with more than K neighbors")
    // ranks are exactly 1..n (dense, no duplicate seats) and neighbors unique
    assert(perNode.filter(col("mx") =!= col("n") || col("nd") =!= col("n")).isEmpty,
      "non-contiguous ranks or duplicate neighbors")
  }
}
