package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, Union}
import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, Lineage}
import graft.queries.EmbeddingQueries

/** Graph-ANN construction (multi-probe seed + NN-Descent round): the payoff,
  * the closure hazard, and the graph contract — pinned on harness data.
  */
class NnDescentSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def vectors: DataFrame =
    graft.sources.Tables(spark, sfDir, "embeddings")
  private def centroids: DataFrame =
    vectors.filter(col("vec_id") < EmbeddingQueries.NumCentroids)
  private val K = EmbeddingQueries.K

  private def recallMap(stages: Seq[(String, DataFrame, DataFrame)]): Map[String, Long] =
    Embeddings.knnGraphRecallWith(Embeddings.sampleExact(vectors, K,
        EmbeddingQueries.NnSampleMod, EmbeddingQueries.NnSampleRem),
        stages.map { case (label, g, cands) => (label, g, Embeddings.Rows(cands)) })
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

  // driver-finish bounds that force each path of Embeddings.nnDescent
  private val Distributed = -1L
  private val DriverFinish = Long.MaxValue

  private def scoredCount(c: Embeddings.Cost): Long = c match {
    case Embeddings.Rows(f) => f.count()
    case Embeddings.Count(n) => n
  }

  /** Both paths over one input: every round's graph row-identical under the
    * same schema, and the same scored count — a count on the driver path,
    * never a frame.
    */
  private def assertPathsAgree(vs: DataFrame, seed: DataFrame, k: Int, rounds: Int): Unit = {
    val dist = Embeddings.nnDescent(vs, seed, k, rounds, Distributed)
    val local = Embeddings.nnDescent(vs, seed, k, rounds, DriverFinish)
    assert(local.seed.collect().toSet === dist.seed.collect().toSet)
    assert(dist.rounds.size === rounds && local.rounds.size === rounds)
    dist.rounds.zip(local.rounds).zipWithIndex.foreach { case (((dg, dc), (lg, lc)), i) =>
      assert(lg.schema === dg.schema, s"round ${i + 1} schema")
      def rows(g: DataFrame) = g.as[(Long, Long, Int)].collect().sorted.toSeq
      assert(rows(lg) === rows(dg), s"round ${i + 1} graph")
      assert(lc.isInstanceOf[Embeddings.Count] && dc.isInstanceOf[Embeddings.Rows])
      assert(scoredCount(lc) === scoredCount(dc), s"round ${i + 1} n_scored")
    }
  }

  private def seedOf(edges: Seq[(Long, Long)]): DataFrame =
    edges.groupBy(_._1).toSeq
      .flatMap { case (q, es) => es.zipWithIndex.map { case ((_, n), r) => (q, n, r + 1) } }
      .toDF("query_id", "neighbor_id", "rank")

  private def vectorsOf(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  test("driver and distributed descent agree over two rounds on the sf0.001 embeddings") {
    assertPathsAgree(vectors,
      Embeddings.knnGraphSeed(vectors, centroids, EmbeddingQueries.NnSeedAssign, K), K, 2)
  }

  test("driver and distributed descent agree when duplicate vectors tie on score") {
    // five distinct directions, six copies each: every copy of a direction
    // scores 1.0 against the others, so the id tie-break picks the top-k
    val vs = (0L until 30L).map { i =>
      val d = (i % 5).toInt
      i -> Array.tabulate(8)(j => if (j == d || j == d + 3) 1f else 0.25f)
    }
    val seed = seedOf((0L until 30L).flatMap(i => Seq(i -> (i + 1) % 30, i -> (i + 7) % 30)))
    assertPathsAgree(vectorsOf(vs), seed, 4, 2)
  }

  test("driver and distributed descent agree when an endpoint has no vector row") {
    val vs = (0L until 12L).map(i => i -> Array.tabulate(6)(j => ((i * 7 + j * 3) % 11).toFloat + 1f))
    // 998 has no vector and queries; 999 has no vector and is a neighbor;
    // 5 -> 5 is a self-edge, which stays a candidate
    val seed = seedOf((0L until 12L).map(i => i -> (i + 1) % 12) ++
      Seq(3L -> 999L, 998L -> 4L, 998L -> 7L, 5L -> 5L))
    assertPathsAgree(vectorsOf(vs), seed, 3, 2)
  }

  test("driver and distributed descent agree when k exceeds a node's candidates") {
    val vs = (0L until 6L).map(i => i -> Array.tabulate(4)(j => (i + 1).toFloat * (j + 1) % 5 + 0.5f))
    assertPathsAgree(vectorsOf(vs), seedOf(Seq(0L -> 1L, 1L -> 2L, 3L -> 4L, 5L -> 4L)), 50, 2)
  }

  test("under Lineage.withoutCuts the descent plan keeps the two-hop join") {
    val g = Lineage.withoutCuts(Embeddings.nnDescent(vectors,
      Embeddings.knnGraphSeed(vectors, centroids, EmbeddingQueries.NnSeedAssign, K),
      K, 1, DriverFinish).graph)
    val plan = g.queryExecution.optimizedPlan
    assert(plan.collectFirst { case r: LocalRelation => r }.isEmpty, "audit plan starts at a local frame")
    def hasUnion(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectFirst { case u: Union => u }.isDefined
    assert(plan.collectFirst { case j: Join if hasUnion(j.left) && hasUnion(j.right) => j }.isDefined,
      s"no two-hop self-join of the undirected edge set in:\n$plan")
  }
}
