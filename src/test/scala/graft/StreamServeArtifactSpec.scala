package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Embeddings
import graft.queries.EmbeddingQueries
import graft.streaming.EachBatch

/** The STREAMED serving tiers read the same persisted index artifacts the
  * batch gates scan (`graft_gsidx_*` / `graft_pqidx_*` parquet): each serving
  * operator runs per micro-batch through [[graft.streaming.EachBatch]] on the
  * `EmbeddingQueries.gsIndex`/`pqIndex` read-backs —
  * exactly how `StreamBench.runGraphServe`/`runAnnServe` wire them — and the
  * per-batch answer plan is asserted to scan the artifact. This pins the
  * build-once/serve-from-parquet contract on the streaming side the way
  * PlanAuditSpec pins it on the batch side.
  */
class StreamServeArtifactSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def scanPaths(df: DataFrame): Seq[String] =
    collectPlan(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten

  private def vectors: DataFrame =
    graft.sources.Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")

  private def oneQuery: Seq[(Long, Array[Float])] =
    vectors.filter(org.apache.spark.sql.functions.col("vec_id") === 3L)
      .as[(Long, Array[Float])].collect().toSeq

  test("graphProbeSink per-batch plans scan the persisted graft_gsidx artifact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (graph, entries) = EmbeddingQueries.gsIndex(spark, sfDir)
    val corpus = vectors
    val in = MemoryStream[(Long, Array[Float])]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = EachBatch(in.toDF().toDF("vec_id", "embedding"),
      java.nio.file.Files.createTempDirectory("gsa-ck").toString) { (batch, _) =>
      val res = Embeddings.graphSearch(corpus, batch, graph, entries,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam,
        EmbeddingQueries.GsRounds, EmbeddingQueries.K)
      paths.synchronized { paths ++= scanPaths(res) }
      assert(res.count() > 0, "streamed graph serve returned nothing")
    }
    // the search cuts per wave at run time; audit the FULL lineage the way
    // PlanAuditSpec does — withoutCuts is a volatile global, so it reaches
    // the micro-batch thread constructing the per-trigger plan
    graft.operators.Lineage.withoutCuts {
      in.addData(oneQuery)
      q.processAllAvailable()
    }
    q.stop()
    assert(paths.synchronized(paths.exists(_.contains("graft_gsidx"))),
      s"streamed graph serve does not scan the persisted index: $paths")
  }

  test("rerankProbeSink per-batch plans scan the persisted graft_pqidx artifact") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idx = EmbeddingQueries.pqIndex(spark, sfDir)
    val store = vectors
    val in = MemoryStream[(Long, Array[Float])]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = EachBatch(in.toDF().toDF("vec_id", "embedding"),
      java.nio.file.Files.createTempDirectory("pqa-ck").toString) { (batch, _) =>
      val res = Embeddings.ivfPqRerankFromIndex(idx.codes, idx.assigned, batch,
        idx.centroids, idx.codebook, store, EmbeddingQueries.NProbe,
        EmbeddingQueries.RerankR, EmbeddingQueries.K)
      paths.synchronized { paths ++= scanPaths(res) }
      assert(res.count() > 0, "streamed rerank serve returned nothing")
    }
    graft.operators.Lineage.withoutCuts {
      in.addData(oneQuery)
      q.processAllAvailable()
    }
    q.stop()
    assert(paths.synchronized(paths.exists(_.contains("graft_pqidx"))),
      s"streamed rerank serve does not scan the persisted index: $paths")
  }
}
