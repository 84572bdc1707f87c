package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embeddings, Opq}

/** OPQ rotation coverage: the driver-side eigensolver against a known
  * spectrum, structural guarantees of the trained rotation (orthogonality,
  * metric preservation, balanced eigenvalue allocation), and the recall
  * ladder extension — what rotating the coordinate system buys converged PQ
  * training on the harness corpus.
  */
class OpqSpec extends SparkSpec {

  test("symEigen recovers a known spectrum with orthonormal eigenvectors") {
    // [[2,1],[1,2]] = 45°-rotated diag(3,1)
    val (evals, evecs) = Opq.symEigen(Array(Array(2d, 1d), Array(1d, 2d)))
    assert(math.abs(evals(0) - 3d) < 1e-10 && math.abs(evals(1) - 1d) < 1e-10)
    val a = Array(Array(2d, 1d), Array(1d, 2d))
    evals.zip(evecs).foreach { case (l, u) =>
      val au = Array.tabulate(2)(i => a(i)(0) * u(0) + a(i)(1) * u(1))
      (0 until 2).foreach(i => assert(math.abs(au(i) - l * u(i)) < 1e-10,
        s"A·u != λ·u at $i: ${au(i)} vs ${l * u(i)}"))
    }
    val dot = evecs(0).zip(evecs(1)).map { case (x, y) => x * y }.sum
    assert(math.abs(dot) < 1e-10, s"eigenvectors not orthogonal: $dot")
  }

  test("trained rotation is orthogonal and preserves dot products") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = Opq.train(vecs)
    assert(r.length === 64 && r.forall(_.length === 64))
    // R·Rᵀ = I within float precision
    for (i <- 0 until 64 by 9; j <- 0 until 64 by 9) {
      val d = (0 until 64).map(k => r(i)(k).toDouble * r(j)(k)).sum
      val want = if (i == j) 1d else 0d
      assert(math.abs(d - want) < 1e-4, s"R·Rᵀ($i,$j) = $d")
    }
    // dots survive the rotation (float application: ~1e-5 relative)
    val raw = vecs.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val rot = Opq.rotate(vecs.filter(col("vec_id") < 4), r).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    for (i <- 0 until 4; j <- i until 4) {
      val d0 = dot(raw(i), raw(j))
      val d1 = dot(rot(i), rot(j))
      assert(math.abs(d0 - d1) <= 1e-3 * (1d + math.abs(d0)),
        s"dot($i,$j) moved: $d0 -> $d1")
    }
  }

  test("eigenvalue allocation balances per-subspace variance products") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (evals, _) = Opq.symEigen(Opq.secondMoment(vecs))
    assert(evals.toSeq.sliding(2).forall(w => w(0) >= w(1) - 1e-12))
    def spread(buckets: Array[Array[Int]]): Double = {
      val sums = buckets.map(_.map(d => math.log(math.max(evals(d), 1e-12))).sum)
      sums.max - sums.min
    }
    val balanced = spread(Opq.allocate(evals, Embeddings.PqM, Embeddings.PqDsub))
    val natural = spread(Array.tabulate(Embeddings.PqM)(m =>
      Array.tabulate(Embeddings.PqDsub)(i => m * Embeddings.PqDsub + i)))
    info(f"log-variance spread: natural=$natural%.3f allocated=$balanced%.3f")
    assert(balanced <= natural * 0.5,
      f"allocation did not materially balance: $balanced%.3f vs natural $natural%.3f")
  }

  test("recall ladder: converged PQ on the rotated corpus") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    try {
      val rot = Opq.rotate(vecs, Opq.train(vecs)).cache()
      def recall(corpus: org.apache.spark.sql.DataFrame): Double = {
        import spark.implicits._
        val queries = corpus.filter(col("vec_id") % 7 === 3)
        val (cb, _) = Embeddings.pqCodebookConverged(corpus, maxIters = 8, epsPct = 1.0)
        val (h, t) = Embeddings.knnRecallOf(corpus, queries, 10,
            Embeddings.pqTopKWith(corpus, queries, cb, k = 10))
          .agg(sum("hits"), sum("k")).as[(Long, Long)].head()
        h.toDouble / t
      }
      val raw = recall(vecs)
      val opq = recall(rot)
      info(f"top-10 recall: converged=$raw%.3f opq+converged=$opq%.3f")
      // the rotation must never hurt materially (it is metric-preserving;
      // training noise can wobble a few hits on 500 vectors)
      assert(opq >= raw - 0.05, f"rotation lost recall: $opq%.3f < $raw%.3f - 0.05")
      rot.unpersist()
    } finally { vecs.unpersist(); () }
  }
}
