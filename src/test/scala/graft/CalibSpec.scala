package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import graft.operators.{Embeddings, TextDedup}
import graft.queries.TextQueries

/** Cross-checks for the dedup knob-calibration trio. The DuckDB gate proves
  * engine agreement, but `q_lsh_calib`'s oracle is GENERATED from the same
  * config list as the Spark side — a systematically wrong squaring chain
  * (e.g. an exponent off by one) would agree across engines and still pass.
  * These tests pin the math against INDEPENDENT computations: Math.pow for
  * the analytic catch probability, and the production `jaccardPairs` path
  * for the threshold/cap sweeps' anchor rows.
  */
class CalibSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val fixtureDirs = scala.collection.mutable.ListBuffer.empty[String]

  private def writeDocs(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("calib").toString
    fixtureDirs += dir
    rows.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  override def afterAll(): Unit = {
    fixtureDirs.foreach { d =>
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(d)
      // Files.walk is documented must-close — leak-free via Using
      if (java.nio.file.Files.exists(root))
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
          st.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
    }
    super.afterAll()
  }

  /** Fixture with three pairs of known Jaccard: (1,2) at J = 3/5 (a true
    * pair at the 60% threshold, boundary-exact in integer arithmetic),
    * (1,3) and (2,3) at J = 1/7 via one shared leading shingle.
    */
  private lazy val triDir = writeDocs(
    1L -> "w1 w2 w3 w4 w5 w6",
    2L -> "w1 w2 w3 w4 w5 x9",
    3L -> "w1 w2 w3 a1 b2 c3")

  test("lshCalib matches an independent Math.pow evaluation per config") {
    val pairs = TextDedup
      .shingleIntersections(spark.read.parquet(s"$triDir/documents.parquet"), "doc_id", "text", n = 3)
      .select("inter", "size_a", "size_b").as[(Long, Long, Long)].collect()
    assert(pairs.length === 3)
    val out = TextQueries.lshCalib(spark, triDir)
      .select("rows_per_band", "n_true", "exp_catch_e6", "exp_cand_e6")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out.keySet === TextQueries.LshCalibRowsPerBand.map(_.toLong).toSet)
    for (r <- TextQueries.LshCalibRowsPerBand) {
      val b = TextQueries.LshCalibNumHashes / r
      var expCatch = 0L; var expCand = 0L; var nTrue = 0L
      for ((inter, sa, sb) <- pairs) {
        val union = sa + sb - inter
        val j = inter.toDouble / union
        val p = 1.0 - math.pow(1.0 - math.pow(j, r.toDouble), b.toDouble)
        val pe6 = math.floor(p * 1e6).toLong
        expCand += pe6
        if (inter * 100 >= 60 * union) { expCatch += pe6; nTrue += 1 }
      }
      val (gotTrue, gotCatch, gotCand) = out(r.toLong)
      assert(gotTrue === nTrue)
      // pow and the squaring chain may differ in the last ulp, which floor
      // can turn into a 1-count step per pair — never more
      assert(math.abs(gotCatch - expCatch) <= pairs.length,
        s"r=$r catch: got $gotCatch expected $expCatch")
      assert(math.abs(gotCand - expCand) <= pairs.length,
        s"r=$r cand: got $gotCand expected $expCand")
    }
    // analytic monotonicity: more rows per band can only lower both the
    // expected catches and the expected candidate volume
    val byR = TextQueries.LshCalibRowsPerBand.map(r => out(r.toLong))
    assert(byR.map(_._2) === byR.map(_._2).sorted.reverse, "exp_catch_e6 not non-increasing in r")
    assert(byR.map(_._3) === byR.map(_._3).sorted.reverse, "exp_cand_e6 not non-increasing in r")
  }

  test("jaccardCalib: anchor row equals the production jaccardPairs count; sweep is monotone") {
    val rows = TextQueries.jaccardCalib(spark, triDir)
      .select("threshold", "n_pairs").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === TextQueries.JaccardCalibThresholds)
    val anchor = TextDedup
      .jaccardPairs(spark.read.parquet(s"$triDir/documents.parquet"), "doc_id", "text", n = 3,
        thresholdPct = 60)
      .count()
    assert(rows.toMap.apply(60L) === anchor)
    assert(anchor === 1L) // the boundary-exact J = 3/5 pair
    val counts = rows.map(_._2).toSeq
    assert(counts === counts.sorted.reverse, "n_pairs not non-increasing in threshold")
  }

  test("capCalib: cap=1 kills detection, a loose cap matches the uncapped path, drops are monotone") {
    // boilerplate shingle "h1 h2 h3" shared by three docs (f=3): a cap of 2
    // must drop those three entries; the near-dup pair (1,2) shares f=2
    // shingles only, so it survives any cap >= 2
    val dir = writeDocs(
      1L -> "w1 w2 w3 w4 w5 w6",
      2L -> "w1 w2 w3 w4 w5 x9",
      3L -> "h1 h2 h3 a1 a2 a3",
      4L -> "h1 h2 h3 b1 b2 b3",
      5L -> "h1 h2 h3 c1 c2 c3")
    val rows = TextQueries.capCalib(spark, dir)
      .select("cap", "n_pairs", "entries_dropped").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows.keySet === TextQueries.CapCalibCaps.toSet)
    assert(rows(1L)._1 === 0L, "a shared shingle has f >= 2, so cap=1 must detect nothing")
    val uncapped = TextDedup
      .jaccardPairs(spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", n = 3,
        thresholdPct = 60)
      .count()
    assert(rows(16L)._1 === uncapped, "a cap above the max frequency must be a no-op")
    assert(rows(16L)._2 === 0L)
    assert(rows(2L)._2 === 3L, "exactly the three f=3 boilerplate entries drop at cap=2")
    val drops = TextQueries.CapCalibCaps.map(c => rows(c)._2)
    assert(drops === drops.sorted.reverse, "entries_dropped not non-increasing in cap")
  }

  test("packCalib: hand-computed table on uniform docs (order-independent starts)") {
    // 12 identical-size docs of 40 tokens, one language: starts are the
    // multiples of 40 whatever the hash order, so the whole table is
    // hand-computable. total = 480 tokens; identity n_seqs*L = 480 + tail.
    val words = (1 to 40).map(i => s"t$i").mkString(" ")
    val dir = writeDocs((1L to 12L).map(i => i -> words): _*)
    val got = graft.queries.CurationQueries.packCalib(spark, dir)
      .select("max_len", "n_seqs", "n_docs_split", "tail_pad_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val expected = Map(
      128L -> (4L, 3L, 32L),   // boundaries 128/256/384 cut the docs at 120/240/360
      256L -> (2L, 1L, 32L),
      512L -> (1L, 0L, 32L),
      1024L -> (1L, 0L, 544L),
      2048L -> (1L, 0L, 1568L))
    assert(got === expected)
    for ((l, (seqs, _, tail)) <- got)
      assert(seqs * l === 480L + tail, s"ceil/tail identity broken at L=$l")
  }

  test("ivfProbeSweep: deployed-depth row equals ivfRecall's aggregate; sweep is monotone; empty input keeps zero rows") {
    // 60 deterministic 8-dim vectors, none zero-norm; the sweep's
    // nprobe = 2 row must equal the single-depth production recall path
    // aggregated over queries, and nested candidate sets make both hits
    // and candidate volume non-decreasing in depth
    val v = (0L until 60L).map(i =>
        (i, Array.tabulate(8)(d => (((i * 31 + d * 17) % 13) - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val q = v.filter(col("vec_id") < 5)
    val sweep = Embeddings.ivfProbeSweep(v, q, numCentroids = 4, probes = Seq(1, 2, 4), k = 3)
      .select("nprobe", "hits", "total", "n_candidates").as[(Long, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val rec = Embeddings.knnRecallOf(v, q, 3,
        Embeddings.ivfTopK(v, q, numCentroids = 4, nProbe = 2, k = 3))
      .agg(sum("hits"), sum("k")).as[(Long, Long)].head()
    assert((sweep(2L)._1, sweep(2L)._2) === rec)
    assert(sweep(1L)._1 <= sweep(2L)._1 && sweep(2L)._1 <= sweep(4L)._1)
    assert(sweep(1L)._3 < sweep(2L)._3 && sweep(2L)._3 < sweep(4L)._3)

    val emptyV = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val emptyRows = Embeddings.ivfProbeSweep(emptyV, emptyV, 4, Seq(1, 2, 4), 3).collect()
    assert(emptyRows.length === 3)
    assert(emptyRows.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("every calibration emits explicit zero rows on an empty corpus") {
    val dir = writeDocs()
    val cases = Seq(
      (TextQueries.lshCalib(spark, dir), TextQueries.LshCalibRowsPerBand.length,
        Seq("n_true", "exp_catch_e6", "exp_cand_e6")),
      (TextQueries.jaccardCalib(spark, dir), TextQueries.JaccardCalibThresholds.length,
        Seq("n_pairs")),
      (TextQueries.capCalib(spark, dir), TextQueries.CapCalibCaps.length,
        Seq("n_pairs", "entries_dropped")),
      (graft.queries.CurationQueries.packCalib(spark, dir),
        graft.queries.CurationQueries.PackCalibLens.length,
        Seq("n_seqs", "n_docs_split", "tail_pad_tokens")))
    for ((q, n, metricCols) <- cases) {
      val rows = q.collect()
      assert(rows.length === n, s"expected one row per config, got ${rows.length}")
      for (r <- rows; c <- metricCols)
        assert(r.getAs[Long](c) === 0L, s"metric $c not an explicit zero: $r")
    }
  }
}
