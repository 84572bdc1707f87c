package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Embeddings
import graft.queries.EmbeddingQueries

/** Graph-ANN SERVING (IVF-seeded beam search over the NN-Descent graph):
  * result validity, the monotone-recall structure of the wave ladder, and
  * stream-static serving parity — pinned on harness data.
  */
class GraphSearchSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def vectors: DataFrame =
    graft.sources.Tables(spark, sfDir, "embeddings")
  private def centroids: DataFrame =
    vectors.filter(col("vec_id") < EmbeddingQueries.NumCentroids)
  private val K = EmbeddingQueries.K

  private def graph: DataFrame = graft.operators.Lineage.cut(
    Embeddings.nnDescentRound(vectors,
      Embeddings.knnGraphSeed(vectors, centroids, EmbeddingQueries.NnSeedAssign, K),
      K))

  test("beam search returns a valid per-query top-k: bounded, ranked, no self") {
    val queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)
    val res = Embeddings.graphSearch(vectors, queries, graph, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K)
      .as[(Long, Long, Int)].collect()
    val byQuery = res.groupBy(_._1)
    assert(byQuery.size === EmbeddingQueries.NumQueries)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length <= K)
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length), s"ranks broken for $q")
      assert(!rows.exists(_._2 == q), s"self-match for $q")
      assert(rows.map(_._2).distinct.length === rows.length, s"dup neighbor for $q")
    }
  }

  /** Structural guarantee worth pinning: hits are computed against the exact
    * top-K by the SAME score, so growing the visited set can only improve
    * the per-wave top-K overlap (a displacing candidate scores higher than
    * the displaced one, hence is itself in the exact top-K whenever the
    * displaced was). The ladder must therefore be non-decreasing, and the
    * expansion waves must actually buy recall over the bare entry probe.
    */
  test("wave recall is non-decreasing and the search beats the bare probe") {
    val queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)
    val ladder = Embeddings.graphSearchRecall(vectors, queries, graph, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (seed, r1, r2) = (ladder("seed"), ladder("round1"), ladder("round2"))
    info(s"recall ladder: seed=${seed._2}/${seed._3} (scored ${seed._4}), " +
      s"round1=${r1._2}/${r1._3} (${r1._4}), round2=${r2._2}/${r2._3} (${r2._4})")
    assert(seed._2 <= r1._2 && r1._2 <= r2._2, "wave recall decreased")
    assert(r2._2 > seed._2, "expansion waves added no recall over the probe")
    assert(Seq(seed, r1, r2).forall(_._4 > 0), "a wave scored nothing")
  }

  /** Graph insertion (the HNSW recipe, batched): new nodes enter with their
    * beam-search answers as out-edges, touched nodes re-prune to the exact
    * top-k over old-list ∪ new back-candidates, untouched rows pass through
    * byte-identical — checked against a driver-side recompute of every
    * affected list from the raw embeddings (same sequential-double cosine).
    */
  test("graphInsert: bounded degree, exact re-pruned back-edges, untouched rows intact") {
    import org.apache.spark.sql.functions.{col => c}
    val all = vectors.cache()
    val held = all.filter(c("vec_id") % 17 === 5 && c("vec_id") >= EmbeddingQueries.NumCentroids)
    val store = all.join(held.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val g0 = graft.operators.Lineage.cut(
      Embeddings.nnDescentRound(store,
        Embeddings.knnGraphSeed(store, centroids, EmbeddingQueries.NnSeedAssign, K), K))
    val heldRows = held.select("vec_id", "embedding").localCheckpoint(true)
    val g1 = Embeddings.graphInsert(store, g0, heldRows, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K)
      .as[(Long, Long, Int)].collect()
    val heldIds = heldRows.select("vec_id").as[Long].collect().toSet
    assert(heldIds.nonEmpty)
    val byNode = g1.groupBy(_._1)
    // every new node is present with a ranked, bounded, self-free list
    heldIds.foreach { id =>
      val rows = byNode(id)
      assert(rows.length <= K && rows.map(_._3).sorted.toSeq === (1 to rows.length))
      assert(!rows.exists(_._2 == id))
    }
    // expected affected set = exactly the new nodes' out-edge targets
    val out = Embeddings.graphSearch(store, heldRows, g0, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K)
      .as[(Long, Long, Int)].collect()
    val affected = out.map(_._2).toSet
    val old = g0.as[(Long, Long, Int)].collect()
    val oldByNode = old.groupBy(_._1)
    // untouched nodes keep their exact rows
    oldByNode.keys.filterNot(affected).foreach { id =>
      assert(byNode(id).toSet === oldByNode(id).toSet, s"untouched $id drifted")
    }
    // affected nodes re-prune to the exact top-k over old ∪ back-candidates
    val emb = all.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val backByNode = out.groupBy(_._2).map { case (v, xs) => v -> xs.map(_._1).toSet }
    affected.foreach { v =>
      val cands = oldByNode.getOrElse(v, Array.empty).map(_._2).toSet ++ backByNode(v)
      val expect = cands.toSeq
        .map(n => (n, cos(v, n)))
        .sortBy { case (n, s) => (-s, n) }
        .take(K).map(_._1)
      val got = byNode(v).sortBy(_._3).map(_._2).toSeq
      assert(got === expect, s"re-pruned list wrong for $v")
    }
    all.unpersist()
    ()
  }

  /** The r18 critical-path seam: a gate may compute the batch's IVF entry
    * seed concurrently with the graph build and hand it to [[graphInsert]]
    * explicitly — the maintained graph must be row-identical to the default
    * (internally-seeded) form, or the overlap silently changes a gated
    * query's answer.
    */
  test("graphInsert with an explicit pre-computed seed equals the default form") {
    import org.apache.spark.sql.functions.{col => c}
    val held = vectors.filter(c("vec_id") % 17 === 5 &&
      c("vec_id") >= EmbeddingQueries.NumCentroids)
    val store = vectors.join(held.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val g0 = graft.operators.Lineage.cut(
      Embeddings.nnDescentRound(store,
        Embeddings.knnGraphSeed(store, centroids, EmbeddingQueries.NnSeedAssign, K), K))
    val heldRows = held.select("vec_id", "embedding").localCheckpoint(true)
    val seed = Embeddings.graphSearchSeed(store, heldRows, centroids,
      EmbeddingQueries.NProbe)
    def rows(g: DataFrame): Set[(Long, Long, Int)] =
      g.as[(Long, Long, Int)].collect().toSet
    val defaultForm = rows(Embeddings.graphInsert(store, g0, heldRows, centroids,
      EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K))
    val seededForm = rows(Embeddings.graphInsert(store, g0, heldRows, centroids,
      EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K,
      seed = Some(seed)))
    assert(seededForm === defaultForm)
  }

  /** The serve-side twin of the seed seam: a gate may compute the queries'
    * IVF entry seed concurrently with whatever produces the graph and hand
    * it to [[Embeddings.graphSearch]] — the answers must equal the default
    * (internally-seeded) form's.
    */
  test("graphSearch with an explicit pre-computed seed equals the default form") {
    val queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)
    val g = graph
    val seed = Embeddings.graphSearchSeed(vectors, queries, centroids,
      EmbeddingQueries.NProbe)
    def rows(df: DataFrame): Set[(Long, Long, Int)] =
      df.as[(Long, Long, Int)].collect().toSet
    val defaultForm = rows(Embeddings.graphSearch(vectors, queries, g, centroids,
      EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K))
    val seededForm = rows(Embeddings.graphSearch(vectors, queries, g, centroids,
      EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K,
      seed = Some(seed)))
    assert(defaultForm.nonEmpty)
    assert(seededForm === defaultForm)
  }

  /** Streaming ingest parity ([[Embeddings.graphIngestSink]]): vectors
    * inserted across micro-batches must leave exactly the (store, graph)
    * that the same batched [[Embeddings.graphInsert]] sequence produces.
    */
  test("graphIngestSink: streamed inserts equal the batch insert sequence") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c}
    val all = vectors.cache()
    val held = all.filter(c("vec_id") % 17 === 5 && c("vec_id") >= EmbeddingQueries.NumCentroids)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val store0 = all.join(
        held.map(_._1).toDF("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id", "embedding").localCheckpoint(true)
    val g0 = graft.operators.Lineage.cut(
      Embeddings.nnDescentRound(store0,
        Embeddings.knnGraphSeed(store0, centroids, EmbeddingQueries.NnSeedAssign, K), K))

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    @volatile var state = (store0, g0)
    val q = Embeddings.graphIngestSink(
      in.toDF().toDF("vec_id", "embedding"), centroids,
      EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K,
      java.nio.file.Files.createTempDirectory("gi-ck").toString)(() => state) {
      (s, g) => state = (s, g)
    }
    val chunks = held.grouped(math.max(1, held.size / 2)).toSeq
    chunks.foreach { ch => in.addData(ch); q.processAllAvailable() }
    // at-least-once redelivery: a replayed chunk is a no-op (the
    // already-present anti-join), not a double insert
    val before = state._2.as[(Long, Long, Int)].collect().toSet
    in.addData(chunks.head)
    q.processAllAvailable()
    assert(state._2.as[(Long, Long, Int)].collect().toSet === before,
      "redelivered batch must not change the graph")
    q.stop()

    var batchState = (store0, g0)
    chunks.foreach { ch =>
      val nv = ch.toDF("vec_id", "embedding")
      batchState = (
        batchState._1.unionByName(nv).localCheckpoint(true),
        Embeddings.graphInsert(batchState._1, batchState._2, nv, centroids,
          EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam,
          EmbeddingQueries.GsRounds, K).localCheckpoint(true))
    }
    assert(state._2.as[(Long, Long, Int)].collect().toSet
      === batchState._2.as[(Long, Long, Int)].collect().toSet)
    assert(state._1.select("vec_id").as[Long].collect().toSet
      === batchState._1.select("vec_id").as[Long].collect().toSet)
    all.unpersist()
    ()
  }

  /** Graph deletion ([[Embeddings.graphDelete]] — [[Embeddings.graphInsert]]'s
    * counterpart): tombstoned nodes' lists vanish, no surviving list points
    * at a tombstone, untouched lists pass through intact, and every broken
    * list re-prunes to the exact top-k over its remaining neighbors plus the
    * connect-around candidates — checked against a driver-side recompute
    * from the raw embeddings (same sequential-double cosine).
    */
  test("graphDelete: tombstones gone, connect-around re-prune exact, untouched intact") {
    import org.apache.spark.sql.functions.{col => c}
    val all = vectors.cache()
    val tomb = all.filter(c("vec_id") % 17 === 5 && c("vec_id") >= EmbeddingQueries.NumCentroids)
      .select("vec_id").localCheckpoint(true)
    val tombIds = tomb.as[Long].collect().toSet
    assert(tombIds.nonEmpty)
    val g0 = graph
    val g1 = Embeddings.graphDelete(all, g0, tomb, K).as[(Long, Long, Int)].collect()
    assert(!g1.exists(r => tombIds(r._1)), "a deleted node kept its list")
    assert(!g1.exists(r => tombIds(r._2)), "a surviving list points at a tombstone")
    val old = g0.as[(Long, Long, Int)].collect()
    val oldByNode = old.groupBy(_._1)
    val byNode = g1.groupBy(_._1)
    val affected = oldByNode.collect {
      case (v, rows) if !tombIds(v) && rows.exists(r => tombIds(r._2)) => v
    }.toSet
    assert(affected.nonEmpty, "tombstone set broke no list — vacuous test data")
    // untouched survivors keep their exact adjacency AND original ranks
    // (the rank column is graphInsert's input contract — preserving it is
    // what lets delete→insert interleave on one maintained pair)
    oldByNode.keys.filterNot(tombIds).filterNot(affected).foreach { v =>
      assert(byNode(v).toSet === oldByNode(v).toSet, s"untouched $v drifted")
    }
    // affected survivors re-prune to the exact top-k over live remaining ∪
    // connect-around candidates
    val emb = all.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    affected.foreach { v =>
      val oldList = oldByNode(v).map(_._2)
      val viaDeleted = oldList.filter(tombIds)
        .flatMap(d => oldByNode.getOrElse(d, Array.empty).map(_._2))
      val cands = (oldList.filterNot(tombIds) ++ viaDeleted)
        .filterNot(tombIds).filterNot(_ == v).toSet
      val expect = cands.toSeq
        .map(n => (n, cos(v, n)))
        .sortBy { case (n, s) => (-s, n) }
        .take(K).map(_._1)
      assert(byNode(v).sortBy(_._3).map(_._2).toSeq === expect,
        s"re-pruned list wrong for $v")
      assert(byNode(v).length <= K)
    }
    all.unpersist()
    ()
  }

  /** The maintenance operators INTERLEAVE on one maintained pair — the
    * composition both sinks' scaladocs advertise: [[Embeddings.graphDelete]]'s
    * output (rank preserved/recomputed) must satisfy
    * [[Embeddings.graphInsert]]'s input contract, so delete→insert runs
    * without schema errors and leaves every re-inserted node with a valid
    * bounded ranked list (review catch: a rank-less delete output broke
    * exactly this).
    */
  test("delete then insert interleave on one maintained (store, graph) pair") {
    import org.apache.spark.sql.functions.{col => c}
    val all = vectors.cache()
    val tomb = all.filter(c("vec_id") % 17 === 5 && c("vec_id") >= EmbeddingQueries.NumCentroids)
      .select("vec_id").localCheckpoint(true)
    val g1 = Embeddings.graphDelete(all, graph, tomb, K).localCheckpoint(true)
    val store1 = all.join(tomb, Seq("vec_id"), "left_anti").localCheckpoint(true)
    // re-insert the deleted vectors into the compacted graph
    val back = all.join(tomb, Seq("vec_id"), "left_semi")
      .select("vec_id", "embedding").localCheckpoint(true)
    val g2 = Embeddings.graphInsert(store1, g1, back, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam,
        EmbeddingQueries.GsRounds, K)
      .as[(Long, Long, Int)].collect()
    val backIds = tomb.as[Long].collect().toSet
    val byNode = g2.groupBy(_._1)
    backIds.foreach { id =>
      val rows = byNode.getOrElse(id, Array.empty)
      assert(rows.nonEmpty, s"re-inserted $id has no out-edges")
      assert(rows.length <= K)
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length),
        s"ranks broken for re-inserted $id")
    }
    assert(byNode.values.forall(_.length <= K), "degree bound broken")
    all.unpersist()
    ()
  }

  /** Serve-time tombstoning ([[Embeddings.graphSearchWithCostFrom]] with a
    * tombstone set): with an empty tombstone set the answers ARE
    * [[Embeddings.graphSearch]]'s; with one, no tombstoned id is ever an
    * answer while the search still routes through deleted nodes (results
    * stay ranked and bounded).
    */
  test("tombstoned serve: anti-joins answers, identity on empty tombstones") {
    val queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)
    val g = graph
    val none = Seq.empty[Long].toDF("vec_id")
    val plain = Embeddings.graphSearch(vectors, queries, g, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K)
      .as[(Long, Long, Int)].collect().toSet
    def excluding(tombstones: DataFrame): DataFrame =
      Embeddings.graphSearchWithCostFrom(vectors, queries, g,
        Embeddings.graphSearchSeed(vectors, queries, centroids, EmbeddingQueries.NProbe),
        EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K, Some(tombstones))._1
    val id = excluding(none).as[(Long, Long, Int)].collect().toSet
    assert(id === plain, "empty tombstone set changed the serve")
    val tombIds = plain.map(_._2).take(3)
    val served = excluding(tombIds.toSeq.toDF("vec_id")).as[(Long, Long, Int)].collect()
    assert(!served.exists(r => tombIds(r._2)), "a tombstoned id was served")
    served.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= K)
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length), s"ranks broken for $q")
    }
  }

  /** The route-through cost contract: tombstones are anti-joined from the
    * answers only, so the search still expands through deleted nodes and
    * exact-scores exactly the candidates the plain serve scores —
    * `q_graph_delete_recall`'s tombstoned-vs-compacted n_scored gap is only
    * meaningful if this holds.
    */
  test("tombstoned serve scores exactly what the plain serve scores") {
    val queries = vectors.filter(col("vec_id") < EmbeddingQueries.NumQueries)
    val g = graph
    val seed = Embeddings.graphSearchSeed(vectors, queries, centroids,
      EmbeddingQueries.NProbe)
    def serve(tombstones: Option[DataFrame]): (DataFrame, DataFrame) =
      Embeddings.graphSearchWithCostFrom(vectors, queries, g, seed,
        EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, K, tombstones)
    val (plainAnswers, plainScored) = serve(None)
    // tombstone nodes the search certainly reaches: the plain serve's answers
    val tombIds = plainAnswers.select("neighbor_id").distinct().as[Long].collect()
      .sorted.take(10)
    val (answers, scoredCost) = serve(Some(tombIds.toSeq.toDF("vec_id")))
    assert(tombIds.nonEmpty && answers.count() > 0)
    assert(scoredCost.count() === plainScored.count(),
      "tombstones changed the scored cost: routing no longer passes through them")
  }

  /** Streaming delete parity ([[Embeddings.graphTombstoneSink]]): tombstone
    * ids arriving across micro-batches must leave exactly the (store, graph)
    * the same batched [[Embeddings.graphDelete]] sequence produces, and a
    * redelivered batch is a no-op (the store semi-join).
    */
  test("graphTombstoneSink: streamed deletes equal the batch delete sequence") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c}
    val all = vectors.cache()
    val tombIds = all.filter(c("vec_id") % 17 === 5 && c("vec_id") >= EmbeddingQueries.NumCentroids)
      .select("vec_id").as[Long].collect().toSeq.sorted
    val g0 = graph
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    @volatile var state = (all.select("vec_id", "embedding").localCheckpoint(true), g0)
    val q = Embeddings.graphTombstoneSink(
      in.toDF().toDF("vec_id"), K,
      java.nio.file.Files.createTempDirectory("gt-ck").toString)(() => state) {
      (s, g) => state = (s, g)
    }
    val chunks = tombIds.grouped(math.max(1, tombIds.size / 2)).toSeq
    chunks.foreach { ch => in.addData(ch); q.processAllAvailable() }
    // at-least-once redelivery: already-deleted ids are a no-op
    val before = state._2.as[(Long, Long, Int)].collect().toSet
    in.addData(chunks.head)
    q.processAllAvailable()
    assert(state._2.as[(Long, Long, Int)].collect().toSet === before,
      "redelivered tombstones must not change the graph")
    q.stop()

    var batchState: (DataFrame, DataFrame) =
      (all.select("vec_id", "embedding"), g0)
    chunks.foreach { ch =>
      val ids = ch.toDF("vec_id")
      batchState = (
        batchState._1.join(ids, Seq("vec_id"), "left_anti").localCheckpoint(true),
        Embeddings.graphDelete(batchState._1, batchState._2, ids, K)
          .localCheckpoint(true))
    }
    assert(state._2.as[(Long, Long, Int)].collect().toSet
      === batchState._2.as[(Long, Long, Int)].collect().toSet)
    assert(state._1.select("vec_id").as[Long].collect().toSet
      === batchState._1.select("vec_id").as[Long].collect().toSet)
    all.unpersist()
    ()
  }

  /** Stream-static serving parity ([[Embeddings.graphSearch]] per query
    * micro-batch through [[graft.streaming.EachBatch]]): query micro-batches
    * answered from the ONE pre-built graph + static store must
    * equal the batch search for the same query set, at every chunking —
    * per-batch plans see static frames, so trigger boundaries are invisible.
    */
  test("graphProbeSink: streamed search equals the batch beam search") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = vectors.cache()
    val g = graph
    val queryIds = Seq(3L, 17L, 31L, 45L)
    val queryRows = corpus.filter(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val q = graft.streaming.EachBatch(in.toDF().toDF("vec_id", "embedding"),
      java.nio.file.Files.createTempDirectory("gs-ck").toString) { (batch, _) =>
      val res = Embeddings.graphSearch(corpus, batch, g, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, 5)
      got.synchronized { got ++= res.as[(Long, Long, Int)].collect() }
    }
    queryRows.grouped(2).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    q.stop()

    val batch = Embeddings.graphSearch(corpus,
        corpus.filter(col("vec_id").isin(queryIds: _*)), g, centroids,
        EmbeddingQueries.NProbe, EmbeddingQueries.GsBeam, EmbeddingQueries.GsRounds, 5)
      .as[(Long, Long, Int)].collect().toSet
    corpus.unpersist()
    assert(got.synchronized(got.toSet) === batch)
    assert(batch.map(_._1) === queryIds.toSet)
  }
}
