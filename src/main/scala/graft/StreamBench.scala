package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.operators.{TextDedup, TokenPipeline}
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.sources.{SyntheticCdc, Tables}
import graft.streaming.{CorpusCleanStream, EachBatch, MetricsListener, StreamingPipeline}

/** Streaming throughput bench — ONE JSON line per pipeline, seven pipelines:
  *
  *   1. `stream_clean_rows_per_sec` — the composed corpus cleaner
  *      ([[graft.streaming.CorpusCleanStream]]: language/quality gates,
  *      stateful exact dedup, per-trigger near-dup probe against a static
  *      LSH index);
  *   2. `near_pipeline_rows_per_sec` — the reference's actual deployed
  *      workload (README.md:255-261 instruments exactly this pipe over JMX):
  *      three CDC topics → one keyed state per receipt for the watermarked
  *      dedup ×3 and both ±2 s joins → filter/decode/fan-out → per-batch
  *      balance fold into the upsert store
  *      ([[graft.streaming.StreamingPipeline.dualSink]] — the production
  *      multi-sink shape);
  *   3. `ann_serve_queries_per_sec` — the streamed ANN serving tier
  *      ([[graft.operators.Embeddings.ivfPqRerankFromIndex]] per query
  *      micro-batch: answered from the pre-built IVF∘PQ index via
  *      retrieve-then-rerank);
  *   4. `graph_serve_queries_per_sec` — graph-ANN serving (beam search over
  *      the pre-built NN-Descent graph, [[runGraphServe]]);
  *   5. `graph_ingest_rows_per_sec` — graph-index MAINTENANCE (streamed
  *      insertion into the pre-built graph, [[runGraphIngest]]);
  *   6. `graph_maintain_rows_per_sec` — the FULL maintenance lifecycle:
  *      inserts and deletes interleaved on one maintained pair through both
  *      sinks ([[runGraphMaintain]]);
  *   7. `pit_serve_rows_per_sec` — point-in-time feature serving over the
  *      events feed ([[runPitServe]]).
  *
  * All drive the SPARK_GRAFT_SF_DIR data via MemoryStream (the only offline
  * stream source) in fixed chunks, each one micro-batch, with monotone event
  * times so watermarks advance and state is actually evicted mid-run, and
  * both capture the per-trigger signal the reference exported over JMX
  * through [[graft.streaming.MetricsListener]]: rows/sec end-to-end, rows
  * in/out, trigger count, mean batch duration, and final state-store
  * rows/bytes. Driving data through the driver is a MemoryStream harness
  * property, not a pipeline property — a connected deployment replaces the
  * source with Kafka and nothing downstream changes.
  */
object StreamBench {

  /** One pipeline run's signal — everything the JSON line carries. */
  final case class Result(rowsIn: Long, rowsOut: Long, wallSec: Double,
                          triggers: Int, meanBatchMs: Double,
                          stateRows: Long, stateBytes: Long) {
    def rowsPerSec: Double = if (wallSec > 0) rowsIn / wallSec else 0d
    def json(metric: String, sfDir: String, backend: String = "hdfs"): String =
      s"""{"metric":"$metric","value":$rowsPerSec,"unit":"rows/sec",""" +
        s""""rows_in":$rowsIn,"rows_out":$rowsOut,"triggers":$triggers,""" +
        s""""mean_batch_ms":$meanBatchMs,"state_rows":$stateRows,""" +
        s""""state_bytes":$stateBytes,"wall_sec":$wallSec,""" +
        s""""state_backend":"$backend","sf":"$sfDir"}"""
  }

  /** Collect per-trigger metrics around `run`, then fold them into a
    * [[Result]]. No-data batches (watermark-advance triggers) are engine
    * bookkeeping, not throughput — only data triggers count.
    */
  private def measured(spark: SparkSession)(run: => (Long, Long)): Result = {
    val triggers = scala.collection.mutable.ArrayBuffer.empty[MetricsListener.TriggerMetrics]
    val listener = new MetricsListener(sink = m =>
      triggers.synchronized { triggers += m }).register(spark)
    val t0 = System.nanoTime()
    // the session is SHARED (serial suites, one JVM): a throwing run must not
    // leak the listener into later pipelines/suites
    val (rowsIn, rowsOut) = try run finally listener.unregister(spark)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val snaps = triggers.synchronized(triggers.toVector).filter(_.inputRows > 0)
    val meanBatchMs =
      if (snaps.isEmpty) 0.0 else snaps.map(_.batchDurationMs).sum.toDouble / snaps.size
    val last = snaps.lastOption
    Result(rowsIn, rowsOut, wallSec, snaps.size, meanBatchMs,
      last.map(_.stateRows).getOrElse(0L), last.map(_.stateBytes).getOrElse(0L))
  }

  /** The corpus cleaner: the SPARK_GRAFT_SF_DIR documents split by doc id
    * into the REFERENCE half (builds the static index — the already-ingested
    * training set) and the ARRIVING half (streamed) — streaming a corpus
    * against an index of itself would self-match every doc at Jaccard 1 and
    * measure nothing but removals. The static index is localCheckpointed
    * once: a lazy index would re-scan parquet and re-aggregate signatures
    * EVERY trigger, which is exactly the per-trigger corpus reshuffle the
    * stream-static design forbids.
    */
  def runCorpusClean(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val mid = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0) / 2
    val reference = docs.filter($"doc_id" <= mid)
    val arriving = docs.filter($"doc_id" > mid)
    val index = graft.operators.Lineage.cut(
      TextDedup.lshBandedIndex(reference, "doc_id", "text",
        n = 3, numHashes = 32, rowsPerBand = 2))

    val rows = arriving.as[(Long, String)].collect()
    val chunkSize = math.max(1, math.ceil(rows.length.toDouble / chunks).toInt)

    val in = MemoryStream[(Long, String, Timestamp)]
    var rowsOut = 0L
    val q = CorpusCleanStream.run(
      in.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      "30 seconds", index, qualityFloor = 1000,
      checkpointDir = Files.createTempDirectory("streambench-ck").toString,
      rowsPerBand = 2) { clean =>
      rowsOut += clean.count()
      ()
    }
    measured(spark) {
      try {
        rows.grouped(chunkSize).zipWithIndex.foreach { case (chunk, i) =>
          in.addData(chunk.map { case (id, text) =>
            (id, text, new Timestamp(1700000000000L + i * 1000L))
          }.toSeq)
          q.processAllAvailable()
        }
        (rows.length.toLong, rowsOut)
      } finally q.stop()
    }
  }

  /** The NEAR token pipeline end-to-end: the sf events table mapped onto the
    * three CDC topics ([[SyntheticCdc]], verbatim redelivery included — the
    * same feed the `near_*` oracle queries pin), each topic fed time-ordered
    * (the CDC commit-order contract) in `chunks` micro-batches through the
    * FULL streaming plan — dedup ×3 and both ±2 s joins in ONE keyed state
    * per receipt ([[graft.operators.ReceiptState]]), decode + double-entry
    * fan-out — with the per-batch balance deltas folded into the in-memory
    * upsert store ([[StreamingPipeline.dualSink]]). `rowsIn` counts all
    * three topics; `rowsOut` the emitted transfer legs; state is the
    * per-receipt members the watermark bounds, one operator.
    */
  def runNearPipeline(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = TokenPipeline.Config(SyntheticCdc.TokenAddress)
    val base = graft.operators.Lineage.cut(SyntheticCdc.base(Tables(spark, sfDir, "events")))
    def feed(df: DataFrame, timeCol: String): Seq[String] =
      df.orderBy(col(timeCol)).toJSON.collect().toSeq
    val rJson = feed(SyntheticCdc.receiptsWithDups(base), "included_in_block_timestamp")
    val oJson = feed(SyntheticCdc.outcomesWithDups(base), "executed_in_block_timestamp")
    val aJson = feed(SyntheticCdc.actionsWithDups(base), "receipt_included_in_block_timestamp")

    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]
    val tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)

    val store = new BalanceUpsert.MemoryStore
    var rowsOut = 0L
    val q = StreamingPipeline.dualSink(tx,
      Files.createTempDirectory("nearbench-ck").toString) { transfers =>
      rowsOut += transfers.count()
    } { deltas =>
      store.upsertAll(deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow))
    }

    def chunked(xs: Seq[String]): Seq[Seq[String]] = {
      val size = math.max(1, math.ceil(xs.size.toDouble / chunks).toInt)
      xs.grouped(size).toSeq
    }
    val (rC, oC, aC) = (chunked(rJson), chunked(oJson), chunked(aJson))
    val n = Seq(rC.size, oC.size, aC.size).max
    measured(spark) {
      try {
        (0 until n).foreach { i =>
          rC.lift(i).foreach(c => rIn.addData(c))
          oC.lift(i).foreach(c => oIn.addData(c))
          aC.lift(i).foreach(c => aIn.addData(c))
          q.processAllAvailable()
        }
        require(store.snapshot.nonEmpty, "balance store stayed empty — pipeline broken")
        ((rJson.size + oJson.size + aJson.size).toLong, rowsOut)
      } finally q.stop()
    }
  }

  /** The streamed ANN serving tier: the sf embeddings table's vectors ALL
    * replayed as a query stream against the PERSISTED IVF∘PQ index of the
    * same corpus, each micro-batch answered through the full
    * retrieve-then-rerank plan
    * ([[graft.operators.Embeddings.ivfPqRerankFromIndex]] — ADC pool from
    * codes alone, exact rerank fetching queries×r float rows from the static
    * store). The index frames are the
    * [[graft.queries.EmbeddingQueries.pqIndex]] artifact READ-BACKS — the
    * same parquet parts every batch serving gate scans, so the streamed line
    * prices the same artifact reads (the build, if not already ensured this
    * session, runs before the measured section). `rowsOut` counts emitted
    * top-k neighbor rows; the pipeline is stateless (no watermark state), so
    * state_rows/bytes report 0 — the serving tier's memory is the index,
    * not stream state.
    */
  def runAnnServe(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Embeddings, Lineage}
    // Parameter-locked to the correctness-gated queries: if EmbeddingQueries'
    // constants move, this bench measures the same configuration (r10 ADVICE).
    import graft.queries.EmbeddingQueries.{NProbe, RerankR, K}
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val idx = graft.queries.EmbeddingQueries.pqIndex(spark, sfDir)
    val store = Lineage.cut(corpus)

    val rows = corpus.as[(Long, Array[Float])].collect()
    val chunkSize = math.max(1, math.ceil(rows.length.toDouble / chunks).toInt)
    val in = MemoryStream[(Long, Array[Float])]
    var rowsOut = 0L
    val q = EachBatch(in.toDF().toDF("vec_id", "embedding"),
      Files.createTempDirectory("annserve-ck").toString) { (batch, _) =>
      rowsOut += Embeddings.ivfPqRerankFromIndex(idx.codes, idx.assigned, batch,
        idx.centroids, idx.codebook, store, NProbe, RerankR, K).count()
    }
    measured(spark) {
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        (rows.length.toLong, rowsOut)
      } finally q.stop()
    }
  }

  /** Graph-ANN serving: query micro-batches answered from the PERSISTED
    * NN-Descent index via beam search
    * ([[graft.operators.Embeddings.graphSearch]] per query micro-batch) —
    * the serving tier
    * measured at the same parameter lock as `q_graph_search_indexed`, over
    * the same [[graft.queries.EmbeddingQueries.gsIndex]] artifact read-backs
    * that gate scans (edge list + entry vectors from parquet; any build runs
    * before the measured section).
    */
  def runGraphServe(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Embeddings, Lineage}
    import graft.queries.EmbeddingQueries.{GsBeam, GsRounds, K, NProbe}
    val corpus = Lineage.cut(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding"))
    val (graph, entries) = graft.queries.EmbeddingQueries.gsIndex(spark, sfDir)

    val rows = corpus.as[(Long, Array[Float])].collect()
    val chunkSize = math.max(1, math.ceil(rows.length.toDouble / chunks).toInt)
    val in = MemoryStream[(Long, Array[Float])]
    var rowsOut = 0L
    val q = EachBatch(in.toDF().toDF("vec_id", "embedding"),
      Files.createTempDirectory("graphserve-ck").toString) { (batch, _) =>
      rowsOut += Embeddings.graphSearch(corpus, batch, graph, entries,
        NProbe, GsBeam, GsRounds, K).count()
    }
    measured(spark) {
      try {
        rows.grouped(chunkSize).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        (rows.length.toLong, rowsOut)
      } finally q.stop()
    }
  }

  /** The graph-maintenance benches' start: the corpus rows, its last
    * quarter held out by id (`fresh`) and the pre-built (store, graph) pair
    * over the rest. The stream-execution thread writes the pair and the
    * driver thread reads it, so it sits in an AtomicReference: visibility
    * doesn't ride on processAllAvailable's internal progress lock.
    */
  private final case class HeldOut(rows: Array[(Long, Array[Float])], cutoff: Long,
    fresh: Array[(Long, Array[Float])], centroids: DataFrame,
    maintained: AtomicReference[(DataFrame, DataFrame)])

  private def heldOutPair(spark: SparkSession, sfDir: String): HeldOut = {
    import spark.implicits._
    import graft.operators.{Embeddings, Lineage}
    import graft.queries.EmbeddingQueries.{K, NnSeedAssign, NumCentroids}
    val all = Lineage.cut(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding"))
    val centroids = Lineage.cut(all.filter($"vec_id" < NumCentroids))
    val rows = all.as[(Long, Array[Float])].collect()
    val cutoff = rows.map(_._1).max - rows.length / 4
    val store0 = Lineage.cut(all.filter($"vec_id" <= cutoff))
    HeldOut(rows, cutoff, rows.filter(_._1 > cutoff).sortBy(_._1), centroids,
      new AtomicReference((store0, Embeddings.nnDescent(store0,
        Embeddings.knnGraphSeed(store0, centroids, NnSeedAssign, K), K, 1).graph)))
  }

  /** Graph-index MAINTENANCE throughput: the corpus minus its last quarter
    * is the pre-built (store, graph); the held-out vectors stream in as
    * micro-batches through [[graft.operators.Embeddings.graphIngestSink]]
    * (search-then-reprune insertion, no rebuild — the operator
    * `q_graph_insert_recall` prices for quality), each batch swapping the
    * maintained (store, graph) pair. rows/sec = inserted vectors per
    * second; rows_out = the final maintained graph's edge count (degree
    * stays bounded — it lands at |corpus|×k, the rebuilt size).
    */
  def runGraphIngest(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Embeddings
    import graft.queries.EmbeddingQueries.{GsBeam, GsRounds, K, NProbe}
    val HeldOut(_, _, fresh, centroids, maintained) = heldOutPair(spark, sfDir)
    val chunkSize = math.max(1, math.ceil(fresh.length.toDouble / chunks).toInt)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Embeddings.graphIngestSink(in.toDF().toDF("vec_id", "embedding"),
      centroids, nProbe = NProbe, beam = GsBeam, rounds = GsRounds, k = K,
      Files.createTempDirectory("graphingest-ck").toString)(
      () => maintained.get()) { (newStore, newGraph) =>
      maintained.set((newStore, newGraph))
      ()
    }
    measured(spark) {
      try {
        fresh.grouped(chunkSize).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        (fresh.length.toLong, maintained.get()._2.count())
      } finally q.stop()
    }
  }

  /** Graph-index maintenance under the FULL lifecycle: INSERTS and DELETES
    * interleave on ONE maintained (store, graph) pair — the held-out last
    * quarter streams in through [[graft.operators.Embeddings.graphIngestSink]]
    * while a deterministic slice of the pre-built store streams out through
    * [[graft.operators.Embeddings.graphTombstoneSink]], alternating
    * micro-batches (the composition both sinks' contracts advertise;
    * `GraphSearchSpec` proves the batch-parity of each and of the
    * delete→insert chain). rows/sec counts maintenance EVENTS (inserted
    * vectors + tombstoned ids); rows_out = the final maintained graph's
    * edge count. The alternation is driven serially (one
    * processAllAvailable at a time), so the shared pair needs no locking
    * beyond the AtomicReference visibility handoff.
    */
  def runGraphMaintain(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Embeddings
    import graft.queries.EmbeddingQueries.{GsBeam, GsRounds, K, NProbe, NumCentroids}
    val HeldOut(rows, cutoff, fresh, centroids, maintained) = heldOutPair(spark, sfDir)
    // tombstones: a deterministic ~5% slice of the PRE-BUILT store, never
    // the centroid prefix (entry points stay live — the delete gate's rule)
    val tombs = rows.collect {
      case (id, _) if id <= cutoff && id >= NumCentroids && id % 20 == 7 => id
    }.sorted
    val swap = (s: DataFrame, g: DataFrame) => { maintained.set((s, g)); () }
    val inV = MemoryStream[(Long, Array[Float])]
    val inT = MemoryStream[Long]
    val qIns = Embeddings.graphIngestSink(inV.toDF().toDF("vec_id", "embedding"),
      centroids, nProbe = NProbe, beam = GsBeam, rounds = GsRounds, k = K,
      Files.createTempDirectory("graphmaint-ins-ck").toString)(
      () => maintained.get())(swap)
    val qDel = Embeddings.graphTombstoneSink(inT.toDF().toDF("vec_id"), K,
      Files.createTempDirectory("graphmaint-del-ck").toString)(
      () => maintained.get())(swap)
    val vChunk = math.max(1, math.ceil(fresh.length.toDouble / chunks).toInt)
    val tChunk = math.max(1, math.ceil(tombs.length.toDouble / chunks).toInt)
    measured(spark) {
      try {
        fresh.grouped(vChunk).map(_.toSeq).toSeq.zipAll(
            tombs.grouped(tChunk).map(_.toSeq).toSeq,
            Seq.empty[(Long, Array[Float])], Seq.empty[Long])
          .foreach { case (vs, ts) =>
            if (vs.nonEmpty) { inV.addData(vs); qIns.processAllAvailable() }
            if (ts.nonEmpty) { inT.addData(ts); qDel.processAllAvailable() }
          }
        ((fresh.length + tombs.length).toLong, maintained.get()._2.count())
      } finally { qIns.stop(); qDel.stop() }
    }
  }

  /** Point-in-time feature serving: the events table re-keyed into the
    * merged PIT feed (clicks/views = feature streams, purchases = training
    * events) and streamed in event-time order through
    * [[graft.streaming.PitStream.serveFeatures]] — per-purchase feature
    * vectors finalize as the watermark advances, state bounded by the
    * delay.
    */
  def runPitServe(spark: SparkSession, sfDir: String, chunks: Int): Result = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.PitStream
    import org.apache.spark.sql.functions.{timestamp_micros, when => whenF}
    val e = Tables(spark, sfDir, "events")
    val feed = e
      .filter(col("event_type").isin("purchase", "click", "view"))
      .select(col("user_id"),
        whenF(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 1).otherwise(2).as("kind"),
        col("event_id"),
        timestamp_micros(graft.sources.Events.tsMicros(e)).as("ts"),
        col("value"))
      .as[PitStream.PitEvent]
      .collect()
      .sortBy(r => (r.ts.getTime, r.event_id)) // event-time order: late rows
                                               // beyond the watermark would
                                               // (correctly) be dropped
    val chunkSize = math.max(1, math.ceil(feed.length.toDouble / chunks).toInt)
    val in = MemoryStream[PitStream.PitEvent]
    val served = PitStream.serveFeatures(in.toDF(), "60 seconds",
      graft.queries.AnalyticQueries.PitStalenessUs)
    var rowsOut = 0L
    val q = EachBatch(served.toDF(),
      Files.createTempDirectory("pitserve-ck").toString) { (b, _) =>
      rowsOut += b.count()
    }
    measured(spark) {
      try {
        feed.grouped(chunkSize).foreach { chunk =>
          in.addData(chunk.toSeq)
          q.processAllAvailable()
        }
        (feed.length.toLong, rowsOut)
      } finally q.stop()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNKS", "10").toInt
    // SPARK_GRAFT_ROCKSDB=1 runs the same seven pipelines on the RocksDB
    // state-store provider — the reference's actual state backend
    // (TokenBalance.java:89 uses a persistent RocksDB window store), so the
    // measured analogue exists beside the default in-memory/HDFS-backed
    // provider. Semantics are provider-independent (RocksDbStateSpec proves
    // identical results); this knob prices the backend, which at 100 TB is
    // what bounds state by disk instead of executor heap.
    val rocksdb = sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")
    val backend = if (rocksdb) "rocksdb" else "hdfs"
    val spark = SparkEntry.session()
    // a session conf read at query start, so setting it before any query
    // starts covers all of them
    if (rocksdb)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    println(runCorpusClean(spark, sfDir, chunks).json("stream_clean_rows_per_sec", sfDir, backend))
    println(runNearPipeline(spark, sfDir, chunks).json("near_pipeline_rows_per_sec", sfDir, backend))
    println(runAnnServe(spark, sfDir, chunks).json("ann_serve_queries_per_sec", sfDir, backend))
    println(runGraphServe(spark, sfDir, chunks).json("graph_serve_queries_per_sec", sfDir, backend))
    println(runGraphIngest(spark, sfDir, chunks).json("graph_ingest_rows_per_sec", sfDir, backend))
    println(runGraphMaintain(spark, sfDir, chunks).json("graph_maintain_rows_per_sec", sfDir, backend))
    println(runPitServe(spark, sfDir, chunks).json("pit_serve_rows_per_sec", sfDir, backend))
    spark.stop()
  }
}
