package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Shrink, Test => SCTest}

import graft.operators.TokenPipeline
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.streaming.{EachBatch, StreamingPipeline}

/** Batch ≡ stream parity for the token pipeline — the reference's execution
  * model is streaming (TokenBalance.java:92-122,279-333), so the claim that
  * the same stages run unchanged under Structured Streaming is proven here,
  * not asserted in comments:
  *
  *   - the transfer stream (one keyed merge per receipt → fan-out) fed in
  *     multiple micro-batches, with CDC duplicates crossing the batch
  *     boundary, must equal the batch result of the per-stage operators
  *     (dedup ×3 → two interval joins → fan-out);
  *   - the balance changelog via per-batch deltas merged into the upsert
  *     store must equal the batch aggregate;
  *   - a full reset + replay (fresh checkpoint, fresh store, same feed) must
  *     reproduce identical results (§2 #17).
  */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._
  import TokenFixture.cfg

  private type Feeds = (Seq[String], Seq[String], Seq[String])

  private lazy val fixtureFeeds: Feeds =
    (TokenFixture.receipts(spark).toJSON.collect().toSeq,
     TokenFixture.outcomes(spark).toJSON.collect().toSeq,
     TokenFixture.actions(spark).toJSON.collect().toSeq)

  /** Feed three MemoryStreams with the given JSON feeds in `nChunks` pieces,
    * run the full pipeline, return (collected transfer rows, balance store).
    */
  private def runStreaming(name: String, nChunks: Int, feeds: Feeds = fixtureFeeds)
      : (Set[String], Map[String, BalanceUpsert.BalanceRow]) = {
    def chunks(xs: Seq[String]): Seq[Seq[String]] = {
      val size = math.max(1, math.ceil(xs.size.toDouble / nChunks).toInt)
      xs.grouped(size).toSeq
    }
    val (r, o, a) = (chunks(feeds._1), chunks(feeds._2), chunks(feeds._3))
    val steps = (0 until Seq(r.size, o.size, a.size).max).map { i =>
      (r.lift(i).getOrElse(Nil), o.lift(i).getOrElse(Nil), a.lift(i).getOrElse(Nil))
    }
    val (legs, store) = runSteps(name, steps)
    (legs.toSet, store)
  }

  /** Run the full pipeline over `steps`, one delivery per step (each topic's
    * rows of that step, then one `processAllAvailable`); return (every
    * emitted transfer row, in emission order, and the balance store). With
    * `restartAfter = Some(i)` the query is stopped after step i and a new
    * one resumes on the same checkpoint.
    */
  private def runSteps(name: String, steps: Seq[Feeds], restartAfter: Option[Int] = None)
      : (Seq[String], Map[String, BalanceUpsert.BalanceRow]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]

    val tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    assert(tx.isStreaming, "pipeline must actually run in streaming mode")

    // One query, two sinks: MemoryStream is a single-consumer source (it
    // trims committed batches), so the transfer rows and the balance deltas
    // both come out of the same foreachBatch — the production multi-sink
    // shape (see StreamingPipeline.dualSink).
    val store = new BalanceUpsert.MemoryStore
    val txRows = scala.collection.mutable.ArrayBuffer.empty[String]
    val ck = Files.createTempDirectory(s"$name-ck").toString
    def start() = StreamingPipeline.dualSink(tx, ck) { transfers =>
      txRows.synchronized { txRows ++= transfers.toJSON.collect() }
    } { deltas =>
      store.upsertAll(deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow))
    }

    var query = start()
    steps.zipWithIndex.foreach { case ((r, o, a), i) =>
      if (r.nonEmpty) rIn.addData(r)
      if (o.nonEmpty) oIn.addData(o)
      if (a.nonEmpty) aIn.addData(a)
      query.processAllAvailable()
      if (restartAfter.contains(i)) {
        query.stop()
        query = start()
        query.processAllAvailable()
      }
    }
    query.stop()

    (txRows.synchronized(txRows.toSeq), store.snapshot)
  }

  private def canonical(df: DataFrame): Set[String] = df.toJSON.collect().toSet

  /** The batch transfer legs from the per-stage operators —
    * [[graft.operators.Dedup.exact]] per topic, then the two interval
    * joins — which share no code with the keyed merge the pipeline runs in
    * both modes, so no parity check here compares that merge with itself.
    */
  private def perStageTransfers(receipts: DataFrame, outcomes: DataFrame,
                                actions: DataFrame): DataFrame =
    TokenPipeline.transfers(TokenPipeline.joined(TokenPipeline.dedupReceipts(receipts, cfg),
      TokenPipeline.dedupOutcomes(outcomes, cfg), TokenPipeline.dedupActions(actions, cfg),
      cfg), cfg)

  private lazy val batchTransfers =
    perStageTransfers(TokenFixture.receipts(spark), TokenFixture.outcomes(spark),
      TokenFixture.actions(spark)).cache()

  test("streaming transfers across 3 micro-batches equal the batch result") {
    val (streamed, _) = runStreaming("tx_parity", nChunks = 3)
    assert(streamed === canonical(batchTransfers))
    assert(streamed.nonEmpty)
  }

  test("streamed balance deltas merged into the store equal the batch fold") {
    val (_, store) = runStreaming("tx_parity_bal", nChunks = 3)
    val batch = TokenPipeline.balances(batchTransfers).collect()
      .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
    assert(store.keySet === batch.keySet)
    batch.foreach { case (acct, b) =>
      val s = store(acct)
      assert(s.balance.compareTo(b.balance) == 0, s"balance of $acct")
      assert((s.blockTimestamp.compareTo(b.blockTimestamp), s.indexInChunk, s.receiptId)
        === ((0, b.indexInChunk, b.receiptId)), s"provenance of $acct")
    }
  }

  /** One topic's rows in a random arrival order, cut into `n` deliveries at
    * random points, plus up to 3 redeliveries of its rows into random
    * deliveries (before or after the first copy).
    */
  private def deliveries(rows: Seq[String], n: Int): Gen[Seq[Seq[String]]] = for {
    keys <- Gen.listOfN(rows.size, Gen.choose(0, Int.MaxValue))
    cuts <- Gen.listOfN(n - 1, Gen.choose(0, rows.size))
    k <- Gen.choose(0, 3)
    redo <- Gen.listOfN(k, Gen.zip(Gen.oneOf(rows), Gen.choose(0, n - 1)))
  } yield {
    val order = rows.zip(keys).sortBy(_._2).map(_._1)
    val bounds = (0 +: cuts.sorted) :+ rows.size
    (0 until n).map { i =>
      order.slice(bounds(i), bounds(i + 1)) ++ redo.collect { case (r, `i`) => r }
    }
  }

  /** Deliveries of the fixture feed: each topic permuted and cut on its own,
    * so the members of one ±2 s window arrive in every relative order and
    * redeliveries cross batch boundaries and topics. The fixture spans 100 s
    * of event time, inside the 60-min watermark delay, so no order is late.
    * Each schedule also names the step after which the query is stopped and
    * restarted on its checkpoint (the last step: a restart with no new data).
    */
  private val schedules: Gen[(Seq[Feeds], Int)] = for {
    n <- Gen.choose(1, 4)
    r <- deliveries(fixtureFeeds._1, n)
    o <- deliveries(fixtureFeeds._2, n)
    a <- deliveries(fixtureFeeds._3, n)
    restartAfter <- Gen.choose(0, n - 1)
  } yield ((0 until n).map(i => (r(i), o(i), a(i))), restartAfter)

  /** A failing schedule shrinks by dropping whole deliveries, then single
    * rows; the restart step stays inside the shrunk schedule.
    */
  private implicit val shrinkSchedule: Shrink[(Seq[Feeds], Int)] =
    Shrink.withLazyList { case (steps, restartAfter) =>
      def topics(f: Feeds) = Seq(f._1, f._2, f._3)
      val fewerSteps = steps.indices.to(LazyList).map(i => steps.patch(i, Nil, 1))
      val fewerRows = for {
        i <- steps.indices.to(LazyList)
        t <- (0 until 3).to(LazyList)
        j <- topics(steps(i))(t).indices.to(LazyList)
      } yield {
        val ts = topics(steps(i)).updated(t, topics(steps(i))(t).patch(j, Nil, 1))
        steps.updated(i, (ts(0), ts(1), ts(2)))
      }
      (fewerSteps ++ fewerRows).map(s => (s, math.max(0, math.min(restartAfter, s.size - 1))))
    }

  test("property: streamed legs and balances equal batch under any delivery schedule") {
    var runs = 0
    val restarts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    val prop = Prop.forAll(schedules) { case (steps, restartAfter) =>
      runs += 1
      restarts += ((restartAfter, steps.size))
      val (legs, store) = runSteps(s"tx_prop_$runs", steps, Some(restartAfter))
      def topic(t: Int, schema: org.apache.spark.sql.types.StructType) =
        StreamingPipeline.parseJson(steps.flatMap(s => Seq(s._1, s._2, s._3)(t)).toDF("value"), schema)
      val batch = perStageTransfers(topic(0, NearSchemas.receipts),
        topic(1, NearSchemas.executionOutcomes), topic(2, NearSchemas.actionReceiptActions))
        .cache()
      try {
        val balances = TokenPipeline.balances(batch).collect()
          .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
        legs.sorted == batch.toJSON.collect().toSeq.sorted &&
          store.keySet == balances.keySet &&
          balances.forall { case (acct, b) =>
            val s = store(acct)
            s.balance.compareTo(b.balance) == 0 && s.receiptId == b.receiptId &&
              s.blockTimestamp.compareTo(b.blockTimestamp) == 0
          }
      } finally { batch.unpersist(); () }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6).withInitialSeed(20261017L), prop)
    assert(result.passed, result.status.toString)
    // the seeded schedules restart mid-feed, not only after the last batch
    assert(restarts.exists { case (at, n) => at < n - 1 }, s"restarts: $restarts")
  }

  test("reset + replay reproduces identical results (deterministic recovery)") {
    val (t1, s1) = runStreaming("tx_replay_1", nChunks = 2)
    val (t2, s2) = runStreaming("tx_replay_2", nChunks = 4)
    assert(t1 === t2)
    assert(s1.keySet === s2.keySet)
    s1.foreach { case (acct, b1) =>
      val b2 = s2(acct)
      assert(b1.balance.compareTo(b2.balance) == 0)
      assert(b1.receiptId === b2.receiptId)
    }
  }

  /** The exactly-once journal under a REAL engine redelivery: the sink
    * applies its side effects and then crashes before the checkpoint commit
    * (the precise at-least-once hazard window), the query is restarted from
    * the same checkpoint, and Structured Streaming re-runs the batch with
    * the SAME batchId — the journaled store's claim fails and it skips the
    * replay, while a plain at-least-once store visibly double-applies the
    * same deltas. End-to-end over the full pipeline (dedup → interval joins
    * → fan-out → per-batch balance fold), not a unit call of the protocol.
    */
  test("checkpoint-restart redelivery: journaled store exactly-once, plain store double-applies") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]
    def tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    val ck = Files.createTempDirectory("eo-restart-ck").toString
    val journaled = new BalanceUpsert.JournaledStore
    val plain = new BalanceUpsert.MemoryStore
    @volatile var crashed = false
    def start() = EachBatch(tx, ck) { (batch, id) =>
      val rows = TokenPipeline.balances(batch).collect().toSeq
        .map(BalanceUpsert.BalanceRow.fromRow)
      plain.upsertAll(rows)                      // at-least-once baseline
      journaled.applySlice("bal", id, 0, rows)   // claim-then-apply, as slice 0
      if (!crashed && rows.nonEmpty) {
        crashed = true
        throw new RuntimeException("injected crash after sink side effects")
      }
    }

    rIn.addData(TokenFixture.receipts(spark).toJSON.collect().toSeq)
    oIn.addData(TokenFixture.outcomes(spark).toJSON.collect().toSeq)
    aIn.addData(TokenFixture.actions(spark).toJSON.collect().toSeq)

    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    assert(crashed, "the injected crash must have fired")

    val q2 = start() // same checkpoint: the engine re-runs the uncommitted batch
    q2.processAllAvailable()
    q2.stop()

    val expected = TokenPipeline.balances(batchTransfers).collect()
      .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
    val eo = journaled.inner.snapshot
    assert(eo.keySet === expected.keySet)
    expected.foreach { case (acct, want) =>
      assert(eo(acct).balance.compareTo(want.balance) == 0,
        s"journaled store drifted on $acct")
    }
    // the hazard is real: the plain store double-applied the replayed batch
    // (every nonzero-delta account in that batch is off by the extra delta)
    val doubled = plain.snapshot.exists { case (acct, got) =>
      expected.get(acct).exists(w => got.balance.compareTo(w.balance) != 0)
    }
    assert(doubled, "plain at-least-once store should have double-applied the redelivered batch")
  }

  /** The PARTITION-PARALLEL exactly-once path end-to-end: the production
    * `balancesToJdbcExactlyOnce` (hash-slice repartition → per-partition
    * connections → per-slice claim transactions, NO driver collect) runs
    * the full pipeline against a transactional fake DB whose commit of a
    * SECOND slice within the batch crashes — the partial-failure window
    * unique to the partition path (some slices committed, one torn down
    * mid-transaction). The restart redelivers the batch: committed slices
    * must fail their claims and skip, the torn slice must apply, and the
    * committed state must equal the batch fold exactly — proving per-slice
    * claims give exactly-once under partial batch failure, not just under
    * whole-batch replay.
    */
  test("partition-parallel exactly-once: torn slice recovers, committed slices skip") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rIn = MemoryStream[String]
    val oIn = MemoryStream[String]
    val aIn = MemoryStream[String]
    def tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(rIn.toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(oIn.toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(aIn.toDF(), NearSchemas.actionReceiptActions),
      cfg)
    val ck = Files.createTempDirectory("eo-slice-ck").toString
    val db = new TxSliceDb(crashOnSecondCommit = true)
    val dbId = s"slice-db-${System.nanoTime()}"
    SliceDbRegistry.register(dbId, db)
    try {
      // the closure captures only the registry key (serializable); each
      // partition draws its own transactional connection from the fake
      def start() = StreamingPipeline.balancesToJdbcExactlyOnce(
        tx, "balances", "slice_journal", "bal",
        () => SliceDbRegistry.get(dbId).connection(), ck, numSlices = 8)

      rIn.addData(TokenFixture.receipts(spark).toJSON.collect().toSeq)
      oIn.addData(TokenFixture.outcomes(spark).toJSON.collect().toSeq)
      aIn.addData(TokenFixture.actions(spark).toJSON.collect().toSeq)

      val q1 = start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      q1.stop()
      assert(db.crashFired,
        "the injected second-slice commit crash must have fired " +
          "(fixture deltas span >= 2 of the 8 slices)")

      val q2 = start() // same checkpoint: the engine redelivers the batch
      q2.processAllAvailable()
      q2.stop()

      val expected = TokenPipeline.balances(batchTransfers).collect()
        .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
      val got = db.store.snapshot
      assert(got.keySet === expected.keySet)
      expected.foreach { case (acct, want) =>
        assert(got(acct).balance.compareTo(want.balance) == 0,
          s"partition-parallel exactly-once drifted on $acct")
        assert(got(acct).receiptId === want.receiptId, s"provenance of $acct")
      }
      // redelivery actually exercised the claim guard: at least the slice(s)
      // committed before the crash were skipped on replay
      assert(db.skippedClaims >= 1, "replayed committed slices must skip")
      // every committed claim is distinct per (sink@ck, batch, slice)
      val slices = db.committedSlices
      assert(slices.size === slices.map(s => (s._2, s._3)).size)
      assert(slices.forall(_._1 == s"bal@$ck"), "claim key must bind the checkpoint")
    } finally SliceDbRegistry.remove(dbId)
  }

  /** Parity at harness data scale, not just the 10-receipt fixture: the full
    * sf0.001 synthetic CDC feed (1000 events → ~1100 rows per topic with
    * verbatim redelivery, 30-day event-time span) streamed in 4 micro-batches
    * must reproduce the batch transfer set exactly. The feed is time-ordered,
    * so watermarks genuinely advance between chunks — the late re-appended
    * duplicates are evicted/deduped by the watermark exactly as batch dedup
    * removes them, and join state is actually bounded during the run (unlike
    * the fixture, whose span never moves the watermark).
    */
  test("sf0.001 synthetic feed: streaming equals batch across 4 micro-batches") {
    import graft.sources.{SyntheticCdc, Tables}
    val base = SyntheticCdc.base(Tables(spark, "/root/testdata/sf0.001", "events")).cache()
    try {
      // Feed in event-time order — the CDC contract (Debezium emits in commit
      // order). The raw builders append secondary actions and redelivered
      // rows at the END of the frame; fed verbatim those arrive up to a month
      // late and the watermark CORRECTLY drops them — which is desired
      // semantics, but not a parity test. Ordered, duplicates arrive near
      // their originals (some still straddling chunk boundaries).
      def feed(df: DataFrame, timeCol: String): Seq[String] =
        df.orderBy(org.apache.spark.sql.functions.col(timeCol)).toJSON.collect().toSeq
      val feeds = (
        feed(SyntheticCdc.receiptsWithDups(base), "included_in_block_timestamp"),
        feed(SyntheticCdc.outcomesWithDups(base), "executed_in_block_timestamp"),
        feed(SyntheticCdc.actionsWithDups(base), "receipt_included_in_block_timestamp"))
      val (streamed, store) = runStreaming("sf_parity", nChunks = 4, feeds)
      val batch = canonical(perStageTransfers( // same token address as the fixture cfg
        SyntheticCdc.receiptsWithDups(base),
        SyntheticCdc.outcomesWithDups(base),
        SyntheticCdc.actionsWithDups(base)))
      assert(streamed.size === batch.size,
        s"streamed ${streamed.size} vs batch ${batch.size}")
      assert(streamed === batch)
      assert(store.nonEmpty)
    } finally { base.unpersist(); () }
  }
}
