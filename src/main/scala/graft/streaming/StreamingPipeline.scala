package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.TokenPipeline
import graft.sinks.BalanceUpsert

/** Structured-Streaming execution of the token pipeline — the reference's
  * actual execution model (reference: TokenBalance.java:92-122,279-333).
  *
  * The pipeline stages in [[TokenPipeline]] are pure `DataFrame => DataFrame`,
  * so the same call runs in batch (backfill/replay) and streaming; the parity
  * suites assert stream ≡ batch against the per-stage batch operators. Under
  * streaming:
  *
  *   - dedup ×3 (#3) and the two ±2 s joins (#4, #5) are the keyed merge per
  *     receipt that batch runs too ([[graft.operators.ReceiptState]]), held
  *     in ONE `flatMapGroupsWithState`: the three watermarked topics are
  *     unioned, keyed by `receipt_id`, the first delivery per (topic, key)
  *     is kept, each joined triple is emitted once when its last member
  *     arrives, and a key is evicted once the watermark passes its max event
  *     time + the dedup delay — the reference's one shared window store
  *     (TokenBalance.java:82-90). Per-trigger cost scales with stateful
  *     operators × partitions: the per-stage form (dedup ×3 + two interval
  *     joins) committed 44 state stores per trigger at 4 partitions, this
  *     one commits 4. A key's members are one `binary` state value, so the
  *     state's decoder is not recompiled every trigger, as an array state's
  *     is;
  *   - the balance fold (#13/#14) is not a second stateful operator (an
  *     unbounded aggregate would add one more store per partition per
  *     trigger); it runs as the Spark-idiomatic equivalent of the reference's
  *     KTable→JDBC-upsert pair: per micro-batch, aggregate the batch's
  *     transfers into per-account deltas and merge them into the idempotent
  *     upsert sink ([[BalanceUpsert]]) — the running state lives in the sink,
  *     exactly where the reference's Postgres table ends up.
  *
  * Reset/replay (#17): wipe `checkpointLocation` and the sink, restart from
  * earliest — deterministic replay is asserted by the parity suite.
  */
object StreamingPipeline {

  /** Decode a raw `value: STRING` JSON feed (Kafka-shaped; the offline serde
    * stand-in for `from_avro`) into typed CDC columns.
    *
    * A streaming feed is coalesced to `defaultParallelism` BEFORE it is
    * decoded: a source makes one input partition per delivery (MemoryStream
    * per `addData`, Kafka per topic partition), a trigger holds hundreds of
    * them, and the decode stage's iterator and JSON parser are set up once
    * per partition. The coalesce is narrow, so the decode runs in the same
    * tasks as the stages after it.
    */
  def parseJson(raw: DataFrame, schema: StructType): DataFrame = {
    val in = if (raw.isStreaming) raw.coalesce(raw.sparkSession.sparkContext.defaultParallelism)
             else raw
    in.select(from_json(col("value"), schema).as("r")).select("r.*")
  }

  /** The transfer stream: the identical call batch makes. */
  def transfers(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
                cfg: TokenPipeline.Config): DataFrame =
    TokenPipeline.transfersFromRaw(receipts, outcomes, actions, cfg)

  /** One streaming query, two sinks — the reference topology's shape (the
    * transfer topic and the balance table hang off one stream,
    * TokenBalance.java:276,333). [[EachBatch]] is the idiomatic Spark
    * multi-sink: the micro-batch is staged once, the transfer sink sees the
    * append rows, the balance sink sees that batch's per-account deltas.
    *
    * Prefer this over starting a balance writer and a transfer writer as
    * two separate queries on the same source: two queries re-execute the
    * whole pipeline twice, and single-consumer test sources (MemoryStream)
    * trim committed batches, so a second query on the same instance can lose
    * data nondeterministically (a real Kafka source with separate consumer
    * groups does not have that hazard, but the double execution cost stands).
    */
  def dualSink(transferStream: DataFrame, checkpointDir: String)
              (onTransfers: DataFrame => Unit)
              (onBalanceDeltas: DataFrame => Unit): StreamingQuery =
    EachBatch(transferStream, checkpointDir) { (batch, _) =>
      val staged = batch.persist()
      try {
        onTransfers(staged)
        onBalanceDeltas(TokenPipeline.balances(staged))
      } finally { staged.unpersist(); () }
    }

  /** Balance changelog → JDBC upsert, EXACTLY-ONCE and PARTITION-PARALLEL
    * (the deployment path; [[BalanceUpsert.upsertSql]]'s merge, in SQL): each
    * micro-batch's per-account deltas are hashed into `numSlices`
    * DATA-derived slices (`pmod(hash(account), n)` — never a physical
    * partition id, so the same account lands in the same slice on every
    * redelivery and task retry), repartitioned so each slice lands in one
    * task, and every task claims and applies its slice(s) through
    * [[BalanceUpsert.upsertSliceExactlyOnce]] in its own transaction over
    * its own connection — no driver-side collect anywhere on the path, and
    * sink throughput scales with `numSlices` (a single-connection sink is
    * the `numSlices = 1` case of the same protocol, and bottlenecks at 100×
    * key cardinality).
    *
    * Redelivery safety is PER SLICE: a checkpoint-replayed batch re-runs
    * every slice, committed slices fail their claim and are skipped whole,
    * and only the slices whose transaction never committed apply — so a
    * crash AFTER some slices committed (the new partial-failure window
    * per-batch claims never had) still converges to exactly-once.
    * [[EachBatch]]'s `batchId` is stable across restarts for redelivered
    * batches, and the replayed batch recomputes the same delta multiset
    * (same source offsets, deterministic aggregation), which together make
    * the (sink, batch, slice) key sound.
    *
    * The claim key is `"$sinkId@$checkpointDir"` — batch ids are only
    * meaningful RELATIVE TO a checkpoint (they restart at 0 with a fresh
    * one), so the journal must be bound to the checkpoint too: an operator
    * who wipes the checkpoint to reprocess gets fresh claim keys and the
    * replayed batches APPLY (at-least-once semantics of an intentional
    * replay into a non-reset table are the operator's own accounting
    * problem), instead of the silent skip-everything a bare sinkId key
    * would produce when old claims shadow the new run's ids.
    */
  def balancesToJdbcExactlyOnce(transferStream: DataFrame, table: String,
                                journal: String, sinkId: String,
                                connect: () => java.sql.Connection,
                                checkpointDir: String,
                                numSlices: Int = 32): StreamingQuery = {
    val claimKey = s"$sinkId@$checkpointDir"
    EachBatch(transferStream, checkpointDir) { (batch, batchId) =>
      TokenPipeline.balances(batch)
        .withColumn("slice",
          pmod(hash(col("account")), lit(numSlices)).cast("int"))
        .repartition(numSlices, col("slice"))
        .foreachPartition { rows: Iterator[Row] =>
          if (rows.hasNext) {
            // hash partitioning sends equal slice values to one partition;
            // a partition may still hold several slices (mod-vs-partition
            // collisions) — each claims and commits independently
            val bySlice = rows
              .map(r => r.getAs[Int]("slice") -> BalanceUpsert.BalanceRow.fromRow(r))
              .toSeq.groupBy(_._1)
            val conn = connect()
            try bySlice.toSeq.sortBy(_._1).foreach { case (slice, rs) =>
              BalanceUpsert.upsertSliceExactlyOnce(
                rs.map(_._2), table, journal, claimKey, batchId, slice, conn)
            } finally conn.close()
          }
        }
      // retention: with this batch's work done, claims for batches
      // <= batchId - 2 can never be redelivered under this checkpoint
      // (one batch of margin beyond the contract) — without this the
      // journal grows one row per (batch, slice) forever
      if (batchId >= 2) {
        val conn = connect()
        try BalanceUpsert.gcJournal(conn, journal, claimKey, batchId - 2)
        finally conn.close()
        ()
      }
    }
  }
}
