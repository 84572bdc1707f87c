package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.StateCodec.{Codec, Member}

/** The token pipeline's dedup ×3 and both ±tolerance joins (#3–#5) as ONE
  * keyed merge per `receipt_id`, for batch frames and for streams alike —
  * the reference's own shape, whose three dedup transformers share one
  * window store and whose reset path replays the same topology
  * (TokenBalance.java:82-90; README.md:199-205).
  *
  * The three topics are unioned into one tagged feed (`topic` 0 receipt,
  * 1 outcome, 2 action) grouped by `receipt_id`, and one pure function,
  * [[merge]], decides a key's output from the members it already held and
  * the rows that arrive:
  *   - dedup: the first delivery per (topic, key) is kept — `receipt_id` for
  *     receipts and outcomes, (`receipt_id`, `index_in_action_receipt`) for
  *     actions; later deliveries of a held key are dropped;
  *   - join: each (r, o, a) with |o.t − r.t| ≤ tol and |a.t − r.t| ≤ tol
  *     (bounds inclusive, µs event time) is emitted exactly once, when its
  *     last member arrives.
  *
  * A batch runs `merge` once per key through `flatMapGroups`, with nothing
  * held and no retention bound: one hash exchange on `receipt_id`, where
  * the per-stage form ([[Dedup.exact]] ×3, then [[TokenPipeline.joined]])
  * plans three (`ReceiptPlanSpec`). Those per-stage operators stay as the
  * bodies of `near_dedup` / `near_roa_join` and as the parity tests'
  * reference, which shares no code with `merge`.
  *
  * Streams run the same `merge` inside ONE `flatMapGroupsWithState`. Built
  * from Spark's per-stage operators the same work is five stateful
  * operators, each committing its own state stores every trigger: 44 stores
  * per trigger at 4 shuffle partitions, a fixed per-trigger cost that, not
  * the row count, set how stale a streamed balance was. Here it is one
  * store per shuffle partition. Only streaming adds:
  *   - watermark: every topic keeps its own `withWatermark(…, dedupDelay)`
  *     before the union, so the global watermark is still the min of the
  *     three; rows behind it are dropped by the operator and counted in
  *     `numRowsDroppedByWatermark`;
  *   - eviction: a key's state is removed once the watermark passes the
  *     key's max event time + `dedupDelay` (event-time timeout);
  *   - the union is coalesced to `defaultParallelism` before the shuffle: a
  *     source makes one input partition per delivery (MemoryStream per
  *     `addData`, Kafka per topic partition), and the per-task cost of
  *     hundreds of near-empty partitions otherwise dominates a trigger;
  *   - a key's members are held as ONE `binary` state value written by the
  *     shared [[StateCodec]], not as an array of rows: the array's
  *     2,308-line decoder recompiled once per trigger (perfbench
  *     `near_stream` on 4 vCPUs: 26 compiles in ~23 triggers, 1.9 s).
  *
  * The grouping is on the `receipt_id` column, so no per-row key function
  * (and its `AppendColumns` deserialize) runs.
  */
object ReceiptState {

  private val Receipt = 0
  private val Outcome = 1
  private val Action = 2

  // tagged-row layout: receipt_id, event_time, t_us, topic, idx, r, o, a
  private val T = 2
  private val Topic = 3
  private val Idx = 4
  private val Members = 5

  /** Dedup + join of three topics — three batch frames or three streams —
    * that already carry `r_event_time` / `o_event_time` / `a_event_time`;
    * the columns of `receiptCols` / `outcomeCols` / `actionCols`, in that
    * order, are the output. A mix of batch and streaming inputs, or a member
    * column of a type [[Codec]] does not hold, fails here, at plan time (the
    * codec bounds batch too, so a batch plan is one a stream can run).
    */
  def apply(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
            receiptCols: Seq[String], outcomeCols: Seq[String],
            actionCols: Seq[String], cfg: TokenPipeline.Config): DataFrame = {
    val streams = Seq("receipts" -> receipts, "outcomes" -> outcomes, "actions" -> actions)
      .collect { case (name, df) if df.isStreaming => name }
    require(streams.isEmpty || streams.size == 3,
      "receipts, outcomes and actions must be all batch or all streaming; " +
        s"streaming: ${streams.mkString(", ")}")
    val streaming = streams.nonEmpty

    val spark = receipts.sparkSession
    def member(df: DataFrame, cols: Seq[String]): StructType =
      df.select(cols.map(col): _*).schema
    val types = Seq(member(receipts, receiptCols), member(outcomes, outcomeCols),
      member(actions, actionCols))
    val codec = new Codec(payloadTypes(types))
    val colsOf = Seq(receiptCols, outcomeCols, actionCols)

    def side(df: DataFrame, topic: Int, timeCol: String, idx: Column): DataFrame = {
      val structs = (0 until 3).map { t =>
        (if (t == topic) struct(colsOf(t).map(col): _*)
         else lit(null).cast(types(t))).as(s"m$t")
      }
      (if (streaming) df.withWatermark(timeCol, cfg.dedupDelay) else df)
        .select(Seq(col("receipt_id"), col(timeCol).as("event_time"),
          unix_micros(col(timeCol)).as("t_us"), lit(topic).as("topic"),
          idx.cast("int").as("idx")) ++ structs: _*)
    }
    val union = side(receipts, Receipt, "r_event_time", lit(null))
      .union(side(outcomes, Outcome, "o_event_time", lit(null)))
      .union(side(actions, Action, "a_event_time", col("index_in_action_receipt")))
      // a NULL event time can never satisfy the interval predicate
      .filter(col("t_us").isNotNull)
    val tagged = if (streaming) union.coalesce(spark.sparkContext.defaultParallelism) else union

    val outEnc = ExpressionEncoder(StructType(types.flatMap(_.fields)))
    val tolUs = cfg.joinToleranceMs * 1000L
    val grouped = tagged
      .groupBy(col("receipt_id"))
      .as[String, Row](Encoders.STRING, ExpressionEncoder(tagged.schema))
    if (streaming) {
      val delayMs = EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(cfg.dedupDelay))
      grouped.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        process(codec, tolUs, delayMs))(Encoders.BINARY, outEnc)
    } else {
      // a NULL key can never satisfy the equi-join
      grouped.flatMapGroups((key: String, rows: Iterator[Row]) =>
        if (key == null) Vector.empty else merge(Vector.empty, rows, tolUs)._1)(outEnc)
    }
  }

  /** A held member of a key: its topic, µs event time and, as payload, its
    * action index (NULL for receipts and outcomes) followed by its topic's
    * member columns. A member's dedup id is (topic, payload head). The index
    * leads every topic's payload because that is where checkpointed blobs
    * hold it (presence byte, then an int, before the member columns).
    */
  private def toMember(r: Row): Member = {
    val topic = r.getInt(Topic)
    Member(topic, r.getLong(T), r.get(Idx) +: r.getStruct(Members + topic).toSeq)
  }

  private def id(m: Member): (Int, Any) = (m.topic, m.payload.head)

  /** The codec's payload schema per topic: the action index, then the
    * topic's member columns.
    */
  private[graft] def payloadTypes(types: Seq[StructType]): Seq[StructType] =
    types.map(t => StructType(StructField("idx", IntegerType) +: t.fields))

  /** One key's dedup and ±`tolUs` join, the rule both modes run: `held`
    * members (kept by earlier calls) plus the tagged `rows` that arrive give
    * the joined rows to emit now — each triple with a member new here, so a
    * triple is emitted once over the calls — and every member to hold after
    * this call. A row is dropped when a member with its (topic, id) is held
    * or arrived before it.
    */
  private def merge(held: Vector[Member], rows: Iterator[Row],
                    tolUs: Long): (Vector[Row], Vector[Member]) = {
    val seen = mutable.HashSet(held.map(id): _*)
    val fresh = rows.map(toMember).filter(m => seen.add(id(m))).toVector
    val freshIds = fresh.map(id).toSet
    val all = held ++ fresh
    def of(topic: Int) = all.filter(_.topic == topic)
    def near(x: Member, y: Member) = math.abs(x.t - y.t) <= tolUs
    val out = for {
      r <- of(Receipt); o <- of(Outcome) if near(r, o)
      a <- of(Action)
      if near(r, a) && Seq(r, o, a).exists(m => freshIds.contains(id(m)))
    } yield Row.fromSeq(r.payload.tail ++ o.payload.tail ++ a.payload.tail)
    (out, all)
  }

  /** The streaming wrapper of [[merge]]: the held members are the key's
    * state, and the key is dropped once its timeout fires.
    */
  private def process(codec: Codec, tolUs: Long, delayMs: Long)(
      key: String, rows: Iterator[Row], state: GroupState[Array[Byte]]): Iterator[Row] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else if (key == null) {
      // a NULL key can never satisfy the equi-join: it holds no state. It is
      // not filtered in the plan, where Catalyst would push the filter below
      // the watermark and the row would no longer advance event time.
      Iterator.empty
    } else {
      val held = state.getOption.fold(Vector.empty[Member])(codec.decode)
      val (out, all) = merge(held, rows, tolUs)
      state.update(codec.encode(all))
      val maxMs = Math.floorDiv(all.map(_.t).max, 1000L)
      state.setTimeoutTimestamp(math.max(maxMs + delayMs, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
}
