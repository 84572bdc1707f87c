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

/** The streaming form of the token pipeline's dedup ×3 and both ±tolerance
  * joins (#3–#5) as ONE keyed state per `receipt_id` — the reference's own
  * shape, whose three dedup transformers share one window store
  * (TokenBalance.java:82-90).
  *
  * Built from Spark's per-stage operators the same work is five stateful
  * operators (three `dropDuplicatesWithinWatermark`, two stream-stream
  * interval joins), and each of them commits its own state stores every
  * trigger: 44 stores per trigger at 4 shuffle partitions. That fixed
  * per-trigger cost, not the row count, set how stale a streamed balance
  * was. Here the three watermarked topics are unioned into one tagged feed
  * (`topic` 0 receipt, 1 outcome, 2 action) and a single
  * `flatMapGroupsWithState` keyed by `receipt_id` holds every member the
  * key has seen: one operator, one store per shuffle partition.
  *
  * Semantics, equal to the five-operator plan:
  *   - dedup: the first delivery per (topic, key) is kept — `receipt_id` for
  *     receipts and outcomes, (`receipt_id`, `index_in_action_receipt`) for
  *     actions; later deliveries of a held key are dropped;
  *   - join: each (r, o, a) with |o.t − r.t| ≤ tol and |a.t − r.t| ≤ tol
  *     (bounds inclusive, µs event time) is emitted exactly once, in the
  *     trigger that delivers its last member;
  *   - watermark: every topic keeps its own `withWatermark(…, dedupDelay)`
  *     before the union, so the global watermark is still the min of the
  *     three; rows behind it are dropped by the operator and counted in
  *     `numRowsDroppedByWatermark`;
  *   - eviction: a key's state is removed once the watermark passes the
  *     key's max event time + `dedupDelay` (event-time timeout).
  *
  * The union is coalesced to `defaultParallelism` before the shuffle: a
  * source makes one input partition per delivery (MemoryStream per
  * `addData`, Kafka per topic partition), and the per-task cost of
  * hundreds of near-empty partitions otherwise dominates a trigger.
  *
  * A key's members are held as ONE `binary` state value written by the
  * shared [[StateCodec]], not as an array of rows: the array's 2,308-line
  * decoder recompiled once per trigger (perfbench `near_stream` on 4 vCPUs:
  * 26 compiles in ~23 triggers, 1.9 s). The grouping is on the
  * `receipt_id` column, so no per-row key function (and its
  * `AppendColumns` deserialize) runs.
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

  /** Dedup + join of three streaming topics that already carry
    * `r_event_time` / `o_event_time` / `a_event_time`; the columns of
    * `receiptCols` / `outcomeCols` / `actionCols`, in that order, are the
    * output — the batch join's output schema. A member column of a type
    * [[Codec]] does not hold fails here, at plan time.
    */
  def apply(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
            receiptCols: Seq[String], outcomeCols: Seq[String],
            actionCols: Seq[String], cfg: TokenPipeline.Config): DataFrame = {
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
      df.withWatermark(timeCol, cfg.dedupDelay)
        .select(Seq(col("receipt_id"), col(timeCol).as("event_time"),
          unix_micros(col(timeCol)).as("t_us"), lit(topic).as("topic"),
          idx.cast("int").as("idx")) ++ structs: _*)
    }
    val tagged = side(receipts, Receipt, "r_event_time", lit(null))
      .union(side(outcomes, Outcome, "o_event_time", lit(null)))
      .union(side(actions, Action, "a_event_time", col("index_in_action_receipt")))
      // a NULL event time can never satisfy the interval predicate
      .filter(col("t_us").isNotNull)
      .coalesce(spark.sparkContext.defaultParallelism)

    val outEnc = ExpressionEncoder(StructType(types.flatMap(_.fields)))
    val tolUs = cfg.joinToleranceMs * 1000L
    val delayMs = EventTimeWatermark.getDelayMs(IntervalUtils.fromIntervalString(cfg.dedupDelay))
    tagged
      .groupBy(col("receipt_id"))
      .as[String, Row](Encoders.STRING, ExpressionEncoder(tagged.schema))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        process(codec, tolUs, delayMs))(Encoders.BINARY, outEnc)
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
      val seen = mutable.HashSet(held.map(id): _*)
      val fresh = rows.map(toMember).filter(m => seen.add(id(m))).toVector
      val freshIds = fresh.map(id).toSet
      val all = held ++ fresh
      def of(topic: Int) = all.filter(_.topic == topic)
      def near(x: Member, y: Member) = math.abs(x.t - y.t) <= tolUs
      // only a triple with a member new in this trigger is new
      val out = for {
        r <- of(Receipt); o <- of(Outcome) if near(r, o)
        a <- of(Action)
        if near(r, a) && Seq(r, o, a).exists(m => freshIds.contains(id(m)))
      } yield Row.fromSeq(r.payload.tail ++ o.payload.tail ++ a.payload.tail)

      state.update(codec.encode(all))
      val maxMs = Math.floorDiv(all.map(_.t).max, 1000L)
      state.setTimeoutTimestamp(math.max(maxMs + delayMs, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
}
