package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, IntervalUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

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
  * A key's members are held as ONE `binary` state value written by
  * [[Codec]], not as an array of rows: Spark re-resolves a streaming state
  * encoder every trigger, and an array's decoder draws fresh lambda-variable
  * names each time, so its 2,308-line projection missed the code cache and
  * recompiled once per trigger (perfbench `near_stream` on 4 vCPUs: 26
  * compiles in ~23 triggers, 1.9 s) while the other state tasks waited on
  * the codegen lock. A binary value's decoder is the same code every
  * trigger. The grouping is on the `receipt_id` column,
  * so no per-row key function (and its `AppendColumns` deserialize) runs.
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
    val codec = new Codec(types)
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

  /** One held member of a key: its topic, µs event time, action index (None
    * for receipts and outcomes) and its topic's payload columns, as the
    * external values Spark's `Row` holds.
    */
  private[graft] final case class Member(topic: Int, tUs: Long, idx: Option[Int],
                                         payload: Seq[Any]) {
    def id: (Int, Option[Int]) = (topic, idx)
  }

  private def toMember(r: Row): Member = {
    val topic = r.getInt(Topic)
    Member(topic, r.getLong(T), if (r.isNullAt(Idx)) None else Some(r.getInt(Idx)),
      r.getStruct(Members + topic).toSeq)
  }

  /** A key's members ⇄ one state blob, written field by field after the
    * member schema (`types`, one struct per topic): a member count, then per
    * member its topic byte, µs time, action index and its own topic's
    * payload, each nullable value behind a presence byte. Strings are UTF-8
    * with a length; decimals the unscaled two's-complement bytes at the
    * column's scale; timestamps µs. No Java serialization and no generated
    * code: nothing here is compiled per task or per trigger.
    *
    * It holds exactly string, int, decimal and timestamp columns; any other
    * type fails at construction, naming the column.
    */
  private[graft] final class Codec(types: Seq[StructType]) extends Serializable {
    for (t <- types; f <- t.fields) f.dataType match {
      case StringType | IntegerType | TimestampType | _: DecimalType =>
      case other => throw new IllegalArgumentException(
        s"ReceiptState cannot hold member column `${f.name}` of type " +
          s"${other.simpleString}: its state codec takes string, int, decimal and timestamp")
    }
    private val fields: Array[Array[DataType]] = types.map(_.fields.map(_.dataType)).toArray
    // the external timestamp class the Row encoders of this plan use
    private val instants = SQLConf.get.datetimeJava8ApiEnabled

    def encode(ms: Seq[Member]): Array[Byte] = {
      val buf = new ByteArrayOutputStream(64 * ms.size + 4)
      val out = new DataOutputStream(buf)
      def bytes(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
      out.writeInt(ms.size)
      ms.foreach { m =>
        out.writeByte(m.topic)
        out.writeLong(m.tUs)
        out.writeBoolean(m.idx.isDefined)
        m.idx.foreach(out.writeInt)
        fields(m.topic).iterator.zip(m.payload.iterator).foreach { case (t, v) =>
          out.writeBoolean(v != null)
          if (v != null) t match {
            case StringType => bytes(v.asInstanceOf[String].getBytes(UTF_8))
            case IntegerType => out.writeInt(v.asInstanceOf[Int])
            case TimestampType => out.writeLong(DateTimeUtils.anyToMicros(v))
            case d: DecimalType =>
              bytes(v.asInstanceOf[java.math.BigDecimal].setScale(d.scale).unscaledValue.toByteArray)
          }
        }
      }
      out.flush()
      buf.toByteArray
    }

    def decode(blob: Array[Byte]): Vector[Member] = {
      val in = new DataInputStream(new ByteArrayInputStream(blob))
      def bytes(): Array[Byte] = { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
      Vector.fill(in.readInt()) {
        val topic = in.readByte().toInt
        val tUs = in.readLong()
        val idx = if (in.readBoolean()) Some(in.readInt()) else None
        val payload = fields(topic).map[Any] { t =>
          if (!in.readBoolean()) null else t match {
            case StringType => new String(bytes(), UTF_8)
            case IntegerType => in.readInt()
            case TimestampType =>
              val us = in.readLong()
              if (instants) DateTimeUtils.microsToInstant(us) else DateTimeUtils.toJavaTimestamp(us)
            case d: DecimalType => new java.math.BigDecimal(new java.math.BigInteger(bytes()), d.scale)
          }
        }
        Member(topic, tUs, idx, ArraySeq.unsafeWrapArray(payload))
      }
    }
  }

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
      val seen = mutable.HashSet(held.map(_.id): _*)
      val fresh = rows.map(toMember).filter(m => seen.add(m.id)).toVector
      val freshIds = fresh.map(_.id).toSet
      val all = held ++ fresh
      def of(topic: Int) = all.filter(_.topic == topic)
      def near(x: Member, y: Member) = math.abs(x.tUs - y.tUs) <= tolUs
      // only a triple with a member new in this trigger is new
      val out = for {
        r <- of(Receipt); o <- of(Outcome) if near(r, o)
        a <- of(Action)
        if near(r, a) && Seq(r, o, a).exists(m => freshIds.contains(m.id))
      } yield Row.fromSeq(r.payload ++ o.payload ++ a.payload)

      state.update(codec.encode(all))
      val maxMs = Math.floorDiv(all.map(_.tUs).max, 1000L)
      state.setTimeoutTimestamp(math.max(maxMs + delayMs, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
}
