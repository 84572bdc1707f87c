package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Deduplication of an at-least-once CDC feed.
  *
  * The reference runs every input stream through a windowed dedup transformer
  * (reference: TokenBalance.java:369-427): drop a record whose event id was seen
  * within the last 60 minutes, with 3-day state retention, backed by a RocksDB
  * window store (TokenBalance.java:82-90). Ids are per-stream —
  * `receipt_id` for receipts/outcomes and `(receipt_id, index_in_action_receipt)`
  * for actions (TokenBalance.java:96-113); the string prefixes the reference adds
  * ("receipts-", …) only exist because all three streams share one store. The
  * token pipeline keeps that shape without the prefixes, in batch and on
  * streams: its dedup ×3 and both joins are one merge per `receipt_id`, with
  * the topic as part of each member's id ([[ReceiptState]]). These operators
  * serve every other stream, the per-stage `near_dedup` / `near_roa_join`
  * queries, and the parity tests' reference for that merge.
  *
  * Spark-first mapping (SURVEY.md §2 #3):
  *   - batch: `dropDuplicates(idCols)` — a hash aggregate, map-side partial.
  *   - streaming: `withWatermark(eventTime, delay).dropDuplicatesWithinWatermark(idCols)`
  *     — keep-first with bounded state, the built-in analogue of the window store.
  *     The reference's refresh-on-duplicate TTL extension (TokenBalance.java:416-418)
  *     is intentionally not reproduced: it only widens the dedup horizon when
  *     duplicates keep arriving, and `dropDuplicatesWithinWatermark`'s bound is
  *     already ≥ the 60-min window (SURVEY.md §7).
  */
object Dedup {

  /** Batch exact dedup on natural-key columns. */
  def exact(df: DataFrame, idCols: Seq[String]): DataFrame =
    df.dropDuplicates(idCols)

  /** Streaming dedup with bounded state: keep-first within the watermark delay. */
  def withinWatermark(df: DataFrame, eventTimeCol: String, delay: String,
                      idCols: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Dispatch on whether `df` is streaming, so pipeline stages are shape-agnostic. */
  def apply(df: DataFrame, eventTimeCol: String, delay: String,
            idCols: Seq[String]): DataFrame =
    if (df.isStreaming) withinWatermark(df, eventTimeCol, delay, idCols)
    else exact(df, idCols)

  /** Exact parity with the reference's refresh-on-duplicate dedup transformer
    * (TokenBalance.java:369-427). Reference semantics, modeled exactly:
    *
    *   - `left = window/2`, `right = window - left`
    *     (TokenBalance.java:381-382);
    *   - a record at event time `t` is a duplicate iff ANY prior sighting of
    *     its id lies in the symmetric fetch range `[t - left, t + right]`
    *     (TokenBalance.java:405-415);
    *   - EVERY record — emitted or duplicate — adds a sighting at its own
    *     timestamp to the window store (TokenBalance.java:395-401,417-423),
    *     which is how chained redeliveries keep a key masked indefinitely
    *     while each gap stays under `left`;
    *   - sightings are retained until store retention lapses
    *     (TokenBalance.java:82-90; 3-day retention vs 60-min window).
    *
    * Implemented as `flatMapGroupsWithState` with event-time timeout,
    * grouped on the id columns themselves (a NULL id is its own key, as in
    * `dropDuplicates`). State is the sighting timestamps (epoch-ms), held as
    * one binary value by [[StateCodec]], still able to mask an on-time
    * record — a sighting `s` masks `t ∈ [s - right, s + left]`, and
    * Spark drops input older than the watermark, so `s` is dropped from state
    * once `s + left < watermark` (the watermark plays the reference's
    * retention role, applied at the earliest moment it is safe). The masking
    * decision itself is purely event-time, never watermark-dependent, so
    * eviction ordering within a batch cannot change results. Per-key state is
    * O(sightings within `left` of the watermark) — the same bound as the
    * reference's window-store segments. Within a micro-batch, rows are
    * processed in event-time order (a Spark batch has no arrival order; the
    * reference processes in per-partition offset order — identical whenever
    * redelivery preserves time order, deterministic here either way). A row
    * with a NULL event time lies in no fetch range and is dropped before
    * the state.
    *
    * `eventTimeCol` must be a TimestampType column; the input is watermarked
    * here with `delay`. Default [[apply]] stays on the built-in (cheaper
    * state, same results when redelivery gaps are shorter than `left` —
    * the common case); use this when exact reference semantics matter.
    */
  def withRefreshTtl(df: DataFrame, eventTimeCol: String, delay: String,
                     windowMs: Long, idCols: Seq[String]): DataFrame = {
    require(windowMs >= 1, "maintain duration per event must be >= 1") // TokenBalance.java:378-380
    val leftMs = windowMs / 2
    val rightMs = windowMs - leftMs
    val timeIdx = df.schema.fieldIndex(eventTimeCol)
    // one member per sighting: its ms time and no payload
    val codec = new StateCodec.Codec(Seq(new StructType()))

    def process(key: Row, rows: Iterator[Row],
                state: GroupState[Array[Byte]]): Iterator[Row] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val watermark = state.getCurrentWatermarkMs()
        // Retention: a sighting can only mask an on-time record (t >= wm)
        // while s + left >= wm; older sightings are dead weight.
        var sightings = state.getOption.fold(Vector.empty[Long])(codec.decode(_).map(_.t))
          .filter(_ + leftMs >= watermark)
        // order within the batch by event time for a deterministic "first"
        val sorted = rows.toSeq.sortBy(_.getTimestamp(timeIdx).getTime)
        val out = Seq.newBuilder[Row]
        sorted.foreach { r =>
          val et = r.getTimestamp(timeIdx).getTime
          val dup = sightings.exists(s => s >= et - leftMs && s <= et + rightMs)
          if (!dup) out += r
          // duplicates record a sighting too (TokenBalance.java:417-423)
          if (!sightings.contains(et)) sightings = sightings :+ et
        }
        if (sightings.isEmpty) state.remove()
        else {
          state.update(codec.encode(sightings.sorted.map(StateCodec.Member(0, _, Nil))))
          state.setTimeoutTimestamp(math.max(sightings.max + leftMs, watermark + 1))
        }
        out.result().iterator
      }
    }

    val rowEnc = ExpressionEncoder(df.schema)
    df.withWatermark(eventTimeCol, delay)
      .filter(col(eventTimeCol).isNotNull)
      .groupBy(idCols.map(col): _*)
      .as[Row, Row](ExpressionEncoder(df.select(idCols.map(col): _*).schema), rowEnc)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process)(
        Encoders.BINARY, rowEnc)
  }
}
