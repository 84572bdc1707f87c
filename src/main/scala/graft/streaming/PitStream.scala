package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.operators.StateCodec.{Codec, Member}

/** STREAMING point-in-time feature serving — the serving side of the
  * feature-store story whose batch side is
  * [[graft.queries.AnalyticQueries.qPitFeatures]]: for each training event
  * (purchase), the latest at-or-before value of EACH feature stream (click,
  * view) with a staleness bound, answered incrementally over one unbounded
  * merged feed. Spark has no native "latest ≤ t" stream-stream join
  * (interval joins need a bounded band on both sides), so the operator is
  * ordering state under `flatMapGroupsWithState`.
  *
  * It is also the streaming as-of join (the batch family's
  * [[graft.queries.AnalyticQueries.qAsofJoin]]): with no staleness bound
  * (`stalenessUs = Long.MaxValue`) the click lane answers "the latest
  * same-user click at or before each purchase" — `purchase_us −
  * click_age_us`, or none when the age is −1 (`PitStreamSpec` checks it
  * against the as-of window form).
  *
  *   - ONE merged stream keyed by user (the batch plan's union trick: one
  *     exchange, no join) carrying (kind, event_id, ts, value) — kinds 0/1
  *     are feature observations, 2 is the training event;
  *   - a purchase FINALIZES when the event-time watermark passes it: no
  *     observation at-or-before it can still arrive, so each feature's
  *     answer (latest observation by (time, event_id) among those ≤ t,
  *     sentinel −1 when absent or older than the staleness bound — the
  *     batch query's exact `served` arithmetic, timestamp and value COUPLED
  *     through one observation) is complete. Emit-once append semantics;
  *   - state per user is bounded by the watermark delay PER FEATURE STREAM:
  *     pending purchases leave at finalization, observations above the
  *     watermark are in-flight by definition, and of those at-or-below it
  *     only each stream's LATEST survives — any earlier one is dominated
  *     for every still-possible purchase (p > wm ≥ o₂ > o₁ ⇒ o₁ is never
  *     the latest ≤ p). Adding a feature stream adds one retained
  *     observation, not a join — the streaming mirror of the batch plan's
  *     columns-not-joins shape;
  *   - an event-time timeout finalizes users whose feeds go quiet, so
  *     finalization never depends on new data arriving for that user;
  *   - a row with a NULL event time can answer no purchase and is no
  *     purchase at any time: it is dropped before the state.
  *
  * A user's state is ONE `binary` value written by
  * [[graft.operators.StateCodec]], observations and pending purchases as
  * members tagged by kind.
  *
  * Streamed answers equal the batch window form over the same fed rows at
  * every trigger chunking, late observations inside the watermark included
  * (`PitStreamSpec`).
  */
object PitStream {

  /** One merged input event: `kind` 0 = click observation, 1 = view
    * observation, 2 = purchase (the batch sort key — features sort before
    * the training kind at equal time, so "at or before" is inclusive).
    */
  final case class PitEvent(user_id: Long, kind: Int, event_id: Long,
                            ts: Timestamp, value: Option[Double])

  /** One finalized purchase with its served feature vector — the batch
    * query's output grain (sentinels −1.0 / −1 for absent-or-stale).
    */
  final case class Served(purchase_id: Long, user_id: Long, purchase_us: Long,
                          click_val: Double, click_age_us: Long,
                          view_val: Double, view_age_us: Long)

  private val FeatureKinds = Seq(0, 1)
  private val Purchase = 2

  /** State member payloads per kind (the member time is the event's µs):
    * an observation's event id and value (possibly null — a null-valued
    * observation still IS the latest observation, exactly like the batch
    * struct carry); a purchase's event id.
    */
  private val PayloadTypes = {
    val obs = StructType(Seq(StructField("event_id", LongType), StructField("value", DoubleType)))
    Seq(obs, obs, StructType(Seq(StructField("event_id", LongType))))
  }

  /** Full-microsecond conversion. `getTime` alone is millisecond-truncated,
    * which would desync the stream from its batch twin's `unix_micros` on
    * sub-millisecond timestamps — `getNanos` carries the fractional second
    * exactly. The seconds part uses `Math.floorDiv`: plain `/` truncates
    * toward zero, so a PRE-epoch timestamp with a fractional second (e.g.
    * −0.5 s) would convert ~1 s too high (`getNanos` is always the
    * non-negative fraction ABOVE the floored second).
    */
  private def us(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Run the PIT feature server over a merged (user_id, kind, event_id, ts,
    * value) stream; `delay` = the watermark, `stalenessUs` = the serving
    * staleness bound (the batch query's
    * [[graft.queries.AnalyticQueries.PitStalenessUs]] in production;
    * `Long.MaxValue` for the as-of join).
    *
    * DRIVER CONTRACT: finalize is STRICT (ts < watermark — see [[process]]),
    * so a training event exactly at the final watermark of a stream that
    * then goes quiescent is held forever (held, never lost). Any harness
    * that drains a bounded feed through this operator MUST end with a
    * watermark-advancing tick — one sentinel event strictly above the last
    * purchase time (`StreamBench` and the specs do) — or the last row
    * silently stays pending.
    */
  def serveFeatures(events: DataFrame, delay: String,
                    stalenessUs: Long): Dataset[Served] = {
    import events.sparkSession.implicits._
    val codec = new Codec(PayloadTypes)
    events
      .withWatermark("ts", delay)
      .filter(col("ts").isNotNull)
      .as[PitEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(process(codec, stalenessUs))
  }

  private def member(e: PitEvent): Member =
    if (e.kind == Purchase) Member(e.kind, us(e.ts), Seq(e.event_id))
    else Member(e.kind, us(e.ts), Seq(e.event_id, e.value.map(Double.box).orNull))

  private def eventId(m: Member): Long = m.payload.head.asInstanceOf[Long]

  /** Latest observation by (time, event_id) — the batch window's
    * (tus, kind, event_id) running-last order restricted to one kind.
    */
  private def latest(obs: Seq[Member]): Option[Member] =
    obs.reduceOption { (a, b) =>
      if (a.t > b.t || (a.t == b.t && eventId(a) >= eventId(b))) a else b
    }

  private def process(codec: Codec, stalenessUs: Long)(
      user: Long, events: Iterator[PitEvent], state: GroupState[Array[Byte]]): Iterator[Served] = {
    val held = state.getOption.fold(Vector.empty[Member])(codec.decode)
    val (pending, obs) = (held ++ events.map(member)).partition(_.topic == Purchase)
    val wmUs = state.getCurrentWatermarkMs() * 1000L

    // STRICT finalize: Spark drops late input only when its event time is
    // strictly BELOW the watermark, so an observation with ts == watermark
    // == purchase time can still arrive in a later trigger — finalizing at
    // equality would emit before that observation, diverging from the
    // batch twin's inclusive at-or-before. A purchase at the watermark waits
    // one trigger; the timeout wake-up is already strictly above it.
    // Accepted liveness edge (the same one Spark's own append-mode window
    // finalize has — emission requires the watermark to STRICTLY pass): on
    // a stream that goes quiescent with a purchase exactly AT the final
    // watermark, the row stays pending until any further input advances the
    // watermark; it is held, never lost.
    val (done, stillPending) = pending.partition(_.t < wmUs)
    def serve(kind: Int, pus: Long): (Double, Long) =
      latest(obs.filter(o => o.topic == kind && o.t <= pus)) match {
        case Some(o) if pus - o.t <= stalenessUs =>
          (Option(o.payload(1)).fold(-1.0)(_.asInstanceOf[Double]), pus - o.t)
        case _ => (-1.0, -1L)
      }
    val out = done.sortBy(_.t).map { p =>
      val (cv, ca) = serve(0, p.t)
      val (vv, va) = serve(1, p.t)
      Served(eventId(p), user, p.t, cv, ca, vv, va)
    }

    // dominated-observation eviction, per feature stream: keep everything
    // above the watermark plus the single latest at-or-below it
    val kept = FeatureKinds.flatMap { k =>
      val (above, below) = obs.filter(_.topic == k).distinct.partition(_.t > wmUs)
      latest(below).toList ++ above
    }

    if (kept.isEmpty && stillPending.isEmpty) state.remove()
    else {
      state.update(codec.encode(kept ++ stillPending))
      // wake when the watermark passes the earliest pending purchase (+1 ms:
      // the timeout timestamp must strictly exceed the current watermark)
      if (stillPending.nonEmpty)
        state.setTimeoutTimestamp(stillPending.map(_.t).min / 1000L + 1L)
    }
    out.iterator
  }
}
