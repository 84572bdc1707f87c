package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.PitStream
import graft.streaming.PitStream.{PitEvent, Served}

/** Streaming point-in-time feature serving vs the batch window form
  * (qPitFeatures' union + struct-coupled running-last plan): purchases
  * finalize exactly once when the watermark passes them, late observations
  * inside the watermark still win, null-valued observations stay coupled to
  * their timestamps (sentinel value, REAL age), staleness nulls both lanes,
  * and a quiet user finalizes via event-time timeout — all equal to the
  * batch twin over the same fed rows at every trigger chunking. With no
  * staleness bound the click lane is the streaming as-of join, checked
  * against the as-of window form (qAsofJoin's union + running-last plan).
  */
class PitStreamSpec extends SparkSpec {
  import spark.implicits._

  private val StalenessUs = 50000000L // 50 s — small enough to exercise

  private def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)

  /** Second + MICROSECOND timestamps — sub-millisecond precision must
    * survive the stream/batch seam (getTime alone truncates to ms).
    */
  private def tsUs(sec: Long, micros: Int) = {
    val t = new Timestamp(1700000000000L + sec * 1000L)
    t.setNanos(micros * 1000)
    t
  }

  /** The batch twin — qPitFeatures' exact formulation (struct-coupled
    * observation carry, (tus, kind, event_id) running-last, `served`
    * arithmetic) applied to the fed events with the spec's staleness.
    */
  private def batchTwin(events: Seq[PitEvent], stalenessUs: Long = StalenessUs): Set[Served] = {
    val df = events.toDF()
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("c_obs", when(col("kind") === 0,
        struct(col("tus").as("us"), col("value").as("v"))))
      .withColumn("v_obs", when(col("kind") === 1,
        struct(col("tus").as("us"), col("value").as("v"))))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def served(obs: Column, tus: Column): (Column, Column) = {
      val fresh = obs.isNotNull && (tus - obs("us")) <= stalenessUs
      (when(fresh, coalesce(obs("v"), lit(-1.0))).otherwise(lit(-1.0)),
        when(fresh, tus - obs("us")).otherwise(lit(-1L)))
    }
    val carried = df
      .withColumn("lc", last(col("c_obs"), ignoreNulls = true).over(w))
      .withColumn("lv", last(col("v_obs"), ignoreNulls = true).over(w))
      .filter(col("kind") === 2)
    val (cVal, cAge) = served(col("lc"), col("tus"))
    val (vVal, vAge) = served(col("lv"), col("tus"))
    carried.select(col("event_id"), col("user_id"), col("tus"),
        cVal.as("cv"), cAge.as("ca"), vVal.as("vv"), vAge.as("va"))
      .as[(Long, Long, Long, Double, Long, Double, Long)].collect()
      .map(r => Served(r._1, r._2, r._3, r._4, r._5, r._6, r._7)).toSet
  }

  // Fed roughly in event-time order (an event fed after the watermark
  // passed it is DROPPED by the stateful operator — correct streaming
  // semantics, but then the batch twin would disagree; lateness here stays
  // inside the 30 s delay at every tested chunking).
  // user 1: click+view served; a late-fed click (ts 55 after ts 60, within
  //         the watermark) that becomes the latest ≤ the second purchase;
  //         a null-valued view whose age must still be real
  // user 2: same-timestamp click+purchase pairs (feature at t counts, and
  //         the kind sort serves it to BOTH same-ts purchases)
  // user 3: goes quiet right after its purchase — finalizes via the
  //         event-time timeout / later watermark advance
  // user 4: its only click is 80 s old at purchase time — STALE (> 50 s)
  private val feed: Seq[PitEvent] = Seq(
    PitEvent(1L, 0, 10L, ts(0), Some(1.5)),
    PitEvent(2L, 0, 20L, ts(0), Some(4.0)),
    PitEvent(4L, 0, 40L, ts(0), Some(5.0)),
    PitEvent(1L, 1, 11L, ts(5), Some(2.5)),
    PitEvent(3L, 0, 30L, ts(10), Some(3.0)),
    PitEvent(3L, 2, 31L, ts(15), None),
    PitEvent(1L, 2, 12L, ts(20), None),
    PitEvent(1L, 1, 13L, ts(30), None), // null-valued view: sentinel val, real age
    PitEvent(1L, 2, 14L, ts(60), None),
    // two clicks 100 us apart inside ONE millisecond: the later one (lower
    // event_id) must win — ms-truncated arithmetic would tie them on time
    // and serve the higher event_id instead
    PitEvent(1L, 0, 15L, tsUs(55, 200), Some(9.0)),
    PitEvent(1L, 0, 16L, tsUs(55, 100), Some(8.0)),
    PitEvent(4L, 2, 41L, ts(80), None), // only click is 80 s old -> stale
    PitEvent(2L, 0, 22L, ts(100), Some(7.0)),
    PitEvent(2L, 2, 21L, ts(100), None),
    PitEvent(2L, 2, 23L, ts(100), None))

  /** A started serving query over a MemoryStream (30 s watermark); each
    * `feed` is one trigger.
    */
  private final class Serve(stalenessUs: Long) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val in = MemoryStream[PitEvent]
    private val out = scala.collection.mutable.ArrayBuffer.empty[Served]
    val ck: String = Files.createTempDirectory("pit-ck").toString
    private val servedStream = PitStream.serveFeatures(in.toDF(), "30 seconds", stalenessUs)
    assert(servedStream.isStreaming)
    private val query = servedStream.writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Served], _: Long) =>
        val rows = batch.collect()
        out.synchronized { out ++= rows }
        ()
      }
      .start()

    def feed(events: Seq[PitEvent]): Unit = { in.addData(events); query.processAllAvailable() }
    def stop(): Unit = query.stop()
    def served: Vector[Served] = out.synchronized(out.toVector)
  }

  /** Pushes the watermark past every pending purchase so the tail finalizes. */
  private val Tick = PitEvent(99L, 0, 999L, ts(1000), None)

  /** Feed `batches` one trigger each, then [[Tick]]; what was served. */
  private def run(batches: Seq[Seq[PitEvent]], stalenessUs: Long = StalenessUs): Set[Served] = {
    val s = new Serve(stalenessUs)
    try (batches :+ Seq(Tick)).foreach(s.feed)
    finally s.stop()
    val got = s.served
    assert(got.size === got.distinct.size, "a purchase finalized twice")
    got.toSet
  }

  private def runChunked(nChunks: Int): Set[Served] =
    run(feed.grouped(math.max(1, math.ceil(feed.size.toDouble / nChunks).toInt)).toSeq)

  test("streamed PIT serving equals the batch window twin across chunkings") {
    val expected = batchTwin(feed)
    Seq(1, 3, 6).foreach { n =>
      assert(runChunked(n) === expected, s"nChunks=$n diverged from batch")
    }
    // the fixture actually exercises its cases
    val byId = expected.map(s => s.purchase_id -> s).toMap
    assert(byId(12L) === Served(12L, 1L, byId(12L).purchase_us, 1.5, 20000000L, 2.5, 15000000L))
    assert(byId(14L).click_val === 9.0, "late-fed click must win")
    assert(byId(14L).view_val === -1.0 && byId(14L).view_age_us === 30000000L,
      "null-valued view: sentinel value but REAL age")
    assert(byId(41L).click_val === -1.0 && byId(41L).click_age_us === -1L,
      "stale click must sentinel both lanes")
    assert(byId(21L).click_val === 7.0 && byId(21L).click_age_us === 0L,
      "same-timestamp observation counts (inclusive at-or-before)")
    assert(byId(23L).click_val === 7.0 && byId(23L).click_age_us === 0L)
    assert(byId(31L).click_val === 3.0, "quiet user must finalize")
  }

  /** The as-of answer a served row carries with no staleness bound: the
    * latest click at or before the purchase, or none.
    */
  private def asOf(s: Served): (Long, Long, Long, Option[Long]) =
    (s.purchase_id, s.user_id, s.purchase_us,
      if (s.click_age_us >= 0) Some(s.purchase_us - s.click_age_us) else None)

  /** The as-of batch window twin — the formulation of
    * [[graft.queries.AnalyticQueries.qAsofJoin]] (clicks sort before
    * purchases at equal time; running last_value ignoreNulls).
    */
  private def asOfTwin(events: Seq[PitEvent]): Set[(Long, Long, Long, Option[Long])] = {
    val df = events.toDF()
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("click_us",
        when(col("kind") === 0, col("tus")).otherwise(lit(null).cast("long")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("last_click_us", last(col("click_us"), ignoreNulls = true).over(w))
      .filter(col("kind") === 2)
      .select(col("event_id"), col("user_id"), col("tus"), col("last_click_us"))
      .as[(Long, Long, Long, Option[Long])].collect().toSet
  }

  private def click(user: Long, id: Long, t: Timestamp) = PitEvent(user, 0, id, t, None)
  private def purchase(user: Long, id: Long, t: Timestamp) = PitEvent(user, 2, id, t, None)
  private def us(t: Timestamp): Long = t.getTime * 1000L

  test("as-of with no staleness bound across 4 micro-batches equals the batch twin") {
    // b1: user 1's first click and a purchase the watermark has not passed
    val b1 = Seq(click(1L, 100L, ts(0)), purchase(1L, 101L, ts(25)))
    // b2: the LATE click (event time 20 < the already-seen purchase at 25,
    // still above the watermark) that must become purchase 101's answer; an
    // equal-timestamp pair for user 4 (the click counts — kind ordering); a
    // clickless purchase for user 2; a purchase for user 3 whose feed then
    // goes quiet (timeout path); a far tick to drag the watermark
    val b2 = Seq(click(1L, 102L, ts(20)), purchase(2L, 103L, ts(50)),
      purchase(3L, 104L, ts(60)), click(4L, 105L, ts(40)),
      purchase(4L, 106L, ts(40)), click(9L, 900L, ts(100)))
    // b3: a later purchase for user 1 (must still see the click at 20 even
    // though the watermark passed it — dominated-click eviction keeps the
    // latest); another far tick
    val b3 = Seq(purchase(1L, 107L, ts(80)), click(9L, 901L, ts(200)))
    // b4: watermark-advancing tick only, so purchase 107 finalizes
    val b4 = Seq(click(9L, 902L, ts(300)))

    val got = run(Seq(b1, b2, b3, b4), stalenessUs = Long.MaxValue)
    val fed = b1 ++ b2 ++ b3 ++ b4 :+ Tick
    assert(got === batchTwin(fed, Long.MaxValue))
    assert(got.map(asOf) === asOfTwin(fed))
    // the late click won both user-1 purchases; the equal-timestamp click
    // counted; clickless purchases have none (the timeout-finalized user 3
    // included)
    assert(got.map(asOf) === Set(
      (101L, 1L, us(ts(25)), Some(us(ts(20)))),
      (107L, 1L, us(ts(80)), Some(us(ts(20)))),
      (103L, 2L, us(ts(50)), None),
      (104L, 3L, us(ts(60)), None),
      (106L, 4L, us(ts(40)), Some(us(ts(40))))))
  }

  test("nothing emits before the watermark passes a purchase") {
    val s = new Serve(Long.MaxValue)
    try {
      s.feed(Seq(click(1L, 1L, ts(0)), purchase(1L, 2L, ts(10))))
      // watermark after b1 = 10 − 30 < purchase time: still pending
      assert(s.served.isEmpty)
      s.feed(Seq(click(9L, 3L, ts(100))))
    } finally s.stop()
    assert(s.served.map(asOf) === Vector((2L, 1L, us(ts(10)), Some(us(ts(0))))))
  }

  test("a row with a NULL event time is dropped before the state") {
    val fed = Seq(PitEvent(1L, 0, 1L, ts(0), Some(1.0)), PitEvent(1L, 0, 2L, null, Some(2.0)),
      PitEvent(1L, 2, 3L, null, None), PitEvent(1L, 2, 4L, ts(10), None))
    val got = run(Seq(fed))
    assert(got === batchTwin(fed.filter(_.ts != null)))
    assert(got.map(s => (s.purchase_id, s.click_val)) === Set((4L, 1.0)))
  }

  test("steady triggers compile no new code; the state holds no collection") {
    val s = new Serve(StalenessUs)
    // step 1 sets the max event time; each later step delivers an
    // observation and a purchase no later than it, so the watermark holds
    // and every purchase stays pending in the state
    assertSteadyState(s.ck, () => s.stop())((1 to 10).map(i => () =>
      s.feed(Seq(PitEvent(1L, i % 2, 10L * i, ts(100 - i), Some(i.toDouble)),
        PitEvent(1L + i % 3, 2, 10L * i + 1, ts(100 - i), None)))))
    assert(s.served.isEmpty)
  }
}
