package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup

/** The reference's refresh-on-duplicate dedup transformer
  * (TokenBalance.java:369-427), reproduced with flatMapGroupsWithState.
  * Reference semantics under test (window w, left = right = w/2 here):
  *   - record at t is a duplicate iff ANY sighting lies in [t-w/2, t+w/2];
  *   - every record — emitted or duplicate — adds a sighting at its own time,
  *     so chained redeliveries keep masking while each gap stays under w/2;
  *   - masking is symmetric: a sighting does NOT mask forever forward (a
  *     record w/2+ past the newest sighting is new), nor a full window
  *     backward (an out-of-order record w/2+ before every sighting is new);
  *   - state is evicted once the watermark passes sighting + w/2;
  *   - keys are the id columns' values, NULL included; a row with a NULL
  *     event time is dropped;
  *   - steady triggers compile no new code.
  */
class DedupRefreshTtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  /** A started `withRefreshTtl` query over a MemoryStream of `T` rows named
    * `cols` (event time `ts`, window 10 s); each `feed` is one trigger.
    */
  private final class Ttl[T <: Product : Encoder](cols: Seq[String], idCols: Seq[String],
                                                  delay: String) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val in = MemoryStream[T]
    private val emitted = scala.collection.mutable.ArrayBuffer.empty[Row]
    val ck: String = Files.createTempDirectory("ttl-ck").toString
    private val out = Dedup.withRefreshTtl(in.toDF().toDF(cols: _*), "ts", delay,
      windowMs = 10000L, idCols = idCols)
    assert(out.isStreaming)
    private val query = out.writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val rows = batch.collect()
        emitted.synchronized { emitted ++= rows }
        ()
      }
      .start()

    def feed(rows: Seq[T]): Unit = { in.addData(rows); query.processAllAvailable() }
    def stop(): Unit = query.stop()
    def rows: List[Row] = emitted.synchronized(emitted.toList)
  }

  private def runFeed(delay: String)(feeds: Seq[(String, Timestamp)]*): List[(String, Long)] = {
    val ttl = new Ttl[(String, Timestamp)](Seq("id", "ts"), Seq("id"), delay)
    try feeds.foreach(ttl.feed) finally ttl.stop()
    ttl.rows.map(r => (r.getString(0), r.getTimestamp(1).getTime))
  }

  test("chained duplicates refresh masking; forward horizon is window/2; eviction after watermark") {
    val got = runFeed("5 seconds")(
      Seq("A" -> ts(0)),   // new -> emitted; sightings {0}
      Seq("A" -> ts(4)),   // fetch [-1,9] hits 0 -> dup; sightings {0,4}
      Seq("A" -> ts(8)),   // fetch [3,13] hits 4 (duplicate's OWN sighting masks) -> dup
      Seq("A" -> ts(14)),  // fetch [9,19] hits nothing (newest sighting 8 < 9) -> NEW
      Seq("W" -> ts(40)),  // watermark -> 35; every A sighting s has s+5 < 35 -> evicted
      Seq("A" -> ts(36))   // state gone -> new
    )
    val aEmits = got.filter(_._1 == "A").map(_._2).sorted
    assert(aEmits === List(ts(0).getTime, ts(14).getTime, ts(36).getTime),
      s"A must emit at t=0, t=14 (past newest sighting + w/2) and t=36 (evicted); got $got")
    assert(got.count(_._1 == "W") === 1)
  }

  /** The ADVICE-flagged out-of-order edge: the reference's fetch range is
    * symmetric around the RECORD's time, so a record predating every stored
    * sighting by more than w/2 is emitted even though it is "inside the
    * window" of the newest sighting. Forward-only or full-window-backward
    * masking rules both get this wrong.
    */
  test("out-of-order record outside the symmetric fetch range is new") {
    val got = runFeed("30 seconds")(
      Seq("B" -> ts(10)),  // new -> emitted; sightings {10}
      Seq("B" -> ts(3)),   // fetch [-2,8]: sighting 10 outside -> NEW (reference emits)
      Seq("B" -> ts(6)),   // fetch [1,11] hits 3 and 10 -> dup
      Seq("B" -> ts(16))   // fetch [11,21] hits 10? no, 10<11; {3,6} outside -> NEW
    )
    val bEmits = got.filter(_._1 == "B").map(_._2).sorted
    assert(bEmits === List(ts(3).getTime, ts(10).getTime, ts(16).getTime),
      s"B must emit at t=10, out-of-order t=3, and t=16; got $got")
  }

  test("within one micro-batch: event-time order, chained masking, duplicate sightings count") {
    val got = runFeed("5 seconds")(
      // one batch: 0 emits (first in event time), 2 dup (fetch [-3,7] hits 0),
      // 7 dup (fetch [2,12] hits 2 — the duplicate's sighting, 0 is outside),
      // 13 new (fetch [8,18] hits nothing: newest sighting 7 < 8)
      Seq("C" -> ts(13), "C" -> ts(0), "C" -> ts(7), "C" -> ts(2))
    )
    val cEmits = got.filter(_._1 == "C").map(_._2).sorted
    assert(cEmits === List(ts(0).getTime, ts(13).getTime),
      s"C must emit at t=0 and t=13 only; got $got")
  }

  test("keys are column values: a NULL id is not \"null\", and a value may hold the separator") {
    val ttl = new Ttl[(String, String, Timestamp)](Seq("a", "b", "ts"), Seq("a", "b"), "5 seconds")
    try ttl.feed(Seq(
      (null, "x", ts(0)), ("null", "x", ts(1)),          // two keys
      ("a\u0000b", "c", ts(0)), ("a", "b\u0000c", ts(1)), // two keys
      (null, null, ts(0)), (null, null, ts(2))))         // one key, as in dropDuplicates
    finally ttl.stop()
    val got = ttl.rows.map(r => (Option(r.getString(0)), Option(r.getString(1)),
      r.getTimestamp(2).getTime)).sortBy(_.toString)
    assert(got === List(
      (None, None, ts(0).getTime), (None, Some("x"), ts(0).getTime),
      (Some("a"), Some("b\u0000c"), ts(1).getTime), (Some("a\u0000b"), Some("c"), ts(0).getTime),
      (Some("null"), Some("x"), ts(1).getTime)).sortBy(_.toString))
  }

  test("a row with a NULL event time is dropped; its key's other rows still dedup") {
    val got = runFeed("5 seconds")(
      Seq("D" -> null, "D" -> ts(0)), // the NULL-time row masks nothing
      Seq("D" -> ts(3), "D" -> null)  // dup of 0
    )
    assert(got === List("D" -> ts(0).getTime))
  }

  test("steady triggers compile no new code; the state holds no collection") {
    val ttl = new Ttl[(String, Timestamp)](Seq("id", "ts"), Seq("id"), "30 seconds")
    // step 1 sets the max event time; each later step delivers a fresh id
    // and a duplicate of a held one, no later than it
    assertSteadyState(ttl.ck, () => ttl.stop())((1 to 10).map(i => () =>
      ttl.feed(Seq(s"s$i" -> ts(100 - i), "s1" -> ts(100 - i)))))
    assert(ttl.rows.map(_.getString(0)).sorted === (1 to 10).map(i => s"s$i").sorted)
  }
}
