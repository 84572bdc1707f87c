package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{ReceiptState, StateCodec, TokenPipeline}
import graft.schema.NearSchemas
import graft.streaming.StreamingPipeline

/** The contract of the token pipeline's one keyed merge per receipt
  * ([[graft.operators.ReceiptState]], reached through
  * [[TokenPipeline.receiptOutcomeActions]]): keep-first dedup per (topic,
  * key), inclusive ±tolerance joins emitted once when the last member
  * arrives, on batch frames as on streams (where a batch gives the rows of
  * the per-stage operators), no mix of the two; on streams per-topic
  * watermarks, late-row drops that the progress counts, eviction after the
  * dedup delay, restart from the checkpoint, a state that compiles no new
  * code per trigger, and its codec's round trip.
  */
class ReceiptStateSpec extends SparkSpec {
  import spark.implicits._
  import ReceiptStateSpec.Step

  /** 10 s dedup delay, so eviction and late rows show within a short feed. */
  private val cfg = TokenPipeline.Config(TokenFixture.Token, dedupDelay = "10 seconds")
  private val T = TokenFixture.T // epoch ns
  private def sec(s: Double): Long = T + math.round(s * 1e9)

  private def receipt(id: String, ns: Long): String =
    s"""{"receipt_id":${q(id)},"included_in_block_hash":"b-$id","included_in_chunk_hash":"c-$id",""" +
      s""""index_in_chunk":0,"included_in_block_timestamp":$ns,"predecessor_account_id":"alice",""" +
      s""""receiver_account_id":"${TokenFixture.Token}","receipt_kind":"ACTION",""" +
      s""""originated_from_transaction_hash":"tx-$id"}"""
  private def outcome(id: String, ns: Long): String =
    s"""{"receipt_id":${q(id)},"executed_in_block_hash":"ob-$id","executed_in_block_timestamp":$ns,""" +
      s""""index_in_chunk":0,"gas_burnt":1000,"tokens_burnt":10,""" +
      s""""executor_account_id":"${TokenFixture.Token}","status":"SUCCESS_VALUE","shard_id":0}"""
  private def action(id: String, idx: Int, ns: Long): String = {
    val args = TokenFixture.args("mint", """{"account_id": "bob", "amount": "5"}""")
      .replace("\"", "\\\"")
    s"""{"receipt_id":${q(id)},"index_in_action_receipt":$idx,"action_kind":"FUNCTION_CALL",""" +
      s""""args":"$args","receipt_predecessor_account_id":"alice",""" +
      s""""receipt_receiver_account_id":"${TokenFixture.Token}",""" +
      s""""receipt_included_in_block_timestamp":$ns}"""
  }
  private def q(id: String): String = if (id == null) "null" else "\"" + id + "\""

  /** A complete receipt ⋈ outcome ⋈ action at `s` seconds. */
  private def triple(id: String, s: Double): Step =
    Step(Seq(receipt(id, sec(s))), Seq(outcome(id, sec(s))), Seq(action(id, 0, sec(s))))
  /** Key-less rows on every topic: they move each topic's event time (and so
    * the watermark) and can never join, so they hold no state.
    */
  private def tick(s: Double): Step = Step(Seq(receipt(null, sec(s))),
    Seq(outcome(null, sec(s))), Seq(action(null, 0, sec(s))))

  /** Three MemoryStreams feeding one query built by `build`; the sink keeps
    * (receipt_id, index_in_action_receipt) per emitted row and which step it
    * came out in. The query can be stopped and restarted on its checkpoint.
    */
  private final class Feed(build: (DataFrame, DataFrame, DataFrame) => DataFrame) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val ins = Seq.fill(3)(MemoryStream[String])
    val ck: String = Files.createTempDirectory("receipt-state-ck").toString
    private val emitted = mutable.ArrayBuffer.empty[(Int, String)]
    @volatile private var step = 0
    var query: StreamingQuery = _

    def start(): this.type = {
      val out = build(
        StreamingPipeline.parseJson(ins(0).toDF(), NearSchemas.receipts),
        StreamingPipeline.parseJson(ins(1).toDF(), NearSchemas.executionOutcomes),
        StreamingPipeline.parseJson(ins(2).toDF(), NearSchemas.actionReceiptActions))
      query = out.writeStream.outputMode("append")
        .option("checkpointLocation", ck)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          val rows = b.toJSON.collect()
          emitted.synchronized(emitted ++= rows.map(step -> _))
          ()
        }
        .start()
      this
    }

    def feed(s: Step): this.type = {
      step += 1
      Seq(s.r, s.o, s.a).zip(ins).foreach { case (rows, in) =>
        if (rows.nonEmpty) in.addData(rows)
      }
      query.processAllAvailable()
      this
    }

    def stop(): Unit = query.stop()

    /** Emitted rows as JSON, in emission order. */
    def rows: Seq[String] = emitted.synchronized(emitted.map(_._2).toSeq)

    /** (step, receipt_id, index_in_action_receipt) per emitted row. */
    def keys: Seq[(Int, String, Int)] = emitted.synchronized(emitted.toSeq).map { case (st, js) =>
      val id = """"receipt_id":"([^"]*)"""".r.findFirstMatchIn(js).get.group(1)
      val idx = """"index_in_action_receipt":(\d+)""".r.findFirstMatchIn(js).get.group(1).toInt
      (st, id, idx)
    }

    def stateOperators = query.lastProgress.stateOperators
  }

  private def roa(r: DataFrame, o: DataFrame, a: DataFrame): DataFrame =
    TokenPipeline.receiptOutcomeActions(r, o, a, cfg)

  /** One delivery as three batch frames, through the keyed merge and
    * through the per-stage operators (dedup ×3, then the two interval
    * joins), which share no code with it: both must give the same rows.
    * Returns the merge's (receipt_id, index_in_action_receipt) per row.
    */
  private def inBatch(s: Step): Seq[(String, Int)] = {
    def frame(rows: Seq[String], schema: StructType) =
      StreamingPipeline.parseJson(rows.toDF("value"), schema)
    val (r, o, a) = (frame(s.r, NearSchemas.receipts),
      frame(s.o, NearSchemas.executionOutcomes), frame(s.a, NearSchemas.actionReceiptActions))
    val merged = roa(r, o, a)
    assert(!merged.isStreaming)
    val perStage = TokenPipeline.joined(TokenPipeline.dedupReceipts(r, cfg),
      TokenPipeline.dedupOutcomes(o, cfg), TokenPipeline.dedupActions(a, cfg), cfg)
    assert(merged.toJSON.collect().sorted.toSeq === perStage.toJSON.collect().sorted.toSeq)
    merged.select("receipt_id", "index_in_action_receipt").as[(String, Int)]
      .collect().toSeq.sorted
  }

  test("a mix of batch and streaming inputs fails at plan time, naming the streams") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def frame(schema: StructType) = StreamingPipeline.parseJson(Seq.empty[String].toDF("value"), schema)
    val stream = StreamingPipeline.parseJson(MemoryStream[String].toDF(), NearSchemas.executionOutcomes)
    val err = intercept[IllegalArgumentException] {
      roa(frame(NearSchemas.receipts), stream, frame(NearSchemas.actionReceiptActions))
    }
    assert(err.getMessage.contains("streaming: outcomes"), err.getMessage)
  }

  test("out-of-order members join once, in the step that delivers the last") {
    val f = new Feed(roa).start()
    try {
      f.feed(Step(a = Seq(action("k1", 0, sec(1)))))
      f.feed(Step(o = Seq(outcome("k1", sec(1.5)))))
      assert(f.keys.isEmpty, "no triple is complete before its receipt")
      f.feed(Step(r = Seq(receipt("k1", sec(1)))))
      assert(f.keys === Seq((3, "k1", 0)))
      // a second action of the same receipt joins the held receipt and outcome
      f.feed(Step(a = Seq(action("k1", 1, sec(2)))))
      assert(f.keys === Seq((3, "k1", 0), (4, "k1", 1)))
    } finally f.stop()
    assert(inBatch(Step(r = Seq(receipt("k1", sec(1))), o = Seq(outcome("k1", sec(1.5))),
      a = Seq(action("k1", 0, sec(1)), action("k1", 1, sec(2))))) === Seq(("k1", 0), ("k1", 1)))
  }

  test("redelivery of every topic across batch boundaries emits nothing twice") {
    val again = Step(r = Seq.fill(2)(receipt("k2", sec(1))),
      o = Seq.fill(2)(outcome("k2", sec(1))), a = Seq.fill(2)(action("k2", 0, sec(1))))
    val f = new Feed(roa).start()
    try {
      f.feed(Step(r = Seq(receipt("k2", sec(1))), a = Seq(action("k2", 0, sec(1)))))
      f.feed(Step(r = Seq(receipt("k2", sec(1))), o = Seq(outcome("k2", sec(1)))))
      f.feed(Step(o = Seq(outcome("k2", sec(1))), a = Seq(action("k2", 0, sec(1)))))
      // redelivery inside one batch too
      f.feed(again)
      assert(f.keys === Seq((2, "k2", 0)))
    } finally f.stop()
    assert(inBatch(again) === Seq(("k2", 0)))
  }

  test("the ±2 s bounds are inclusive; 1 µs beyond does not join") {
    val us = 1e-6
    val step = Step(
      r = Seq(receipt("edge", sec(5)), receipt("o_out", sec(5)), receipt("a_out", sec(5))),
      o = Seq(outcome("edge", sec(7)), outcome("o_out", sec(7 + us)), outcome("a_out", sec(3))),
      a = Seq(action("edge", 0, sec(3)), action("o_out", 0, sec(5)),
        action("a_out", 0, sec(3 - us))))
    val f = new Feed(roa).start()
    try {
      f.feed(step)
      assert(f.keys === Seq((1, "edge", 0)))
    } finally f.stop()
    assert(inBatch(step) === Seq(("edge", 0)))
  }

  test("a row behind the watermark is dropped and counted") {
    val f = new Feed(roa).start()
    try {
      f.feed(triple("on_time", 100))
      f.feed(triple("next", 101)) // runs at a watermark of 90 s
      f.feed(triple("late", 50))
      val dropped = f.query.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 3, "the late receipt, outcome and action")
      assert(f.keys.map(_._2) === Seq("on_time", "next"))
    } finally f.stop()
  }

  test("state returns to 0 rows once event time passes the dedup delay") {
    val f = new Feed(roa).start()
    try {
      f.feed(triple("k3", 1)).feed(triple("k4", 2))
      assert(f.stateOperators.head.numRowsTotal === 2)
      f.feed(tick(100)).feed(tick(101)) // the second runs at a watermark of 90 s
      assert(f.stateOperators.head.numRowsTotal === 0)
      assert(f.keys.map(_._2) === Seq("k3", "k4"))
    } finally f.stop()
    // the key-less rows join nothing in a batch either
    assert(inBatch(triple("k3", 1) ++ tick(1)) === Seq(("k3", 0)))
  }

  test("restart from the checkpoint mid-feed equals an uninterrupted run") {
    val steps = Seq(
      Step(r = Seq(receipt("k5", sec(1))), a = Seq(action("k5", 0, sec(1)))),
      Step(o = Seq(outcome("k6", sec(2))), a = Seq(action("k6", 0, sec(2)))),
      Step(o = Seq(outcome("k5", sec(2))), r = Seq(receipt("k5", sec(1)))),
      Step(r = Seq(receipt("k6", sec(2))), a = Seq(action("k5", 1, sec(1)),
        action("k6", 0, sec(2)))),
      tick(30), triple("k7", 31))
    val whole = new Feed(roa).start()
    try steps.foreach(whole.feed) finally whole.stop()

    val restarted = new Feed(roa).start()
    steps.take(3).foreach(restarted.feed)
    restarted.stop()
    restarted.start()
    try steps.drop(3).foreach(restarted.feed) finally restarted.stop()

    assert(restarted.keys.sorted === whole.keys.sorted)
    assert(restarted.rows.sorted === whole.rows.sorted)
    assert(whole.keys.map(k => (k._2, k._3)).sorted ===
      Seq(("k5", 0), ("k5", 1), ("k6", 0), ("k7", 0)))
  }

  test("the transfer stream runs one stateful operator") {
    val f = new Feed(StreamingPipeline.transfers(_, _, _, cfg)).start()
    try {
      f.feed(triple("k8", 1))
      assert(f.stateOperators.length === 1)
      assert(f.keys === Seq((1, "k8", 0)), "one mint leg")
    } finally f.stop()
  }

  test("steady triggers compile no new code; the state holds no collection") {
    val f = new Feed(roa).start()
    // step 1 sets the max event time; each later step delivers a fresh
    // receipt on all three topics no later than it, so every trigger plans
    // the same shape and the watermark (whose predicate is regenerated
    // whenever it moves) stays put
    assertSteadyState(f.ck, () => f.stop())((1 to 10).map(i => () => {
      f.feed(triple(s"s$i", 100 - 0.1 * (i - 1))); ()
    }))
    assert(f.keys.map(_._2) === (1 to 10).map(i => s"s$i"))
  }

  test("the state codec round-trips held members, order kept") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val all = Seq(StringType, IntegerType, LongType, DoubleType, DecimalType(20, 0),
      DecimalType(38, 0), TimestampType)
    val types = Seq(all, all.reverse, all.take(2))
      .map(ts => StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) }))
    val codec = new StateCodec.Codec(types)

    val d38 = BigInt(10).pow(38) - 1
    def decimal(g: Gen[BigInt]): Gen[Any] = g.map(b => new java.math.BigDecimal(b.bigInteger))
    def value(t: DataType): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> (t match {
      case StringType => Gen.oneOf(Gen.const(""), Gen.alphaNumStr,
        Gen.oneOf("né", "ĳsselmeer", "東京", "a😀b", "\u0000"))
      case IntegerType => Gen.oneOf(Gen.choose(Int.MinValue, Int.MaxValue), Gen.const(0))
      case LongType => Gen.oneOf(Gen.long, Gen.const(Long.MinValue), Gen.const(Long.MaxValue))
      case DoubleType => // not NaN: NaN != NaN under ==
        Gen.oneOf(Gen.choose(-1e300, 1e300), Gen.const(Double.MinPositiveValue),
          Gen.const(Double.NegativeInfinity))
      case d: DecimalType if d.precision == 20 =>
        decimal(Gen.oneOf(Gen.const(BigInt(0)), Gen.const(BigInt(10).pow(20) - 1),
          Gen.choose(0L, Long.MaxValue).map(BigInt(_))))
      case _: DecimalType =>
        decimal(Gen.oneOf(Gen.const(d38), Gen.const(-d38), Gen.long.map(BigInt(_))))
      case TimestampType => // 1900-01-01 .. 2100-01-01 in µs, both sides of the epoch
        Gen.choose(-2208988800000000L, 4102444800000000L).map(DateTimeUtils.toJavaTimestamp)
    }))
    val member = for {
      topic <- Gen.choose(0, 2)
      t <- Gen.long
      payload <- Gen.sequence[Seq[Any], Any](types(topic).fields.map(f => value(f.dataType)))
    } yield StateCodec.Member(topic, t, payload)

    val prop = Prop.forAll(Gen.listOf(member)) { ms =>
      codec.decode(codec.encode(ms)) == ms
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(20261019L), prop)
    assert(res.passed, s"codec round trip failed: ${res.status}")
  }

  test("the receipt state blob keeps its bytes, so a resumed checkpoint reads the same") {
    // Spark checks a resumed state only against `value: binary`; a drift in
    // the layout would misread every held member without an error. The
    // expected bytes are what the codec wrote when it was first checkpointed.
    val cols = Seq(StringType, IntegerType, DecimalType(20, 0), DecimalType(38, 0), TimestampType)
    val types = Seq(cols, cols.reverse, cols.take(3))
      .map(ts => StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) }))
    def full(types: StructType, k: Int): Seq[Any] = types.fields.toSeq.map(_.dataType match {
      case StringType => s"né-$k"
      case IntegerType => -7 * k
      case d: DecimalType if d.precision == 20 => new java.math.BigDecimal("99999999999999999999")
      case _: DecimalType => new java.math.BigDecimal(s"-${"9" * 37}$k")
      case TimestampType => DateTimeUtils.toJavaTimestamp(-1500000L + 1700000000123456L * k)
    })
    // (topic, µs time, action index, payload): every topic, once with every
    // value and once with NULL in every nullable field
    val members = (0 to 2).flatMap { topic =>
      Seq((topic, 1700000000000000L + topic, if (topic == 2) Some(3) else None,
          full(types(topic), topic + 1)),
        (topic, -2000000L - topic, None, Seq.fill(types(topic).size)(null)))
    }
    val codec = new StateCodec.Codec(ReceiptState.payloadTypes(types))
    val blob = codec.encode(members.map { case (topic, t, idx, payload) =>
      StateCodec.Member(topic, t, idx.getOrElse(null) +: payload)
    })
    assert(blob.map("%02x".format(_)).mkString === ReceiptStateSpec.Golden)
  }

  test("a member column the state codec cannot hold fails at plan time, by name") {
    val r = Seq(("k", Seq(1, 2))).toDF("receipt_id", "hops")
    val other = Seq("k").toDF("receipt_id")
    val err = intercept[IllegalArgumentException] {
      ReceiptState(r, other, other, Seq("receipt_id", "hops"), Seq("receipt_id"),
        Seq("receipt_id"), cfg)
    }
    assert(err.getMessage.contains("`hops`") && err.getMessage.contains("array<int>"),
      err.getMessage)
  }
}

object ReceiptStateSpec {

  /** The receipt state blob of the spec's fixed member set, hex. */
  private val Golden =
    "000000060000060a24181e40000001000000056ec3a92d3101fffffff90100000009056bc75e2d63" +
    "0fffff0100000010b4c4b357a5793b85f675ddc0000000090100060a2418093ee000ffffffffffe1" +
    "7b800000000000000100060a24181e40010001000c1448302961200100000010b4c4b357a5793b85" +
    "f675ddc0000000080100000009056bc75e2d630fffff01fffffff201000000056ec3a92d3201ffff" +
    "ffffffe17b7f0000000000000200060a24181e4002010000000301000000056ec3a92d3301ffffff" +
    "eb0100000009056bc75e2d630fffff02ffffffffffe17b7e00000000"

  /** One delivery: the rows each topic receives in one micro-batch. */
  final case class Step(r: Seq[String] = Nil, o: Seq[String] = Nil, a: Seq[String] = Nil) {
    def ++(s: Step): Step = Step(r ++ s.r, o ++ s.o, a ++ s.a)
  }
}
