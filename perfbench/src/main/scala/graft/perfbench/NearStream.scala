package graft.perfbench

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, struct, to_json}

import graft.operators.TokenPipeline
import graft.schema.NearSchemas
import graft.sinks.BalanceUpsert
import graft.sources.{SyntheticCdc, Tables}
import graft.streaming.StreamingPipeline

/** The deployed NEAR pipeline as an open loop: independent CDC producers do
  * not wait for graft, so one generator replays a seed-chosen contiguous
  * range of the `events` table, mapped by [[SyntheticCdc]] onto the receipt,
  * outcome and action topics (redeliveries included) in event-time order, at
  * fixed rates. Rows go through `parseJson -> transfers -> dualSink` into
  * the in-memory upsert store.
  *
  * Row `i` of a rung is due `i / rate` seconds after the rung starts. A
  * transfer leg is fresh when the balance upsert of the micro-batch that
  * emitted it returns; the leg's freshness is measured from the due time of
  * the last of its receipt, outcome and action rows, so a generator that
  * falls behind shows up as staleness, not as a lower input rate. This file
  * records due indexes, send times and emit times; `run.py` does the
  * arithmetic.
  */
object NearStream {

  /** One rung: rows replayed at `rate` rows/s for `seconds`. `seconds == 0`
    * marks the warm-up rung, which lasts until [[WarmTriggers]] micro-batches
    * have completed. With `drain` the generator waits until every row sent
    * is in a completed micro-batch before the next rung starts, so no leg of
    * this rung is processed in the next rung's triggers.
    */
  final case class Rung(name: String, rate: Double, seconds: Double, drain: Boolean = false)

  /* Rates in rows/s of the merged feed, set from the capacity measured at
   * local[4] on 4 vCPUs: about 700-900 rows/s once triggers are large (see
   * README.md). `lo` is far below it and its triggers sit near the
   * per-trigger floor; `hi` is under half of it, so it stays steady while
   * its triggers carry several times the rows of a `lo` trigger;
   * `overload` is about twice it, so its backlog grows while it lasts.
   */
  val LoRate = 100.0
  val HiRate = 300.0
  val OverloadRate = 1400.0
  val WarmTriggers = 2

  /** Rung lengths as shares of the measured seconds. */
  def FullLadder(seconds: Double): Seq[Rung] = Seq(
    Rung("warmup", LoRate, 0, drain = true), Rung("lo", LoRate, 0.3 * seconds, drain = true),
    Rung("hi", HiRate, 0.5 * seconds, drain = true),
    Rung("overload", OverloadRate, 0.2 * seconds))
  def LoOnly(seconds: Double): Seq[Rung] = Seq(
    Rung("warmup", LoRate, 0, drain = true), Rung("lo", LoRate, 0.3 * seconds))

  /** Warm-up is bounded so the feed slice can be sized up front. */
  private val MaxWarmSeconds = 40.0
  private val RowsPerEvent = 3.6 // receipt + outcome + actions + redeliveries
  private val EventsInTable = 100000

  private final case class FeedRow(topic: Int, receiptId: String, idx: Int, json: String)

  private def topic(df: DataFrame, t: Int, timeCol: String, idx: Column): DataFrame =
    df.select(lit(t).as("topic"), col(timeCol).cast("long").as("t"),
      col("receipt_id"), idx.as("idx"),
      to_json(struct(df.columns.toIndexedSeq.map(c => col(c)): _*)).as("json"))

  /** The replay order of events `[first, first + n)`: all three topics by
    * event time, ties broken by topic and content.
    */
  private def feed(spark: SparkSession, dir: String, first: Long, n: Long): Array[FeedRow] = {
    val base = SyntheticCdc.base(Tables(spark, dir, "events")
      .filter(col("event_id") >= first && col("event_id") < first + n))
    topic(SyntheticCdc.receiptsWithDups(base), 0, "included_in_block_timestamp", lit(-1))
      .unionByName(topic(SyntheticCdc.outcomesWithDups(base), 1,
        "executed_in_block_timestamp", lit(-1)))
      .unionByName(topic(SyntheticCdc.actionsWithDups(base), 2,
        "receipt_included_in_block_timestamp", col("index_in_action_receipt")))
      .collect()
      .sortBy(r => (r.getLong(1), r.getInt(0), r.getString(4)))
      .map(r => FeedRow(r.getInt(0), r.getString(2), r.getInt(3), r.getString(4)))
  }

  private def canon(r: Row): String = r.toSeq.map(String.valueOf).mkString("\u0001")

  /** Size of the symmetric difference of two multisets. */
  private def multisetDiff(a: Seq[String], b: Seq[String]): Int = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    a.foreach(x => counts(x) += 1)
    b.foreach(x => counts(x) -= 1)
    counts.values.map(math.abs).sum
  }

  def run(spark: SparkSession, a: Main.Args, trace: Option[Trace],
          ladder: Double => Seq[Rung], check: Boolean): Map[String, Any] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rungs = ladder(a.seconds)
    val cfg = TokenPipeline.Config(SyntheticCdc.TokenAddress)

    // ---- sources: the seed picks the slice; everything after sees only rows
    val t0 = System.nanoTime()
    val rowsNeeded = rungs.map(r => r.rate * (if (r.seconds > 0) r.seconds else MaxWarmSeconds)).sum
    val nEvents = (rowsNeeded / RowsPerEvent * 1.1).toLong + 100
    require(nEvents < EventsInTable, s"ladder needs $nEvents events")
    val firstEvent = new Random(a.seed).nextInt((EventsInTable - nEvents).toInt).toLong
    val rows = feed(spark, a.data, firstEvent, nEvents)
    val rFirst = mutable.HashMap.empty[String, Int]
    val oFirst = mutable.HashMap.empty[String, Int]
    val aFirst = mutable.HashMap.empty[(String, Int), Int]
    // backwards, so each key ends on its first delivery, not a redelivery
    rows.indices.reverse.foreach { i =>
      val f = rows(i)
      f.topic match {
        case 0 => rFirst(f.receiptId) = i
        case 1 => oFirst(f.receiptId) = i
        case _ => aFirst((f.receiptId, f.idx)) = i
      }
    }
    val feedS = (System.nanoTime() - t0) / 1e9

    // ---- the pipeline under test. The harness clock starts here, so the
    // warm-up rung's end includes building and starting the query.
    val epochNs = System.nanoTime()
    val epochWallMs = System.currentTimeMillis()
    val ins = Seq.fill(3)(MemoryStream[String])
    val tx = StreamingPipeline.transfers(
      StreamingPipeline.parseJson(ins(0).toDF(), NearSchemas.receipts),
      StreamingPipeline.parseJson(ins(1).toDF(), NearSchemas.executionOutcomes),
      StreamingPipeline.parseJson(ins(2).toDF(), NearSchemas.actionReceiptActions),
      cfg)
    val store = new BalanceUpsert.MemoryStore
    val legsOut = mutable.ArrayBuffer.empty[String]   // the transfer sink
    val legs = mutable.ArrayBuffer.empty[(Int, Long)]  // (due index, emit ns)
    val sinkLog = mutable.ArrayBuffer.empty[(Long, Double, Double, Int)]
    val batchesDone = new AtomicInteger(0)
    var pending = Seq.empty[Int]
    var sinkT = 0L
    var transfersMs = 0.0
    val ck = Files.createTempDirectory(java.nio.file.Paths.get(a.tmp), "near-ck").toString
    val q = StreamingPipeline.dualSink(tx, ck) { transfers =>
      sinkT = System.nanoTime()
      val got = transfers.collect()
      legsOut.synchronized(legsOut ++= got.map(canon))
      pending = got.toSeq.map { r =>
        val rid = r.getAs[String]("receipt_id")
        val idx = r.getAs[Int]("index_in_action_receipt")
        math.max(rFirst(rid), math.max(oFirst(rid), aFirst((rid, idx))))
      }
      transfersMs = (System.nanoTime() - sinkT) / 1e6
    } { deltas =>
      val u0 = System.nanoTime()
      store.upsertAll(deltas.collect().toSeq.map(BalanceUpsert.BalanceRow.fromRow))
      val now = System.nanoTime()
      legs.synchronized {
        legs ++= pending.map(i => (i, now - epochNs))
        sinkLog += ((now - epochNs, transfersMs, (now - u0) / 1e6, pending.size))
      }
      pending = Seq.empty
      batchesDone.incrementAndGet()
      ()
    }

    // ---- the generator: row i of a rung is due at start + (i - first) / rate
    val sends = mutable.ArrayBuffer.empty[(Int, Long)] // (rows sent so far, ns)
    val rungLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    var next = 0
    def send(until: Int): Unit = {
      val chunk = rows.slice(next, until)
      (0 until 3).foreach { t =>
        val js = chunk.filter(_.topic == t).map(_.json)
        if (js.nonEmpty) ins(t).addData(js.toIndexedSeq)
      }
      sends += ((until, System.nanoTime() - epochNs))
      next = until
    }
    try {
      rungs.foreach { r =>
        val first = next
        val start = System.nanoTime()
        val limit = if (r.seconds > 0) first + math.round(r.rate * r.seconds).toInt else rows.length
        require(limit <= rows.length, s"rung ${r.name} needs more feed rows")
        var done = false
        while (!done) {
          val elapsed = (System.nanoTime() - start) / 1e9
          val due = math.min(limit, first + math.floor(elapsed * r.rate).toInt + 1)
          if (due > next) send(due)
          done = if (r.seconds > 0) next >= limit
                 else batchesDone.get >= WarmTriggers
          if (!done) {
            require(next < rows.length, s"rung ${r.name} ran out of feed rows")
            q.exception.foreach(e => throw e)
            Thread.sleep(2)
          }
        }
        rungLog += Map("name" -> r.name, "rate" -> r.rate, "first" -> first,
          "rows" -> (next - first), "start_ns" -> (start - epochNs),
          "end_ns" -> (System.nanoTime() - epochNs))
        if (r.drain) {
          // unlike processAllAvailable, this does not wait for no-data batches
          while (q.recentProgress.map(_.numInputRows).sum < next) {
            q.exception.foreach(e => throw e)
            Thread.sleep(5)
          }
        }
      }
      q.processAllAvailable()
    } finally q.stop()

    // ---- correctness: the batch twin on exactly the rows replayed
    val checked = if (!check) None else Some {
      val sent = rows.take(next)
      def raw(t: Int) = sent.filter(_.topic == t).map(_.json).toSeq.toDF("value")
      val twin = TokenPipeline.transfersFromRaw(
        StreamingPipeline.parseJson(raw(0), NearSchemas.receipts),
        StreamingPipeline.parseJson(raw(1), NearSchemas.executionOutcomes),
        StreamingPipeline.parseJson(raw(2), NearSchemas.actionReceiptActions), cfg).cache()
      val legsDiff = multisetDiff(twin.collect().map(canon).toSeq, legsOut.toSeq)
      val twinBalances = TokenPipeline.balances(twin).collect()
        .map(BalanceUpsert.BalanceRow.fromRow).map(b => b.account -> b).toMap
      val streamed = store.snapshot
      val balancesDiff = (twinBalances.keySet ++ streamed.keySet)
        .count(k => twinBalances.get(k) != streamed.get(k))
      twin.unpersist()
      Map("legs" -> legsOut.size, "legs_diff" -> legsDiff,
        "accounts" -> twinBalances.size, "balances_diff" -> balancesDiff)
    }

    val perTrigger = trace.map(_.perTrigger).getOrElse(Map.empty)
    // scheduler idle time over the measured rungs (all but the warm-up)
    val measured = rungLog.filter(_("name") != "warmup")
    def wallMs(key: String, r: Map[String, Any]) = epochWallMs + r(key).asInstanceOf[Long] / 1000000
    val idleS = for (t <- trace; first <- measured.headOption; last <- measured.lastOption)
      yield t.idleSeconds(wallMs("start_ns", first), wallMs("end_ns", last))
    Map(
      "slice" -> Map("first_event" -> firstEvent, "events" -> nEvents, "rows" -> rows.length),
      "setup" -> Map("feed_s" -> feedS),
      "rungs" -> rungLog.toSeq, "sends" -> sends.toSeq,
      "legs" -> legs.synchronized(legs.toSeq), "sink_log" -> sinkLog.toSeq,
      "epoch_wall_ms" -> epochWallMs,
      "progress" -> q.recentProgress.toSeq.map(p => Json.Raw(p.json)),
      "trigger_trace" -> perTrigger.map { case (b, c) => b.toString -> c.fields },
      "check" -> checked) ++ idleS.map("idle_s" -> _)
  }
}
