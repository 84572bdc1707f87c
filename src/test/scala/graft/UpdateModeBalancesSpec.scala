package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.TokenPipeline

/** The balance changelog as a native update-mode streaming aggregation over a
  * transfer stream: per trigger only changed accounts emit (KTable changelog
  * granularity), the final state per account equals the batch fold, and the
  * same query runs on the RocksDB state backend the reference deploys.
  */
/** Minimal transfer-shaped event (columns `TokenPipeline.balances` reads);
  * top-level so Spark can generate its encoder.
  */
case class Evt(affected_account: String, affected_amount: Long,
               included_in_block_timestamp: Long,
               included_in_block_hash: String, included_in_chunk_hash: String,
               index_in_chunk: Int, originated_from_transaction_hash: String,
               receipt_id: String, index_in_action_receipt: Int)

class UpdateModeBalancesSpec extends SparkSpec {
  import spark.implicits._

  private def evt(acct: String, amt: Long, ts: Long, rid: String) =
    Evt(acct, amt, ts, s"b-$rid", s"c-$rid", 0, s"tx-$rid", rid, 0)

  private val chunk1 = Seq(
    evt("alice", 1000, 10, "r1"), evt("bob", 50, 20, "r2"), evt("alice", -30, 30, "r3"))
  private val chunk2 = Seq( // touches only bob
    evt("bob", 100, 40, "r4"))

  private def runUpdateMode(name: String): Seq[(Long, Map[String, Long])] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Evt]
    val balances = TokenPipeline.balances(in.toDF())

    val perBatch = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
    val q = balances.writeStream.outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory(s"$name-ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val rows = batch.collect()
          .map(r => r.getAs[String]("account") ->
            r.getAs[java.math.BigDecimal]("balance").longValueExact()).toMap
        perBatch.synchronized { perBatch += ((id, rows)) }
        ()
      }
      .start()
    in.addData(chunk1); q.processAllAvailable()
    in.addData(chunk2); q.processAllAvailable()
    q.stop()
    perBatch.synchronized(perBatch.toList).filter(_._2.nonEmpty)
  }

  test("update mode emits only changed accounts; final state equals batch fold") {
    val updates = runUpdateMode("upd")
    assert(updates.size === 2)
    assert(updates(0)._2 === Map("alice" -> 970L, "bob" -> 50L))
    // second trigger touched only bob -> only bob emits, with the RUNNING total
    assert(updates(1)._2 === Map("bob" -> 150L))

    val lastPerKey = updates.flatMap(_._2).groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    val batch = TokenPipeline.balances((chunk1 ++ chunk2).toDF())
      .collect().map(r => r.getAs[String]("account") ->
        r.getAs[java.math.BigDecimal]("balance").longValueExact()).toMap
    assert(lastPerKey === batch)
  }

  test("multi-token update mode: one state, per-(token, account) changelog") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.when
    val in = MemoryStream[Evt]
    // r1/r3 land on tok.a, r2/r4 on tok.b — two contracts in one stream
    val withToken = in.toDF().withColumn("receiver_account_id",
      when($"receipt_id".isin("r1", "r3"), "tok.a").otherwise("tok.b"))
    val balances = TokenPipeline.balancesByToken(withToken)

    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[(String, String), Long]]
    val q = balances.writeStream.outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("mt-ck").toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
          .map(r => (r.getAs[String]("token"), r.getAs[String]("account")) ->
            r.getAs[java.math.BigDecimal]("balance").longValueExact()).toMap
        perBatch.synchronized { perBatch += rows }
        ()
      }
      .start()
    in.addData(chunk1); q.processAllAvailable()
    in.addData(chunk2); q.processAllAvailable()
    q.stop()

    val updates = perBatch.synchronized(perBatch.toList).filter(_.nonEmpty)
    assert(updates(0) === Map(("tok.a", "alice") -> 970L, ("tok.b", "bob") -> 50L))
    // second trigger touched only tok.b/bob — tok.a state is untouched
    assert(updates(1) === Map(("tok.b", "bob") -> 150L))
  }

  test("same query runs on the RocksDB state store backend") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = runUpdateMode("rocks")
      assert(updates.last._2 === Map("bob" -> 150L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
