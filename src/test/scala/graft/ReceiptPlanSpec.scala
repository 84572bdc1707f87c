package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The batch token pipeline's shuffles, counted in the registered sf0.001
  * plans: the dedup ×3 and both ±2 s joins are ONE keyed merge per receipt
  * ([[graft.operators.ReceiptState]]), so the transfer legs cost one hash
  * exchange on `receipt_id` and a balance fold one more. The per-stage form
  * (three dedup aggregates, two interval joins) plans 3 for the legs and 4
  * with a fold; a batch path that falls back to it fails here.
  */
class ReceiptPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Hash exchanges in a registered query's physical plan, planned with
    * adaptive execution off: an adaptive plan inserts its exchanges only as
    * it runs (its final plans at sf0.001 hold the same counts).
    */
  private def hashExchanges(name: String): Int = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try collectPlan(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    } finally spark.conf.set(key, was)
  }

  test("the token pipeline plans one hash exchange for its dedup and joins") {
    val counts = Seq("near_transfers", "near_balances", "near_multi_balances", "q_bigint_sum",
      "near_roa_join").map(name => name -> hashExchanges(name))
    assert(counts === Seq("near_transfers" -> 1, "near_balances" -> 2,
      "near_multi_balances" -> 2, "q_bigint_sum" -> 2,
      // the per-stage operators, which stay the body of the join-stage query
      "near_roa_join" -> 3))
  }
}
