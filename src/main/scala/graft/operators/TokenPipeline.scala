package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.NearSchemas

/** The full token-transfer / token-balance dataflow, re-expressed Spark-first.
  *
  * Reference topology (reference: TokenBalance.java:74-336):
  *   receipts/outcomes/actions → windowed dedup → two ±2 s windowed equi-joins on
  *   `receipt_id` → filter (token address, non-FAILURE, FUNCTION_CALL) → JSON
  *   decode + fan-out into 0–2 double-entry transfer legs → (a) transfer sink,
  *   (b) group-by affected account → fold into per-account running balances.
  *
  * Every stage is a pure `DataFrame => DataFrame`, so the same calls run in
  * batch mode (tests, backfill/replay — the reference's application-reset path,
  * README.md:199-205) and under Structured Streaming (see graft.streaming).
  * The dedup ×3 and both joins (#3–#5, [[receiptOutcomeActions]]) are ONE
  * keyed merge per receipt in both modes ([[ReceiptState]]): one shuffle on
  * `receipt_id` in batch, one stateful operator per trigger on streams. The
  * per-stage operators ([[dedupReceipts]] … [[joined]]) remain as the bodies
  * of the per-stage queries and as the parity tests' independent reference.
  *
  * Scale notes: the merge groups all three inputs on `receipt_id` in one
  * shuffle, with the time predicate applied per key (no cross product); a
  * receipt's members are few, so a key's work is small. The filter and column
  * pruning of [[transfers]] run after the merge, where the reference applies
  * them too (TokenBalance.java:149-151). The balance fold is a commutative
  * sum × argmax, so Spark's partial aggregation (map-side combine) applies;
  * state is O(#accounts).
  */
object TokenPipeline {

  /** @param tokenAddress   the NEP-141 contract this pipeline tracks
    *                       (reference: `token.address`, dev.properties:5)
    * @param joinToleranceMs join window half-width, reference JoinWindows.of(2000 ms)
    *                       (TokenBalance.java:118,122)
    * @param dedupDelay     dedup horizon, reference 60-minute window (TokenBalance.java:82)
    */
  final case class Config(
      tokenAddress: String,
      joinToleranceMs: Long = 2000L,
      dedupDelay: String = "60 minutes")

  import NearSchemas.{eventTime, Amount}

  // ---------------------------------------------------------------- dedup (#3)

  private def receiptTime(df: DataFrame): DataFrame =
    df.withColumn("r_event_time", eventTime(col("included_in_block_timestamp")))
  private def outcomeTime(df: DataFrame): DataFrame =
    df.withColumn("o_event_time", eventTime(col("executed_in_block_timestamp")))
  private def actionTime(df: DataFrame): DataFrame =
    df.withColumn("a_event_time", eventTime(col("receipt_included_in_block_timestamp")))

  def dedupReceipts(df: DataFrame, cfg: Config): DataFrame =
    Dedup(receiptTime(df), "r_event_time", cfg.dedupDelay, Seq("receipt_id"))

  def dedupOutcomes(df: DataFrame, cfg: Config): DataFrame =
    Dedup(outcomeTime(df), "o_event_time", cfg.dedupDelay, Seq("receipt_id"))

  def dedupActions(df: DataFrame, cfg: Config): DataFrame =
    Dedup(actionTime(df), "a_event_time", cfg.dedupDelay, Seq("receipt_id", "index_in_action_receipt"))

  // ------------------------------------------------------- interval joins (#4, #5)

  // the columns each side contributes to the joined record, in output order
  private val ReceiptCols = Seq("receipt_id", "included_in_block_hash",
    "included_in_chunk_hash", "index_in_chunk", "included_in_block_timestamp",
    "predecessor_account_id", "receiver_account_id",
    "originated_from_transaction_hash", "r_event_time")
  private val OutcomeCols = Seq("gas_burnt", "tokens_burnt", "executor_account_id",
    "status", "shard_id", "o_event_time")
  private val ActionCols = Seq("index_in_action_receipt", "action_kind", "args",
    "a_event_time")

  /** Two ±tolerance equi-joins on `receipt_id`, producing the flat
    * receipt⊎outcome⊎action record (the reference nests the three structs only
    * because Kafka Streams joins need a value class; flat columns are the Spark
    * idiom and let Catalyst prune).
    *
    * Inputs must already carry `r_event_time` / `o_event_time` / `a_event_time`
    * (the dedup stages add them); under streaming they must also be watermarked.
    */
  def joined(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
             cfg: Config): DataFrame = {
    val tol = expr(s"INTERVAL ${cfg.joinToleranceMs} MILLISECONDS")

    val r = receipts.select(ReceiptCols.map(col): _*)
    val o = outcomes.select(col("receipt_id").as("o_receipt_id") +: OutcomeCols.map(col): _*)
    val a = actions.select(col("receipt_id").as("a_receipt_id") +: ActionCols.map(col): _*)

    r.join(o,
        col("receipt_id") === col("o_receipt_id") &&
        col("o_event_time") >= col("r_event_time") - tol &&
        col("o_event_time") <= col("r_event_time") + tol)
      .join(a,
        col("receipt_id") === col("a_receipt_id") &&
        col("a_event_time") >= col("r_event_time") - tol &&
        col("a_event_time") <= col("r_event_time") + tol)
      .drop("o_receipt_id", "a_receipt_id")
  }

  // ------------------------------------- filter + project + fan-out (#7, #8, #9)

  /** One transfer leg as a struct; 0–2 legs per action depending on method. */
  private def leg(account: Column, amount: Column, reason: String,
                  from: Column, to: Column): Column =
    struct(
      account.as("affected_account"),
      amount.cast(Amount).as("affected_amount"),
      lit(reason).as("affected_reason"),
      from.as("transfer_from"),
      to.as("transfer_to"))

  /** Filter to successful FUNCTION_CALLs on the token contract, decode the JSON
    * `args`, and fan each action out into its double-entry transfer legs.
    *
    * Per-method semantics (reference: TokenBalance.java:149-270):
    *   new                 → 1 credit: owner_id += total_supply
    *   mint                → 1 credit: account_id += amount
    *   withdraw            → 1 debit:  caller    -= amount
    *   ft_transfer         → 2 legs:   caller -= amount, receiver_id += amount
    *   ft_resolve_transfer → 2 legs:   sender_id -= amount, receiver_id += amount
    *   anything else       → 0 legs (ft_transfer_call intentionally disabled in
    *                         the reference, TokenBalance.java:222-238)
    * Amounts are string-encoded integers in the JSON, parsed to decimal; debits
    * are negated (BigDecimal.negate in the reference).
    */
  def transfers(roa: DataFrame, cfg: Config): DataFrame =
    transfersFiltered(roa, col("receiver_account_id") === lit(cfg.tokenAddress))

  /** Multi-tenant variant: every token contract in ONE plan. The reference
    * deploys one Kafka Streams app per token (the address is boot config,
    * `dev.properties:5`) — at 100 TB with thousands of NEP-141 contracts
    * that is thousands of applications re-reading the same CDC feed. Here
    * the single-token gate simply drops out of the filter and the token
    * address stays a data column (`receiver_account_id`), so one scan serves
    * every contract and downstream keys extend with the token column.
    */
  def transfersAllTokens(roa: DataFrame): DataFrame =
    transfersFiltered(roa, lit(true))

  private def transfersFiltered(roa: DataFrame, tokenGate: Column): DataFrame = {
    val filtered = roa.filter(
      tokenGate &&
      col("status") =!= "FAILURE" &&
      col("action_kind") === "FUNCTION_CALL")

    val parsed = filtered.withColumn("_parsed", from_json(col("args"), NearSchemas.args))
    val m = col("_parsed.method_name")
    def f(field: String): Column = col("_parsed.args_json").getField(field)
    val amount = f("amount").cast(Amount)
    val caller = col("predecessor_account_id")

    val legs =
      when(m === "new", array(
        leg(f("owner_id"), f("total_supply").cast(Amount), "new", caller, f("owner_id"))))
      .when(m === "mint", array(
        leg(f("account_id"), amount, "mint", col("receiver_account_id"), f("account_id"))))
      .when(m === "withdraw", array(
        leg(caller, -amount, "withdraw", caller, f("recipient"))))
      .when(m === "ft_transfer", array(
        leg(caller, -amount, "ft_transfer_from", caller, f("receiver_id")),
        leg(f("receiver_id"), amount, "ft_transfer_to", caller, f("receiver_id"))))
      .when(m === "ft_resolve_transfer", array(
        leg(f("sender_id"), -amount, "ft_resolve_transfer_from", f("sender_id"), f("receiver_id")),
        leg(f("receiver_id"), amount, "ft_resolve_transfer_to", f("sender_id"), f("receiver_id"))))
      .otherwise(array().cast("array<struct<affected_account:string,affected_amount:decimal(38,0),affected_reason:string,transfer_from:string,transfer_to:string>>"))

    // explode drops rows with zero legs — the reference's flatMapValues contract
    parsed
      .withColumn("_leg", explode(legs))
      .select(
        col("receipt_id"), col("included_in_block_hash"), col("included_in_chunk_hash"),
        col("index_in_chunk"), col("included_in_block_timestamp"),
        col("predecessor_account_id"), col("receiver_account_id"),
        col("originated_from_transaction_hash"), col("gas_burnt"), col("tokens_burnt"),
        col("executor_account_id"), col("status"), col("shard_id"),
        col("index_in_action_receipt"), col("action_kind"), col("args"),
        col("_leg.affected_account"), col("_leg.affected_amount"),
        col("_leg.affected_reason"), col("_leg.transfer_from"), col("_leg.transfer_to"),
        col("r_event_time"))
  }

  // ----------------------------------------------------- balance fold (#12, #13)

  /** Per-account balance = Σ affected_amount, with provenance of the latest
    * contributing event — "latest" = argmax (block_timestamp, index_in_chunk)
    * (reference: TokenBalance.java:279-329; ordering comparison :300-306).
    *
    * The reference folds serially per Kafka partition; Spark merges partial
    * aggregates, so the fold is decomposed into a commutative sum × argmax —
    * both merge-safe, hence arrival-order-independent (property-tested).
    *
    * The ordering appends (receipt_id, index_in_action_receipt) as a
    * deterministic tiebreaker beyond the reference's (timestamp, index) pair —
    * two transfers tying on both would otherwise make argmax pick an
    * arbitrary row (and the oracle an arbitrary but different one).
    *
    * Over a transfer STREAM the same call is the KTable changelog in its
    * native Spark form: an unbounded aggregation that, started in UPDATE
    * output mode, emits each trigger's changed accounts with state
    * O(#accounts) and no eviction (reference TokenBalance.java:279-331;
    * `UpdateModeBalancesSpec`). In one plan with the transfer stream it
    * would be a second stateful operator, so the single-plan form folds per
    * micro-batch instead (`StreamingPipeline.dualSink`).
    */
  private def balanceAggs = Seq(
    sum("affected_amount").cast(Amount).as("balance"),
    max_by(
      struct(
        col("included_in_block_timestamp").as("block_timestamp"),
        col("included_in_block_hash").as("block_hash"),
        col("included_in_chunk_hash").as("chunk_hash"),
        col("index_in_chunk").as("index_in_chunk"),
        col("originated_from_transaction_hash").as("transaction_hash"),
        col("receipt_id").as("receipt_id")),
      struct(col("included_in_block_timestamp"), col("index_in_chunk"),
        col("receipt_id"), col("index_in_action_receipt"))).as("_prov"))

  def balances(transfers: DataFrame): DataFrame =
    transfers
      .groupBy(col("affected_account").as("account"))
      .agg(balanceAggs.head, balanceAggs.tail: _*)
      .select(col("account"), col("balance"), col("_prov.*"))

  /** Per-(token, account) balances over the multi-tenant transfer stream —
    * the same merge-safe sum × argmax fold, keyed one column wider. The
    * shuffle key gains the token contract, which also decorrelates hot
    * accounts ACROSS tokens (an exchange wallet active on every contract
    * splits into one key per token instead of one mega-key).
    */
  def balancesByToken(transfers: DataFrame): DataFrame =
    transfers
      .groupBy(col("receiver_account_id").as("token"),
        col("affected_account").as("account"))
      .agg(balanceAggs.head, balanceAggs.tail: _*)
      .select(col("token"), col("account"), col("balance"), col("_prov.*"))

  // -------------------------------------------------------------- composition

  /** Raw CDC frames → the deduplicated, joined receipt⊎outcome⊎action
    * record: one [[ReceiptState]] merge per receipt, over three batch frames
    * or three streams. A mix of the two fails at plan time, naming the
    * streaming inputs.
    */
  def receiptOutcomeActions(receipts: DataFrame, outcomes: DataFrame,
                            actions: DataFrame, cfg: Config): DataFrame =
    ReceiptState(receiptTime(receipts), outcomeTime(outcomes), actionTime(actions),
      ReceiptCols, OutcomeCols, ActionCols, cfg)

  /** End-to-end: raw CDC frames → transfer legs. */
  def transfersFromRaw(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
                       cfg: Config): DataFrame =
    transfers(receiptOutcomeActions(receipts, outcomes, actions, cfg), cfg)

  /** End-to-end: raw CDC frames → per-account balances. */
  def balancesFromRaw(receipts: DataFrame, outcomes: DataFrame, actions: DataFrame,
                      cfg: Config): DataFrame =
    balances(transfersFromRaw(receipts, outcomes, actions, cfg))

  /** End-to-end multi-tenant: raw CDC frames → per-(token, account) balances
    * for EVERY token contract in the feed, one plan.
    */
  def multiTokenBalancesFromRaw(receipts: DataFrame, outcomes: DataFrame,
                                actions: DataFrame, cfg: Config): DataFrame =
    balancesByToken(transfersAllTokens(receiptOutcomeActions(receipts, outcomes, actions, cfg)))
}
