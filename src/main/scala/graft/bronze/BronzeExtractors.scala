package graft.bronze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{AccountsConfig, NearModel}

/** Bronze extraction: a DataFrame of `Block`s (graft.model.Block shape)
  * → the four bronze tables, declaratively (SURVEY.md §2.3 P1–P13).
  *
  * Everything here is a narrow projection/explode pipeline — no
  * shuffles, no state — so at 100 TB this layer is embarrassingly
  * parallel per input split. On the query side Catalyst fuses it into
  * one WholeStageCodegen span over the block scan; ingest batches run
  * it interpreted ([[graft.runner.BatchRunner.interpreted]]). The one cross-block
  * concern (receipt→tx resolution) lives in
  * [[graft.state.ReceiptTxResolver]] and joins in afterwards.
  */
object BronzeExtractors {

  /** Serialize an `Array<ActionView>` column to the reference's tagged
    * JSON string `[{"action_type":…,"params":{…}}]`, inlining `params`
    * raw (it is already JSON) and silently skipping unserializable
    * variants — reference: indexer-primitives/src/lib.rs:93-160 via
    * filter_map(.ok()), extractors/transactions.rs:123-130. */
  def actionsToJson(actions: Column): Column = {
    val kept = filter(actions, a => a.getField("serializable"))
    concat(
      lit("["),
      array_join(
        transform(kept, a => concat(
          lit("{\"action_type\":\""), a.getField("action_type"),
          lit("\",\"params\":"), a.getField("params"), lit("}"))),
        ","),
      lit("]"))
  }

  /** Accounts-of-interest predicate (P3/P4): keep iff either party is in
    * the list — reference: indexer-common/src/lib.rs:13-17. */
  private def ofInterest(a: Column, b: Column, accounts: Seq[String]): Column =
    a.isin(accounts: _*) || b.isin(accounts: _*)

  /** P2 + P3 + P10: shards → chunk transactions → TransactionRow.
    * Also emits the resolver seed columns (first_receipt_id,
    * of_interest) — reference: extractors/transactions.rs:26-148. */
  def transactions(blocks: DataFrame, accounts: AccountsConfig): DataFrame = {
    blocks
      .select(
        col("header.height").as("block_height"),
        col("header.timestamp").as("block_timestamp_ns"),
        col("header.hash").as("block_hash"),
        explode(col("shards")).as("shard"))
      .filter(col("shard.chunk").isNotNull)
      .select(
        col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        explode(col("shard.chunk.transactions")).as("t"))
      .select(
        col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        col("t.transaction.hash").as("transaction_hash"),
        col("t.transaction.signer_id").as("signer_id"),
        col("t.transaction.receiver_id").as("receiver_id"),
        actionsToJson(col("t.transaction.actions")).as("actions"),
        // resolver seeds: a tx maps its first receipt_id → its own hash
        // (transactions.rs:88-114); of_interest decides main vs
        // potential tier (see ReceiptTxResolver).
        element_at(col("t.outcome.receipt_ids"), 1).as("first_receipt_id"),
        ofInterest(col("t.transaction.signer_id"),
          col("t.transaction.receiver_id"), accounts.all).as("of_interest"))
  }

  /** Rows destined for the `transactions` bronze table (all txs of
    * interest, P3) — drop the resolver-only columns. */
  def transactionRows(blocks: DataFrame, accounts: AccountsConfig): DataFrame =
    transactions(blocks, accounts)
      .filter(col("of_interest"))
      .drop("first_receipt_id", "of_interest")

  /** P1 + P13 (outer index): flatten shards[].receipt_execution_outcomes[]
    * preserving block order, attaching `receipt_index_in_block` — the
    * position of the outcome in the flattened per-block list
    * (events.rs:24-49 enumerate). One pass; both the receipts and
    * execution_outcomes tables and the event stream derive from this
    * (mirrors the reference's single-pass fused extraction,
    * receipts_and_outcomes.rs:1-28). */
  def outcomes(blocks: DataFrame): DataFrame = {
    blocks
      .select(
        col("header.height").as("block_height"),
        col("header.timestamp").as("block_timestamp_ns"),
        col("header.hash").as("block_hash"),
        posexplode(flatten(col("shards.receipt_execution_outcomes")))
          .as(Seq("receipt_index_in_block", "ow")))
      .select(
        col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        col("receipt_index_in_block").cast(LongType).as("receipt_index_in_block"),
        col("ow.receipt.receipt_id").as("receipt_id"),
        col("ow.receipt.receiver_id").as("receiver_id"),
        col("ow.receipt.predecessor_id").as("predecessor_id"),
        col("ow.receipt.kind").as("receipt_kind"),
        col("ow.receipt.actions").as("receipt_actions"),
        col("ow.receipt.data").as("receipt_data"),
        col("ow.outcome_id").as("execution_outcome_id"),
        col("ow.outcome.executor_id").as("executor_id"),
        col("ow.outcome.receipt_ids").as("receipt_ids"),
        col("ow.outcome.status_kind").as("status_kind"),
        col("ow.outcome.logs").as("logs"),
        col("ow.outcome.tokens_burnt").as("tokens_burnt"),
        col("ow.outcome.gas_burnt").as("gas_burnt"))
  }

  /** P9: execution-status enum → snake_case string
    * (events.rs:235-246). */
  def statusColumn(statusKind: Column): Column =
    when(statusKind === "SuccessReceiptId", "success_receipt_id")
      .when(statusKind === "SuccessValue", "success_value")
      .when(statusKind === "Unknown", "unknown")
      .otherwise("failure")

  /** P11: receipt enum → actions JSON projection
    * (receipts_and_outcomes.rs:195-225): Action → tagged JSON array;
    * Data → the JSON value or "null"; GlobalContractDistribution → "". */
  def receiptActionsColumn(kind: Column, actions: Column, data: Column): Column =
    when(kind === "Action", actionsToJson(actions))
      .when(kind === "Data", coalesce(data, lit("null")))
      .otherwise(lit(""))

  /** P12: logs → JSON array string, `[]` when empty
    * (receipts_and_outcomes.rs:150-164). */
  def logsToJson(logs: Column): Column =
    when(size(logs) === 0, lit("[]")).otherwise(to_json(logs))

  /** P4: filter to outcomes of interest, then project the
    * `execution_outcomes` and `receipts` bronze rows (minus the
    * parent_transaction_hash, which the resolver joins in). */
  def outcomesOfInterest(outcomes: DataFrame, accounts: AccountsConfig): DataFrame =
    outcomes.filter(ofInterest(col("receiver_id"), col("predecessor_id"),
      accounts.all))

  def executionOutcomeRows(outcomesOfInt: DataFrame): DataFrame =
    outcomesOfInt.select(
      col("block_height"), col("block_timestamp_ns"), col("block_hash"),
      col("executor_id"), col("receipt_ids"),
      statusColumn(col("status_kind")).as("status"),
      logsToJson(col("logs")).as("logs"),
      col("tokens_burnt"), col("gas_burnt"),
      col("execution_outcome_id"), col("receipt_id"))

  def receiptRows(outcomesOfInt: DataFrame): DataFrame =
    outcomesOfInt.select(
      col("block_height"), col("block_timestamp_ns"), col("block_hash"),
      col("receipt_id"), col("receiver_id"), col("predecessor_id"),
      receiptActionsColumn(col("receipt_kind"), col("receipt_actions"),
        col("receipt_data")).as("actions"))

  /** Parsed EVENT_JSON payload schema — indexer-primitives/src/lib.rs:44-50.
    * `data` lands as the raw JSON substring (schema-on-read). */
  val eventJsonSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("standard", StringType),
    StructField("event", StringType),
    StructField("data", StringType)))

  /** P5–P9 + P13 (inner index): outcomes → event rows (minus tx_hash).
    * Order-preserving double posexplode keeps both positional indexes —
    * reference: extractors/events.rs:18-90, 215-231. */
  def eventRows(outcomes: DataFrame, accounts: AccountsConfig): DataFrame = {
    outcomes
      // P5: executor must be a contract of interest (events.rs:112-115)
      .filter(col("executor_id").isin(accounts.all: _*))
      .select(
        col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        col("receipt_index_in_block"),
        col("receipt_id"), col("receiver_id"), col("predecessor_id"),
        col("executor_id"), col("status_kind"),
        posexplode(col("logs")).as(Seq("index_in_log", "log")))
      // P6: prefix match + strip (events.rs:7,118-123)
      .filter(col("log").startsWith(NearModel.EventJsonPrefix))
      .withColumn("payload",
        substring(col("log"), NearModel.EventJsonPrefix.length + 1, Int.MaxValue))
      // P7: substring (not equality!) filter on the RAW log
      // (events.rs:138-141)
      .filter(col("log").contains("dip4") || col("log").contains("nep245"))
      // P8: tolerant parse; malformed JSON → null struct → dropped
      // (events.rs:126-136 warn+skip)
      .withColumn("parsed", from_json(col("payload"), eventJsonSchema))
      .filter(col("parsed").isNotNull && col("parsed.standard").isNotNull)
      .select(
        col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        col("executor_id").as("contract_id"),
        statusColumn(col("status_kind")).as("execution_status"),
        coalesce(col("parsed.version"), lit("")).as("version"),
        col("parsed.standard").as("standard"),
        col("index_in_log").cast(LongType).as("index_in_log"),
        coalesce(col("parsed.event"), lit("")).as("event"),
        coalesce(col("parsed.data"), lit("")).as("data"),
        col("receipt_id").as("related_receipt_id"),
        col("receiver_id").as("related_receipt_receiver_id"),
        col("predecessor_id").as("related_receipt_predecessor_id"),
        col("receipt_index_in_block"))
  }
}
