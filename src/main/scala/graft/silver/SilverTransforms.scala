package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.model.AccountsConfig

/** Silver layer: the reference's ClickHouse materialized-view pipelines
  * (SURVEY.md §2.5, M1–M10) as pure DataFrame → DataFrame functions over
  * the bronze `events` table.
  *
  * Incremental-visibility contract: each function must be applied to ONE
  * insert batch at a time to reproduce CH MV semantics (the MV sees only
  * the inserted rows). In batch mode over a full table the results are
  * identical because every transform here is row-local (filter → explode
  * → project); only M10's referral join is cross-row, and its
  * same-block-co-occurrence assumption is preserved by joining on
  * related_receipt_id which never crosses blocks in practice
  * (silver_transfers.rs:25-114 relies on the same property).
  *
  * Scale: all transforms are shuffle-free narrow pipelines (M10's join
  * excepted); JSON decode is one from_json per row over typed schemas —
  * strictly faster than per-path JSON_VALUE re-parsing the string for
  * every column. On the query side they stay inside one
  * WholeStageCodegen span; ingest batches run them interpreted
  * ([[graft.runner.BatchRunner.interpreted]]).
  */
object SilverTransforms {

  // Typed schema-on-read shapes (FIXTURES.md §2). JSON_VALUE-missing-key
  // → NULL maps to from_json's null fields; one parse per row replaces
  // the reference's repeated JSONExtract calls.

  /** nep245 mt_* item — 02-silver-tables.sql:76-93. */
  private val nep245Item = StructType(Seq(
    StructField("memo", StringType),
    StructField("old_owner_id", StringType),
    StructField("new_owner_id", StringType),
    StructField("owner_id", StringType),
    StructField("token_ids", ArrayType(StringType)),
    StructField("amounts", ArrayType(StringType))))

  /** dip4 token_diff item — 02-silver-tables.sql:149-170. */
  private val tokenDiffItem = StructType(Seq(
    StructField("account_id", StringType),
    StructField("diff", MapType(StringType, DoubleType)),
    StructField("intent_hash", StringType),
    StructField("referral", StringType)))

  /** dip4 transfer item — 02-silver-tables.sql:385-403. */
  private val transferItem = StructType(Seq(
    StructField("memo", StringType),
    StructField("account_id", StringType),
    StructField("receiver_id", StringType),
    StructField("intent_hash", StringType),
    StructField("tokens", MapType(StringType, StringType))))

  /** dip4 public_key_* / fee_changed payloads are single objects
    * (`data AS data_row`, no arrayJoin) — 02:217, 02:324. */
  private val publicKeyObj = StructType(Seq(
    StructField("account_id", StringType),
    StructField("public_key", StringType)))
  private val intentsExecutedItem = StructType(Seq(
    StructField("account_id", StringType),
    StructField("intent_hash", StringType)))
  private val feeChangedObj = StructType(Seq(
    StructField("old_fee", StringType),
    StructField("new_fee", StringType)))

  private val passthrough: Seq[String] = Seq(
    "block_height", "block_timestamp_ns", "block_hash", "contract_id",
    "execution_status", "version", "standard", "event",
    "related_receipt_id", "related_receipt_receiver_id",
    "related_receipt_predecessor_id")

  private def pass(df: DataFrame): Seq[Column] = passthrough.map(col)

  /** M1 — silver_nep_245_events (02-silver-tables.sql:57-93):
    * standard='nep245' → explode data array → owner columns conditional
    * on mt_transfer vs mt_mint/mt_burn → zip-explode (token_ids,
    * amounts) → amount Float64. tx_hash passes through from bronze. */
  def nep245Events(events: DataFrame, minTimestampNs: Long = 0L): DataFrame = {
    events
      .filter(col("standard") === "nep245" &&
        col("block_timestamp_ns") >= minTimestampNs)
      .withColumn("data_row",
        explode(from_json(col("data"), ArrayType(nep245Item))))
      .select((pass(events) :+ col("tx_hash") :+ col("data_row")): _*)
      .withColumn("memo", coalesce(col("data_row.memo"), lit("")))
      .withColumn("old_owner_id",
        when(col("event") === "mt_transfer", col("data_row.old_owner_id"))
          .otherwise(col("data_row.owner_id")))
      .withColumn("new_owner_id",
        when(col("event") === "mt_transfer", col("data_row.new_owner_id"))
          .otherwise(col("data_row.owner_id")))
      .withColumn("pair", explode(arrays_zip(
        col("data_row.token_ids"), col("data_row.amounts"))))
      .withColumn("token_id", col("pair.token_ids"))
      .withColumn("amount", col("pair.amounts").cast(DoubleType))
      .drop("data_row", "pair")
  }

  /** M2 — silver_dip4_token_diff (02:129-170): prod contracts, dip4
    * token_diff → explode data array → explode diff map → sign-split
    * into positive/negative (token, amount) column pairs. */
  def dip4TokenDiff(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      minTimestampNs: Long = 0L): DataFrame = {
    events
      .filter(col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" && col("event") === "token_diff" &&
        col("block_timestamp_ns") >= minTimestampNs)
      .withColumn("data_row",
        explode(from_json(col("data"), ArrayType(tokenDiffItem))))
      .select((pass(events) :+ col("data_row")): _*)
      .withColumn("account_id", coalesce(col("data_row.account_id"), lit("")))
      .withColumn("intent_hash", coalesce(col("data_row.intent_hash"), lit("")))
      .withColumn("referral", coalesce(col("data_row.referral"), lit("")))
      .select(col("*"),
        explode(col("data_row.diff")).as(Seq("diff_token", "diff_amount")))
      .withColumn("diff_positive_token",
        when(col("diff_amount") >= 0, col("diff_token")).otherwise(""))
      .withColumn("diff_positive_amount",
        when(col("diff_amount") >= 0, col("diff_amount")).otherwise(0.0))
      .withColumn("diff_negative_token",
        when(col("diff_amount") < 0, col("diff_token")).otherwise(""))
      .withColumn("diff_negative_amount",
        when(col("diff_amount") < 0, col("diff_amount")).otherwise(0.0))
      .drop("data_row", "diff_token", "diff_amount")
  }

  /** M3 — silver_dip4_public_keys (02:201-223): payload is a single
    * object (no explode). */
  def dip4PublicKeys(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      minTimestampNs: Long = 0L): DataFrame = {
    events
      .filter(col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" &&
        col("event").isin("public_key_added", "public_key_removed") &&
        col("block_timestamp_ns") >= minTimestampNs)
      .withColumn("obj", from_json(col("data"), publicKeyObj))
      .select((pass(events) :+
        coalesce(col("obj.account_id"), lit("")).as("account_id") :+
        coalesce(col("obj.public_key"), lit("")).as("public_key")): _*)
  }

  /** M4 — silver_dip4_intents_executed (02:254-276). */
  def dip4IntentsExecuted(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      minTimestampNs: Long = 0L): DataFrame = {
    events
      .filter(col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" && col("event") === "intents_executed" &&
        col("block_timestamp_ns") >= minTimestampNs)
      .withColumn("data_row",
        explode(from_json(col("data"), ArrayType(intentsExecutedItem))))
      .select((pass(events) :+
        coalesce(col("data_row.account_id"), lit("")).as("account_id") :+
        coalesce(col("data_row.intent_hash"), lit("")).as("intent_hash")): _*)
  }

  /** M5 — silver_dip4_fee_changed (02:307-329): single-object payload. */
  def dip4FeeChanged(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      minTimestampNs: Long = 0L): DataFrame = {
    events
      .filter(col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" && col("event") === "fee_changed" &&
        col("block_timestamp_ns") >= minTimestampNs)
      .withColumn("obj", from_json(col("data"), feeChangedObj))
      .select((pass(events) :+
        coalesce(col("obj.old_fee"), lit("")).as("old_fee") :+
        coalesce(col("obj.new_fee"), lit("")).as("new_fee")): _*)
  }

  /** Shared body of M6/M7 — dip4 transfer explode (02:365-403): explode
    * data array → explode tokens map (String→String) → amount Float64.
    * No timestamp lower bound (the only MV without one). */
  private def dip4TransferBody(filtered: DataFrame): DataFrame = {
    filtered
      .withColumn("data_row",
        explode(from_json(col("data"), ArrayType(transferItem))))
      .select((passthrough.map(col) :+ col("tx_hash") :+ col("data_row")): _*)
      .withColumn("memo", coalesce(col("data_row.memo"), lit("")))
      .withColumn("old_owner_id", col("data_row.account_id"))
      .withColumn("new_owner_id", col("data_row.receiver_id"))
      .withColumn("intent_hash", coalesce(col("data_row.intent_hash"), lit("")))
      .select(col("*"),
        explode(coalesce(col("data_row.tokens"),
          map().cast(MapType(StringType, StringType))))
          .as(Seq("token_id", "amount_str")))
      .withColumn("amount", col("amount_str").cast(DoubleType))
      .drop("data_row")
  }

  /** M6 — silver_dip4_transfer (production contracts). */
  def dip4Transfer(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig()): DataFrame =
    dip4TransferBody(events.filter(
      col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" && col("event") === "transfer"))

  /** M7 — staging_silver_dip4_transfer (staging-intents.near ONLY; the
    * prod/staging split is CRITICAL — reference CLAUDE.md "Accounts of
    * Interest"). */
  def stagingDip4Transfer(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig()): DataFrame =
    dip4TransferBody(events.filter(
      col("contract_id").isin(accounts.stagingContracts: _*) &&
        col("standard") === "dip4" && col("event") === "transfer"))

  private val transferCols: Seq[String] = passthrough ++ Seq(
    "tx_hash", "memo", "old_owner_id", "new_owner_id", "token_id",
    "amount", "intent_hash")

  /** M8 — silver_transfers view (02:410-435): UNION ALL of prod nep245
    * rows (intent_hash padded '') and prod dip4 transfers. */
  def silverTransfers(
      nep245: DataFrame, dip4: DataFrame,
      accounts: AccountsConfig = AccountsConfig()): DataFrame = {
    val left = nep245
      .filter(col("contract_id").isin(accounts.prodContracts: _*))
      .withColumn("intent_hash", lit(""))
      .select(transferCols.map(col): _*)
    left.unionByName(dip4.select(transferCols.map(col): _*))
  }

  /** M9 — staging_silver_transfers view (02:516-541). */
  def stagingSilverTransfers(
      nep245: DataFrame, stagingDip4: DataFrame,
      accounts: AccountsConfig = AccountsConfig()): DataFrame = {
    val left = nep245
      .filter(col("contract_id").isin(accounts.stagingContracts: _*))
      .withColumn("intent_hash", lit(""))
      .select(transferCols.map(col): _*)
    left.unionByName(stagingDip4.select(transferCols.map(col): _*))
  }

  /** M10 — the explorer's Rust re-implementation of M6 with a referral
    * join (silver_transfers.rs:25-114): attach to every transfer row the
    * FIRST non-empty referral seen for its receipt among token_diff
    * events, keep amount as an exact decimal (the PG NUMERIC path).
    *
    * Spark-first design: dedup the referral side to one row per receipt
    * with row_number over the in-block event order, then left equi-join.
    * The referral relation is derived from the event stream (it grows
    * with the data — unlike the bounded assets dimension), so it is NOT
    * force-broadcast: AQE broadcasts a small filtered batch at runtime
    * and falls back to a shuffle join at scale. The reference's HashMap
    * lookup (silver_transfers.rs:25-114) only ever sees one block, so
    * its in-memory map is bounded — a global broadcast here would not
    * be. */
  def dip4TransfersWithReferral(
      events: DataFrame,
      accounts: AccountsConfig = AccountsConfig()): DataFrame = {
    // Referral map straight from bronze, preserving the reference's
    // iteration order (block, outcome-in-block, log-in-outcome, item):
    // first non-empty referral per receipt wins.
    val referrals = events
      .filter(col("contract_id").isin(accounts.prodContracts: _*) &&
        col("standard") === "dip4" && col("event") === "token_diff")
      .select(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"), col("related_receipt_id"),
        posexplode(from_json(col("data"), ArrayType(tokenDiffItem)))
          .as(Seq("item_pos", "data_row")))
      .filter(col("data_row.referral").isNotNull &&
        col("data_row.referral") =!= "")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("related_receipt_id"))
          .orderBy(col("block_height"), col("receipt_index_in_block"),
            col("index_in_log"), col("item_pos"))))
      .filter(col("rn") === 1)
      .select(col("related_receipt_id"), col("data_row.referral").as("referral"))

    dip4Transfer(events, accounts)
      .withColumn("amount_numeric", col("amount_str").cast(DecimalType(38, 0)))
      .join(referrals, Seq("related_receipt_id"), "left")
  }
}
