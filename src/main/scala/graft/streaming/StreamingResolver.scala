package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bronze.BronzeExtractors
import graft.model.{AccountsConfig, NearModel}
import graft.state.ReceiptTxResolver

/** Streaming fold of the receipt → tx resolver — the incremental,
  * block-at-a-time semantics of the reference's Redis cache
  * (indexer-common/src/cache/redis.rs:5-202), expressed as a
  * micro-batch fold:
  *
  *   state ⊕ batch = state′ (seed + propagate + TTL-expire), events(batch)
  *
  * Each micro-batch sees ONLY its own blocks' rows (the CH-MV
  * visibility contract, SURVEY §7.4 hazard 3) plus the carried state
  * table (receipt_id, tx_hash, main, entry_height):
  *
  *  1. seeds: the batch's transactions map their first receipt_id to
  *     their own hash (T2; main tier iff accounts-of-interest),
  *  2. propagation to fixpoint within the batch: outcomes whose receipt
  *     is in state′ map all spawned receipt_ids to the same tx, stamped
  *     at the hop's height (T3 — the Redis refresh-on-hop),
  *  3. TTL: entries older than `ttlBlocks` are dropped (the Redis
  *     `SET ... EX` expiry, 900 s ≈ 50 blocks),
  *  4. the batch's events resolve against state′; unresolved → dropped
  *     (T5 warn-and-drop policy).
  *
  * Steps 1–2 are the resolver core,
  * [[graft.state.ReceiptTxResolver.fixpoint]], run over carry ∪ seeds
  * with no hop bound: one Spark job per micro-batch whatever the chain
  * depth, in one task holding O(carried TTL window + the batch's
  * edges). The state table is the co-located Spark-native replacement
  * for the reference's per-lookup Redis network hop: checkpointed per
  * batch and bounded by the TTL (old entries retire every batch), so it
  * stays O(receipts in the last 50 blocks) regardless of stream length.
  */
object StreamingResolver {

  val stateCols: Seq[String] =
    Seq("receipt_id", "tx_hash", "main", "entry_height")

  def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Boolean, Long)]
      .toDF(stateCols: _*)
  }

  /** Fold one micro-batch (a DataFrame of Block rows — one block in
    * ordering-test mode, many in throughput mode) into the state;
    * returns (state′, resolved events). */
  def processBatch(
      state: DataFrame,
      batchBlocks: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): (DataFrame, DataFrame) = {
    val (carry, _, events) =
      processBatchFull(state, batchBlocks, accounts, ttlBlocks)
    (carry, events)
  }

  /** [[processBatch]] also returning the LOOKUP state: the untrimmed
    * post-fixpoint entry set this batch's own rows must resolve
    * against, with TTL applied PER ROW (each row sees entries live at
    * its own height — the `entryLive` contract of `attachTxHash`). The
    * carried state is trimmed relative to the batch's newest height,
    * which is safe for the FUTURE (the next batch's rows are all
    * higher) but wrong for lookups inside a multi-block batch: an
    * early block's receipt would miss entries the trim already
    * expired at the batch's max height. Single-block batches can't
    * tell the difference — per-row TTL at the one height ≡ the trim.
    *
    * @param maxHeightHint the batch's max block height when the caller
    *        already computed it (the runner aggregates min/max for its
    *        own spans) — saves one aggregation job per micro-batch;
    *        None falls back to computing it here. */
  def processBatchFull(
      state: DataFrame,
      batchBlocks: DataFrame,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks,
      maxHeightHint: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {

    val txs = BronzeExtractors.transactions(batchBlocks, accounts)
    val outs = BronzeExtractors.outcomes(batchBlocks)

    // lookup state: untrimmed — each row applies its own TTL below.
    // Carried entries precede this batch's seeds in first-write order
    // (lower heights), so existing state wins, and the first round's
    // frontier is the FULL carry ∪ seeds (parents resolved in prior
    // batches count).
    val lookup = ReceiptTxResolver.fixpoint(
      state.select(stateCols.map(col): _*)
        .unionByName(ReceiptTxResolver.seeds(txs)),
      ReceiptTxResolver.edges(outs, accounts), ttlBlocks, Int.MaxValue)
      .select(stateCols.map(col): _*)

    // carry state: TTL expiry relative to the newest height in this
    // batch (a conservative superset of what any FUTURE row can see).
    // NOT checkpointed: it is a one-level narrow filter over the
    // checkpointed fixpoint, so every consumer (the state-table write,
    // the next batch's fixpoint) recomputes only the filter on top of
    // its checkpoint blocks.
    //
    // CROSS-BATCH LIVENESS: because carry is lazy over THIS batch's
    // `lookup`, the caller's state var (StreamRunner's `state`)
    // keeps referencing these checkpoint blocks into the NEXT
    // micro-batch, until that batch's own fixpoint lands. Nothing may
    // unpersist `lookup` while carry is live.
    val maxHeight = maxHeightHint.getOrElse(batchBlocks
      .agg(max(col("header.height"))).collect()(0).getLong(0))
    val carry = lookup
      .filter(col("entry_height") >= maxHeight - ttlBlocks)

    // per-row TTL + warn-and-drop, the same shared path the batch
    // resolver uses (T5)
    val events = ReceiptTxResolver.attachTxHash(
      BronzeExtractors.eventRows(outs, accounts), lookup,
      ttlBlocks = ttlBlocks)

    (carry, lookup, events)
  }
}
