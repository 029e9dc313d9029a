package graft.state

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.bronze.BronzeExtractors
import graft.metrics.Metrics
import graft.model.{AccountsConfig, NearModel}

/** Receipt → parent-transaction resolution (SURVEY.md §2.4, T1–T5).
  *
  * NEAR receipts execute 1..N blocks after their parent transaction, so
  * `receipt_id → tx_hash` is a transitive closure over the receipt DAG:
  *
  *  - seed edges: every transaction maps its first receipt_id to its own
  *    hash (reference: extractors/transactions.rs:88-114); transactions
  *    of accounts-of-interest write the MAIN tier, others the POTENTIAL
  *    tier (transactions.rs:133-147),
  *  - propagation edges: an outcome whose receipt is resolved maps all
  *    spawned child receipt_ids to the same tx
  *    (receipts_and_outcomes.rs:186-191,237-252),
  *  - TTL: an entry lives ~50 blocks (900 s Redis EX, config.rs:27-29)
  *    and is refreshed at every propagation hop, so each hop must occur
  *    within `ttlBlocks` of the previous write,
  *  - promotion (T4): a potential entry is promoted to main when an
  *    outcome touching accounts of interest reads it. For resolution
  *    *results* the tiers are equivalent (lookups consult both); we
  *    carry the tier through so metrics/tests can observe promotions.
  *
  * Everything resolves through the one core, [[fixpoint]], under one
  * hop policy (every hop within the TTL, no depth bound): the ingest
  * fold [[foldBatch]], which both runners run once per batch over the
  * carried TTL window plus that batch, and the queries' [[resolve]]
  * over a whole chain slice.
  */
object ReceiptTxResolver {

  /** Seed entries (T2): a transaction maps its first receipt_id to its
    * own hash, MAIN tier iff it touches accounts of interest. */
  def seeds(transactions: DataFrame): DataFrame = transactions
    .filter(col("first_receipt_id").isNotNull)
    .select(
      col("first_receipt_id").as("receipt_id"),
      col("transaction_hash").as("tx_hash"),
      col("of_interest").as("main"),
      col("block_height").as("entry_height"))

  /** Propagation edges (T3): parent receipt (the one this outcome
    * executed) → every spawned receipt, stamped with the block the hop
    * happens in. hop_main models T4 promotion: children written by an
    * outcome that touches accounts of interest land in the MAIN tier
    * regardless of the parent's tier (set_many_receipts vs
    * set_many_potentials, receipts_and_outcomes.rs:186-191,237-252,
    * 258-328). */
  def edges(outcomes: DataFrame, accounts: AccountsConfig): DataFrame =
    outcomes.select(
      col("receipt_id").as("parent_receipt_id"),
      explode(col("receipt_ids")).as("child_receipt_id"),
      col("block_height").as("hop_height"),
      (col("receiver_id").isin(accounts.all: _*) ||
        col("predecessor_id").isin(accounts.all: _*)).as("hop_main"))

  private val coreSchema = StructType.fromDDL(
    "receipt_id STRING, tx_hash STRING, main BOOLEAN, entry_height BIGINT, " +
      "promoted BOOLEAN")

  /** An entry of the in-task closure; `promoted` marks a POTENTIAL-tier
    * parent read by a main-tier hop (T4). */
  private final case class Entry(tx: String, main: Boolean, height: Long,
      promoted: Boolean)

  /** First write wins, deterministically: the least (entry_height,
    * tx_hash, main first, not promoted) — a pick by arrival order would
    * vary with the input's partitioning and feed tx_hash, a primary
    * output column. */
  private def before(a: Entry, b: Entry): Boolean =
    if (a.height != b.height) a.height < b.height
    else if (a.tx != b.tx) a.tx < b.tx
    else if (a.main != b.main) a.main
    else !a.promoted && b.promoted

  /** The resolver core: the receipt → tx closure of `entries`
    * (receipt_id, tx_hash, main, entry_height) over `edges`
    * (parent_receipt_id, child_receipt_id, hop_height, hop_main).
    *
    * Frontier fixpoint: round 0 keeps the first write per receipt among
    * `entries`; each round follows the edges out of the LAST round's new
    * entries only (a parent resolved earlier emitted its children
    * earlier), keeps a hop iff it lies within `ttlBlocks` of its
    * parent's write (the per-hop Redis refresh), skips receipts already
    * resolved and first-writes the rest, until a round adds nothing.
    * That ends: a receipt enters the resolved set once, so the rounds
    * are bounded by the number of receipts.
    *
    * Entries and edges are unioned into one relation, coalesced to one
    * partition, and the fixpoint runs in a hash map inside that one
    * task, so the closure costs one Spark job whatever the chain depth,
    * not one job (~50 ms of driver constant) per round. The task holds
    * O(entries + edges): on the streaming path, the carried TTL window
    * plus the batch's edges. The result, (receipt_id, tx_hash, main,
    * entry_height, promoted) with one row per resolved receipt, is
    * checkpointed once. Its counters ride whatever action the caller
    * runs (observe = zero extra jobs): entries by tier plus T4
    * promotions — the reference's cache promotion metric
    * (indexer-common/src/metrics.rs:36-88). */
  def fixpoint(entries: DataFrame, edges: DataFrame,
      ttlBlocks: Long): DataFrame = {
    // a null tier reads as potential; rows without a key or target
    // cannot resolve anything
    val input = entries.select(col("receipt_id").as("k"),
        col("tx_hash").as("v"), coalesce(col("main"), lit(false)).as("m"),
        col("entry_height").as("h"), lit(false).as("edge"))
      .unionByName(edges.select(col("parent_receipt_id").as("k"),
        col("child_receipt_id").as("v"),
        coalesce(col("hop_main"), lit(false)).as("m"),
        col("hop_height").as("h"), lit(true).as("edge")))
      .filter(col("k").isNotNull && col("v").isNotNull)
    val resolved = input.coalesce(1)
      .mapPartitions(rows => closure(rows, ttlBlocks)
        .map { case (id, e) => Row(id, e.tx, e.main, e.height, e.promoted) }
      )(Encoders.row(coreSchema))
      .localCheckpoint()
    Metrics.observedAgg(resolved, "resolver",
      count(lit(1)).as("resolver_entries_total"),
      coalesce(sum(when(col("main"), 1L)), lit(0L))
        .as("resolver_main_total"),
      coalesce(sum(when(col("promoted"), 1L)), lit(0L))
        .as("resolver_promoted_total"))
  }

  private def closure(rows: Iterator[Row],
      ttlBlocks: Long): Iterator[(String, Entry)] = {
    val resolved = mutable.HashMap.empty[String, Entry]
    val children =
      mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, Boolean, Long)]]
    def offer(to: mutable.HashMap[String, Entry], id: String, e: Entry): Unit =
      if (to.get(id).forall(before(e, _))) to(id) = e
    rows.foreach { r =>
      if (r.getBoolean(4))
        children.getOrElseUpdate(r.getString(0), mutable.ArrayBuffer.empty) +=
          ((r.getString(1), r.getBoolean(2), r.getLong(3)))
      else offer(resolved, r.getString(0),
        Entry(r.getString(1), r.getBoolean(2), r.getLong(3), promoted = false))
    }
    var frontier: collection.Map[String, Entry] = resolved.clone()
    while (frontier.nonEmpty) {
      val next = mutable.HashMap.empty[String, Entry]
      for ((parent, e) <- frontier;
           (child, hopMain, hopHeight) <- children.getOrElse(parent, Nil)
           if hopHeight >= e.height && hopHeight - e.height <= ttlBlocks &&
             !resolved.contains(child))
        offer(next, child,
          Entry(e.tx, e.main || hopMain, hopHeight, hopMain && !e.main))
      resolved ++= next
      frontier = next
    }
    resolved.iterator
  }

  /** @param transactions output of BronzeExtractors.transactions
    *                     (needs first_receipt_id, of_interest)
    * @param outcomes     output of BronzeExtractors.outcomes
    * @return (receipt_id, tx_hash, main: Boolean, entry_height) — one
    *         row per resolvable receipt, earliest write wins.
    */
  def resolve(
      transactions: DataFrame,
      outcomes: DataFrame,
      ttlBlocks: Long = NearModel.TtlBlocks,
      accounts: AccountsConfig = AccountsConfig()): DataFrame =
    fixpoint(seeds(transactions), edges(outcomes, accounts), ttlBlocks)
      .drop("promoted")

  /** Columns of the resolver state a fold carries between batches and
    * the runners persist as `resolver_state`. */
  val stateCols: Seq[String] =
    Seq("receipt_id", "tx_hash", "main", "entry_height")

  def emptyState(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Boolean, Long)].toDF(stateCols: _*)
  }

  /** One batch of the ingest fold — the reference's Redis cache
    * (indexer-common/src/cache/redis.rs:5-202) as a micro-batch fold,
    * state ⊕ batch = state′, events(batch):
    *
    *  1. the batch's transactions seed their first receipts (T2),
    *  2. [[fixpoint]] over carry ∪ seeds and the batch's edges (T3),
    *  3. TTL: the carry keeps entries at most `ttlBlocks` below
    *     `maxHeight`, the batch's newest block height (the `SET ... EX`
    *     expiry),
    *  4. the batch's events resolve against the lookup, TTL per row,
    *     unresolved dropped (T5 warn-and-drop).
    *
    * The batch sees only its own blocks' rows (the CH-MV visibility
    * contract, SURVEY §7.4 hazard 3) plus `state` (the [[stateCols]]).
    *
    * Returns (carry, lookup, events). The lookup is the untrimmed
    * post-fixpoint entry set the batch's own rows resolve against,
    * each at its own height (the `entryLive` contract of
    * [[attachTxHash]]): the max-height trim of the carry is safe for
    * later batches, whose rows are all higher, but an early block of a
    * multi-block batch would miss entries it expired. The carry is not
    * checkpointed: a narrow filter over the checkpointed lookup, so its
    * consumers (the state write, the next batch's fixpoint) recompute
    * only the filter. It keeps the lookup's checkpoint blocks alive
    * into the next batch, so nothing may unpersist the lookup while
    * the carry is live. */
  def foldBatch(state: DataFrame, blocks: DataFrame,
      accounts: AccountsConfig, ttlBlocks: Long,
      maxHeight: Long): (DataFrame, DataFrame, DataFrame) = {
    val outs = BronzeExtractors.outcomes(blocks)
    // carried entries precede the batch's seeds in first-write order
    // (lower heights), so existing state wins, and the first round's
    // frontier is the full carry ∪ seeds (parents resolved in earlier
    // batches count)
    val lookup = fixpoint(
      state.select(stateCols.map(col): _*)
        .unionByName(seeds(BronzeExtractors.transactions(blocks, accounts))),
      edges(outs, accounts), ttlBlocks)
      .select(stateCols.map(col): _*)
    val carry = lookup.filter(col("entry_height") >= maxHeight - ttlBlocks)
    val events = attachTxHash(BronzeExtractors.eventRows(outs, accounts),
      lookup, ttlBlocks = ttlBlocks)
    (carry, lookup, events)
  }

  /** An entry is readable at `atHeight` only while its TTL holds —
    * the Redis `SET ... EX` expiry seen by lookups (T1). Without this,
    * the batch path would resolve receipts the reference's (and the
    * streaming twin's) expired cache would miss. */
  private def entryLive(atHeight: Column, ttlBlocks: Long): Column =
    atHeight >= col("entry_height") &&
      atHeight - col("entry_height") <= ttlBlocks

  /** Attach tx_hash to event rows; `dropUnresolved=true` reproduces the
    * reference's warn-and-drop policy (T5, events.rs:206-213), false
    * keeps NULL tx_hash (schema allows it; ≤5% gate in validate.sh:129).
    * Entries expired at the event's block resolve as unresolved. */
  def attachTxHash(
      eventRows: DataFrame,
      resolved: DataFrame,
      dropUnresolved: Boolean = true,
      ttlBlocks: Long = NearModel.TtlBlocks): DataFrame = {
    val mapping = resolved.select(
      col("receipt_id").as("related_receipt_id"),
      col("tx_hash").as("__tx"), col("entry_height"))
    val joined = eventRows.join(mapping, Seq("related_receipt_id"), "left")
      .withColumn("tx_hash",
        when(entryLive(col("block_height"), ttlBlocks), col("__tx")))
      .drop("__tx", "entry_height")
    // Observed BEFORE the drop filter so unresolved (missed/expired)
    // lookups are counted even in warn-and-drop mode — the reference's
    // cache-miss counter on the same path (events.rs:206-213).
    val obs = Metrics.observedAgg(joined, "resolver_lookup",
      count(lit(1)).as("resolver_lookups_total"),
      coalesce(sum(when(col("tx_hash").isNull, 1L)), lit(0L))
        .as("resolver_unresolved_total"))
    if (dropUnresolved) obs.filter(col("tx_hash").isNotNull) else obs
  }

  /** Attach parent_transaction_hash to receipt/outcome rows; unresolved
    * (or TTL-expired at the row's block) keep '' (ClickHouse non-null
    * String default — SURVEY §1.3). */
  def attachParentTx(rows: DataFrame, resolved: DataFrame,
      ttlBlocks: Long = NearModel.TtlBlocks): DataFrame = {
    val mapping = resolved.select(
      col("receipt_id").as("__rid"), col("tx_hash").as("__tx"),
      col("entry_height"))
    rows.join(mapping, rows("receipt_id") === col("__rid"), "left")
      .withColumn("parent_transaction_hash",
        coalesce(when(entryLive(rows("block_height"), ttlBlocks),
          col("__tx")), lit("")))
      .drop("__rid", "__tx", "entry_height")
  }
}
