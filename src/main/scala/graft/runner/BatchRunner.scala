package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bronze.BronzeExtractors
import graft.model.{AccountsConfig, NearModel}
import graft.silver.SilverTransforms
import graft.sink.ParquetSink
import graft.sources.BlockFileSource
import graft.state.ReceiptTxResolver

/** The product path end-to-end (reference:
  * indexer-clickhouse/src/main.rs + handlers/mod.rs:66-139): resume
  * from the sink, read new blocks, extract bronze, resolve receipts
  * against a PERSISTED state window, write the four bronze tables and
  * the silver tables.
  *
  * Resolution state across runs: instead of the reference's external
  * Redis, the resolver's inputs (tx seeds, outcome edges) are
  * themselves warehouse tables; a restart replays only the last
  * `ttlBlocks` of them — exactly the reference's "warm the cache ~20
  * blocks before the range" procedure, made deterministic. State reads
  * prune height-bucket PARTITIONS (readFinalSince) and each run drops
  * the buckets its TTL can never read again, so both the replayed
  * slice and the stored state stay O(TTL window) regardless of chain
  * length.
  */
object BatchRunner {

  final case class RunSummary(fromHeight: Option[Long], toHeight: Long,
      nBlocks: Long, nEvents: Long, nTransactions: Long, nReceipts: Long,
      nOutcomes: Long)

  private val eventsPk = Seq("related_receipt_id", "index_in_log")

  /** Write-side CLUSTERING keys for the silver MV tables (row-group
    * locality, the prefix of the reference's ORDER BY). Dedup is NOT by
    * these keys: silver rows have no natural unique key in the written
    * schema — one intent legitimately emits several per-token diff rows
    * sharing the reference's full ORDER BY (02-silver-tables.sql:125) —
    * so the read side uses [[ParquetSink.readFinalWholeRow]]: replayed
    * batches collapse, distinct legs survive (a deliberate divergence
    * from ClickHouse FINAL, which would drop them). */
  val silverClusterKeys: Seq[String] = Seq("block_height", "related_receipt_id")

  /** The product tables and their dedup mode — Some(pk) = keyed FINAL,
    * None = whole-row (silver MV). The ONE registry compaction and the
    * parity suites iterate, so adding a table or changing a key happens
    * in exactly one place. */
  val productTables: Seq[(String, Option[Seq[String]])] = Seq(
    "transactions" -> Some(Seq("transaction_hash")),
    "receipts" -> Some(Seq("receipt_id")),
    "execution_outcomes" -> Some(Seq("execution_outcome_id")),
    "events" -> Some(Seq("related_receipt_id", "index_in_log")),
    "silver_nep245" -> None,
    "silver_token_diff" -> None,
    "silver_public_keys" -> None,
    "silver_intents_executed" -> None,
    "silver_fee_changed" -> None,
    "silver_transfer" -> None,
    "silver_staging_transfer" -> None,
    "gold_block_rollup" -> Some(Seq("block_height", "token_id")))

  /** Current daily totals of the incremental gold rollup: keyed FINAL
    * over the block-grain MV rows (replays absorbed like any product
    * table), then a read-time day rollup over O(blocks x tokens)
    * pre-aggregated rows — never the fact table. See
    * [[graft.gold.GoldViews.blockTransferRollup]] for why the grain is
    * per block, not per day. */
  def goldDailyFinal(spark: SparkSession, warehouse: String): DataFrame =
    tableFinal(spark, warehouse, "gold_block_rollup",
      Seq("block_height", "token_id"))
      .groupBy(col("epoch_day"), col("token_id"))
      .agg(sum(col("amount_sum_dec")).as("amount_sum_dec"),
        sum(col("n_transfers")).as("n_transfers"))

  /** The FULL silver MV cascade (M1–M7): every MV table the reference's
    * ClickHouse schema materializes on an events insert
    * (02-silver-tables.sql; M8/M9 are union VIEWS over these, M10 joins
    * the referral dim at read time). ONE function both runners call, so
    * the streaming and batch warehouses write the identical table set
    * and the parity suite covers all of them via [[productTables]].
    * Each MV fires on the inserted batch only — incremental by
    * construction, like the ClickHouse originals. */
  def writeSilverCascade(events: DataFrame, accounts: AccountsConfig,
      warehouse: String, seq: Long): Unit = {
    val nep245 = SilverTransforms.nep245Events(events)
    // The 8 cascade writes have NO inter-table ordering constraint
    // (the runner-level contract orders only resolver STATE after the
    // event-derived tables and transactions last): each is an
    // idempotent PK-FINAL insert, and a crash leaving any SUBSET
    // written replays the batch into the same keys. So submit them
    // CONCURRENTLY — the reference's own sinks write async under
    // tokio, and on a small micro-batch the serialized form pays 8×
    // Spark job latency for work the scheduler could overlap (cascade
    // ingest measured 16.7 → ~25 blocks/s from this overlap alone).
    // Every job still runs on the session's shared scheduler; per-write
    // failures surface via Await (first failure fails the batch before
    // the checkpoint commits, exactly as the serial form did).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq[(String, Seq[String], () => DataFrame)](
      ("gold_block_rollup", Seq("block_height", "token_id"),
        // incremental gold rollup at the replay-atomic (block, token)
        // grain — resume-overlap replays rewrite identical rows and
        // keyed FINAL absorbs them (see GoldViews.blockTransferRollup)
        () => graft.gold.GoldViews.blockTransferRollup(nep245)),
      ("silver_nep245", silverClusterKeys, () => nep245),
      ("silver_token_diff", silverClusterKeys,
        () => SilverTransforms.dip4TokenDiff(events, accounts)),
      ("silver_public_keys", silverClusterKeys,
        () => SilverTransforms.dip4PublicKeys(events, accounts)),
      ("silver_intents_executed", silverClusterKeys,
        () => SilverTransforms.dip4IntentsExecuted(events, accounts)),
      ("silver_fee_changed", silverClusterKeys,
        () => SilverTransforms.dip4FeeChanged(events, accounts)),
      ("silver_transfer", silverClusterKeys,
        () => SilverTransforms.dip4Transfer(events, accounts)),
      ("silver_staging_transfer", silverClusterKeys,
        () => SilverTransforms.stagingDip4Transfer(events, accounts)))
    // span parent captured HERE: the Futures run on pool threads that
    // inherit neither the trace stack nor Spark's local properties
    val ctx = graft.metrics.Tracing.context()
    val running = writes.map { case (name, keys, df) =>
      Future(graft.metrics.Tracing.spanIn(ctx, s"insert_${name}_to_db") {
        ParquetSink.writeBatch(df(), s"$warehouse/$name", seq, keys)
      })
    }
    // Await ALL writes before propagating the first failure (ADVICE
    // r10): failing fast on write k would leave jobs k+1…8 running as
    // zombies past the batch's failure boundary, racing the replayed
    // batch into the same tables. The PK-FINAL replay contract absorbs
    // such duplicates, but a failed batch should still return only
    // after every cascade job has terminated.
    val outcomes = running.map(f =>
      scala.util.Try(Await.result(f, Duration.Inf)))
    outcomes.foreach(_.get) // rethrows the first failure, if any
  }

  /** Process every block in `blocksDir` newer than the sink's resume
    * height; returns None when there is nothing new. */
  def run(spark: SparkSession, blocksDir: String, warehouse: String,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): Option[RunSummary] = {

    // S3 resume: the reference reads max(block_height) from the
    // transactions table (indexer-clickhouse/src/database.rs:15-39)
    val resume = ParquetSink.lastHeight(spark, s"$warehouse/transactions")
    val all = BlockFileSource.readBlocks(spark, blocksDir)
    // one materialized read of the (possibly remote) block files; every
    // downstream branch reads the checkpoint, not the source
    val blocks = (resume match {
      case Some(h) => all.filter(col("header.height") > h)
      case None => all
    }).localCheckpoint()
    if (blocks.isEmpty) return None
    val agg0 = blocks
      .agg(min(col("header.height")), max(col("header.height")),
        count(lit(1))).collect()(0)
    val (fromNew, toHeight, nBlocks) =
      (agg0.getLong(0), agg0.getLong(1), agg0.getLong(2))

    val txs = BronzeExtractors.transactions(blocks, accounts)
      .localCheckpoint()
    val outs = BronzeExtractors.outcomes(blocks).localCheckpoint()

    // persist this batch's resolver inputs, then resolve over the
    // TTL-window slice of the full state history
    val seedsProj = txs.select(col("block_height"), col("block_timestamp_ns"),
      col("block_hash"), col("transaction_hash"), col("signer_id"),
      col("receiver_id"), col("actions"), col("first_receipt_id"),
      col("of_interest"))
    ParquetSink.writeBatch(seedsProj,
      s"$warehouse/state_seeds", toHeight, Seq("transaction_hash"))
    val edgesProj = outs.select(col("block_height"), col("receipt_id"),
      col("receiver_id"), col("predecessor_id"), col("receipt_ids"))
    ParquetSink.writeBatch(edgesProj,
      s"$warehouse/state_edges", toHeight, Seq("receipt_id"))

    // Replay window: state that could still matter for the OLDEST new
    // block. Expiry within the resolve is the resolver's own per-hop
    // TTL check — this bound only caps how much history is re-read.
    // readFinalSince prunes to the window's height-bucket PARTITIONS,
    // so the scan is O(TTL window) regardless of chain length. A state
    // table with no data files yet (a first batch carrying no
    // transactions/outcomes writes nothing) reads as empty — parquet
    // schema inference cannot.
    val minStateHeight = fromNew - ttlBlocks
    val seedState =
      if (ParquetSink.hasData(s"$warehouse/state_seeds"))
        ParquetSink.readFinalSince(spark,
          s"$warehouse/state_seeds", Seq("transaction_hash"), minStateHeight)
      else seedsProj.limit(0)
    val edgeState =
      if (ParquetSink.hasData(s"$warehouse/state_edges"))
        ParquetSink.readFinalSince(spark,
          s"$warehouse/state_edges", Seq("receipt_id"), minStateHeight)
      else edgesProj.limit(0)
    val resolved = ReceiptTxResolver.resolve(
      seedState, edgeState, ttlBlocks, accounts = accounts)

    // bronze tables
    val txRows = txs.filter(col("of_interest"))
      .drop("first_receipt_id", "of_interest")

    val ofInt = BronzeExtractors.outcomesOfInterest(outs, accounts)
    // inserts write with AQE off, where a broadcast of the resolver
    // output would cost its own collect job ahead of each write
    val resolvedShuffled = resolved.hint("shuffle_hash")
    val receiptRows = ReceiptTxResolver.attachParentTx(
      BronzeExtractors.receiptRows(ofInt), resolvedShuffled, ttlBlocks)
    ParquetSink.writeBatch(receiptRows, s"$warehouse/receipts", toHeight,
      Seq("receipt_id"))
    val outcomeRows = ReceiptTxResolver.attachParentTx(
      BronzeExtractors.executionOutcomeRows(ofInt), resolvedShuffled,
      ttlBlocks)
    ParquetSink.writeBatch(outcomeRows, s"$warehouse/execution_outcomes",
      toHeight, Seq("execution_outcome_id"))

    val events = ReceiptTxResolver.attachTxHash(
      BronzeExtractors.eventRows(outs, accounts), resolved,
      ttlBlocks = ttlBlocks)
      .localCheckpoint()
    ParquetSink.writeBatch(events, s"$warehouse/events", toHeight, eventsPk)

    // silver: the FULL MV cascade fires on the inserted batch only
    // (whole-row dedup on read — see silverClusterKeys)
    writeSilverCascade(events, accounts, warehouse, toHeight)

    // The transactions table is the RESUME MARKER (lastHeight reads it),
    // so it commits LAST: a crash anywhere above leaves the resume point
    // untouched and the whole batch is re-processed idempotently
    // (FINAL dedup absorbs the re-inserts).
    ParquetSink.writeBatch(txRows, s"$warehouse/transactions", toHeight,
      Seq("transaction_hash"))

    // Summary counts materialize BEFORE the trim — receipt/outcome rows
    // re-derive from the state-window reads the trim is about to prune.
    val summary = RunSummary(resume, toHeight, nBlocks, events.count(),
      txRows.count(), receiptRows.count(), outcomeRows.count())

    // Retention: the NEXT run replays from (toHeight+1) - ttl at the
    // earliest, so state partitions strictly below that bound can never
    // be read again — drop them (partition-level, no rewrite). Runs
    // after the commit point: a crash before this re-trims next run.
    val retainFrom = toHeight + 1 - ttlBlocks
    ParquetSink.dropBucketsBelow(s"$warehouse/state_seeds", retainFrom)
    ParquetSink.dropBucketsBelow(s"$warehouse/state_edges", retainFrom)

    Some(summary)
  }

  /** FINAL view of a warehouse table (read path for every consumer;
    * recovers first, so a crash inside a compaction swap never hides
    * the table from readers). */
  def tableFinal(spark: SparkSession, warehouse: String, name: String,
      pk: Seq[String]): DataFrame = {
    ParquetSink.recoverSwap(s"$warehouse/$name")
    ParquetSink.readFinal(spark.read.parquet(s"$warehouse/$name"), pk)
      .drop("insert_seq", "height_bucket")
  }

  /** FINAL view of a silver MV table: whole-row dedup (replay
    * idempotence without collapsing legitimate same-key rows). */
  def silverFinal(spark: SparkSession, warehouse: String,
      name: String): DataFrame = {
    ParquetSink.recoverSwap(s"$warehouse/$name")
    ParquetSink.readFinalWholeRow(spark.read.parquet(s"$warehouse/$name"))
      .drop("insert_seq", "height_bucket")
  }

  /** On-demand merge of every product table — the background merge the
    * reference delegates to ClickHouse's ReplacingMergeTree, run
    * between ingest cycles (single-writer window; readers racing the
    * swap follow the [[ParquetSink.replaceSnapshot]] retry contract).
    * Bronze tables compact on their PK, silver MV tables on the full
    * row; resume semantics are untouched (block_height survives, and
    * lastHeight still probes the max bucket). */
  def compactWarehouse(spark: SparkSession, warehouse: String): Unit =
    productTables.foreach { case (name, pk) =>
      if (ParquetSink.hasData(s"$warehouse/$name")) pk match {
        case Some(k) => ParquetSink.compact(spark, s"$warehouse/$name", k)
        case None => ParquetSink.compactWholeRow(spark, s"$warehouse/$name",
          silverClusterKeys)
      }
    }
}
