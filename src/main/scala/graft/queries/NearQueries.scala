package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.bronze.BronzeExtractors
import graft.silver.SilverTransforms
import graft.gold.GoldViews
import graft.state.ReceiptTxResolver
import graft.fixtures.NearFixtures
import graft.sink.ParquetSink

/** Declared queries exercising the NEAR layer end-to-end over the
  * deterministic fixture corpus ([[NearFixtures]]; the sfDir argument is
  * unused — the fixture IS the input, embedded identically in the DuckDB
  * oracles as VALUES).
  *
  * Bronze queries run the REAL pipeline (blocks → extraction → receipt
  * resolution) and are checked against the pinned expected rows; silver/
  * gold queries start from those pinned bronze rows and are checked
  * against independent DuckDB JSON SQL re-implementations of M1-M10 and
  * G1-G8 — a cross-engine differential test of the transform logic.
  */
object NearQueries {

  private val acc = NearFixtures.accounts

  private def blocksDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    spark.createDataset(NearFixtures.blocks).toDF()
  }

  /** The pinned bronze events (input of the silver layer). */
  def eventsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    spark.createDataset(NearFixtures.expectedEvents).toDF()
  }

  private def assetsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    spark.createDataset(NearFixtures.assetRows).toDF()
  }

  private def resolved(spark: SparkSession): DataFrame = {
    val b = blocksDf(spark)
    ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(b, acc),
      BronzeExtractors.outcomes(b))
  }

  // ------------------------------------------------------------- bronze

  def bronzeEvents(spark: SparkSession, dir: String): DataFrame = {
    val b = blocksDf(spark)
    val outs = BronzeExtractors.outcomes(b)
    val ev = BronzeExtractors.eventRows(outs, acc)
    ReceiptTxResolver.attachTxHash(ev, resolved(spark), dropUnresolved = true)
      .select(NearFixtures.eventCols.map(col): _*)
      .orderBy(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"))
  }

  def bronzeTransactions(spark: SparkSession, dir: String): DataFrame =
    BronzeExtractors.transactionRows(blocksDf(spark), acc)
      .orderBy(col("transaction_hash"))

  def bronzeReceipts(spark: SparkSession, dir: String): DataFrame = {
    val outs = BronzeExtractors.outcomes(blocksDf(spark))
    val rows = BronzeExtractors.receiptRows(
      BronzeExtractors.outcomesOfInterest(outs, acc))
    ReceiptTxResolver.attachParentTx(rows, resolved(spark))
      .select(col("block_height"), col("block_timestamp_ns"),
        col("block_hash"), col("parent_transaction_hash"), col("receipt_id"),
        col("receiver_id"), col("predecessor_id"), col("actions"))
      .orderBy(col("receipt_id"))
  }

  /** The `receipt_ids Array(String)` column is serialized to a
    * comma-joined string for the compare surface (the driver's pandas
    * sort cannot hash arrays); order-sensitive, matching the reference's
    * own checksum normalization (cross-validate.sh:268). */
  def bronzeOutcomes(spark: SparkSession, dir: String): DataFrame = {
    val outs = BronzeExtractors.outcomes(blocksDf(spark))
    val rows = BronzeExtractors.executionOutcomeRows(
      BronzeExtractors.outcomesOfInterest(outs, acc))
    ReceiptTxResolver.attachParentTx(rows, resolved(spark))
      .select(col("block_height"), col("block_timestamp_ns"),
        col("block_hash"), col("parent_transaction_hash"), col("executor_id"),
        concat_ws(",", col("receipt_ids")).as("receipt_ids"), col("status"),
        col("logs"), col("tokens_burnt"), col("gas_burnt"),
        col("execution_outcome_id"), col("receipt_id"))
      .orderBy(col("execution_outcome_id"))
  }

  def resolver(spark: SparkSession, dir: String): DataFrame =
    resolved(spark)
      .select(col("receipt_id"), col("tx_hash"), col("main"),
        col("entry_height"))
      .orderBy(col("receipt_id"))

  // ------------------------------------------------------------- silver

  def m1Nep245(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.nep245Events(eventsDf(spark))
      .orderBy(col("related_receipt_id"), col("event"), col("token_id"),
        col("old_owner_id"))

  def m2TokenDiff(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4TokenDiff(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("intent_hash"),
        col("diff_positive_token"), col("diff_negative_token"))

  def m3PublicKeys(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4PublicKeys(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("event"), col("public_key"))

  def m4IntentsExecuted(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4IntentsExecuted(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("account_id"),
        col("intent_hash"))

  def m5FeeChanged(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4FeeChanged(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("old_fee"))

  def m6Transfer(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4Transfer(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("intent_hash"), col("token_id"))

  def m7StagingTransfer(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.stagingDip4Transfer(eventsDf(spark), acc)
      .orderBy(col("related_receipt_id"), col("intent_hash"), col("token_id"))

  def m8Transfers(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsDf(spark)
    SilverTransforms.silverTransfers(
      SilverTransforms.nep245Events(ev),
      SilverTransforms.dip4Transfer(ev, acc), acc)
      .orderBy(col("related_receipt_id"), col("event"), col("token_id"),
        col("old_owner_id"))
  }

  def m9StagingTransfers(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsDf(spark)
    SilverTransforms.stagingSilverTransfers(
      SilverTransforms.nep245Events(ev),
      SilverTransforms.stagingDip4Transfer(ev, acc), acc)
      .orderBy(col("related_receipt_id"), col("event"), col("token_id"))
  }

  /** amount_numeric (DecimalType(38,0), the PG-NUMERIC exact path) is
    * projected as its canonical string on the compare surface — 38-digit
    * decimals are exactly where Spark's and DuckDB's HUGEINT/decimal
    * renderings diverge in the driver's value hash. The decimal column
    * itself stays on [[SilverTransforms.dip4TransfersWithReferral]] for
    * consumers; its exact-vs-Float64 relationship is proven separately by
    * near_v_tolerance (V11). */
  def m10Referral(spark: SparkSession, dir: String): DataFrame =
    SilverTransforms.dip4TransfersWithReferral(eventsDf(spark), acc)
      .select(col("block_height"), col("block_timestamp_ns"),
        col("block_hash"), col("contract_id"), col("execution_status"),
        col("version"), col("standard"), col("event"),
        col("related_receipt_id"), col("related_receipt_receiver_id"),
        col("related_receipt_predecessor_id"), col("tx_hash"), col("memo"),
        col("old_owner_id"), col("new_owner_id"), col("intent_hash"),
        col("token_id"), col("amount_str"), col("amount"),
        col("amount_numeric").cast("string").as("amount_numeric"),
        col("referral"))
      .orderBy(col("related_receipt_id"), col("intent_hash"), col("token_id"))

  // ----------------------------------------------------------------- sink

  private val eventPk = Seq("related_receipt_id", "index_in_log")

  /** K1/K2/K4 round trip: append the bronze events TWICE (the
    * duplicate re-insert ReplacingMergeTree absorbs), read back through
    * FINAL dedup → exactly the original rows (oracle: the same pinned
    * VALUES as near_bronze_events). */
  def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = ParquetSink.scratchDir("events_rt")
    val ev = eventsDf(spark)
    ParquetSink.writeBatch(ev, path, 0L, eventPk)
    ParquetSink.writeBatch(ev, path, 1L, eventPk)
    ParquetSink.readFinal(spark.read.parquet(path), eventPk)
      .select(NearFixtures.eventCols.map(col): _*)
      .orderBy(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"))
  }

  /** K2 TIME TRAVEL (`ParquetSink.readAsOf`): seq 0 writes the
    * original events, seq 1 overwrites the `event` payload of the
    * index_in_log = 0 rows, then the table is COMPACTED (survivors
    * keep their version stamps). Returns the pin-0 image read BEFORE
    * compaction stacked on the pin-1 image read AFTER it — proving a
    * pre-overwrite pin sees only originals, and the latest pin keeps
    * resolving across the merge. The pin-0 frame is checkpointed
    * before compact() swaps the files out from under its lazy scan. */
  def readAsOf(spark: SparkSession, dir: String): DataFrame = {
    val path = ParquetSink.scratchDir("events_asof")
    val ev = eventsDf(spark)
    ParquetSink.writeBatch(ev, path, 0L, eventPk)
    ParquetSink.writeBatch(
      ev.filter(col("index_in_log") === 0L)
        .withColumn("event", lit("mutated")),
      path, 1L, eventPk)
    val pin0 = ParquetSink.readAsOf(spark.read.parquet(path), eventPk, 0L)
      .select(NearFixtures.eventCols.map(col): _*)
      .localCheckpoint()
    ParquetSink.compact(spark, path, eventPk)
    val pin1 = ParquetSink.readAsOf(spark.read.parquet(path), eventPk, 1L)
      .select(NearFixtures.eventCols.map(col): _*)
    pin0.withColumn("pin", lit(0L))
      .unionByName(pin1.withColumn("pin", lit(1L)))
      .select((col("pin") +: NearFixtures.eventCols.map(col)): _*)
      .orderBy(col("pin"), col("block_height"),
        col("receipt_index_in_block"), col("index_in_log"))
  }

  /** S3 resume-from-last-height + raw-vs-FINAL row counts, before and
    * after compaction. */
  def sinkResume(spark: SparkSession, dir: String): DataFrame = {
    val path = ParquetSink.scratchDir("events_resume")
    val ev = eventsDf(spark)
    ParquetSink.writeBatch(ev, path, 0L, eventPk)
    ParquetSink.writeBatch(ev, path, 1L, eventPk)
    val nRaw = spark.read.parquet(path).count()
    val lastH = ParquetSink.lastHeight(spark, path).getOrElse(-1L)
    ParquetSink.compact(spark, path, eventPk)
    val nFinal = spark.read.parquet(path).count()
    import spark.implicits._
    Seq((lastH, nRaw, nFinal)).toDF("last_height", "n_raw", "n_final")
  }

  // -------------------------------------------------------------- sources

  /** S1/S2: blocks round-tripped through the JSON block-file layout
    * (one file per height) must extract to the same bronze events. */
  def s1FileSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.BlockFileSource
    graft.Tables.tune(spark)
    val path = ParquetSink.scratchDir("blocks_src")
    BlockFileSource.writeBlockFiles(spark, NearFixtures.blocks, path)
    val b = BlockFileSource.readBlocks(spark, path)
    val outs = BronzeExtractors.outcomes(b)
    val res = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(b, acc), outs)
    ReceiptTxResolver.attachTxHash(
      BronzeExtractors.eventRows(outs, acc), res, dropUnresolved = true)
      .select(NearFixtures.eventCols.map(col): _*)
      .orderBy(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"))
  }

  /** S4: the daily asset-price feed body parsed through the
    * explode(items) loader — must equal the assets dimension VALUES. */
  def s4Assets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    val raw = Seq(NearFixtures.assetsJsonPayload).toDF("payload")
    GoldViews.loadAssetsFromJson(raw)
      .orderBy(col("defuse_asset_id"), col("price_updated_at_ns"))
  }

  // ------------------------------------------------------------ SQL views

  /** The gold view consumed through the registered SQL surface — a
    * reference user's `SELECT ... FROM gold_view_intents_metrics` runs
    * unchanged; same oracle as the programmatic gold query. */
  def sqlGoldMetrics(spark: SparkSession, dir: String): DataFrame = {
    graft.api.NearViews.register(spark, eventsDf(spark), assetsDf(spark), acc)
    spark.sql(
      """SELECT * FROM gold_view_intents_metrics
        |ORDER BY day, symbol, referral""".stripMargin)
  }

  // --------------------------------------------------------------- runner

  /** The full product path with a restart in the middle: ingest blocks
    * 100-102 into a fresh warehouse, then resume and ingest 160-161.
    * The FINAL events table must equal the single-run expectation
    * (same pinned VALUES oracle) — proving sink resume + the persisted
    * TTL-window resolution state across restarts. */
  def runnerEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    graft.Tables.tune(spark)
    val warehouse = ParquetSink.scratchDir("runner_wh")
    val blocksDir = ParquetSink.scratchDir("runner_blocks")
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), blocksDir)
    BatchRunner.run(spark, blocksDir, warehouse, acc)
    BlockFileSource.writeBlockFiles(spark, ordered, blocksDir)
    BatchRunner.run(spark, blocksDir, warehouse, acc)
    BatchRunner.tableFinal(spark, warehouse, "events",
      Seq("related_receipt_id", "index_in_log"))
      .select(NearFixtures.eventCols.map(col): _*)
      .orderBy(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"))
  }

  /** Incremental gold daily rollup through the runner's block-grain
    * aggregate MV: two resumed runs (a prefix, then the full chain —
    * the second run legitimately RE-PROCESSES the last prefix block,
    * whose lack of transactions leaves it above the resume marker),
    * then a warehouse merge. The daily read must equal a plain GROUP
    * BY over the whole M1 silver relation — the DuckDB oracle
    * re-derives it from the raw events CTE, so the resume-overlap
    * replay and the compaction must both be invisible. */
  def goldDailyRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    graft.Tables.tune(spark)
    val warehouse = ParquetSink.scratchDir("gold_rollup_wh")
    val blocksDir = ParquetSink.scratchDir("gold_rollup_blocks")
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), blocksDir)
    BatchRunner.run(spark, blocksDir, warehouse, acc)
    BlockFileSource.writeBlockFiles(spark, ordered, blocksDir)
    BatchRunner.run(spark, blocksDir, warehouse, acc)
    BatchRunner.compactWarehouse(spark, warehouse) // background merge
    BatchRunner.goldDailyFinal(spark, warehouse)
      .select(col("epoch_day"), col("token_id"), col("n_transfers"),
        col("amount_sum_dec").cast("double").as("amount_sum"))
      .orderBy(col("epoch_day"), col("token_id"))
  }

  // ------------------------------------------------------------ streaming

  /** The streaming path run by the REAL engine: a Structured Streaming
    * query (file source, maxFilesPerTrigger=1 → foreachBatch fold →
    * ParquetSink) with a checkpoint, STOPPED after the first three
    * blocks and restarted once the rest of the chain lands — the
    * resumed query must pick up exactly the unseen files and the final
    * events table must equal the batch pipeline's (same oracle as
    * near_bronze_events). */
  def streamEvents(spark: SparkSession, dir: String): DataFrame = {
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    import graft.streaming.StreamRunner
    graft.Tables.tune(spark)
    val warehouse = ParquetSink.scratchDir("stream_wh")
    val blocksDir = ParquetSink.scratchDir("stream_blocks")
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), blocksDir)
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    // mid-stream restart: all files present, same checkpoint — only
    // the unconsumed ones stream, against the reloaded state table
    BlockFileSource.writeBlockFiles(spark, ordered, blocksDir)
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    BatchRunner.tableFinal(spark, warehouse, "events",
      Seq("related_receipt_id", "index_in_log"))
      .select(NearFixtures.eventCols.map(col): _*)
      .orderBy(col("block_height"), col("receipt_index_in_block"),
        col("index_in_log"))
  }

  // ---------------------------------------------------------- validation

  import graft.validate.Validation

  private def txDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(NearFixtures.expectedTransactions).toDF()
  }

  private def receiptsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(NearFixtures.expectedReceipts).toDF()
  }

  private def outcomesFixtureDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    NearFixtures.expectedOutcomes.map { case (o, rid) =>
      (o.block_height, o.block_timestamp_ns, o.block_hash,
        o.parent_transaction_hash, o.executor_id, o.receipt_ids, o.status,
        o.logs, o.tokens_burnt, o.gas_burnt, o.execution_outcome_id, rid)
    }.toDF("block_height", "block_timestamp_ns", "block_hash",
      "parent_transaction_hash", "executor_id", "receipt_ids", "status",
      "logs", "tokens_burnt", "gas_burnt", "execution_outcome_id",
      "receipt_id")
  }

  private def eventImageCols: Seq[org.apache.spark.sql.Column] =
    NearFixtures.eventCols.map(col)

  /** V7: portable order-independent fingerprints for all four bronze
    * tables (count + bit_xor'd 60-bit PK/row hashes). */
  def vFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val ev = Validation.tableFingerprint(eventsDf(spark), "events",
      Seq(col("related_receipt_id"), col("index_in_log")), eventImageCols)
    val tx = Validation.tableFingerprint(txDf(spark), "transactions",
      Seq(col("transaction_hash")),
      Seq("block_height", "block_timestamp_ns", "block_hash",
        "transaction_hash", "signer_id", "receiver_id", "actions").map(col))
    val rc = Validation.tableFingerprint(receiptsDf(spark), "receipts",
      Seq(col("receipt_id")),
      Seq("block_height", "block_timestamp_ns", "block_hash",
        "parent_transaction_hash", "receipt_id", "receiver_id",
        "predecessor_id", "actions").map(col))
    val oc = Validation.tableFingerprint(outcomesFixtureDf(spark), "outcomes",
      Seq(col("execution_outcome_id")),
      Seq(col("block_height"), col("block_timestamp_ns"), col("block_hash"),
        col("parent_transaction_hash"), col("executor_id"),
        concat_ws(",", col("receipt_ids")), col("status"), col("logs"),
        col("tokens_burnt"), col("gas_burnt"), col("execution_outcome_id"),
        col("receipt_id")))
    ev.unionByName(tx).unionByName(rc).unionByName(oc)
      .orderBy(col("table_name"))
  }

  /** V5: every event's contract_id must be an account of interest. */
  def vDomain(spark: SparkSession, dir: String): DataFrame =
    Validation.domainCheck(eventsDf(spark), col("contract_id"), acc.all)

  /** V6: JSON validity of the stringly-typed columns; r3's
    * GlobalContractDistribution receipt has actions='' → 1 invalid. */
  def vJsonValid(spark: SparkSession, dir: String): DataFrame =
    Validation.jsonValidity(receiptsDf(spark), "receipts.actions",
        col("actions"))
      .unionByName(Validation.jsonValidity(outcomesFixtureDf(spark),
        "outcomes.logs", col("logs")))
      .unionByName(Validation.jsonValidity(eventsDf(spark), "events.data",
        col("data")))
      .orderBy(col("checked"))

  /** V8: per-block event counts + order-independent fingerprints. */
  def vDrilldown(spark: SparkSession, dir: String): DataFrame =
    Validation.blockDrilldown(eventsDf(spark), eventImageCols)

  /** V10: row-level diff vs a tampered copy — one mutated tx_hash and
    * one deleted row must surface as exactly (mismatch, only_a). */
  def vDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = eventsDf(spark)
    val b = a
      .withColumn("tx_hash",
        when(col("related_receipt_id") === "r10" && col("index_in_log") === 1,
          lit("TAMPERED")).otherwise(col("tx_hash")))
      .filter(!(col("related_receipt_id") === "r6" && col("index_in_log") === 3))
    Validation.diffReport(a, b,
      Seq("related_receipt_id", "index_in_log"), NearFixtures.eventCols)
  }

  /** V3: null-tx ratio gate on events extracted WITHOUT the drop policy
    * (schema allows NULL tx_hash; validate.sh:124-139 tolerates ≤5% —
    * the fixture deliberately exceeds it: 2 unresolvable of 13). */
  def vNullRatio(spark: SparkSession, dir: String): DataFrame = {
    val b = blocksDf(spark)
    val outs = BronzeExtractors.outcomes(b)
    val ev = ReceiptTxResolver.attachTxHash(
      BronzeExtractors.eventRows(outs, acc), resolved(spark),
      dropUnresolved = false)
    ev.agg(
      count(lit(1)).as("n_events"),
      sum(when(col("tx_hash").isNull, 1L).otherwise(0L)).as("n_null_tx"))
      .withColumn("null_ratio",
        col("n_null_tx").cast("double") / col("n_events").cast("double"))
      .withColumn("within_tolerance", col("null_ratio") <= 0.05)
  }

  /** V11: the CH-parity Float64 amount vs the PG-parity exact NUMERIC
    * path (both derived from the raw u128 string), compared with the
    * reference's 1e-10 relative tolerance. */
  def vTolerance(spark: SparkSession, dir: String): DataFrame = {
    val m6 = SilverTransforms.dip4Transfer(eventsDf(spark), acc)
    Validation.toleranceCompare(m6, col("amount"),
      col("amount_str").cast("decimal(38,0)").cast("double"))
  }

  /** Receipt-DAG DEPTH: each receipt's BFS generation from the root
    * receipts (those no outcome lists as a child) along the
    * outcome → receipt_ids edges — the graph-DISTANCE analytic over
    * the same transitive structure the resolver labels
    * (transactions → receipts → child receipts, SURVEY §1.1's implicit
    * DAG; the resolver answers "which tx", this answers "how deep",
    * the promotion-debugging view of the chain).
    *
    * Level-synchronous frontier BFS: each round joins the frontier to
    * the edge relation and anti-joins the already-settled set, so the
    * FIRST arrival is the minimum depth by construction; one
    * `localCheckpoint` per level bounds the lineage. (The resolver runs
    * the same kind of frontier fixpoint in one task instead — see
    * [[graft.state.ReceiptTxResolver.fixpoint]].) Rounds = DAG depth
    * (the TTL window bounds it in production — a receipt chain cannot
    * outlive its resolver entry). The DuckDB oracle replays the closure
    * recursively and takes MIN(depth) per vertex. */
  def nearReceiptDepth(spark: SparkSession, dir: String): DataFrame = {
    // depth over the INDEXED table's rows (outcomes of interest) — the
    // same relation the stored execution_outcomes table and the pinned
    // oracle fixture carry
    receiptDepth(BronzeExtractors.outcomesOfInterest(
      BronzeExtractors.outcomes(blocksDf(spark)), acc))
  }

  /** The BFS body of [[nearReceiptDepth]], shared with the deep-chain
    * scale twin [[nearScaleDepth]]. */
  private def receiptDepth(outs: DataFrame): DataFrame = {
    val edges = outs
      .select(col("receipt_id").as("src"),
        explode(col("receipt_ids")).as("dst"))
      .distinct()
      .localCheckpoint() // every BFS level reads it
    val vertices = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
    val roots = vertices
      .join(edges.select(col("dst").as("id")).distinct(),
        Seq("id"), "left_anti")
    var settled = roots.withColumn("depth", lit(0L)).localCheckpoint()
    var frontier = settled
    var frontierSize = frontier.count()
    while (frontierSize > 0) {
      val next = edges
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), (col("depth") + 1L).as("depth"))
        .distinct()
        .join(settled.select("id"), Seq("id"), "left_anti")
        .localCheckpoint()
      frontierSize = next.count()
      if (frontierSize > 0) {
        settled = settled.unionByName(next).localCheckpoint()
        frontier = next
      }
    }
    settled.select(col("id").as("receipt_id"), col("depth"))
      .orderBy(col("receipt_id"))
  }

  // --------------------------------------------------------------- gold

  def goldMetrics(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsDf(spark)
    GoldViews.intentsMetrics(
      SilverTransforms.nep245Events(ev),
      SilverTransforms.dip4TokenDiff(ev, acc),
      assetsDf(spark))
      .orderBy(col("day"), col("symbol"), col("referral"))
  }

  // ----------------------------------------- deep-chain scale corpus
  //
  // The golden fixture is 11 events; these three twins run the SAME
  // pipeline code over [[graft.fixtures.BlockGen.genDeepBlocks]] —
  // ~4,250 blocks, 400 interleaved receipt chains of depth 3–5 with
  // per-chain hop gaps {1, 5, 50, 51} (50 = exactly the resolver TTL,
  // 51 = one past it) — and are checked against closed-form DuckDB
  // oracles (VERDICT r10 #4: resolver/cascade correctness at volume,
  // not just throughput).

  private def deepBlocksDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    spark.createDataset(graft.fixtures.BlockGen.genDeepBlocks()).toDF()
  }

  private def deepResolved(spark: SparkSession): DataFrame = {
    val b = deepBlocksDf(spark)
    ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(b, acc),
      BronzeExtractors.outcomes(b))
  }

  /** Multi-hop resolution at volume: every receipt the TTL allows must
    * map to its origin transaction; gap-51 chains must die at hop 1. */
  def nearScaleResolver(spark: SparkSession, dir: String): DataFrame =
    deepResolved(spark)
      .select(col("receipt_id"), col("tx_hash"), col("main"),
        col("entry_height"))
      .orderBy(col("receipt_id"))

  /** BFS depth at volume — depth here is NOT TTL-bounded (the DAG
    * exists in bronze regardless), so all 400 chains settle at their
    * closed-form depth. */
  def nearScaleDepth(spark: SparkSession, dir: String): DataFrame =
    receiptDepth(BronzeExtractors.outcomesOfInterest(
      BronzeExtractors.outcomes(deepBlocksDf(spark)), acc))

  /** The silver cascade at volume: each chain's single nep245 event
    * rides its FINAL hop, so a correct row requires the full multi-hop
    * resolution to have succeeded — and the gap-51 chains' events must
    * be dropped as unresolved (T5 warn-and-drop). */
  def nearScaleEvents(spark: SparkSession, dir: String): DataFrame = {
    val b = deepBlocksDf(spark)
    val ev = BronzeExtractors.eventRows(BronzeExtractors.outcomes(b), acc)
    val withTx = ReceiptTxResolver.attachTxHash(ev, deepResolved(spark))
    SilverTransforms.nep245Events(withTx)
      .select(col("block_height"), col("related_receipt_id"),
        col("tx_hash"), col("old_owner_id"), col("new_owner_id"),
        col("token_id"), col("amount"), col("memo"))
      .orderBy(col("related_receipt_id"))
  }

  // ------------------------------------------------ hot-key skew corpus

  /** Gold view over the HOT-KEY corpus
    * ([[graft.fixtures.BlockGen.genSkewBlocks]]): one receipt carries
    * 80% of the corpus's events AND all token_diff rows, so the gold
    * `related_receipt_id` left join sees one hot key fanning out 3×
    * (SURVEY §7.2's natural `intents.near` skew, previously asserted
    * but never evidenced — VERDICT r12 #3). The full REAL pipeline
    * runs: extraction → single-hop resolution → silver nep245 +
    * token_diff → G1–G8; the DuckDB oracle regenerates the gold rows
    * closed-form from `range()`. Amounts are dyadic by construction
    * (usd = n/64) so the gold SUM(double) is exact and aggregation-
    * order-independent — see the generator's scaladoc.
    *
    * Plan under skew: the assets dim stays broadcast; the fact-scale
    * referral side carries no hint, so AQE owns the join — at gate
    * scale it broadcasts the 3-row diff side (hot key never shuffles),
    * and at 100× a shuffle join with AQE skew-split handles the hot
    * partition (`spark.sql.adaptive.skewJoin`); the salted-join
    * operator ([[graft.operators.SkewJoin]]) is the manual fallback.
    * Evidence in SCALE_CHECK_r13. */
  def nearSkewGold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.tune(spark)
    val b = spark.createDataset(graft.fixtures.BlockGen.genSkewBlocks()).toDF()
    val resolved = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(b, acc),
      BronzeExtractors.outcomes(b))
    val ev = BronzeExtractors.eventRows(BronzeExtractors.outcomes(b), acc)
    val withTx = ReceiptTxResolver.attachTxHash(ev, resolved)
    GoldViews.intentsMetrics(
      SilverTransforms.nep245Events(withTx),
      SilverTransforms.dip4TokenDiff(withTx, acc),
      assetsDf(spark))
      .orderBy(col("day"), col("symbol"), col("referral"))
  }
}
