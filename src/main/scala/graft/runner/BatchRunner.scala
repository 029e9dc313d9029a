package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.bronze.BronzeExtractors
import graft.metrics.Tracing.span
import graft.model.{AccountsConfig, NearModel}
import graft.silver.SilverTransforms
import graft.sink.ParquetSink
import graft.sources.BlockFileSource
import graft.state.ReceiptTxResolver

/** The product path end-to-end (reference:
  * indexer-clickhouse/src/main.rs + handlers/mod.rs:66-139): resume
  * from the sink, read every new block, and fold them through
  * [[ingestBatch]] — the one per-batch body, which the streaming runner
  * ([[graft.streaming.StreamRunner]]) also calls once per micro-batch.
  * A batch run is one micro-batch over all unseen blocks.
  *
  * Resolution state across runs is one warehouse table,
  * `resolver_state` (receipt_id, tx_hash, main, entry_height), the
  * Spark-native stand-in for the reference's Redis TTL cache. Both
  * runners load it with [[loadState]]; each batch appends its own
  * entries and drops the height buckets no later batch can read, so
  * the table stays O(TTL window + the last batch) whatever the chain
  * length.
  */
object BatchRunner {

  final case class RunSummary(fromHeight: Option[Long], toHeight: Long,
      nBlocks: Long)

  private val statePk = Seq("receipt_id")

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
    * None = whole-row (silver MV). The ONE registry the writes take
    * their keys from and compaction and the parity suites iterate, so
    * adding a table or changing a key happens in exactly one place. */
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

  /** Write-side clustering key of each product table: its dedup key when
    * keyed, [[silverClusterKeys]] when whole-row. */
  private val clusterKeys: Map[String, Seq[String]] = productTables.map {
    case (name, pk) => name -> pk.getOrElse(silverClusterKeys)
  }.toMap

  /** The append of `df`, rows of heights `minH`..`maxH`, to product
    * table `name` as batch `maxH`, named after the reference's
    * `insert_<table>_to_db` span. The height range sizes the write's
    * shuffle to the buckets it spans. */
  private def insert(warehouse: String, minH: Long, maxH: Long, name: String,
      df: => DataFrame): (String, () => Unit) =
    s"insert_${name}_to_db" -> (() => ParquetSink.writeBatch(df,
      s"$warehouse/$name", maxH, clusterKeys(name),
      heights = Some((minH, maxH))))

  /** Current daily totals of the incremental gold rollup: keyed FINAL
    * over the block-grain MV rows (replays absorbed like any product
    * table), then a read-time day rollup over O(blocks x tokens)
    * pre-aggregated rows — never the fact table. See
    * [[graft.gold.GoldViews.blockTransferRollup]] for why the grain is
    * per block, not per day. */
  def goldDailyFinal(spark: SparkSession, warehouse: String): DataFrame =
    tableFinal(spark, warehouse, "gold_block_rollup",
      clusterKeys("gold_block_rollup"))
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
    * construction, like the ClickHouse originals. `events` are the
    * batch of heights `minH`..`maxH`, written as batch `maxH`. */
  def writeSilverCascade(events: DataFrame, accounts: AccountsConfig,
      warehouse: String, minH: Long, maxH: Long): Unit = {
    val nep245 = SilverTransforms.nep245Events(events)
    def write(name: String, df: => DataFrame) =
      insert(warehouse, minH, maxH, name, df)
    // the 8 cascade writes have no inter-table ordering constraint, so
    // they run concurrently
    concurrently(events.sparkSession, Seq(
      // incremental gold rollup at the replay-atomic (block, token)
      // grain — resume-overlap replays rewrite identical rows and
      // keyed FINAL absorbs them (see GoldViews.blockTransferRollup)
      write("gold_block_rollup",
        graft.gold.GoldViews.blockTransferRollup(nep245)),
      write("silver_nep245", nep245),
      write("silver_token_diff",
        SilverTransforms.dip4TokenDiff(events, accounts)),
      write("silver_public_keys",
        SilverTransforms.dip4PublicKeys(events, accounts)),
      write("silver_intents_executed",
        SilverTransforms.dip4IntentsExecuted(events, accounts)),
      write("silver_fee_changed",
        SilverTransforms.dip4FeeChanged(events, accounts)),
      write("silver_transfer",
        SilverTransforms.dip4Transfer(events, accounts)),
      write("silver_staging_transfer",
        SilverTransforms.stagingDip4Transfer(events, accounts))))
  }

  /** Submit `writes` as concurrent Spark jobs, each under its named
    * span; `before(i)` runs on the calling thread ahead of launching
    * write i, in order (the failpoint seam). Every write is an
    * idempotent PK-FINAL insert, and a crash leaving any subset written
    * replays the batch into the same keys — the reference's own sinks
    * write async under tokio. A throw from `before` stops launching; the
    * first failure is rethrown only after every launched write has
    * terminated, so none keeps running as a zombie past the batch's
    * failure boundary, racing the replay.
    *
    * Each write starts at once on [[writePool]], so a nested call (the
    * silver cascade inside the batch's writes) never waits for a thread,
    * and runs with `session` active and the calling thread's Spark local
    * properties: the stream's job group, micro-batch id, root execution
    * id and trace span, so the query's `cancelJobGroup` reaches the
    * write, listeners file its jobs under the batch that started them,
    * and its span nests under the caller's. */
  private[graft] def concurrently(session: SparkSession,
      writes: Seq[(String, () => Unit)],
      before: Int => Unit = _ => ()): Unit = {
    import java.util.concurrent.{CompletableFuture, ExecutionException}
    import org.apache.spark.sql.execution.SQLExecution
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val launched =
      scala.collection.mutable.ArrayBuffer.empty[CompletableFuture[Unit]]
    val stopped = try {
      writes.zipWithIndex.foreach { case ((name, write), i) =>
        before(i)
        launched += SQLExecution.withThreadLocalCaptured(classic, writePool)(
          span(name)(write()))
      }
      None
    } catch { case e: Throwable => Some(e) }
    val failures = launched.toSeq.flatMap { f =>
      try { f.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    stopped.foreach(e => throw e)
    failures.headOption.foreach(e => throw e)
  }

  /** The threads [[concurrently]] writes on: a cached pool, so all of a
    * batch's writes are in flight together (the three bronze writes, the
    * silver cascade and its eight nested writes). A pool of fixed
    * parallelism queues the nested writes behind their waiting parents:
    * a Spark job wait does not signal `scala.concurrent.blocking`
    * (SPARK-13747). Daemon threads, so an idle pool never holds the JVM
    * open; idle threads exit after a minute. */
  private val writePool = java.util.concurrent.Executors.newCachedThreadPool {
    (r: Runnable) =>
      val t = new Thread(r, "graft-batch-write")
      t.setDaemon(true)
      t
  }

  /** (least `key`, greatest `key`, row count) of a batch, None when it
    * is empty. One job of one stage: each task folds its partition to
    * (least, greatest, rows, keyed rows) and the driver merges the
    * partials, where a plain `agg` would exchange them, which adaptive
    * execution runs as a job of its own. Called on a LAZY checkpoint,
    * this job also materializes the checkpoint, so every later consumer
    * of the batch reads the materialized rows. `key` must be a long
    * column, since the fold reads raw rows; a null key counts as a row
    * but bounds nothing. */
  def keyRange(batch: DataFrame, key: String): Option[(Long, Long, Long)] = {
    val keys = batch.select(col(key))
    val keyType = keys.schema.head.dataType
    require(keyType == LongType, s"keyRange key $key is $keyType, not a long")
    val parts = keys.queryExecution.toRdd.mapPartitions {
      rows =>
        var (lo, hi, n, keyed) = (Long.MaxValue, Long.MinValue, 0L, 0L)
        rows.foreach { r =>
          n += 1
          if (!r.isNullAt(0)) {
            keyed += 1
            lo = math.min(lo, r.getLong(0))
            hi = math.max(hi, r.getLong(0))
          }
        }
        Iterator((lo, hi, n, keyed))
    }.collect()
    if (parts.forall(_._4 == 0)) None
    else Some((parts.map(_._1).min, parts.map(_._2).max, parts.map(_._3).sum))
  }

  /** The persisted resolver state, FINAL (one row per receipt). Empty
    * when the table holds no data files yet — existence alone is not
    * readable. Entries a TTL expiry removed from a runner's in-memory
    * carry may resurface here, but every lookup applies the TTL per row,
    * so resurrection is invisible (the reference's Redis `SET ... EX`
    * after a warm restart). */
  def loadState(spark: SparkSession, warehouse: String): DataFrame = {
    val path = s"$warehouse/resolver_state"
    ParquetSink.recoverSwap(path) // tolerate a crashed compaction
    if (ParquetSink.hasData(path))
      ParquetSink.readFinal(spark.read.parquet(path), statePk)
        .select(ReceiptTxResolver.stateCols.map(col): _*)
        .localCheckpoint()
    else ReceiptTxResolver.emptyState(spark)
  }

  /** One batch of the ingest fold (reference: handlers/mod.rs:66-139):
    * resolve `blocks` (heights `minH`..`maxH`) against `state`, write
    * receipts, execution outcomes, events and the silver cascade
    * concurrently, then the resolver state, then the transactions.
    * Returns the carry: the TTL-trimmed state for a next batch of
    * higher blocks. Every write is told the batch's height range, so
    * its shuffle is as wide as the buckets `minH`..`maxH` spans (one on
    * most live batches), not the session's shuffle width.
    *
    * Write order is the restart contract. The transactions table is the
    * resume marker (`lastHeight` reads it), so it commits LAST: a crash
    * anywhere before replays the whole batch, and FINAL dedup absorbs
    * the re-inserts. The state commits after the event-derived tables,
    * so a replay runs against the old state — identical rows — never
    * against a state that skipped the batch.
    *
    * The state written is this batch's lookup entries at heights
    * >= `minH`, untrimmed (first write wins, so older entries never
    * change), and buckets below `minH - ttlBlocks` are dropped. A batch
    * run re-processes the tx-less blocks above the resume marker, so the
    * table must hold every entry live at the batch's own lowest height;
    * the max-height trim of the carry would lose them.
    *
    * `failpoint(maxH, writePoint)` fires before each of the six writes
    * (0=receipts, 1=execution_outcomes, 2=events, 3=silver cascade,
    * 4=resolver state, 5=transactions): the crash-injection seam of the
    * soak suite. A throw fails the batch before the streaming checkpoint
    * commits, so the batch replays whole and the write order above must
    * absorb the partial writes.
    *
    * The whole body runs under [[interpreted]] on the sessions of
    * `blocks` and `state` (they differ on the stream: the micro-batch
    * lives on the stream's cloned session, the state on the caller's). */
  def ingestBatch(blocks: DataFrame, minH: Long, maxH: Long,
      state: DataFrame, warehouse: String, accounts: AccountsConfig,
      ttlBlocks: Long, failpoint: (Long, Int) => Unit): DataFrame =
    ParquetSink.withConf(Seq(blocks.sparkSession, state.sparkSession),
        interpreted) {
      // per-batch phase spans, named after the reference's own handler
      // hierarchy (TRACING.md:45-63) so traces line up engine-to-engine;
      // no-ops unless Tracing.enable() ran
      span("handle_streamer_message",
        "min_height" -> minH.toString, "max_height" -> maxH.toString) {
        // carry = TTL-trimmed state for the next batch; lookup = the
        // untrimmed entry set THIS batch's rows resolve against with
        // per-row TTL (early rows must not see the max-height trim)
        val (carry, lookup, events0) =
          span("cache_map_new_receipts_from_outcomes") {
            ReceiptTxResolver.foldBatch(state, blocks, accounts, ttlBlocks,
              maxH)
          }
        val events = span("parse_events") { events0.localCheckpoint() }
        // inserts write with AQE off, where a broadcast of the lookup
        // would cost its own collect job ahead of each write
        val lookupShuffled = lookup.hint("shuffle_hash")
        val ofInt = BronzeExtractors.outcomesOfInterest(
          BronzeExtractors.outcomes(blocks), accounts)
        def withParentTx(rows: DataFrame) =
          ReceiptTxResolver.attachParentTx(rows, lookupShuffled, ttlBlocks)
        span("insert_batches") {
          concurrently(blocks.sparkSession, Seq(
            insert(warehouse, minH, maxH, "receipts",
              withParentTx(BronzeExtractors.receiptRows(ofInt))),
            insert(warehouse, minH, maxH, "execution_outcomes",
              withParentTx(BronzeExtractors.executionOutcomeRows(ofInt))),
            insert(warehouse, minH, maxH, "events", events),
            "silver_cascade" -> (() =>
              writeSilverCascade(events, accounts, warehouse, minH, maxH))),
            before = failpoint(maxH, _))
        }
        span("persist_resolver_state") {
          failpoint(maxH, 4)
          // block_height = entry_height drives the sink's bucketing
          ParquetSink.writeBatch(lookup.filter(col("entry_height") >= minH)
            .withColumn("block_height", col("entry_height")),
            s"$warehouse/resolver_state", maxH, statePk,
            heights = Some((minH, maxH)))
          ParquetSink.dropBucketsBelow(s"$warehouse/resolver_state",
            minH - ttlBlocks)
        }
        span("handle_transactions") {
          failpoint(maxH, 5)
          val (name, write) = insert(warehouse, minH, maxH, "transactions",
            BronzeExtractors.transactionRows(blocks, accounts))
          span(name)(write())
        }
        carry
      }
    }

  /** Session settings of an ingest batch: no whole-stage codegen and no
    * generated expression classes, so every plan runs interpreted.
    * A 10-block batch compiles ~170 Janino classes otherwise, at
    * 10–30 ms each, and Spark's codegen cache (100 entries, keyed by
    * class loader and source) is smaller than one batch's driver plus
    * executor working set, so most are recompiled every batch.
    * Interpretation costs nanoseconds per row, and a batch holds
    * O(10²–10⁴) rows per table. A batch's jobs, tasks, files and rows
    * are unchanged. Both keys are needed: whole-stage codegen off alone
    * still compiles every projection and predicate. */
  val interpreted: Map[String, String] = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Process every block in `blocksDir` newer than the sink's resume
    * height as one [[ingestBatch]]; returns None when there is nothing
    * new. */
  def run(spark: SparkSession, blocksDir: String, warehouse: String,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): Option[RunSummary] = {
    // S3 resume: the reference reads max(block_height) from the
    // transactions table (indexer-clickhouse/src/database.rs:15-39)
    val resume = ParquetSink.lastHeight(spark, s"$warehouse/transactions")
    val all = BlockFileSource.readBlocks(spark, blocksDir)
    // one materialized read of the (possibly remote) block files; every
    // downstream branch reads the checkpoint, not the source
    val blocks = resume.fold(all)(h => all.filter(col("header.height") > h))
      .localCheckpoint(eager = false)
    keyRange(blocks, "header.height").map { case (minH, maxH, n) =>
      ingestBatch(blocks, minH, maxH, loadState(spark, warehouse), warehouse,
        accounts, ttlBlocks, (_, _) => ())
      RunSummary(resume, maxH, n)
    }
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
