package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.model.{AccountsConfig, Block, NearModel}
import graft.sink.ParquetSink
import graft.sources.BlockFileSource

/** Micro-batch driver for the streaming path: blocks arrive one per
  * micro-batch in height order (the reference's buffer_unordered(1)
  * strictly-sequential contract, indexer-clickhouse/src/handlers/
  * mod.rs:31-40), each folded through
  * [[StreamingResolver.processBatch]].
  *
  * [[runStream]] is the product shape — a real Structured Streaming
  * query (`readBlockStream` file source → `foreachBatch` fold →
  * [[graft.sink.ParquetSink]]) with a checkpointLocation, so a stopped
  * or crashed runner restarts where it left off. [[runMicroBatched]]
  * drives the same fold directly without the streaming engine
  * (deterministic single-JVM twin, used by unit suites).
  */
object StreamRunner {

  private val eventsPk = Seq("related_receipt_id", "index_in_log")
  private val statePk = Seq("receipt_id")

  /** Run the streaming pipeline over every block file currently in
    * `blocksDir` that the checkpoint has not consumed yet, then stop
    * (`Trigger.AvailableNow` — admission control still honors
    * maxFilesPerTrigger=1, so each micro-batch is exactly one block in
    * mtime=height order). Call again after new files land — the SAME
    * checkpoint resumes from the first unseen file, which IS the
    * reference's resume-from-last-height loop (S3) in Structured
    * Streaming form.
    *
    * Restart-safety, in layers:
    *  - which blocks were consumed: the file-source checkpoint
    *    (offsets + file log) — Spark's exactly-once source contract;
    *  - resolver state: a warehouse table with ReplacingMergeTree
    *    semantics, re-read FINAL on start. Entries a TTL expiry
    *    removed from the in-memory fold may resurface on reload, but
    *    the next `processBatch` re-expires them before any event
    *    lookup, so resurrection is invisible (same contract as the
    *    reference's Redis `SET ... EX` after a warm restart);
    *  - a crash AFTER the sink writes but BEFORE the checkpoint
    *    commits replays that micro-batch; both sinks re-insert the
    *    same PKs and FINAL dedup absorbs them (K2) — the reference's
    *    at-least-once + ReplacingMergeTree pairing exactly.
    */
  /** `failpoint(batchMaxHeight, writePoint)` fires before each of the
    * six per-batch table writes (0=receipts, 1=execution_outcomes,
    * 2=events, 3=silver cascade, 4=resolver state, 5=transactions) —
    * the crash-injection seam the soak suite uses to kill the runner
    * mid-cascade at arbitrary points (a thrown exception fails the
    * query before the checkpoint commits, so the batch replays whole on
    * the next start and the write-order contract below must absorb the
    * partial writes). Default no-op. */
  def runStream(
      spark: SparkSession,
      blocksDir: String,
      warehouse: String,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks,
      failpoint: (Long, Int) => Unit = (_, _) => ()): Unit = {
    val statePath = s"$warehouse/resolver_state"
    val eventsPath = s"$warehouse/events"

    // Reload persisted state (empty on first start, and empty when the
    // table directory holds no data files — existence alone is not
    // readable). The TTL window bounds this table's live size; FINAL
    // keeps one row per receipt.
    ParquetSink.recoverSwap(statePath) // tolerate a crashed compaction
    var state =
      if (ParquetSink.hasData(statePath))
        ParquetSink.readFinal(spark.read.parquet(statePath), statePk)
          .select(StreamingResolver.stateCols.map(col): _*)
          .localCheckpoint()
      else StreamingResolver.emptyState(spark)

    val query = BlockFileSource.readBlockStream(spark, blocksDir)
      .writeStream
      .option("checkpointLocation", s"$warehouse/_stream_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one materialized read of the micro-batch; the fold's branches
        // (txs, outcomes, max-height) all reuse it. LAZY checkpoint +
        // min/max collect (the per-batch driver constant IS the
        // cascade's residual cost — ~18 jobs/batch at ~50 ms each): the
        // height aggregate is the first action on the checkpoint-marked
        // plan, so ONE job materializes the checkpoint, answers the
        // emptiness probe (null min ⇔ no rows) AND computes the span
        // heights — where eager-checkpoint + isEmpty + agg paid three.
        // The agg is strictly sequenced before every concurrent
        // consumer below, so they all read the materialized blocks.
        val blocks = batch.localCheckpoint(eager = false)
        val hAgg = blocks.agg(min(col("header.height")),
          max(col("header.height"))).collect()(0)
        if (!hAgg.isNullAt(0)) {
          import graft.bronze.BronzeExtractors
          import graft.metrics.Tracing.span
          import graft.state.ReceiptTxResolver
          val (minH, maxH) = (hAgg.getLong(0), hAgg.getLong(1))
          // per-micro-batch phase spans, named after the reference's
          // own handler hierarchy (TRACING.md:45-63) so traces line up
          // engine-to-engine; no-ops unless Tracing.enable() ran
          span("handle_streamer_message",
            "min_height" -> minH.toString, "max_height" -> maxH.toString) {
          // carry = TTL-trimmed state for the next batch; lookup = the
          // untrimmed entry set THIS batch's rows resolve against with
          // per-row TTL (multi-block batches: early rows must not see
          // the max-height trim)
          val (st2, lookup, events0) =
            span("cache_map_new_receipts_from_outcomes") {
              StreamingResolver.processBatchFull(
                state, blocks, accounts, ttlBlocks,
                maxHeightHint = Some(maxH))
            }
          val events = span("parse_events") { events0.localCheckpoint() }
          // inserts write with AQE off, where a broadcast of the lookup
          // would cost its own collect job ahead of each write
          val lookupShuffled = lookup.hint("shuffle_hash")

          // full product-table parity with BatchRunner: the CH-MV
          // cascade fires on this micro-batch's rows only
          val txs = BronzeExtractors.transactions(blocks, accounts)
          val outs = BronzeExtractors.outcomes(blocks)
          val ofInt = BronzeExtractors.outcomesOfInterest(outs, accounts)
          // CONCURRENT insert group (r15, from the span-trace
          // attribution: receipts 6.5 s + outcomes 6.1 s + events 3.9 s
          // ran SERIALIZED next to an 11 s silver cascade that already
          // overlapped internally — same idempotent PK-FINAL contract,
          // same ADVICE-r10 await-all-before-rethrow discipline, so the
          // four event-derived write groups submit together; only the
          // resolver STATE (after event-derived tables) and TRANSACTIONS
          // (the resume marker, last) stay ordered. Each failpoint still
          // fires before ITS write launches; a failpoint throw stops
          // launching and the batch fails only after every already-
          // launched job terminated (no zombies racing the replay).
          span("insert_batches") {
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val ctx = graft.metrics.Tracing.context()
            val launched =
              scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
            var failed: Throwable = null
            try {
              failpoint(maxH, 0)
              launched += Future(graft.metrics.Tracing.spanIn(ctx,
                "insert_receipts_to_db") {
                ParquetSink.writeBatch(
                  ReceiptTxResolver.attachParentTx(
                    BronzeExtractors.receiptRows(ofInt), lookupShuffled,
                    ttlBlocks),
                  s"$warehouse/receipts", maxH, Seq("receipt_id"))
              })
              failpoint(maxH, 1)
              launched += Future(graft.metrics.Tracing.spanIn(ctx,
                "insert_execution_outcomes_to_db") {
                ParquetSink.writeBatch(
                  ReceiptTxResolver.attachParentTx(
                    BronzeExtractors.executionOutcomeRows(ofInt),
                    lookupShuffled,
                    ttlBlocks),
                  s"$warehouse/execution_outcomes", maxH,
                  Seq("execution_outcome_id"))
              })
              failpoint(maxH, 2)
              launched += Future(graft.metrics.Tracing.spanIn(ctx,
                "insert_events_to_db") {
                ParquetSink.writeBatch(events, eventsPath, maxH, eventsPk)
              })
              failpoint(maxH, 3)
              launched += Future(graft.metrics.Tracing.spanIn(ctx,
                "silver_cascade") {
                graft.runner.BatchRunner.writeSilverCascade(
                  events, accounts, warehouse, maxH)
              })
            } catch { case e: Throwable => failed = e }
            val outcomes2 = launched.toSeq.map(f =>
              scala.util.Try(Await.result(f, Duration.Inf)))
            if (failed != null) throw failed
            outcomes2.foreach(_.get) // rethrows the first write failure
          }
          // state commits AFTER the event-derived tables: a crash in
          // between replays the batch against the OLD state — identical
          // rows, FINAL-deduped — never against a state that skipped it.
          // Only THIS batch's entries are appended (first-write-wins
          // means pre-existing entries never change, so the table + the
          // trim below stay O(TTL window), not O(stream length));
          // block_height = entry_height drives the sink's bucketing.
          span("persist_resolver_state") {
            failpoint(maxH, 4)
            ParquetSink.writeBatch(
              st2.filter(col("entry_height") >= minH)
                .withColumn("block_height", col("entry_height")),
              statePath, maxH, statePk)
            ParquetSink.dropBucketsBelow(statePath, maxH - ttlBlocks)
          }
          // transactions last — the lastHeight resume marker consumers
          // read stays behind every other table (BatchRunner parity)
          span("handle_transactions") {
            failpoint(maxH, 5)
            span("insert_transactions_to_db") {
              ParquetSink.writeBatch(
                txs.filter(col("of_interest"))
                  .drop("first_receipt_id", "of_interest"),
                s"$warehouse/transactions", maxH, Seq("transaction_hash"))
            }
          }
          state = st2
          }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }

  /** Fold the blocks one-per-micro-batch; returns the accumulated
    * resolved bronze events exactly as the stream emitted them. */
  def runMicroBatched(
      spark: SparkSession,
      blocks: Seq[Block],
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): DataFrame = {
    import spark.implicits._
    var state = StreamingResolver.emptyState(spark)
    val batches = blocks.sortBy(_.header.height).map { block =>
      val (st2, events) = StreamingResolver.processBatch(
        state, spark.createDataset(Seq(block)).toDF(), accounts, ttlBlocks)
      state = st2
      events.localCheckpoint()
    }
    batches.reduce(_ unionByName _)
  }
}
