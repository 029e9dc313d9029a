package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.model.{AccountsConfig, Block, NearModel}
import graft.runner.BatchRunner
import graft.sink.{ForkFreeLocalFs, ParquetSink}
import graft.sources.BlockFileSource
import graft.state.ReceiptTxResolver

/** Micro-batch driver for the streaming path: blocks arrive in height
  * order (the reference's buffer_unordered(1) strictly-sequential
  * contract, indexer-clickhouse/src/handlers/mod.rs:31-40), and each
  * micro-batch runs the one per-batch body both runners share,
  * [[graft.runner.BatchRunner.ingestBatch]].
  *
  * [[runStream]] is the product shape — a real Structured Streaming
  * query (`readBlockStream` file source → `foreachBatch` fold →
  * [[graft.sink.ParquetSink]]) with a checkpointLocation, so a stopped
  * or crashed runner restarts where it left off. [[runMicroBatched]]
  * runs the resolver's one fold,
  * [[graft.state.ReceiptTxResolver.foldBatch]], one block per batch
  * without the streaming engine or the sinks (a deterministic
  * single-JVM twin, used by unit suites).
  */
object StreamRunner {

  /** Run the streaming pipeline over every block file currently in
    * `blocksDir` that the checkpoint has not consumed yet, then stop
    * (`Trigger.AvailableNow` — admission control still honors
    * maxFilesPerTrigger=1, so each micro-batch is exactly one file in
    * mtime=height order). Call again after new files land — the SAME
    * checkpoint resumes from the first unseen file, which IS the
    * reference's resume-from-last-height loop (S3) in Structured
    * Streaming form.
    *
    * Restart-safety, in layers:
    *  - which blocks were consumed: the file-source checkpoint
    *    (offsets + file log) — Spark's exactly-once source contract;
    *  - resolver state: the `resolver_state` table, loaded FINAL on
    *    start ([[graft.runner.BatchRunner.loadState]]) and carried in
    *    memory between micro-batches;
    *  - a crash AFTER the sink writes but BEFORE the checkpoint
    *    commits replays that micro-batch; the sinks re-insert the same
    *    PKs and FINAL dedup absorbs them (K2) — the reference's
    *    at-least-once + ReplacingMergeTree pairing exactly.
    *
    * `failpoint` is the crash-injection seam of
    * [[graft.runner.BatchRunner.ingestBatch]]; default no-op.
    *
    * The query runs under [[graft.sink.ForkFreeLocalFs.checkpointConf]]
    * for its whole life, so the checkpoint's offset, commit and source
    * logs (`FileContext` on `file:`) set permissions and read link
    * status in-process instead of forking `chmod` and `readlink`. */
  def runStream(
      spark: SparkSession,
      blocksDir: String,
      warehouse: String,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks,
      failpoint: (Long, Int) => Unit = (_, _) => ()): Unit = {
    var state = BatchRunner.loadState(spark, warehouse)
    ParquetSink.withConf(Seq(spark), ForkFreeLocalFs.checkpointConf) {
      BlockFileSource.readBlockStream(spark, blocksDir)
        .writeStream
        .option("checkpointLocation", s"$warehouse/_stream_checkpoint")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // one materialized read of the micro-batch, which every branch
          // of the batch body reuses
          val blocks = batch.localCheckpoint(eager = false)
          BatchRunner.heightRange(blocks).foreach { case (minH, maxH, _) =>
            state = BatchRunner.ingestBatch(blocks, minH, maxH, state,
              warehouse, accounts, ttlBlocks, failpoint)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }

  /** Fold the blocks one-per-micro-batch; returns the accumulated
    * resolved bronze events exactly as the stream emitted them. */
  def runMicroBatched(
      spark: SparkSession,
      blocks: Seq[Block],
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks): DataFrame = {
    import spark.implicits._
    var state = ReceiptTxResolver.emptyState(spark)
    val batches = blocks.sortBy(_.header.height).map { block =>
      val (carry, _, events) = ReceiptTxResolver.foldBatch(state,
        spark.createDataset(Seq(block)).toDF(), accounts, ttlBlocks,
        block.header.height)
      state = carry
      events.localCheckpoint()
    }
    batches.reduce(_ unionByName _)
  }
}
