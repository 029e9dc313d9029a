package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.model.{AccountsConfig, NearModel}
import graft.runner.BatchRunner
import graft.sink.{ForkFreeLocalFs, ParquetSink}
import graft.sources.BlockFileSource

/** Micro-batch driver for the streaming path: blocks arrive in height
  * order (the reference's buffer_unordered(1) strictly-sequential
  * contract, indexer-clickhouse/src/handlers/mod.rs:31-40), and each
  * micro-batch runs the one per-batch body both runners share,
  * [[graft.runner.BatchRunner.ingestBatch]].
  *
  * [[runStream]] is the product shape — a real Structured Streaming
  * query (`readBlockStream` file source → [[fold]] →
  * [[graft.sink.ParquetSink]]) with a checkpointLocation, so a stopped
  * or crashed runner restarts where it left off. [[fold]] is the one
  * micro-batch driver, which every streaming twin runs through too.
  */
object StreamRunner {

  /** Run the streaming pipeline over every block file currently in
    * `blocksDir` that the checkpoint has not consumed yet, then stop
    * ([[fold]]; admission control honors maxFilesPerTrigger=1, so each
    * micro-batch is exactly one file in mtime=height order). Call again
    * after new files land — the SAME checkpoint resumes from the first
    * unseen file, which IS the reference's resume-from-last-height loop
    * (S3) in Structured Streaming form.
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
    * [[graft.runner.BatchRunner.ingestBatch]]; default no-op. */
  def runStream(
      spark: SparkSession,
      blocksDir: String,
      warehouse: String,
      accounts: AccountsConfig = AccountsConfig(),
      ttlBlocks: Long = NearModel.TtlBlocks,
      failpoint: (Long, Int) => Unit = (_, _) => ()): Unit = {
    var state = BatchRunner.loadState(spark, warehouse)
    fold(BlockFileSource.readBlockStream(spark, blocksDir),
        s"$warehouse/_stream_checkpoint", "header.height") {
      (blocks, minH, maxH) =>
        state = BatchRunner.ingestBatch(blocks, minH, maxH, state,
          warehouse, accounts, ttlBlocks, failpoint)
    }
  }

  /** The one micro-batch driver, of the ingest stream and of every
    * streaming twin: drain every file of `source` the checkpoint has not
    * consumed yet, then stop (`Trigger.AvailableNow`: a later call on the
    * same checkpoint resumes at the first unseen file), folding each
    * non-empty micro-batch through `body(batch, lo, hi)`, where `lo` and
    * `hi` are the batch's least and greatest `orderCol` (a twin's sinks
    * take `hi` as the insert seq their dedup absorbs replays on).
    *
    * The micro-batch is checkpointed lazily, and one aggregate
    * ([[graft.runner.BatchRunner.keyRange]]) both materializes it and
    * finds `lo`/`hi`, or skips an empty batch; every read of the batch
    * in `body` reads the materialized rows, not the source.
    *
    * The query runs under [[graft.sink.ForkFreeLocalFs.checkpointConf]]
    * for its whole life, so the checkpoint's offset, commit and source
    * logs (`FileContext` on `file:`) set permissions and read link
    * status in-process instead of forking `chmod` and `readlink`.
    *
    * `start()` must stay in this file: Spark stamps every job of a
    * streaming query with the call site of its `start()`, which names
    * the module the jobs are filed under. */
  def fold(source: DataFrame, checkpoint: String, orderCol: String)(
      body: (DataFrame, Long, Long) => Unit): Unit =
    ParquetSink.withConf(Seq(source.sparkSession),
        ForkFreeLocalFs.checkpointConf) {
      source.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val batch = b.localCheckpoint(eager = false)
          BatchRunner.keyRange(batch, orderCol).foreach { case (lo, hi, _) =>
            body(batch, lo, hi)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
}
