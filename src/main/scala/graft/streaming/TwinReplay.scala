package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.sink.ParquetSink

/** The one harness every streaming twin runs through: a restartable
  * incremental view is one query model (Structured Streaming, SIGMOD
  * 2018), so it gets one micro-batch driver ([[fold]]) and one
  * two-wave restart ([[replay]]). A twin supplies only its per-batch
  * writes, its feed projection, its compaction and its read.
  */
object TwinReplay {

  /** Drain every file of `source` the checkpoint has not consumed yet,
    * then stop (`Trigger.AvailableNow`: a later call on the same
    * checkpoint resumes at the first unseen file). Each micro-batch is
    * materialized once; one `max(orderCol)` aggregate both skips an
    * empty batch (null max) and yields the batch's order key, which
    * `body` gets as the insert seq its sinks dedup replays on. */
  def fold(source: DataFrame, checkpoint: String,
      orderCol: String = "doc_id")(body: (DataFrame, Long) => Unit): Unit =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.localCheckpoint()
        val top = batch.agg(max(col(orderCol))).head()
        if (!top.isNullAt(0)) body(batch, top.getLong(0))
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The mid-stream restart every declared twin replays: the first
    * `firstWave` chunks of `feedRows` land and `run(feed, warehouse)`
    * drains them; `compact(warehouse)` merges the state between runs;
    * then the full feed lands (byte-identical early chunks, see
    * [[StreamingDedup.writeDocChunks]]) and `run` resumes from the same
    * checkpoint, so only the unseen chunks stream. Feed and warehouse
    * are fresh per call ([[ParquetSink.scratchDir]]), so concurrent
    * twins never share state. Returns the warehouse dir. */
  def replay(spark: SparkSession, tag: String, feedRows: => DataFrame,
      nChunks: Int, schema: StructType, firstWave: Int = 2)(
      run: (String, String) => Unit)(compact: String => Unit): String = {
    graft.Tables.tune(spark)
    val rows = feedRows // built once, on the tuned session
    val feed = ParquetSink.scratchDir(s"${tag}_feed")
    val warehouse = ParquetSink.scratchDir(s"${tag}_wh")
    StreamingDedup.writeDocChunks(spark, rows, feed, nChunks,
      takeChunks = firstWave, schema = schema)
    run(feed, warehouse)
    compact(warehouse)
    StreamingDedup.writeDocChunks(spark, rows, feed, nChunks,
      schema = schema)
    run(feed, warehouse)
    warehouse
  }
}
