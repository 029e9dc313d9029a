package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.sink.ParquetSink

/** The two-wave restart every streaming twin replays. A restartable
  * incremental view is one query model (Structured Streaming, SIGMOD
  * 2018), so each twin's stream is a [[StreamRunner.fold]] and its
  * restart is [[replay]]; a twin supplies only its per-batch writes, its
  * feed projection, its compaction and its read.
  */
object TwinReplay {

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
