package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  StringType, StructField, StructType}
import graft.sink.ParquetSink

/** Incremental ROLLING-WINDOW MV: [[graft.queries.EventQueries
  * .wRolling7d]]'s 7-day rolling totals maintained while events stream
  * in — the window-analytics use of the SummingMergeTree-analog sink
  * (reference analog: incremental MVs over the insert stream,
  * `indexer-clickhouse/init/02-silver-tables.sql`).
  *
  * The MV state is the DAILY GRID, not the window: each micro-batch
  * folds to (event_type, epoch_day) partials with DECIMAL value sums
  * (exact, hence order- and replay-independent — the additive-state
  * contract the summing sink requires), and the RANGE-frame window is
  * applied AT READ over the summed grid. Windowed aggregates make poor
  * sink state (a late row would have to rewrite 7 days of rolling
  * totals); additive daily cells absorb ANY late/replayed row, and the
  * read-side window over the days × types grid costs O(grid), not
  * O(events).
  */
object StreamingRolling {

  // the batch query's own day constant — shared, not re-declared
  private val NanosPerDay = graft.queries.EventQueries.NanosPerDay
  /** The rolling grid's event feed schema (`doc_id` = event_id). */
  val eventSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), // event_id; the feed writer keys on doc_id
    StructField("ts", LongType), // epoch nanos (feed carries the normalized Long)
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val keys = Seq("event_type", "epoch_day")
  private val sums = Seq("day_dec")

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint), folding each micro-batch into the daily summing
    * grid. */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, eventSchema),
      s"$warehouse/_rolling_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .groupBy(col("event_type"), col("epoch_day"))
        .agg(sum(col("value").cast(DecimalType(28, 2))).as("day_dec"))
        .withColumn("day_dec", col("day_dec").cast(DecimalType(28, 2)))
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/rolling_summed",
        maxId, keys)
    }

  /** The read-time RANGE-frame window over the summed daily grid. */
  def readRolling(spark: SparkSession, warehouse: String): DataFrame = {
    val grid = ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/rolling_summed"), keys, sums)
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rangeBetween(-6, Window.currentRow)
    grid
      .withColumn("rolling_7d", sum(col("day_dec")).over(w).cast("double"))
      .select(col("event_type"), col("epoch_day"),
        col("day_dec").cast("double").as("day_value"), col("rolling_7d"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** Declared query (`w_stream_rolling_7d`): stream the events table
    * through the incremental grid under the [[TwinReplay.replay]]
    * restart, a compaction MERGE between the two runs, then apply the
    * RANGE-frame window over the summed grid. Equals the batch
    * [[graft.queries.EventQueries.wRolling7d]] and shares its oracle.
    * Correctness-only: its cost is micro-batch orchestration, not data
    * volume. */
  def wStreamRolling7d(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    readRolling(spark, TwinReplay.replay(spark, "rolling",
      graft.Tables.events(spark, dir).select(col("event_id").as("doc_id"),
        col("ts"), col("event_type"), col("value")),
      nChunks, eventSchema)(runStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(spark, s"$wh/rolling_summed", keys, sums)))
}
