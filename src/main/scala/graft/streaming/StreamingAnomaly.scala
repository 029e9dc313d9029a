package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}
import graft.sink.ParquetSink

/** Incremental ANOMALY detection: the (event_type, epoch_day) daily
  * count grid maintained as a summing MV while events stream in, with
  * the integer-exact 2σ read applied on top — the data-quality tripwire
  * ([[graft.queries.EventQueries.wAnomalyZscore]]) kept hot
  * incrementally (reference analog: incremental MVs over the insert
  * stream, `indexer-clickhouse/init/02-silver-tables.sql`).
  *
  * The MV state is the daily COUNT grid — integer-additive, so order-
  * and replay-independent, exactly the additive-state contract the
  * summing sink requires (the detection itself makes poor sink state:
  * one new day shifts every day's z-score; the grid absorbs any
  * late/replayed row and the read costs O(days × types), not
  * O(events)). Detection at read reuses THE shared detector
  * [[graft.queries.EventQueries.anomalyFromDaily]] — one test, two
  * grid builders, so the streamed MV cannot drift from the batch
  * query.
  */
object StreamingAnomaly {

  private val NanosPerDay = 86400L * 1000000000L
  private val eventSchema = StructType(Seq(
    StructField("doc_id", LongType), // event_id; the feed writer keys on doc_id
    StructField("ts", LongType), // epoch nanos (feed carries the normalized Long)
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val keys = Seq("event_type", "epoch_day")
  private val sums = Seq("day_count")

  /** Drain every unseen chunk file through [[StreamRunner.fold]],
    * folding each micro-batch into the daily count grid. */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(
      StreamingDedup.readDocStream(spark, feedDir, eventSchema),
      s"$warehouse/_anomaly_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .groupBy(col("event_type"), col("epoch_day"))
        .agg(count(lit(1)).as("day_count"))
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/anomaly_summed",
        maxId, keys)
    }

  /** Declared query (`w_stream_anomaly`): stream the events table
    * through the incremental grid — two chunks, a mid-stream restart
    * from the same checkpoint (only unseen chunks replay), a compaction
    * MERGE between the two runs — then the shared integer-exact 2σ
    * detector over the summed grid. Equals the batch
    * [[graft.queries.EventQueries.wAnomalyZscore]] and shares its
    * oracle. Correctness-only: its cost is micro-batch orchestration,
    * not data volume. */
  def wStreamAnomaly(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    readAnomalies(spark, replayed(spark, dir, "anomaly", nChunks))

  /** Declared query (`w_stream_anomaly_mad`): the ROBUST detector over
    * the SAME incrementally-summed daily grid — the median/MAD read is
    * not additive (a new day can move both medians), but its input
    * grid is, so the MV is shared-shape with the z-score twin and the
    * detection runs at read through THE shared
    * [[graft.queries.EventQueries.madFromDaily]]. Equals the batch
    * `w_anomaly_mad` and shares its oracle. */
  def wStreamAnomalyMad(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.queries.EventQueries.madFromDaily(
      grid(spark, replayed(spark, dir, "anomaly_mad", nChunks)))

  /** Both anomaly twins' MV build: the events feed through the
    * [[TwinReplay.replay]] restart, the grid compacted between runs. */
  private def replayed(spark: SparkSession, dir: String, tag: String,
      nChunks: Int): String =
    TwinReplay.replay(spark, tag,
      graft.Tables.events(spark, dir).select(col("event_id").as("doc_id"),
        col("ts"), col("event_type"), col("value")),
      nChunks, eventSchema)(runStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(spark, s"$wh/anomaly_summed", keys, sums))

  private def grid(spark: SparkSession, warehouse: String): DataFrame =
    ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/anomaly_summed"), keys, sums)
      .select(col("event_type"), col("epoch_day"), col("day_count"))

  /** The shared-detector read over the accumulated summed grid —
    * shared by the declared query and the randomized soak. */
  def readAnomalies(spark: SparkSession, warehouse: String): DataFrame =
    graft.queries.EventQueries.anomalyFromDaily(grid(spark, warehouse))
}
