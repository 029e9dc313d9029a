package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}
import graft.queries.EventQueries
import graft.sink.ParquetSink

/** Streaming twins for the round-10 batch-only event operators
  * (VERDICT r10 #5), each on an established state pattern:
  *
  *  - `w_stream_gap_fill`: the hourly high-value DECIMAL grid is
  *    integer/decimal-ADDITIVE, so it streams as a summing MV (the
  *    [[StreamingAnomaly]] pattern — the forward-FILL itself would be
  *    terrible sink state: one late hour shifts every later filled
  *    value, while the grid absorbs any replay); the dense-grid
  *    forward fill runs at read through THE shared
  *    [[EventQueries.gapFillFromHourly]].
  *  - `k_stream_scd2` / `w_stream_interval_coverage`: SCD2 runs and
  *    interval unions are NOT additive (a late event can split a run /
  *    merge sessions), but both derive from an APPEND-ONLY event log —
  *    a row's (event_id → user, ts, type) facts never change — so the
  *    MV is the log itself under PK FINAL (the [[StreamingSpans]]
  *    read-time-aggregation contract) and the analytics run at read
  *    through the shared [[EventQueries.scd2FromEvents]] /
  *    [[EventQueries.coverageFromEvents]]. (At production scale the
  *    read would ride the summing/hourly MVs for its bounded grids;
  *    the log IS the reference's own bronze-table design.)
  *
  * All three run the [[TwinReplay.replay]] restart (two chunks, a
  * STOP, a compaction, then the full feed against the same
  * checkpoint) and share the oracle of their batch twin.
  */
object StreamingEventLog {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType), // event_id; the feed writer keys on doc_id
    StructField("ts", LongType), // epoch nanos (feed carries the normalized Long)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val gridKeys = Seq("event_type", "epoch_hour")
  private val gridSums = Seq("hour_dec")

  /** Summing-MV stream for the hourly grid (gap fill). */
  def runGridStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, feedSchema),
      s"$warehouse/_grid_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = EventQueries.hourlyHighValue(batch)
        .withColumn("block_height", col("epoch_hour"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/hourly_summed",
        maxId, gridKeys)
    }

  /** Append-only event-log stream (SCD2 / interval coverage). */
  def runLogStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, feedSchema),
      s"$warehouse/_log_checkpoint", "doc_id") { (batch, _, maxId) =>
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        s"$warehouse/events_log", maxId, Seq("doc_id"))
    }

  private def feedRows(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select(col("event_id").as("doc_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  /** The log twins' MV build: the events feed through the
    * [[TwinReplay.replay]] restart, the log compacted between runs;
    * returns the FINAL log. */
  private def replayedLog(spark: SparkSession, dir: String, tag: String,
      nChunks: Int): DataFrame = {
    val warehouse = TwinReplay.replay(spark, tag, feedRows(spark, dir),
      nChunks, feedSchema)(runLogStream(spark, _, _))(wh =>
      ParquetSink.compact(spark, s"$wh/events_log", Seq("doc_id")))
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/events_log"), Seq("doc_id"))
  }

  /** Declared query (`w_stream_gap_fill`) — equals the batch
    * [[EventQueries.wGapFill]] and shares its oracle. Correctness-only:
    * its cost is micro-batch orchestration, not data volume. */
  def wStreamGapFill(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "gapfill", feedRows(spark, dir),
      nChunks, feedSchema)(runGridStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(
        spark, s"$wh/hourly_summed", gridKeys, gridSums))
    val grid = ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/hourly_summed"), gridKeys, gridSums)
      .select(col("event_type"), col("epoch_hour"), col("hour_dec"))
    EventQueries.gapFillFromHourly(grid)
  }

  /** Declared query (`k_stream_scd2`) — equals the batch
    * [[EventQueries.kScd2History]] and shares its oracle. */
  def kStreamScd2(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    EventQueries.scd2FromEvents(replayedLog(spark, dir, "scd2", nChunks)
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("doc_id").as("event_id"), col("event_type")))

  /** Declared query (`w_stream_interval_coverage`) — equals the batch
    * [[EventQueries.wIntervalCoverage]] and shares its oracle. */
  def wStreamIntervalCoverage(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    EventQueries.coverageFromEvents(spark,
      replayedLog(spark, dir, "coverage", nChunks)
        .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
          col("doc_id").as("event_id")))

  /** Declared query (`w_stream_funnel`) — equals the batch
    * [[EventQueries.wFunnelSteps]] and shares its oracle. Funnel levels
    * are NOT additive (one late event can upgrade a user's deepest
    * chain), but they derive from the append-only event log — the same
    * PK-FINAL facts MV the SCD2/coverage twins ride, answered through
    * the SHARED [[EventQueries.funnelFromEvents]] at read. */
  def wStreamFunnel(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    EventQueries.funnelFromEvents(spark,
      replayedLog(spark, dir, "funnel", nChunks)
        .select(col("user_id"), col("ts"), col("event_type")),
      86400L * 1000000000L)

  /** Declared query (`w_stream_rfm`) — equals the batch
    * [[EventQueries.wRfm]] and shares its oracle. Quartile scores are
    * non-additive (a late purchase moves boundaries), but they derive
    * from the append-only purchase log — the same PK-FINAL facts MV as
    * the SCD2/coverage/funnel twins, answered through the SHARED
    * [[EventQueries.rfmFromPurchases]] at read. */
  def wStreamRfm(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    EventQueries.rfmFromPurchases(replayedLog(spark, dir, "rfm", nChunks)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts DIV 1000L").as("ts_us"),
        col("value")))

  // ---------------- streaming tombstone deletes ----------------------

  /** Feed rows for the tombstone scenario: the batch builder's four
    * waves (load / delete / REPLAYED delete / resurrect —
    * [[EventQueries.kTombstoneDelete]]) serialized as one ordered feed.
    * `doc_id` (the feed's chunk/order key) encodes (wave, event_id) so
    * chunk boundaries never reorder waves; `seq` is each row's WAVE
    * version — the ReplacingMergeTree `ver` the sink must preserve
    * regardless of how micro-batches slice the feed. */
  private val tombstoneFeedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("block_height", LongType),
    StructField("is_deleted", LongType),
    StructField("seq", LongType)))

  private def tombstoneWaves(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .withColumn("block_height", pmod(col("event_id"), lit(100)))
    def wave(df: DataFrame, waveIdx: Long, seq: Long,
        deleted: Long): DataFrame =
      df.withColumn("is_deleted", lit(deleted))
        .withColumn("seq", lit(seq))
        .withColumn("doc_id",
          lit(waveIdx * 1000000000L) + col("event_id"))
    val deletes = e.filter(pmod(col("event_id"), lit(7)) === 0)
    val resurrect = e.filter(pmod(col("event_id"), lit(21)) === 0)
    wave(e, 0, 1, 0)
      .unionByName(wave(deletes, 1, 2, 1))
      .unionByName(wave(deletes, 2, 2, 1)) // at-least-once redelivery
      .unionByName(wave(resurrect, 3, 3, 0))
      .select(tombstoneFeedSchema.fieldNames.map(col): _*)
  }

  /** PK-FINAL sink stream for the tombstone feed: each micro-batch is
    * split by the rows' WAVE seq (≤ 4 distinct values by construction
    * — a bounded collect) and appended per wave, so version semantics
    * are independent of micro-batch slicing; a replayed wave re-inserts
    * under its original seq and FINAL's deterministic tie-break absorbs
    * it. */
  def runTombstoneStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(
      StreamingDedup.readDocStream(spark, feedDir, tombstoneFeedSchema),
      s"$warehouse/_tomb_checkpoint", "doc_id") { (batch, _, _) =>
      val seqs = batch.select(col("seq")).distinct()
        .collect().map(_.getLong(0)).sorted
      seqs.foreach { s =>
        ParquetSink.writeBatch(
          batch.filter(col("seq") === s)
            .select(col("event_id"), col("user_id"),
              col("event_type"), col("value"), col("block_height"),
              col("is_deleted")),
          s"$warehouse/tomb", s, Seq("event_id"))
      }
    }

  /** Declared query (`k_stream_tombstone`) — the tombstone-DELETE path
    * through the REAL streaming engine, same oracle as the batch
    * [[EventQueries.kTombstoneDelete]]: checkpointed file stream over
    * the four waves, a STOP after 7/8 chunks (past the delete waves,
    * so tombstones exist at the pause), a compaction the tombstones
    * must survive, then the full feed against the same checkpoint (the
    * mid-stream restart). The final read hides flagged keys and must
    * equal the closed-form alive set. */
  def kStreamTombstone(spark: SparkSession, dir: String,
      nChunks: Int = 8): DataFrame = {
    import graft.validate.Validation.h60
    import graft.Tables.dsum
    val warehouse = TwinReplay.replay(spark, "tomb", tombstoneWaves(spark, dir),
      nChunks, tombstoneFeedSchema, firstWave = nChunks - 1)(
      runTombstoneStream(spark, _, _))(wh =>
      ParquetSink.compact(spark, s"$wh/tomb", Seq("event_id")))
    ParquetSink.readFinalWithDeletes(
      spark.read.parquet(s"$warehouse/tomb"), Seq("event_id"))
      .agg(
        count(lit(1)).as("n_alive"),
        bit_xor(h60(col("event_id").cast("string"))).as("alive_fp"),
        dsum(col("value"), 2).as("sum_value"))
  }
}
