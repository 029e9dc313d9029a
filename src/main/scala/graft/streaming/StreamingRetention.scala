package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}
import graft.sink.ParquetSink

/** Incremental RETENTION MV: the cohort matrix of
  * [[graft.queries.EventQueries.gRetentionCohorts]] maintained while
  * events stream in.
  *
  * Like the substring-span family ([[StreamingSpans]]), the REPORT is
  * not append-only — a user's cohort day can only ever be set by their
  * first batch, but any later batch adds offset cells, and a late
  * event EARLIER than the user's known first day would move the whole
  * cohort row. What IS append-only (and replay/late-safe) is the
  * distinct ACTIVITY SET: (user_id, epoch_day) facts, idempotent under
  * re-delivery by PK FINAL, order-free because min() over the set is
  * order-free. The MV therefore accumulates activity rows — each
  * micro-batch pays one distinct over its own events — and the cohort
  * aggregation runs at read through the SAME `retentionFromActivity`
  * implementation as the batch query. State is (users × active days),
  * already the minimal fact set the metric is defined over.
  */
object StreamingRetention {

  // the batch query's own day constant — shared, not re-declared
  private val NanosPerDay = graft.queries.EventQueries.NanosPerDay
  private val eventSchema = StructType(Seq(
    StructField("doc_id", LongType), // event_id; the feed writer keys on doc_id
    StructField("ts", LongType), // epoch nanos (feed carries the normalized Long)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val pk = Seq("user_id", "epoch_day")

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint), folding each micro-batch's distinct (user, day)
    * facts into the activity table (PK FINAL — replays invisible). */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, eventSchema),
      s"$warehouse/_retention_checkpoint", "doc_id") { (batch, _, maxId) =>
      // distinct facts of THIS batch only — the per-batch increment
      val partial = batch
        .withColumn("epoch_day", expr(s"ts DIV ${NanosPerDay}L"))
        .select(col("user_id"), col("epoch_day"))
        .distinct()
        .withColumn("block_height", col("epoch_day"))
      ParquetSink.writeBatch(partial, s"$warehouse/retention_activity",
        maxId, pk)
    }

  /** The activity MV under the [[TwinReplay.replay]] restart — with or
    * without a compaction between the runs — read FINAL as the
    * (user_id, epoch_day) fact set. */
  private def replayedActivity(spark: SparkSession, dir: String,
      tag: String, nChunks: Int, compact: Boolean): DataFrame = {
    val warehouse = TwinReplay.replay(spark, tag,
      graft.Tables.events(spark, dir).select(col("event_id").as("doc_id"),
        col("ts"), col("user_id"), col("event_type"), col("value")),
      nChunks, eventSchema)(runStream(spark, _, _))(wh =>
      if (compact)
        ParquetSink.compact(spark, s"$wh/retention_activity", pk))
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/retention_activity"), pk)
      .select(col("user_id"), col("epoch_day"))
  }

  /** Declared query (`g_stream_retention`): stream the events table
    * through the activity MV ([[TwinReplay.replay]], no compaction),
    * then answer the cohort matrix from the accumulated activity set.
    * Same oracle as `g_retention_cohorts`. Correctness-only: its cost
    * is micro-batch orchestration, not data volume. */
  def gStreamRetention(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.queries.EventQueries.retentionFromActivity(replayedActivity(
      spark, dir, "retention", nChunks, compact = false))

  /** Declared query (`w_stream_active_users`): the SAME activity MV
    * (distinct (user, day) facts under PK FINAL — append-only,
    * replay-invisible; compacted between the runs), answered as the
    * DAU/WAU report through the shared
    * [[graft.queries.EventQueries.activeUsersFromFacts]]. The
    * trailing-distinct window is exactly the kind of result a sink
    * could never maintain incrementally (one late fact shifts seven
    * days of wau), while the fact set absorbs replays for free — the
    * retention precedent applied to a second non-additive report.
    * Same oracle as `w_active_users`. Correctness-only. */
  def wStreamActiveUsers(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.queries.EventQueries.activeUsersFromFacts(replayedActivity(
      spark, dir, "activeusers", nChunks, compact = true))
}
