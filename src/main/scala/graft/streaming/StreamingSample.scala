package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import graft.sink.ParquetSink

/** Streaming twins for priority sampling (`t_stream_sample_priority`)
  * and the Pareto frontier (`t_stream_pareto`).
  *
  * Neither result is additive — one newly arrived heavy doc can evict
  * the current k-th member of its language, and one new point can
  * dominate away half the frontier — but BOTH are pure functions of an
  * append-only fact SET (a document's weight/coordinates never
  * change). So the MV is the fact log itself under PK FINAL (the
  * [[StreamingEventLog]] / [[StreamingSpans]] read-time-aggregation
  * contract) and the SHARED reads
  * ([[graft.llm.TextAnalysis.samplePriorityFromFacts]] /
  * [[graft.llm.TextAnalysis.paretoFromPoints]]) run at read —
  * identical oracles to the batch twins, replay-idempotent by key.
  *
  * Run shape: the [[TwinReplay.replay]] restart with a compaction
  * between the runs — the suite additionally pins streamed ≡ batch at
  * sf0.001.
  */
object StreamingSample {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private val paretoSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_chars", LongType),
    StructField("n_tokens", LongType)))

  /** Append-only doc-fact stream under PK FINAL (schema per twin). */
  def runFactsStream(spark: SparkSession, feedDir: String,
      warehouse: String,
      schema: StructType = feedSchema): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, schema),
      s"$warehouse/_facts_checkpoint", "doc_id") { (batch, _, maxId) =>
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        s"$warehouse/sample_facts", maxId, Seq("doc_id"))
    }

  /** The fact log under the [[TwinReplay.replay]] restart, compacted
    * between the runs; returns the FINAL log. */
  private def replayedFacts(spark: SparkSession, tag: String,
      facts: => DataFrame, nChunks: Int, schema: StructType): DataFrame = {
    val warehouse = TwinReplay.replay(spark, tag, facts, nChunks, schema)(
      runFactsStream(spark, _, _, schema))(wh =>
      ParquetSink.compact(spark, s"$wh/sample_facts", Seq("doc_id")))
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/sample_facts"), Seq("doc_id"))
  }

  /** Declared query (`t_stream_sample_priority`) — equals the batch
    * [[graft.llm.TextAnalysis.tSamplePriority]] and shares its oracle.
    * Correctness-only: its cost is micro-batch orchestration. */
  def tStreamSamplePriority(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.llm.TextAnalysis.samplePriorityFromFacts(
      replayedFacts(spark, "sample", graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")),
        nChunks, feedSchema)
        .select(col("doc_id"), col("lang"), col("n_chars")))

  /** Declared query (`t_stream_pareto`) — equals the batch
    * [[graft.llm.TextAnalysis.tParetoFrontier]] and shares its oracle.
    * Correctness-only: its cost is micro-batch orchestration. */
  def tStreamPareto(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.llm.TextAnalysis.paretoFromPoints(
      replayedFacts(spark, "pareto", graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        nChunks, paretoSchema)
        .select(col("doc_id"), col("n_chars"), col("n_tokens")))
}
