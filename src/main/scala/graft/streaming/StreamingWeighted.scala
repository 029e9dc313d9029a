package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import graft.sink.ParquetSink

/** Streaming twin for the weighted percentiles
  * (`t_stream_weighted_percentiles`).
  *
  * The quantile itself is not incrementally maintainable (one new doc
  * can shift every cut), but the (lang, value) WEIGHT HISTOGRAM the
  * nearest-rank lookup reads is purely ADDITIVE — so the MV is the
  * histogram as a summing sink (the [[StreamingAnomaly]] /
  * [[StreamingEventLog]] grid pattern: per-batch partial aggregates,
  * replay absorbed by seq, background merges invisible), and the SHARED
  * lookup ([[graft.llm.TextAnalysis.weightedPercentilesFromHist]]) runs
  * at read. State is value-cardinality-bounded, never raw docs.
  */
object StreamingWeighted {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private val gridKeys = Seq("lang", "value")
  private val gridSums = Seq("wsum")

  /** Summing-MV stream for the per-(lang, value) weight histogram. */
  def runHistStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, feedSchema),
      s"$warehouse/_hist_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = graft.llm.TextAnalysis.weightHist(batch)
        .withColumn("block_height", col("value"))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/weight_hist",
        maxId, gridKeys)
    }

  /** Declared query (`t_stream_weighted_percentiles`) — equals the
    * batch [[graft.llm.TextAnalysis.tWeightedPercentiles]] and shares
    * its oracle. Correctness-only: its cost is micro-batch
    * orchestration. */
  def tStreamWeightedPercentiles(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "weighted",
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars")),
      nChunks, feedSchema)(runHistStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(spark, s"$wh/weight_hist",
        gridKeys, gridSums))
    val hist = ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/weight_hist"), gridKeys, gridSums)
      .select(col("lang"), col("value"), col("wsum"))
    graft.llm.TextAnalysis.weightedPercentilesFromHist(hist)
  }
}
