package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Incremental DATASET CARD: the per-(split, language) composition
  * report maintained as a summing MV while documents stream in — the
  * LLM-side use of the SummingMergeTree-analog sink the NEAR gold
  * rollup exercises (reference analog: incremental MVs over the insert
  * stream, `indexer-clickhouse/init/02-silver-tables.sql` MV pattern).
  *
  * Each micro-batch folds to one tiny (split, lang) partial — counts
  * and exact token sums, both integer-additive and so order- and
  * replay-independent — and lands through
  * [[ParquetSink.writeSummedBatch]] with a content-derived insert seq.
  * Structured Streaming's checkpoint gives replay-stable batch
  * boundaries (byte-identical chunk files, same batch content), which
  * is exactly the contract the summing sink's replay dedup requires;
  * reads collapse merged rows plus the partial tail, so the card is
  * queryable mid-stream at O(splits × languages) cost instead of a
  * full-corpus re-aggregation.
  */
object StreamingDatasetCard {

  private val cardSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))
  private val keys = Seq("split", "lang")
  private val sums = Seq("n_docs", "total_tokens")

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint), folding each micro-batch into the summing table. */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, cardSchema),
      s"$warehouse/_card_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = TextAnalysis.withSplit(batch)
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("text"))).cast("long"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .withColumn("block_height", lit(maxId))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/card_summed",
        maxId, keys)
    }

  /** Declared query (`t_stream_dataset_card`): stream the documents
    * table through the incremental card under the [[TwinReplay.replay]]
    * restart — a compaction MERGE between the two runs (later partials
    * must stay above the merge watermark) — then read the summed table
    * and attach token shares. Equals the batch
    * [[TextAnalysis.tDatasetCard]], and shares its oracle.
    * Correctness-only: its cost is micro-batch orchestration, not data
    * volume. */
  def tStreamDatasetCard(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "card",
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang")),
      nChunks, cardSchema)(runStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(spark, s"$wh/card_summed", keys, sums))
    val summed = ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/card_summed"), keys, sums)
    val totals = summed.groupBy(col("split"))
      .agg(sum(col("total_tokens")).as("split_tokens"))
    summed.join(broadcast(totals), Seq("split"))
      .withColumn("token_share",
        col("total_tokens").cast("double") / col("split_tokens").cast("double"))
      .select(col("split"), col("lang"), col("n_docs"), col("total_tokens"),
        col("token_share"))
      .orderBy(col("split"), col("lang"))
  }
}
