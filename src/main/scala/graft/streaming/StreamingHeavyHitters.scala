package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Incremental VOCABULARY counts as a summing MV, with the φ-fraction
  * heavy-hitter read on top — the streaming twin of
  * [[graft.llm.TextAnalysis.tHeavyHitters]] (reference analog: the
  * per-insert MV pattern of `indexer-clickhouse/init/02-silver-tables
  * .sql`, applied to token statistics).
  *
  * Each micro-batch folds its documents to per-token partial counts
  * (integer-additive → order- and replay-independent) and lands through
  * [[ParquetSink.writeSummedBatch]]; the read collapses merged rows
  * plus the partial tail and applies the threshold. The batch query's
  * Count-Min sketch is a SCAN-side pruning device and deliberately has
  * no streaming counterpart here — the MV maintains the exact counts as
  * state, so the read needs no candidate stage (the sketch's job was to
  * avoid shuffling the long tail in a one-shot batch pass; the summing
  * sink has already absorbed that shuffle incrementally).
  *
  * State size is the distinct vocabulary — the same cardinality the
  * batch query's exact verify aggregates; at 100 TB the summed table is
  * hash-partitioned parquet, compaction keeps the merged prefix
  * bounded, and the threshold read is a filter over it.
  */
object StreamingHeavyHitters {

  private val hhSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val keys = Seq("token")
  private val sums = Seq("tf")

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint), folding each micro-batch into the summing table. */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, hhSchema),
      s"$warehouse/_vocab_checkpoint", "doc_id") { (batch, _, maxId) =>
      val partial = batch
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("block_height", lit(maxId))
      ParquetSink.writeSummedBatch(partial, s"$warehouse/vocab_summed",
        maxId, keys)
    }

  /** The φ-threshold read over the accumulated summed vocabulary —
    * shared by the declared query and the randomized soak. */
  def readHeavyHitters(spark: SparkSession, warehouse: String,
      phi: Double = 0.02): DataFrame = {
    val summed = ParquetSink.readSummed(
      spark.read.parquet(s"$warehouse/vocab_summed"), keys, sums)
      .select(col("token"), col("tf"))
    // ceil(φ·N) exactly as the batch query computes it (same double
    // arithmetic, same bits)
    val n = summed.agg(sum(col("tf"))).collect()(0).getLong(0)
    val minCount = math.ceil(phi * n).toLong
    summed.filter(col("tf") >= lit(minCount))
      .orderBy(col("tf").desc, col("token"))
  }

  /** Declared query (`t_stream_heavy_hitters`): stream the documents
    * table through the incremental vocabulary MV under the
    * [[TwinReplay.replay]] restart, a compaction MERGE between the two
    * runs, then the φ-threshold read over the summed counts. Equals
    * the batch [[graft.llm.TextAnalysis.tHeavyHitters]] and shares its
    * oracle. Correctness-only: its cost is micro-batch orchestration,
    * not data volume. */
  def tStreamHeavyHitters(spark: SparkSession, dir: String,
      phi: Double = 0.02, nChunks: Int = 5): DataFrame =
    readHeavyHitters(spark, TwinReplay.replay(spark, "hh",
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      nChunks, hhSchema)(runStream(spark, _, _))(wh =>
      ParquetSink.compactSummed(spark, s"$wh/vocab_summed", keys, sums)),
      phi)
}
