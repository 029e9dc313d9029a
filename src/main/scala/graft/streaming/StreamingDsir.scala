package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sink.ParquetSink
import graft.llm.TextAnalysis

/** Streaming twin of the DSIR importance-weight selector
  * ([[graft.llm.TextAnalysis.tDsirWeights]]).
  *
  * The WEIGHTS are the canonical not-incrementally-materializable
  * result — every arriving document shifts the raw-corpus bucket model
  * and with it every already-scored document's weight (the same
  * model-drift shape as [[StreamingLmScore]]). What IS incremental is
  * the fact table underneath: the per-(doc, bucket) token counts are
  * computed entirely from their one document, so they arrive once and
  * never change → a PK-FINAL table keyed (doc_id, b), replay-safe by
  * the sink's own contract. The bucket MODEL is a B-bounded aggregation
  * of that table and is derived AT READ together with the fold and the
  * top-k, through THE shared [[TextAnalysis.dsirFromCounts]] — so
  * streamed equals batch bit-for-bit and aliases its oracle.
  *
  * At 100 TB the facts table is (corpus docs × ≤B) rows of integers,
  * hash-partitioned parquet; the read's wide work is one B-bounded
  * aggregation plus a broadcast rejoin — the same plan as batch. */
object StreamingDsir {

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType)))
  private val pk = Seq("doc_id", "b")

  /** Drain every unseen chunk ([[StreamRunner.fold]], resumable
    * checkpoint): per micro-batch, land the batch docs' bucket counts
    * under PK FINAL. `target` is the same any-predicate target the
    * batch selector takes (VERDICT r14 #7) — evaluated per document
    * while its row is in hand, stored as the `is_target` fact, so the
    * streamed MV serves whatever target distribution the deployment
    * points it at. */
  def runStream(spark: SparkSession, feedDir: String, warehouse: String,
      target: org.apache.spark.sql.Column =
        col("lang") === "en"): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, feedSchema),
      s"$warehouse/_dsir_checkpoint", "doc_id") { (batch, _, maxId) =>
      ParquetSink.writeBatch(
        TextAnalysis.dsirDocBucketCounts(batch, target = target)
          .withColumn("block_height", col("doc_id")),
        s"$warehouse/dsir_db", maxId, pk)
    }

  /** Weigh the accumulated corpus against the accumulated bucket model
    * — the shared model + fold + top-k over the FINAL facts read. */
  def readWeights(spark: SparkSession, warehouse: String,
      k: Int = 100): DataFrame =
    TextAnalysis.dsirFromCounts(
      ParquetSink.readFinal(
        spark.read.parquet(s"$warehouse/dsir_db"), pk)
        .select(col("doc_id"), col("is_target"), col("b"), col("c")), k)

  /** Declared query (`t_stream_dsir`): stream the documents table into
    * the incremental facts MV under the [[TwinReplay.replay]] restart,
    * a compaction merge between the runs, then the shared weighing
    * read. Equals the batch [[TextAnalysis.tDsirWeights]] and shares
    * its oracle. Correctness-only: its cost is micro-batch
    * orchestration, not data volume. */
  def tStreamDsir(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    readWeights(spark, TwinReplay.replay(spark, "dsir",
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text")),
      nChunks, feedSchema)(runStream(spark, _, _))(wh =>
      ParquetSink.compact(spark, s"$wh/dsir_db", pk)))
}
