package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.sink.ParquetSink

/** Incremental SUBSTRING-level dedup — the streaming twin of
  * [[graft.llm.Dedup.dDupSpans]], completing streaming coverage of the
  * substring granularity the way [[StreamingPrefix]] completed the
  * prefix family.
  *
  * What makes this family's incremental story DIFFERENT: a document's
  * duplicated spans can GROW after it arrives — a window unique today
  * becomes duplicated the moment any later document repeats it, so
  * per-document span results are not append-only facts and can never be
  * sink state. What IS append-only is the window INDEX: the
  * (doc_id, pos, win) relation, to which a document contributes exactly
  * once, at arrival (windows are a pure function of its text). The MV
  * therefore maintains the index incrementally — each micro-batch pays
  * only its own documents' tokenize + posexplode — and the span
  * aggregation (occurrence counts ≥ 2 → per-doc island merge) runs at
  * READ time over the accumulated index through the SAME
  * [[graft.llm.Dedup.spansFromWindows]] implementation as the batch
  * query, so "streamed index answers identically" is a property of the
  * index build alone. (At production scale a summed per-window count MV
  * can be layered over the index to skip the read-time occurrence
  * aggregation; the island merge is per-doc and cheap either way.)
  *
  * At-least-once / crash-safety is the [[StreamingDedup]] contract:
  * docs first, index second; replayed batches regenerate byte-identical
  * window rows that collapse through K2 FINAL on PK (doc_id, pos).
  */
object StreamingSpans {

  /** Run the streaming index build over every unconsumed chunk file,
    * then stop ([[StreamRunner.fold]] — the [[StreamingDedup.runStream]]
    * resume contract). Warehouse tables: `spans_docs` (PK doc_id),
    * `spans_index` ((doc_id, pos, win), PK (doc_id, pos)). */
  def runStream(spark: SparkSession, docsDir: String,
      warehouse: String): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, docsDir),
      s"$warehouse/_spans_checkpoint", "doc_id") { (batch, _, maxId) =>
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        s"$warehouse/spans_docs", maxId, Seq("doc_id"))
      // index commits second: a crash between the writes replays the
      // batch, regenerating identical window rows — FINAL-safe
      ParquetSink.writeBatch(
        Dedup.windowRows(batch).withColumn("block_height", col("doc_id")),
        s"$warehouse/spans_index", maxId, Seq("doc_id", "pos"))
    }

  /** Declared query (`d_stream_spans`): stream the MODELED corpus (the
    * batch family's base + remix relation — input modeling, not
    * operator work) through the real index MV under the
    * [[TwinReplay.replay]] restart, and answer the span report from
    * the accumulated index. Oracle: same SQL as `d_dup_spans`.
    * Correctness-only (excluded from Bench): its cost is micro-batch
    * orchestration; the batch twin is the benched operator. */
  def dStreamSpans(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "spans",
      Dedup.spansCorpus(graft.Tables.documents(spark, dir)).localCheckpoint(),
      nChunks, StreamingDedup.docSchema)(runStream(spark, _, _))(_ => ())
    val wins = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/spans_index"), Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos"), col("win"))
    val lengths = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/spans_docs"), Seq("doc_id"))
      .withColumn("n_tokens",
        size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long"))
      .select(col("doc_id"), col("n_tokens"))
    Dedup.spansFromWindows(wins, lengths).orderBy(col("doc_id"))
  }
}
