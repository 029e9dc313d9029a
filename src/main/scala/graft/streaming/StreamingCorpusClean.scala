package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.llm.CorpusPipeline
import graft.sink.ParquetSink

/** Incremental corpus cleaning — the streaming twin of
  * [[graft.llm.CorpusPipeline.pipeCorpusClean]]: documents are gated,
  * exact-deduped and near-dup-checked AS THEY ARRIVE, against
  * accumulated state, instead of re-running the whole batch pipeline
  * per crawl snapshot.
  *
  * Per micro-batch (same state-table architecture as
  * [[StreamingDedup]] / the receipt→tx resolver):
  *
  *  1. GATES — stateless narrow projections (quality + language), the
  *     same shared formulas as the batch pipeline, applied before any
  *     state is touched so state only ever holds gated documents;
  *  2. EXACT DEDUP — the batch keeps its per-batch min-id row per
  *     normalized hash, then anti-joins the accumulated hash-state
  *     table: a document whose content hash was seen in an earlier
  *     batch is dropped here, exactly where ReplacingMergeTree would
  *     absorb the re-insert (SURVEY K2);
  *  3. NEAR-DUP — only the surviving canon docs enter the LSH band
  *     state; candidates fire when the LATER doc arrives
  *     (new-vs-history ∪ self), verification reads the accumulated
  *     canon corpus — identical condition to the batch operator, so
  *     the union over batches equals the batch answer on an
  *     id-ordered feed (the reference's own strictly-ordered arrival
  *     contract, handlers/mod.rs:31-40).
  *
  * Crash safety: write order is canon docs → pairs → bands → hash
  * state LAST. A replay before the hash commit recomputes the batch
  * identically (its hashes are not yet in state); after the band
  * commit, re-discovered pairs and re-written rows collapse through
  * FINAL — every table self-heals.
  */
object StreamingCorpusClean {

  val feedSchema: StructType = new StructType()
    .add("doc_id", LongType).add("lang", StringType).add("text", StringType)

  private val docsPk = Seq("doc_id")
  private val hashPk = Seq("norm_hash")

  /** One micro-batch fold (pure): returns (canon docs with gate
    * metrics, new hash-state rows, new band rows, verified pairs,
    * verify-stage persists for the caller to release after its
    * writes). */
  def processBatch(newDocs: DataFrame,
      hashState: DataFrame, bandState: DataFrame,
      canonDocs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Seq[DataFrame]) = {
    val gated = CorpusPipeline.gateBatch(newDocs)
      .withColumn("norm_hash", md5(lower(trim(col("text")))))
    // within-batch min-id per hash, then drop hashes already in state
    val batchCanon = gated
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("norm_hash")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
      .join(hashState.select(col("norm_hash")), hashPk, "left_anti")
      .localCheckpoint() // consumed by 4 sinks/joins below
    val (newBands, pairs, cached) = StreamingDedup.processBatchTracked(
      batchCanon.select(col("doc_id"), col("text")), bandState,
      canonDocs.unionByName(batchCanon.select(col("doc_id"), col("text"))))
    (batchCanon, batchCanon.select(col("norm_hash"), col("doc_id")),
      newBands, pairs, cached)
  }

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint — same contract as [[StreamingDedup.runStream]]). */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit = {
    val docsPath = s"$warehouse/clean_docs"
    val hashPath = s"$warehouse/clean_hashes"
    val bandsPath = s"$warehouse/clean_bands"
    import spark.implicits._
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, feedSchema),
      s"$warehouse/_clean_checkpoint", "doc_id") { (batch, _, maxId) =>
      // hash/canon state resolve through FINAL like
      // StreamingDedup.runStream's allDocs: after a crash-replay the
      // raw files hold duplicate rows per PK, and raw reads would
      // multiply the anti-join/verify inputs (ADVICE r5). Band state
      // stays raw: replayed band rows are identical and the
      // candidate join ends in distinct().
      val hashState = if (ParquetSink.hasData(hashPath))
        ParquetSink.readFinal(spark.read.parquet(hashPath), hashPk)
      else Seq.empty[(String, Long)].toDF("norm_hash", "doc_id")
      val bandState = if (ParquetSink.hasData(bandsPath))
        spark.read.parquet(bandsPath)
      else Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bucket")
      val canonDocs = (if (ParquetSink.hasData(docsPath))
        ParquetSink.readFinal(spark.read.parquet(docsPath), docsPk)
      else Seq.empty[(Long, String)].toDF("doc_id", "text"))
        .select("doc_id", "text")
      val (canon, hashRows, newBands, pairs, cached) =
        processBatch(batch, hashState, bandState, canonDocs)
      // write order per the object scaladoc: docs, pairs, bands,
      // hash state LAST (the replay barrier)
      ParquetSink.writeBatch(
        canon.select(col("doc_id"), col("lang"), col("lang_guess"),
          col("n_tokens"), col("quality"), col("text"))
          .withColumn("block_height", col("doc_id")),
        docsPath, maxId, docsPk)
      ParquetSink.writeBatch(pairs.withColumn("block_height", col("doc_b")),
        s"$warehouse/clean_pairs", maxId, StreamingDedup.pairsPk)
      ParquetSink.writeBatch(
        newBands.withColumn("block_height", col("doc_id")),
        bandsPath, maxId, Seq("doc_id", "band"))
      ParquetSink.writeBatch(
        hashRows.withColumn("block_height", col("doc_id")),
        hashPath, maxId, hashPk)
      // drop EXACTLY this batch's verify-stage persists (see
      // StreamingDedup.runStream for the leak + scoping rationale)
      cached.foreach(_.unpersist())
    }
  }

  /** The cleaned-corpus read surface: accumulated canon docs minus the
    * larger id of every verified near-dup pair — the same projection
    * and drop policy as the batch pipeline's output. */
  def cleanedTable(spark: SparkSession, warehouse: String): DataFrame = {
    val docs = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/clean_docs"), docsPk)
    val drops =
      if (ParquetSink.hasData(s"$warehouse/clean_pairs"))
        ParquetSink.readFinal(
          spark.read.parquet(s"$warehouse/clean_pairs"),
          StreamingDedup.pairsPk)
          .select(col("doc_b").as("doc_id")).distinct()
      else {
        import spark.implicits._
        Seq.empty[Long].toDF("doc_id")
      }
    docs.join(drops, docsPk, "left_anti")
      .select(col("doc_id"), col("lang"), col("lang_guess"),
        col("n_tokens"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Declared query (`pipe_stream_clean`): stream the re-ingested
    * corpus (base ∪ shifted-id twin — originals arrive first in the
    * id-ordered feed, so canon survivors match the batch min-id
    * policy) through the REAL cleaning stream under the
    * [[TwinReplay.replay]] restart. Oracle: identical to
    * `pipe_corpus_clean`. Correctness-only, like `d_stream_minhash`. */
  def pipeStreamClean(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame = {
    def corpus = {
      val base = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("text"))
      base.unionByName(
        base.withColumn("doc_id", col("doc_id") + lit(100000L)))
    }
    cleanedTable(spark, TwinReplay.replay(spark, "clean", corpus, nChunks,
      feedSchema)(runStream(spark, _, _))(_ => ()))
  }
}
