package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.sink.ParquetSink

/** Incremental EXACT set-similarity join — the streaming twin of
  * [[graft.llm.Dedup.dPrefixPairs]] (VERDICT r8 #7), completing the
  * streaming coverage of the fifth dedup family.
  *
  * The batch family's recall-1 argument is the TWO-sided prefix theorem
  * under one global rarity order. A stream cannot freeze that order —
  * document frequencies drift as the corpus accumulates, and a shingle
  * that is rare today may be common tomorrow, silently invalidating
  * prefixes computed yesterday. The twin therefore rests on the
  * ONE-sided prefix theorem, which needs no stable order at all:
  *
  *   if J(a,b) ≥ t then |a∩b| ≥ t·|∪| ≥ t·|b|, while b's suffix under
  *   ANY total order holds only ⌈t·|b|⌉ − 1 < t·|b| elements — so at
  *   least one element of a∩b sits in b's prefix, i.e. prefix(b) must
  *   hit a's FULL set.
  *
  * Hence the state table indexes each history document's FULL shingle
  * set (the [[graft.llm.Dedup.dShingleNovelty]] relation — shingle-
  * vocabulary-sized, hash-partitioned, never broadcast), and each
  * micro-batch probes with only its NEW documents' prefixes, computed
  * under the rarity order of the corpus AS OF THIS BATCH. Per-batch
  * rarity is a pure perf choice here (probe keys are the batch's rarest
  * shingles, so index buckets stay small); correctness never depends on
  * it, which is exactly what the one-sided theorem buys. A pair is
  * discovered when its LATER document arrives — never all-pairs — and
  * the exact-Jaccard verify is byte-shared with the batch operator, so
  * the accumulated output is identical (same oracle, pinned in
  * StreamingSpec).
  *
  * At-least-once / crash-safety is the [[StreamingDedup]] contract
  * verbatim: docs first, pairs second, index LAST, every table
  * self-healing through K2 FINAL semantics.
  */
object StreamingPrefix {

  /** One micro-batch fold (pure — shared by the stream and any batch
    * replayer): verified pairs whose LATER doc is in `newDocs`, probed
    * against `stateIndex` (history's full (doc_id, h) shingle rows)
    * and verified against `allDocs` (accumulated corpus INCLUDING this
    * batch). Returns (this batch's index rows, verified pairs, caches
    * to release after the caller's writes). */
  def processBatchTracked(newDocs: DataFrame, stateIndex: DataFrame,
      allDocs: DataFrame,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): (DataFrame, DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    // full shingle rows of the batch: consumed by the DF count, the
    // probe build, AND written to the index by the caller
    val newRows = newDocs
      .select(col("doc_id"), explode(expr(gramHashes)).as("h"))
      .localCheckpoint()
    val all = stateIndex.select("doc_id", "h").unionByName(newRows)
    // rarity as of this batch: document frequency over the accumulated
    // index including the batch (a perf lever only — see scaladoc)
    val freq = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("h").asc)
    val sized = newRows.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val probe = newRows
      .join(sized, "doc_id")
      .join(freq, "h")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Dedup.prefixLenCol(threshold, col("n")))
      .select(col("doc_id"), col("h"))
    val cand = probe.as("p")
      .join(all.as("o"),
        col("p.h") === col("o.h") && col("p.doc_id") =!= col("o.doc_id"))
      .select(least(col("p.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
    val (pairs, cached) =
      Dedup.verifiedPairsTracked(cand, allDocs, gramHashes, threshold)
    (newRows, pairs, cached)
  }

  /** Run the streaming prefix join over every unconsumed chunk file,
    * then stop ([[StreamRunner.fold]] — same resume contract as
    * [[StreamingDedup.runStream]]). Warehouse tables: `prefix_docs`,
    * `prefix_index` (full shingle rows, PK (doc_id, h)),
    * `prefix_pairs` (verified output, PK (doc_a, doc_b)). */
  def runStream(spark: SparkSession, docsDir: String, warehouse: String,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): Unit = {
    val docsPath = s"$warehouse/prefix_docs"
    val indexPath = s"$warehouse/prefix_index"
    import spark.implicits._
    StreamRunner.fold(StreamingDedup.readDocStream(spark, docsDir),
      s"$warehouse/_prefix_checkpoint", "doc_id") { (batch, _, maxId) =>
      // corpus first: the verify stage below must see this batch
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        docsPath, maxId, Seq("doc_id"))
      val allDocs = ParquetSink.readFinal(
        spark.read.parquet(docsPath), Seq("doc_id"))
        .select("doc_id", "text")
      val state =
        if (ParquetSink.hasData(indexPath)) spark.read.parquet(indexPath)
        else Seq.empty[(Long, Long)].toDF("doc_id", "h")
      val (newRows, pairs, cached) =
        processBatchTracked(batch, state, allDocs, gramHashes, threshold)
      ParquetSink.writeBatch(pairs.withColumn("block_height", col("doc_b")),
        s"$warehouse/prefix_pairs", maxId, StreamingDedup.pairsPk)
      // index state commits last: a crash mid-batch replays against
      // a state that has not seen the batch; replayed rows are
      // identical (deterministic shingles) — FINAL-safe
      ParquetSink.writeBatch(
        newRows.withColumn("block_height", col("doc_id")),
        indexPath, maxId, Seq("doc_id", "h"))
      cached.foreach(_.unpersist())
    }
  }

  /** Declared query (`d_stream_prefix`): stream the documents table
    * through the real prefix join under the [[TwinReplay.replay]]
    * restart (two chunks, a stop, then the full feed against the same
    * checkpoint) and return the accumulated pairs. Oracle: the exact
    * all-pairs Jaccard, same as `d_prefix_pairs` — four independent
    * routes (batch LSH, batch prefix, streamed LSH, streamed prefix)
    * to one verified answer. Correctness-only (excluded from Bench):
    * its cost is micro-batch orchestration, not data volume; the batch
    * twin is the benched operator. */
  def dStreamPrefix(spark: SparkSession, dir: String,
      nChunks: Int = 5, threshold: Double = 0.8): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "prefix",
      graft.Tables.documents(spark, dir).select("doc_id", "text"),
      nChunks, StreamingDedup.docSchema)(
      runStream(spark, _, _, threshold = threshold))(_ => ())
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/prefix_pairs"), StreamingDedup.pairsPk)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }
}
