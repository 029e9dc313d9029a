package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import graft.sink.ParquetSink
import graft.queries.CoOccurrenceMv

/** INCREMENTALLY-MAINTAINED co-occurrence graph: the shared edge MV
  * ([[graft.queries.CoOccurrenceMv]]) kept hot while events stream in —
  * the streaming twin of the batch snapshot (VERDICT r11/r12 #2), built
  * from the two sink state shapes the repo already proves:
  *
  *  - OCCUPANCY FACTS (event_type, bkt, user_id): a ReplacingMergeTree-
  *    shaped fact table — the PK is the row, so duplicate events and
  *    replayed batches collapse by FINAL;
  *  - PAIR COUNTS (u, v) -> nco: a SummingMergeTree table. Counts over
  *    a distinct fact set ARE additive in fact arrivals: when a fact
  *    (t, b, w) lands for the FIRST time, every other fact already (or
  *    simultaneously) in cell (t, b) gains exactly one shared cell with
  *    w — so the per-micro-batch delta is
  *    `new x existing (same cell) ∪ new x new (u < v)`, and late or
  *    replayed events contribute ZERO delta (they are not new facts).
  *
  * WRITE ORDER IS LOAD-BEARING: pair deltas commit BEFORE the facts
  * append. A crash between the two replays the micro-batch against the
  * OLD fact state, recomputing the identical delta under the identical
  * insert_seq — which the summing read's per-(key, seq) dedup collapses
  * to one fold. The reverse order would find the facts already present
  * on replay, compute an empty delta, and silently lose the pairs.
  *
  * The edge read applies THE shared >= 2 threshold
  * ([[CoOccurrenceMv.edgesFromCounts]]) over the summed counts, then the
  * graph analytics run the SAME from-edges bodies as their batch twins
  * ([[graft.queries.EventQueries.pageRankFromEdges]] /
  * `bfsFromEdges` / `triangleCountsFromEdges`) — one iteration body,
  * two edge-table builders, so streamed and batch results cannot drift.
  */
object StreamingGraph {

  private val eventSchema = StructType(Seq(
    StructField("doc_id", LongType), // event_id; the feed writer keys on doc_id
    StructField("ts", LongType),
    StructField("event_type", StringType),
    StructField("user_id", LongType)))
  private val factPk = Seq("event_type", "bkt", "user_id")
  private val pairKeys = Seq("u", "v")
  private val pairSums = Seq("nco")

  private def factsOr(spark: SparkSession, path: String): DataFrame =
    if (new java.io.File(path).exists())
      ParquetSink.readFinal(spark.read.parquet(path), factPk)
        .select(factPk.map(col): _*)
    else {
      import spark.implicits._
      Seq.empty[(String, Long, Long)]
        .toDF("event_type", "bkt", "user_id")
    }

  /** Drain every unseen chunk file ([[StreamRunner.fold]], resumable
    * checkpoint), folding each micro-batch's NEW occupancy facts into
    * the fact table and their pair deltas into the summing MV. */
  def runStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit = {
    val factsPath = s"$warehouse/graph_facts"
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, eventSchema),
      s"$warehouse/_graph_checkpoint", "doc_id") { (batch, _, maxId) =>
      val existing = factsOr(spark, factsPath)
      val newFacts = batch
        .select(col("event_type"),
          expr(s"ts DIV ${CoOccurrenceMv.BucketNs}L").as("bkt"),
          col("user_id"))
        .distinct()
        .join(existing, factPk, "left_anti")
        .localCheckpoint() // read 3x (old-join, new-join, append)
      if (!newFacts.isEmpty) {
        val vsOld = newFacts.as("n")
          .join(existing.as("o"),
            col("n.event_type") === col("o.event_type") &&
              col("n.bkt") === col("o.bkt") &&
              col("n.user_id") =!= col("o.user_id"))
          .select(
            least(col("n.user_id"), col("o.user_id")).as("u"),
            greatest(col("n.user_id"), col("o.user_id")).as("v"))
        val vsNew = newFacts.as("x")
          .join(newFacts.as("y"),
            col("x.event_type") === col("y.event_type") &&
              col("x.bkt") === col("y.bkt") &&
              col("x.user_id") < col("y.user_id"))
          .select(col("x.user_id").as("u"), col("y.user_id").as("v"))
        val deltas = vsOld.unionByName(vsNew)
          .groupBy(col("u"), col("v"))
          .agg(count(lit(1)).as("nco"))
          .withColumn("block_height", pmod(col("u"), lit(100L)))
        // pair deltas FIRST (see object scaladoc: replay safety)
        ParquetSink.writeSummedBatch(deltas,
          s"$warehouse/graph_pairs_summed", maxId, pairKeys)
        ParquetSink.writeBatch(
          newFacts.withColumn("block_height", pmod(col("bkt"), lit(100L))),
          factsPath, maxId, factPk)
      }
    }
  }

  /** The maintained edge table: summed pair counts through THE shared
    * threshold read. */
  def edgesTable(spark: SparkSession, warehouse: String): DataFrame =
    CoOccurrenceMv.edgesFromCounts(
      ParquetSink.readSummed(
        spark.read.parquet(s"$warehouse/graph_pairs_summed"),
        pairKeys, pairSums))

  /** Stream the events table into the incrementally-maintained graph
    * under the [[TwinReplay.replay]] restart, BOTH state tables
    * compacted between the runs, and return the accumulated edge
    * relation — shared by the declared twins and the suite's streamed
    * ≡ batch pins. */
  private[graft] def streamedEdges(spark: SparkSession, dir: String,
      nChunks: Int): DataFrame =
    edgesTable(spark, TwinReplay.replay(spark, "graph",
      graft.Tables.events(spark, dir).select(col("event_id").as("doc_id"),
        col("ts"), col("event_type"), col("user_id")),
      nChunks, eventSchema)(runStream(spark, _, _)) { wh =>
      ParquetSink.compactSummed(spark, s"$wh/graph_pairs_summed",
        pairKeys, pairSums)
      ParquetSink.compact(spark, s"$wh/graph_facts", factPk)
    })

  /** Declared query (`g_stream_pagerank`): PageRank over the
    * incrementally-maintained edge MV — two chunk waves, a mid-stream
    * checkpoint restart, both state tables compacted between waves —
    * through the SAME from-edges iteration body as the batch query.
    * Equals the batch `g_pagerank` and shares its oracle.
    * Correctness-only: its cost is micro-batch orchestration, not data
    * volume. */
  def gStreamPagerank(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.queries.EventQueries.pageRankFromEdges(
      streamedEdges(spark, dir, nChunks).localCheckpoint())

  /** Declared query (`g_stream_bfs`): multi-source BFS over the same
    * incrementally-maintained edge MV, through the SAME from-edges body
    * as the batch query. Equals the batch `g_bfs_distance` and shares
    * its oracle. Correctness-only (micro-batch orchestration cost). */
  def gStreamBfs(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.queries.EventQueries.bfsFromEdges(
      streamedEdges(spark, dir, nChunks).localCheckpoint())

  /** Declared query (`g_stream_components`): connected components over
    * the same incrementally-maintained edge MV, through the SAME shared
    * min-label body as the batch query ([[graft.llm.Dedup
    * .minLabelComponents]] — components are non-additive, so they
    * derive at read, the `d_stream_dup_groups` discipline). Equals the
    * batch `g_components` and shares its oracle. Correctness-only
    * (micro-batch orchestration cost). */
  def gStreamComponents(spark: SparkSession, dir: String,
      nChunks: Int = 5): DataFrame =
    graft.llm.Dedup.minLabelComponents(
      streamedEdges(spark, dir, nChunks)
        .select(col("u").as("doc_a"), col("v").as("doc_b"))
        .localCheckpoint())
      .select(col("doc_id").as("user_id"), col("group_id"))
      .orderBy(col("user_id"))
}
