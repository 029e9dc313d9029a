package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.sink.ParquetSink

/** Streaming maintenance of the sign-bucket ANN index (VERDICT r6 #5):
  * the LSH bucket table of [[graft.llm.Similarity.sAnnLsh]] kept as an
  * incrementally-absorbed streaming MV instead of a batch build — the
  * index a training-data pipeline needs when the corpus is a feed, not
  * a snapshot (new documents must become searchable without re-hashing
  * the world).
  *
  * Design, at the 100-TB lens:
  *  - the plane set is the index CONFIG — bounded (nPlanes·d doubles),
  *    fixed at index creation and shipped into each micro-batch as
  *    codegen'd literals ([[graft.llm.Similarity.signBucketCol]] — the
  *    SAME column expression as the batch build, so the two cannot
  *    drift); re-deriving planes from arriving data would silently
  *    re-bucket history;
  *  - each micro-batch is one NARROW map (norm + sign bits per vector,
  *    no join, no shuffle) appended through the ReplacingMergeTree-
  *    analog sink keyed on vec_id: an at-least-once redelivery of a
  *    chunk collapses by FINAL instead of duplicating index rows, and
  *    a mid-stream restart resumes from the checkpoint exactly as the
  *    dedup stream does ([[StreamingDedup.runStream]]);
  *  - search is [[graft.llm.Similarity.annLshSearch]] over the
  *    accumulated table — one shared search implementation over two
  *    index builds, so "the streamed index answers the probe set
  *    identically to the batch index" is pinned by construction plus
  *    the shared DuckDB oracle (the dataset-card twin pattern).
  *
  * Reference analog: the reference maintains its silver tables as
  * incrementally-absorbed MVs over the block stream
  * (clickhouse/init/02-silver-mvs.sql); this applies the same
  * build-as-you-ingest discipline to an ANN index.
  */
object StreamingAnnIndex {

  /** Feed schema: vec_id rides the chunk writer's `doc_id` rail (the
    * writer orders/names files by that column); embeddings are cast to
    * array<double> BEFORE the JSON feed — Java double round-trips
    * through JSON text exactly, so the streamed vectors are
    * bit-identical to the parquet originals. */
  private[streaming] val vecSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  /** The embeddings feed: vec_id on the `doc_id` rail, vectors cast to
    * array<double>. */
  private def vectors(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))

  /** (vec_id, emb, nrm) — the normalized vector row every index holds. */
  private def normed(vecs: DataFrame): DataFrame = vecs
    .select(col("doc_id").as("vec_id"), col("embedding").as("emb"))
    .withColumn("nrm", sqrt(expr("dot_product(emb, emb)")))

  /** [[StreamRunner.fold]] of the vector feed into the vec_id-keyed
    * ReplacingMergeTree-analog table `table`, each micro-batch one
    * narrow map (`assign`) over its normalized rows. */
  private def indexStream(spark: SparkSession, feedDir: String,
      warehouse: String, table: String)(assign: DataFrame => DataFrame): Unit =
    StreamRunner.fold(StreamingDedup.readDocStream(spark, feedDir, vecSchema),
      s"$warehouse/_${table}_checkpoint", "doc_id") { (batch, _, maxId) =>
      ParquetSink.writeBatch(
        assign(normed(batch)).withColumn("block_height", col("vec_id")),
        s"$warehouse/$table", maxId, Seq("vec_id"))
    }

  /** PRODUCER: train the coarse quantizer on the full corpus, persist
    * it versioned through the model store, and load it back — the rare
    * producer pass the streamed consumers read. */
  private def storedCentroids(spark: SparkSession, vecs: DataFrame,
      name: String, nCells: Int, iters: Int): Array[Array[Double]] = {
    val modelRoot = ParquetSink.scratchDir(s"${name}_model_store")
    graft.sink.ModelStore.saveKmeans(spark, modelRoot, name, 1L,
      graft.llm.Similarity.kmeansCentroids(normed(vecs).localCheckpoint(),
        nCells, iters))
    val centroids = graft.sink.ModelStore.loadKmeans(spark, modelRoot, name)
    ParquetSink.delete(new java.io.File(modelRoot))
    centroids
  }

  /** Stream every unconsumed chunk into the sign-bucket index table
    * (`ann_vectors`), then stop ([[StreamRunner.fold]] — the
    * [[StreamingDedup.runStream]] resume contract: call again after new
    * chunks land and the same checkpoint continues from the first
    * unseen file). */
  def runStream(spark: SparkSession, feedDir: String, warehouse: String,
      planes: Array[Array[Double]]): Unit =
    indexStream(spark, feedDir, warehouse, "ann_vectors")(
      _.withColumn("bucket", graft.llm.Similarity.signBucketCol(planes)))

  /** The accumulated index, FINAL-deduped — the search surface. */
  def indexTable(spark: SparkSession, warehouse: String): DataFrame =
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/ann_vectors"), Seq("vec_id"))
      .select("vec_id", "emb", "nrm", "bucket")

  /** Stream every unconsumed chunk into the IVF index table
    * (`ivf_vectors`): per micro-batch, one narrow map assigning each
    * vector to its coarse cell with the FIXED stored quantizer
    * ([[graft.llm.Similarity.assignCells]] — the same argmax
    * expression as the batch build). */
  def runKmeansStream(spark: SparkSession, feedDir: String,
      warehouse: String, centroids: Array[Array[Double]]): Unit =
    indexStream(spark, feedDir, warehouse, "ivf_vectors")(
      graft.llm.Similarity.assignCells(_, centroids))

  /** Declared query (`s_stream_ann_kmeans`): the FULL production ANN
    * topology in one scenario — the trained coarse quantizer persists
    * through the versioned model store (the rare producer pass,
    * VERDICT r12 #1), the corpus STREAMS through the fixed stored
    * model into an incrementally-absorbed index MV (the
    * [[TwinReplay.replay]] restart), and the search runs the SAME
    * multi-probe implementation as the batch query over the
    * accumulated index. Equals batch `s_ann_kmeans` and shares its
    * oracle: the model is bit-identical (trained on the full corpus,
    * stored, loaded), assignment is the same expression, search is
    * the same body. Correctness-only. */
  def sStreamAnnKmeans(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, nCells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, nChunks: Int = 5): DataFrame = {
    graft.Tables.tune(spark)
    val vecs = vectors(spark, dir)
    val centroids = storedCentroids(spark, vecs, "ivf_stream", nCells, iters)
    // CONSUMER: stream the corpus through the fixed stored model
    val warehouse = TwinReplay.replay(spark, "ivf", vecs, nChunks, vecSchema)(
      runKmeansStream(spark, _, _, centroids))(_ => ())
    val index = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/ivf_vectors"), Seq("vec_id"))
      .select("vec_id", "emb", "nrm", "cell")
    graft.llm.Similarity.kmeansSearchIndexed(index, centroids, k,
      nQueries, nprobe)
  }

  /** Stream every unconsumed chunk into a PLAIN normalized vector
    * table (`vec_index`: vec_id, emb, nrm) — the minimal embedding
    * index the decontamination census reads (norm only, no
    * bucket/cell config). */
  def runVectorStream(spark: SparkSession, feedDir: String,
      warehouse: String): Unit =
    indexStream(spark, feedDir, warehouse, "vec_index")(identity)

  /** Declared query (`s_stream_decontaminate`, VERDICT r13 #5):
    * CONTINUOUS semantic decontamination — the training corpus streams
    * into an incrementally-accumulated PK-FINAL embedding index (the
    * [[TwinReplay.replay]] restart), and the SAME bounded-probe leak
    * census as the batch query
    * ([[graft.llm.Similarity.decontaminateRel]]) runs over the
    * accumulated index — how a feed-shaped training pipeline actually
    * consumes the leakage report: re-run the census as the corpus
    * grows, not re-scan a frozen snapshot. The probe set (the bounded
    * eval benchmark, vec_id < 32) reads from the same index once fully
    * absorbed. Equals batch `s_decontaminate` and shares its oracle.
    * Correctness-only: micro-batch orchestration dominates, the batch
    * twin is the benched operator. */
  def sStreamDecontaminate(spark: SparkSession, dir: String,
      nProbes: Int = 32, threshold: Double = 0.4,
      nChunks: Int = 5): DataFrame = {
    val warehouse = TwinReplay.replay(spark, "decon", vectors(spark, dir),
      nChunks, vecSchema)(runVectorStream(spark, _, _))(_ => ())
    val index = ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/vec_index"), Seq("vec_id"))
      .select("vec_id", "emb", "nrm")
    graft.llm.Similarity.decontaminateRel(index, nProbes, threshold)
  }

  /** Stream every unconsumed chunk into the prototypicality FACT table
    * (`proto_facts`) — per micro-batch, one narrow map computing each
    * vector's argmax cell and cosine-to-own-centroid with the FIXED
    * stored quantizer ([[graft.llm.Similarity.assignWithProto]], the
    * same expression as the batch build). */
  def runPruneStream(spark: SparkSession, feedDir: String,
      warehouse: String, centroids: Array[Array[Double]]): Unit =
    indexStream(spark, feedDir, warehouse, "proto_facts")(
      graft.llm.Similarity.assignWithProto(_, centroids))

  /** Declared query (`s_stream_prune`): CONTINUOUS prototype pruning —
    * the quantizer trains once and persists through the versioned
    * model store (the rare producer pass), the corpus STREAMS through
    * the fixed stored model into a PK-FINAL prototypicality fact table
    * (the [[TwinReplay.replay]] restart), and the rank-and-cut read
    * ([[graft.llm.Similarity.pruneRankFromFacts]] — the SAME body as
    * batch, ranks being non-additive derive at read) re-evaluates as
    * the corpus grows. Equals batch `s_prune_prototypes` and shares
    * its oracle. Correctness-only: micro-batch orchestration
    * dominates, the batch twin is benched. */
  def sStreamPrune(spark: SparkSession, dir: String, nCells: Int = 8,
      iters: Int = 2, prunePct: Int = 25, nChunks: Int = 5): DataFrame = {
    graft.Tables.tune(spark)
    val vecs = vectors(spark, dir)
    val centroids = storedCentroids(spark, vecs, "proto_stream", nCells, iters)
    // CONSUMER: stream the corpus through the fixed stored model
    val warehouse = TwinReplay.replay(spark, "proto", vecs, nChunks,
      vecSchema)(runPruneStream(spark, _, _, centroids))(_ => ())
    graft.llm.Similarity.pruneRankFromFacts(
      ParquetSink.readFinal(
        spark.read.parquet(s"$warehouse/proto_facts"), Seq("vec_id"))
        .select("vec_id", "cell", "proto"),
      prunePct)
  }

  /** Declared query (`s_stream_ann_lsh`): build the ANN index by
    * STREAMING the embeddings table through the [[TwinReplay.replay]]
    * restart (two chunks, a stop, then the full feed against the same
    * checkpoint, byte-identical early chunks skipped by the source) —
    * then answer the batch query's exact probe set over the streamed
    * index. Oracle: shared with `s_ann_lsh` (one search over two index
    * builds must be one result). Correctness-only: its cost is
    * micro-batch orchestration, the batch twin is the benched
    * operator. */
  def sStreamAnnLsh(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20, nPlanes: Int = 4, nChunks: Int = 5): DataFrame = {
    graft.Tables.tune(spark)
    val vecs = vectors(spark, dir)
    // index config: same plane derivation as the batch build
    val planes = graft.llm.Similarity.annPlanes(
      vecs.select(col("doc_id").as("vec_id"),
        col("embedding").as("emb")), nPlanes)
    val warehouse = TwinReplay.replay(spark, "ann", vecs, nChunks, vecSchema)(
      runStream(spark, _, _, planes))(_ => ())
    graft.llm.Similarity.annLshSearch(
      indexTable(spark, warehouse), k, nQueries, nPlanes)
  }
}
