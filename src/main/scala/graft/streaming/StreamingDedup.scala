package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.llm.Dedup
import graft.sink.ParquetSink

/** Incremental near-duplicate detection — the streaming twin of
  * [[graft.llm.Dedup.dMinhashPairs]], for the pipeline that dedups
  * documents AS THEY ARRIVE instead of re-running an all-corpus batch.
  *
  * Shape (same state-table architecture as the receipt→tx resolver,
  * SURVEY T1, reference TTL state in `receipts_and_outcomes.rs`):
  *
  *  - each micro-batch maps its documents to minhash signatures and
  *    LSH band-bucket rows with the same single-pass expressions as the
  *    batch operator — the candidate condition is IDENTICAL, so the
  *    accumulated streaming output equals the batch output over the
  *    same corpus (pinned in StreamingSpec);
  *  - candidates = new band rows joined against the persisted band
  *    table (new-vs-history) plus the within-batch self-match,
  *    normalized to doc_a < doc_b — a pair is discovered exactly when
  *    its LATER document arrives, never all-pairs;
  *  - verification recomputes gram-hash sets for candidate docs from
  *    the accumulated documents table (this batch's docs land there
  *    first), exactly like the batch verify stage;
  *  - at-least-once delivery is absorbed by K2 FINAL semantics: a
  *    replayed micro-batch re-emits the same (doc_a, doc_b) PKs and
  *    [[ParquetSink.readFinal]] collapses them — and the band table is
  *    written LAST, so a crash mid-batch replays against a state that
  *    has not yet seen the batch (the StreamRunner ordering contract).
  *
  * Scale (100 TB): per batch the work is proportional to the batch and
  * its candidates, not to history — the band table is only ever probed
  * by an equi-join on (band, bucket) (a shuffle-pruned hash join; at
  * warehouse scale the table is height-bucketed so old buckets prune).
  * State grows with the corpus because dedup-against-all-history
  * genuinely requires it; a dedup WINDOW (only match against the last N
  * ids) falls out of [[ParquetSink.dropBucketsBelow]], the resolver's
  * TTL mechanism.
  */
object StreamingDedup {

  val pairsPk: Seq[String] = Seq("doc_a", "doc_b")
  val docSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType)

  /** Persist a documents relation as chunked JSON-lines files — the
    * arrival feed for the file-stream source, one chunk per
    * micro-batch. Mtimes are stamped from each chunk's first doc_id
    * (Spark's file source orders by MODIFICATION TIME, and stamping
    * from content keeps re-writes and later arrivals monotonic — the
    * BlockFileSource lesson). Chunk boundaries are a pure function of
    * (corpus, nChunks), so writing `takeChunks = 2` now and the full
    * feed later produces byte-identical early files — the checkpoint
    * recognizes them as consumed and resumes at the first unseen chunk
    * (the mid-stream-arrival case).
    *
    * DISTRIBUTED: the corpus never collects to the driver (VERDICT r5
    * #3 — the old single-collect shape was a driver OOM at real
    * scale). Global ranks come from range-repartition + per-partition
    * sort + `zipWithIndex` (one tiny count-per-partition job — the
    * classic offset pattern); rows then hash-shuffle on their CHUNK id
    * and each executor writes its chunks' files directly, rows already
    * (chunk, rank)-sorted. Driver state: the total count and one task
    * per chunk file — both bounded by nChunks, not the corpus. */
  def writeDocChunks(spark: SparkSession, docs: DataFrame, dir: String,
      nChunks: Int, takeChunks: Int = Int.MaxValue,
      schema: StructType = docSchema): Unit = {
    new java.io.File(dir).mkdirs()
    val cols = schema.fieldNames.toSeq
    val total = docs.count()
    val per = math.max(1L, (total + nChunks - 1) / nChunks)
    val ordered = docs
      .select(to_json(struct(cols.map(col): _*)).as("j"), col("doc_id"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val take = takeChunks.toLong
    val session = docs.sparkSession
    import session.implicits._
    val chunked = ordered.rdd.zipWithIndex()
      .flatMap { case (r, i) =>
        val c = i / per
        if (c < take) Some((c, i, r.getString(0), r.getLong(1))) else None
      }
      .toDF("chunk", "rank", "j", "doc_id")
    val dirStr = dir
    chunked
      .repartition(math.min(nChunks, 32), col("chunk"))
      .sortWithinPartitions(col("chunk"), col("rank"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // rows arrive (chunk, rank)-sorted; a partition may hold several
        // whole chunks — write each as one file, named and mtime-stamped
        // from its first doc_id
        val grouped = new Iterator[Seq[org.apache.spark.sql.Row]] {
          val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[org.apache.spark.sql.Row] = {
            val c = buf.head.getLong(0)
            val out = Seq.newBuilder[org.apache.spark.sql.Row]
            while (buf.hasNext && buf.head.getLong(0) == c) out += buf.next()
            out.result()
          }
        }
        grouped.foreach { chunk =>
          val firstId = chunk.head.getLong(3)
          val json = chunk.map(_.getString(2)).mkString("", "\n", "\n")
          val p = java.nio.file.Paths.get(dirStr, f"docs_$firstId%012d.json")
          java.nio.file.Files.writeString(p, json)
          p.toFile.setLastModified(1600000000000L + firstId * 1000L): Unit
        }
      }
  }

  /** Streaming read of a document feed: one chunk file per micro-batch,
    * in doc_id order (mtime-stamped by [[writeDocChunks]]). */
  def readDocStream(spark: SparkSession, dir: String,
      schema: StructType = docSchema): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .json(dir)

  /** One micro-batch fold (pure — shared by the streaming query and
    * any batch replayer): emit verified near-dup pairs whose LATER doc
    * is in `newDocs`, against `stateBands` (history's band rows) and
    * `allDocs` (accumulated documents INCLUDING this batch).
    * Returns (this batch's band rows, verified pairs). */
  def processBatch(newDocs: DataFrame, stateBands: DataFrame,
      allDocs: DataFrame,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): (DataFrame, DataFrame) = {
    val (bands, pairs, _) =
      processBatchTracked(newDocs, stateBands, allDocs, gramHashes, threshold)
    (bands, pairs)
  }

  /** [[processBatch]] plus the DataFrames the verify stage persisted,
    * so the stream can unpersist EXACTLY those after the batch's writes
    * (a session-wide `clearCache()` would also drop caller-held caches
    * — ADVICE r5). */
  def processBatchTracked(newDocs: DataFrame, stateBands: DataFrame,
      allDocs: DataFrame,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): (DataFrame, DataFrame, Seq[DataFrame]) = {
    // localCheckpoint: consumed by the candidate join here AND written
    // to the band table by the caller — don't recompute signatures
    val newBands = Dedup.bandRows(
      Dedup.signatures(newDocs, gramHashes)).localCheckpoint()
    val all = stateBands.select("doc_id", "band", "bucket")
      .unionByName(newBands)
    // new-vs-(history ∪ batch): least/greatest + distinct collapses the
    // double-counted within-batch matches and multi-band hits
    val cand = newBands.as("n")
      .join(all.as("o"),
        col("n.band") === col("o.band") &&
          col("n.bucket") === col("o.bucket") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
      .distinct()
    val (pairs, cached) =
      Dedup.verifiedPairsTracked(cand, allDocs, gramHashes, threshold)
    (newBands, pairs, cached)
  }

  /** Run the streaming dedup over every chunk file the checkpoint has
    * not consumed yet, then stop ([[StreamRunner.fold]] — same resume
    * contract as [[StreamRunner.runStream]]: call again after new
    * chunks land and the SAME checkpoint continues from the first
    * unseen file).
    *
    * Warehouse tables: `dedup_docs` (the accumulated corpus),
    * `dedup_bands` (LSH state), `dedup_pairs` (verified output,
    * PK (doc_a, doc_b)). Write order per batch: docs → pairs → bands
    * last, so a crash anywhere replays the batch against a band table
    * that has not seen it; every table self-heals through FINAL. */
  def runStream(spark: SparkSession, docsDir: String, warehouse: String,
      gramHashes: String = "token_shingle_hashes(text, 3)",
      threshold: Double = 0.8): Unit = {
    val docsPath = s"$warehouse/dedup_docs"
    val bandsPath = s"$warehouse/dedup_bands"
    StreamRunner.fold(readDocStream(spark, docsDir),
      s"$warehouse/_dedup_checkpoint", "doc_id") { (batch, _, maxId) =>
      // corpus first: the verify stage below must see this batch
      ParquetSink.writeBatch(batch.withColumn("block_height", col("doc_id")),
        docsPath, maxId, Seq("doc_id"))
      val allDocs = ParquetSink.readFinal(
        spark.read.parquet(docsPath), Seq("doc_id"))
        .select("doc_id", "text")
      val state =
        if (ParquetSink.hasData(bandsPath)) spark.read.parquet(bandsPath)
        else emptyBands(spark)
      val (newBands, pairs, cached) =
        processBatchTracked(batch, state, allDocs, gramHashes, threshold)
      ParquetSink.writeBatch(pairs.withColumn("block_height", col("doc_b")),
        s"$warehouse/dedup_pairs", maxId, pairsPk)
      // band state commits last (see scaladoc). Replayed band rows
      // are identical (deterministic signatures) — FINAL-safe.
      ParquetSink.writeBatch(
        newBands.withColumn("block_height", col("doc_id")),
        bandsPath, maxId, Seq("doc_id", "band"))
      // the verify stage persists per batch; drop EXACTLY those
      // entries once the writes above have consumed them —
      // CacheManager holds strong references (a long-running stream
      // would accumulate dead entries without bound), and a
      // session-wide clearCache() would also drop caches the CALLER
      // holds (ADVICE r5)
      cached.foreach(_.unpersist())
    }
  }

  private def emptyBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "bucket")
  }

  /** Accumulated verified pairs, FINAL-deduped, in stable order — the
    * read surface for the declared query and the suites. */
  def pairsTable(spark: SparkSession, warehouse: String): DataFrame =
    ParquetSink.readFinal(
      spark.read.parquet(s"$warehouse/dedup_pairs"), pairsPk)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Declared query (`d_stream_minhash`): stream the documents table
    * through the REAL dedup stream under the [[TwinReplay.replay]]
    * restart (two chunks, a stop, then the remaining chunks against
    * the same checkpoint) and return the accumulated pairs. Oracle:
    * the exact all-pairs Jaccard, same as `d_minhash_pairs` — the
    * incremental union over batches equals the batch LSH output
    * because a pair's candidate condition fires exactly when its
    * later doc arrives. Correctness-only (excluded
    * from Bench): its cost is micro-batch orchestration, not data
    * volume; the batch twin is the benched operator. */
  def dStreamMinhash(spark: SparkSession, dir: String,
      nChunks: Int = 5, threshold: Double = 0.8): DataFrame =
    pairsTable(spark, replayed(spark, dir, nChunks, threshold))

  /** The pair MV build shared by [[dStreamMinhash]] and the
    * derived-at-read components twin ([[dStreamDupGroups]]): the
    * documents feed through the [[TwinReplay.replay]] restart — the
    * unseen chunks stream against the reloaded band table. */
  private def replayed(spark: SparkSession, dir: String,
      nChunks: Int, threshold: Double): String =
    TwinReplay.replay(spark, "dedup",
      graft.Tables.documents(spark, dir).select("doc_id", "text"),
      nChunks, docSchema)(runStream(spark, _, _, threshold = threshold))(
      _ => ())

  /** Declared query (`d_stream_dup_groups`): connected components
    * derived AT READ from the incrementally-maintained pair MV — the
    * component labeling is non-additive (one late pair can merge two
    * groups), but its input pair relation is the append-only PK-FINAL
    * MV this stream maintains, so the read runs THE shared
    * [[graft.llm.Dedup.minLabelComponents]] over the accumulated table
    * (the RFM/MAD derive-at-read discipline). Equals the batch
    * `d_dup_groups` and shares its oracle. Correctness-only. */
  def dStreamDupGroups(spark: SparkSession, dir: String,
      nChunks: Int = 5, threshold: Double = 0.8): DataFrame =
    graft.llm.Dedup.minLabelComponents(
      pairsTable(spark, replayed(spark, dir, nChunks, threshold))
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint())
      .orderBy(col("doc_id"))
}
