package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Block

/** Block-file source — the NEAR-Lake layout analog (SURVEY §2.1 S1/S2):
  * one JSON document per block, filenames zero-padded by height so
  * lexicographic file order IS height order (exactly how near-lake
  * names S3 keys).
  *
  * Batch: `readBlocks` = a schema'd `spark.read.json` over the
  * directory. Streaming: `readBlockStream` = `spark.readStream` with
  * `maxFilesPerTrigger=1`, delivering one block per micro-batch in
  * order — the pacing the reference gets from buffer_unordered(1). In
  * production the path is `s3a://...` with the endpoint conf; the code
  * is identical (SURVEY S2).
  */
object BlockFileSource {

  val blockSchema = Encoders.product[Block].schema

  /** Persist blocks as height-named JSON-lines files of `perFile`
    * blocks each, named after the file's first height. One file is one
    * micro-batch, so a long chain streams in length/perFile batches
    * (the throughput layout) and `perFile = 1` streams block by block.
    * Spark's file stream source orders pending files by MODIFICATION
    * TIME (not filename), so each file's mtime is stamped from its first
    * height — otherwise two files written within one mtime-granularity
    * tick could stream out of height order. Within a micro-batch the
    * fold is ordered by the batch DataFrame's own height columns,
    * exactly like a batch run over the same range. ONE Spark job
    * serializes the chain. */
  def writeBlockFiles(spark: SparkSession, blocks: Seq[Block],
      dir: String, perFile: Int = 1): Unit = {
    import spark.implicits._
    val d = new java.io.File(dir)
    graft.sink.ParquetSink.delete(d)
    d.mkdirs()
    val ordered = blocks.sortBy(_.header.height)
    val json = ordered.toDS().toJSON.collect()
    val t0 = System.currentTimeMillis()
    json.zip(ordered.map(_.header.height)).grouped(perFile).foreach { chunk =>
      val firstH = chunk.head._2
      val p = java.nio.file.Paths.get(dir, f"$firstH%012d.json")
      java.nio.file.Files.writeString(p,
        chunk.map(_._1).mkString("", "\n", "\n"))
      p.toFile.setLastModified(t0 + firstH * 1000L): Unit
    }
  }

  /** Batch read, ordered by height. */
  def readBlocks(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(blockSchema).json(dir)
      .orderBy(col("header.height"))

  /** Streaming read: one block file per micro-batch. Height order holds
    * because the file source processes files oldest-mtime-first and the
    * writer stamps mtimes from heights (see [[writeBlockFiles]]); a
    * production S3 layout gets the same property from upload order. */
  def readBlockStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(blockSchema)
      .option("maxFilesPerTrigger", 1)
      .json(dir)
}
