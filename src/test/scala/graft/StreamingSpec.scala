package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.NearFixtures
import graft.model.Block
import graft.model.NearModel.TtlBlocks
import graft.queries.NearQueries
import graft.silver.SilverTransforms
import graft.runner.BatchRunner
import graft.state.ReceiptTxResolver
import graft.streaming.StreamRunner

/** Long-running suites (the cascade soak) — excludable with
  * `testOnly * -- -l graft.Slow` when iterating. */
object Slow extends org.scalatest.Tag("graft.Slow")

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val acc = NearFixtures.accounts

  test("streaming fold emits exactly the batch pipeline's bronze events") {
    val streamed = ResolverFold.runMicroBatched(spark, NearFixtures.blocks, acc)
      .select(NearFixtures.eventCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val batch = NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("per-micro-batch silver transforms equal whole-table silver " +
    "(CH-MV visibility contract)") {
    import spark.implicits._
    var state = ReceiptTxResolver.emptyState(spark)
    val perBatch = NearFixtures.blocks.sortBy(_.header.height).map { b =>
      val (carry, _, events) = ReceiptTxResolver.foldBatch(state,
        spark.createDataset(Seq(b)).toDF(), acc, TtlBlocks, b.header.height)
      state = carry
      // the MV fires per insert batch and sees only that batch's rows
      SilverTransforms.nep245Events(
        events.select(NearFixtures.eventCols.map(col): _*)).localCheckpoint()
    }
    val streamedSilver = perBatch.reduce(_ unionByName _)
      .collect().map(_.toString).sorted.toSeq
    val batchSilver = SilverTransforms.nep245Events(NearQueries.eventsDf(spark))
      .collect().map(_.toString).sorted.toSeq
    assert(streamedSilver === batchSilver)
  }

  test("file-source streaming: one JSON block file per micro-batch " +
    "folds to the batch result") {
    import graft.sources.BlockFileSource
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_test_blocks").getAbsolutePath
    BlockFileSource.writeBlockFiles(spark, NearFixtures.blocks, path)
    var state = ReceiptTxResolver.emptyState(spark)
    val collected = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val query = BlockFileSource.readBlockStream(spark, path).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val range = BatchRunner.keyRange(batch, "header.height")
        range.foreach { case (_, maxH, _) =>
          val (carry, _, events) = ReceiptTxResolver.foldBatch(state, batch,
            acc, TtlBlocks, maxH)
          state = carry
          collected += events
            .select(NearFixtures.eventCols.map(col): _*).localCheckpoint()
        }
      }
      .start()
    query.awaitTermination(120000L)
    val streamed = collected.reduce(_ unionByName _)
      .collect().map(_.toString).sorted.toSeq
    val batch = NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("runStream: checkpointed restart resumes unseen files; a wiped " +
    "checkpoint replays everything and FINAL dedup absorbs it") {
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val warehouse = tmp("rs_wh")
    val blocksDir = tmp("rs_blocks")
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    import graft.sources.BlockFileSource
    import graft.runner.BatchRunner

    def eventsNow(): Seq[String] =
      BatchRunner.tableFinal(spark, warehouse, "events",
        Seq("related_receipt_id", "index_in_log"))
        .select(NearFixtures.eventCols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq

    val batch = NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq

    // first run: a prefix of the chain
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), blocksDir)
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    val afterPrefix = eventsNow()
    assert(afterPrefix.nonEmpty && afterPrefix.size < batch.size)

    // restart: full chain present, same checkpoint → only unseen files
    BlockFileSource.writeBlockFiles(spark, ordered, blocksDir)
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    assert(eventsNow() === batch)

    // idle restart: nothing new → no-op, table unchanged
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    assert(eventsNow() === batch)

    // crash-replay: wipe ONLY the checkpoint (worst-case at-least-once
    // redelivery of every block); re-inserted PKs dedup through FINAL
    graft.sink.ParquetSink.delete(
      new java.io.File(s"$warehouse/_stream_checkpoint"))
    StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    assert(eventsNow() === batch)

    // full product-table parity: the streamed warehouse FINAL must
    // equal a single batch run's, table by table
    val batchWh = tmp("rs_wh_batch")
    BatchRunner.run(spark, blocksDir, batchWh, acc)
    BatchRunner.productTables.foreach { case (name, pk) =>
      def img(wh: String): Seq[String] = {
        val t = pk match {
          case Some(k) => BatchRunner.tableFinal(spark, wh, name, k)
          case None => BatchRunner.silverFinal(spark, wh, name)
        }
        t.select(t.columns.sorted.map(col): _*)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(img(warehouse) === img(batchWh), s"table $name diverges")
      assert(img(warehouse).nonEmpty, s"table $name is empty")
    }
    // the multi-leg intent survives whole-row FINAL: ih1 has two
    // distinct per-token diff rows in one (block, receipt)
    val legs = BatchRunner.silverFinal(spark, warehouse, "silver_token_diff")
      .filter(col("intent_hash") === "ih1").count()
    assert(legs === 2L, s"expected both diff legs of ih1, got $legs")
  }

  test("chunked micro-batches stream the same warehouse as per-block, " +
    "and the gold view computes over the streamed silvers") {
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val ordered = NearFixtures.blocks.sortBy(_.header.height)

    // multi-block micro-batches (the throughput layout: 4 blocks/file)
    // must produce the identical warehouse as a batch run — the
    // within-batch fixpoint + height-stamped state make batch size an
    // execution detail, not a semantics knob
    val whChunk = tmp("cascade_wh_chunk")
    val blocksChunk = tmp("cascade_blocks_chunk")
    BlockFileSource.writeBlockFiles(spark, ordered, blocksChunk, 4)
    StreamRunner.runStream(spark, blocksChunk, whChunk, acc)
    val whBatch = tmp("cascade_wh_batch")
    BatchRunner.run(spark, blocksChunk, whBatch, acc)
    BatchRunner.productTables.foreach { case (name, pk) =>
      def img(wh: String): Seq[String] = {
        val t = pk match {
          case Some(k) => BatchRunner.tableFinal(spark, wh, name, k)
          case None => BatchRunner.silverFinal(spark, wh, name)
        }
        t.select(t.columns.sorted.map(col): _*)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(img(whChunk) === img(whBatch), s"table $name diverges")
      assert(img(whChunk).nonEmpty, s"table $name is empty")
    }

    // the incremental gold rollup MV folds to the same daily totals
    // whether fed by streaming micro-batches or one batch run
    def goldDailyImg(wh: String): Seq[String] =
      BatchRunner.goldDailyFinal(spark, wh)
        .select(col("epoch_day"), col("token_id"),
          col("amount_sum_dec").cast("string"), col("n_transfers"))
        .collect().map(_.toString).sorted.toSeq
    assert(goldDailyImg(whChunk) === goldDailyImg(whBatch))
    assert(goldDailyImg(whChunk).nonEmpty)

    // gold (G1-G8) over the STREAMED warehouse's silver tables equals
    // the fixture-derived gold — the full reference read path served
    // from streaming-written MVs
    import spark.implicits._
    val assets = spark.createDataset(NearFixtures.assetRows).toDF()
    val goldStreamed = graft.gold.GoldViews.intentsMetrics(
      BatchRunner.silverFinal(spark, whChunk, "silver_nep245"),
      BatchRunner.silverFinal(spark, whChunk, "silver_token_diff"),
      assets)
      .collect().map(_.toString).sorted.toSeq
    val goldFixture = NearQueries.goldMetrics(spark, "")
      .collect().map(_.toString).sorted.toSeq
    assert(goldStreamed === goldFixture)
    assert(goldStreamed.nonEmpty)
  }

  test("runStream exports the resolver entry, main-tier and promotion " +
    "counters") {
    import graft.metrics.Metrics
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val blocksDir = tmp("counters_blocks")
    graft.sources.BlockFileSource.writeBlockFiles(spark, NearFixtures.blocks,
      blocksDir)
    Metrics.install(spark)
    Metrics.reset()
    StreamRunner.runStream(spark, blocksDir, tmp("counters_wh"), acc)
    val names = Seq("resolver_entries_total", "resolver_main_total",
      "resolver_promoted_total")
    val deadline = System.nanoTime() + 10000000000L
    while (!names.forall(Metrics.snapshot().contains) &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
    val snap = Metrics.snapshot()
    assert(names.forall(snap.contains), snap)
    assert(snap("resolver_entries_total") > 0L)
    assert(snap("resolver_main_total") <= snap("resolver_entries_total"))
  }

  test("runStream runs steady-state micro-batches with few codegen " +
    "compiles, restores the session conf, and /metrics serves Spark's " +
    "codegen counters") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import graft.metrics.Metrics
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val blocksDir = tmp("codegen_blocks")
    // 30 blocks, 6 per file: five micro-batches
    graft.sources.BlockFileSource.writeBlockFiles(spark,
      graft.fixtures.BlockGen.genBlocks(30, rich = true), blocksDir, 6)
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    def confNow(): Seq[Option[String]] = {
      val all = spark.conf.getAll
      keys.map(all.get)
    }
    val confBefore = confNow()
    assert(confBefore === Seq(Some("true"), None, None))
    // Spark's JVM-wide compile count at each batch's first write; one
    // batch's compiles = the difference to the next batch's reading
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val atBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
    StreamRunner.runStream(spark, blocksDir, tmp("codegen_wh"), acc,
      failpoint = (_, writePoint) => if (writePoint == 0) atBatch += compiles())
    assert(atBatch.size === 5)
    // steady state: every batch after the first (batch 1's interval
    // still holds its first-time compiles of the write path)
    val perBatch = atBatch.sliding(2).map(p => p(1) - p(0)).toSeq.tail
    info(s"codegen compiles per steady-state batch: $perBatch")
    assert(perBatch.forall(_ <= 10L), s"compiles per batch: $perBatch")
    assert(confNow() === confBefore)

    // the scrape reads the same two figures, at zero jobs
    val (n0, ns0) = (compiles(), CodeGenerator.compileTime)
    val page = Metrics.renderPrometheus()
    val (n1, ns1) = (compiles(), CodeGenerator.compileTime)
    def scraped(name: String): BigDecimal = {
      assert(page.contains(s"# TYPE $name counter\n"), page)
      BigDecimal(page.linesIterator.collectFirst {
        case l if l.startsWith(s"$name ") => l.stripPrefix(s"$name ")
      }.get)
    }
    val n = scraped("codegen_compiles_total")
    val secs = scraped("codegen_compile_seconds_total")
    assert(n > 0 && n >= n0 && n <= n1, s"$n not in [$n0, $n1]")
    assert(secs > 0 && secs >= BigDecimal(ns0) / 1e9 &&
      secs <= BigDecimal(ns1) / 1e9, s"$secs s vs [$ns0, $ns1] ns")
  }

  /** Every JFR event of a type in `events` that the JVM records from
    * `run`'s call of its argument until `run` returns, with its stack
    * (frame names, innermost first). */
  private def recorded(events: String*)(run: (() => Unit) => Unit)
      : Seq[(jdk.jfr.consumer.RecordedEvent, Seq[String])] = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    events.foreach(rec.enable(_).withStackTrace())
    try {
      run(() => rec.start())
      rec.stop()
      val file = java.nio.file.Files.createTempFile("graft_jfr", ".jfr")
      try {
        rec.dump(file)
        RecordingFile.readAllEvents(file).asScala.toSeq
          .filter(e => events.contains(e.getEventType.getName))
          .map(e => e -> Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
      } finally java.nio.file.Files.delete(file)
    } finally rec.close()
  }

  /** The stacks of every process the JVM starts while `run` records. */
  private def processStarts(run: (() => Unit) => Unit): Seq[Seq[String]] =
    recorded("jdk.ProcessStart")(run).map(_._2)

  /** A small doc feed for a streaming twin: doc_ids 0..39 in `nChunks`
    * chunk files. */
  private def docFeed(dir: String, nChunks: Int): Unit =
    graft.streaming.StreamingDedup.writeDocChunks(spark,
      spark.range(40).select(col("id").as("doc_id"),
        concat(lit("doc "), col("id")).as("text")), dir, nChunks)

  test("runStream's steady-state sink writes start no chmod process") {
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val blocksDir = tmp("forks_blocks")
    // 30 blocks, 6 per file: five micro-batches
    graft.sources.BlockFileSource.writeBlockFiles(spark,
      graft.fixtures.BlockGen.genBlocks(30, rich = true), blocksDir, 6)
    // every process the JVM starts, with the stack that started it,
    // from the second batch's first write on (the first batch's
    // interval holds the stream's one-time checkpoint setup)
    var batches = 0
    val stacks = processStarts { start =>
      StreamRunner.runStream(spark, blocksDir, tmp("forks_wh"), acc,
        failpoint = (_, writePoint) => if (writePoint == 0) {
          batches += 1
          if (batches == 2) start()
        })
    }
    assert(batches === 5)
    // a sink write: a Spark file-format write task or its job
    // commit (stream checkpoint logs write through FileContext)
    def sinkWrite(frame: String) =
      frame.startsWith("org.apache.spark.sql.execution.datasources.") ||
        frame.startsWith("org.apache.spark.internal.io.") ||
        frame.startsWith("graft.sink.ParquetSink")
    val sinkChmods = stacks.filter(s =>
      s.contains("org.apache.hadoop.fs.RawLocalFileSystem.setPermission") &&
        s.exists(sinkWrite))
    info(s"processes started over 4 steady-state batches: " +
      s"${stacks.size}, chmod under a sink write: ${sinkChmods.size}")
    assert(sinkChmods.isEmpty,
      sinkChmods.headOption.map(_.take(25).mkString("\n  ")))

    // a streaming twin runs the same driver: nothing it runs, its
    // checkpoint's logs included, starts a chmod or a readlink
    val feed = tmp("forks_twin_feed")
    docFeed(feed, 4)
    val twin = processStarts { start =>
      start()
      graft.streaming.StreamingSpans.runStream(spark, feed,
        tmp("forks_twin_wh"))
    }
    val forks = twin.filter(_.exists(f =>
      f == "org.apache.hadoop.fs.RawLocalFileSystem.setPermission" ||
        f == "org.apache.hadoop.fs.RawLocalFileSystem.getFileLinkStatus"))
    info(s"processes started by a 4-batch twin: ${twin.size}, " +
      s"chmod or readlink: ${forks.size}")
    assert(forks.isEmpty, forks.headOption.map(_.take(25).mkString("\n  ")))
  }

  test("a twin micro-batch runs one aggregate before its body, and the " +
    "body reads the batch that aggregate materialized") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val feed = graft.sink.ParquetSink.scratchDir("fold_jobs_feed")
    val checkpoint = graft.sink.ParquetSink.scratchDir("fold_jobs_ckpt")
    docFeed(feed, 4)
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "streaming.sql.batchId")
    // (job group, micro-batch id) of every job
    val jobs = new ConcurrentLinkedQueue[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(keys.map(k =>
          Option(e.properties).map(_.getProperty(k)).orNull)): Unit
    }
    // per micro-batch: (lo, hi, jobs of the batch before its body, jobs
    // of the batch's own count in the body)
    val seen =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try StreamRunner.fold(
        graft.streaming.StreamingDedup.readDocStream(spark, feed),
        checkpoint, "doc_id") { (batch, lo, hi) =>
      val key = keys.map(sc.getLocalProperty)
      def batchJobs() = {
        org.apache.spark.ListenerBusDrain.drain(sc)
        jobs.asScala.count(_ == key)
      }
      val before = batchJobs()
      assert(batch.count() === hi - lo + 1)
      seen += ((lo, hi, before, batchJobs() - before))
    } finally sc.removeSparkListener(listener)
    info(s"per micro-batch (lo, hi, jobs before body, jobs of a count): " +
      seen.mkString(", "))
    assert(seen.map(s => (s._1, s._2)) ===
      Seq((0L, 9L), (10L, 19L), (20L, 29L), (30L, 39L)))
    // the one range aggregate is one job, and no eager checkpoint job
    // runs ahead of it
    assert(seen.forall(_._3 == 1), seen)
  }

  test("a runStream micro-batch allocates no Parquet compressor buffer " +
    "of 1 MB or more") {
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val blocksDir = tmp("alloc_blocks")
    // 12 blocks, 6 per file: two micro-batches
    graft.sources.BlockFileSource.writeBlockFiles(spark,
      graft.fixtures.BlockGen.genBlocks(12, rich = true), blocksDir, 6)
    // every allocation too large for the thread's TLAB, and every one
    // that opened a new TLAB, over the whole stream
    val allocs = recorded("jdk.ObjectAllocationOutsideTLAB",
        "jdk.ObjectAllocationInNewTLAB") { start =>
      start()
      StreamRunner.runStream(spark, blocksDir, tmp("alloc_wh"), acc)
    }
    def size(e: jdk.jfr.consumer.RecordedEvent) = e.getLong("allocationSize")
    // Parquet sizes a written file's compressor buffer by its page size
    val compressor = allocs
      .filter(_._2.exists(_.startsWith(
        "org.apache.parquet.hadoop.CodecFactory$HeapBytesCompressor.")))
      .map(a => size(a._1))
    val large = compressor.filter(_ >= (1L << 20))
    info(s"allocations recorded: ${allocs.size}, of 1 MB or more: " +
      s"${allocs.count(a => size(a._1) >= (1L << 20))}, under the " +
      s"Parquet compressor: ${compressor.size} (largest " +
      s"${compressor.maxOption.getOrElse(0L)} B)")
    // the recording does see allocations of 1 MB and more (Spark's
    // task-result chunks), so an empty `large` is not a blind spot
    assert(allocs.exists(a => size(a._1) >= (1L << 20)))
    assert(large.isEmpty,
      s"${large.size} buffers, the largest ${large.maxOption.getOrElse(0L)} B")
  }

  test("every job of a runStream micro-batch carries that batch's id and " +
    "the current run's job group, over two runs in one JVM") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val blocksDir = tmp("props_blocks")
    val warehouse = tmp("props_wh")
    val chain = graft.fixtures.BlockGen.genBlocks(24, rich = true)
    val sc = spark.sparkContext
    val batchIdKey = "streaming.sql.batchId"
    val groupKey = "spark.jobGroup.id"
    // (run, batch id, job group) the stream thread holds as each
    // micro-batch's writes start, and the interval from the concurrent
    // writes' launch (failpoint 0) to the transactions write (5)
    val batches = new ConcurrentLinkedQueue[(Int, String, String)]
    val windows = new ConcurrentLinkedQueue[(Long, Long)]
    // (submission ms, batch id, job group) of every job
    val jobs = new ConcurrentLinkedQueue[(Long, String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((e.time, p.map(_.getProperty(batchIdKey)).orNull,
          p.map(_.getProperty(groupKey)).orNull)): Unit
      }
    }
    def run(k: Int): Unit = {
      var start = 0L
      StreamRunner.runStream(spark, blocksDir, warehouse, acc,
        failpoint = (_, writePoint) => writePoint match {
          case 0 =>
            start = System.currentTimeMillis()
            batches.add((k, sc.getLocalProperty(batchIdKey),
              sc.getLocalProperty(groupKey))): Unit
          case 5 => windows.add((start, System.currentTimeMillis())): Unit
          case _ => ()
        })
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      // two files of 6 blocks per run: micro-batches 0, 1 then 2, 3
      graft.sources.BlockFileSource.writeBlockFiles(spark,
        chain.take(12), blocksDir, 6)
      run(0)
      graft.sources.BlockFileSource.writeBlockFiles(spark, chain,
        blocksDir, 6)
      run(1)
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    val bs = batches.asScala.toSeq
    assert(bs.map(_._2) === Seq("0", "1", "2", "3"))
    assert(windows.size === 4)
    val groups = bs.map(_._3).distinct
    assert(groups.size === 2 && !groups.contains(null), groups)
    // every job started in batch k's window is batch k's: the bronze
    // writes, the cascade and the state write
    val inWindows = bs.zip(windows.asScala.toSeq).map {
      case ((k, id, group), (start, end)) =>
        val in = jobs.asScala.toSeq.filter(j => j._1 >= start && j._1 < end)
        val wrong = in.filter(j => j._2 != id || j._3 != group)
        assert(wrong.isEmpty, s"batch $id of run $k (group $group): " +
          s"${wrong.size} of ${in.size} jobs carry " +
          wrong.map(j => (j._2, j._3)).distinct.mkString(", "))
        in.size
    }
    info(s"jobs per batch window: $inWindows")
    assert(inWindows.forall(_ >= 12), inWindows)
  }

  test("real Structured Streaming wiring: MemoryStream + foreachBatch, " +
    "one block per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Block]
    var state = ReceiptTxResolver.emptyState(spark)
    val collected = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val query = source.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val range = BatchRunner.keyRange(batch, "header.height")
        range.foreach { case (_, maxH, _) =>
          val (carry, _, events) = ReceiptTxResolver.foldBatch(state, batch,
            acc, TtlBlocks, maxH)
          state = carry
          collected += events
            .select(NearFixtures.eventCols.map(col): _*).localCheckpoint()
        }
      }
      .start()
    try {
      // strictly ordered delivery: add one block, drain, repeat
      NearFixtures.blocks.sortBy(_.header.height).foreach { b =>
        source.addData(b)
        query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = collected.reduce(_ unionByName _)
      .collect().map(_.toString).sorted.toSeq
    val batch = NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("streaming dedup (checkpointed, mid-stream restart) accumulates " +
    "exactly the batch near-dup pairs") {
    import graft.streaming.StreamingDedup
    val dir = "/root/testdata/sf0.001"
    // dStreamMinhash itself drives the full product shape: chunked
    // feed, Trigger.AvailableNow stream with a checkpoint, a stop
    // after two chunks, then a resumed run over the full feed
    val streamed = StreamingDedup.dStreamMinhash(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.llm.Dedup.dMinhashPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming prefix join (checkpointed, mid-stream restart) " +
    "accumulates exactly the batch prefix pairs") {
    val dir = "/root/testdata/sf0.001"
    // same full product shape as the minhash twin: chunked feed,
    // checkpointed Trigger.AvailableNow, stop after two chunks, resume
    // over the full feed. Output must equal the BATCH prefix join —
    // recall 1 survives the per-batch rarity order by the one-sided
    // prefix theorem (StreamingPrefix scaladoc), and the exact verify
    // is byte-shared, so equality is bitwise.
    val streamed = graft.streaming.StreamingPrefix.dStreamPrefix(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.llm.Dedup.dPrefixPairs(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    graft.QueryCaches.releaseAll() // dPrefixPairs' tracked persist
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming span index (checkpointed, mid-stream restart) answers " +
    "the duplicated-span report exactly like the batch pass") {
    val dir = "/root/testdata/sf0.001"
    // the substring family's incremental contract: per-doc span results
    // are NOT append-only (a later doc can extend an earlier doc's
    // spans), so the MV maintains only the append-only window INDEX and
    // the span aggregation runs at read over the accumulated index —
    // through the SAME spansFromWindows implementation as the batch
    // query, making equality bitwise by construction of the index alone
    val streamedRows =
      graft.streaming.StreamingSpans.dStreamSpans(spark, dir).collect()
    val streamed = streamedRows.map(_.toString).sorted.toSeq
    val batch = graft.llm.Dedup.dDupSpans(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    graft.QueryCaches.releaseAll() // dDupSpans' tracked persist
    assert(streamed === batch)
    // the interesting rows survived the trip: multi-span docs exist
    assert(streamedRows.count(_.getLong(3) >= 2) > 0)
  }

  test("streaming retention MV (checkpointed, mid-stream restart) " +
    "answers the cohort matrix exactly like the batch scan") {
    val dir = "/root/testdata/sf0.001"
    // the cohort REPORT is not append-only (a late earlier event moves
    // a user's whole cohort row), but the distinct (user, day) activity
    // SET is — PK-FINAL idempotent, min() over it order-free — so the
    // MV accumulates activity facts and aggregates at read through the
    // same retentionFromActivity as the batch query
    val streamed =
      graft.streaming.StreamingRetention.gStreamRetention(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    val batch = graft.queries.EventQueries.gRetentionCohorts(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("soak: randomized restarts, checkpoint wipes, and mid-cascade " +
    "kills converge to the one-shot warehouse", Slow) {
    // VERDICT r6 #10: the crash-recovery analog of the reference's
    // resume discipline at 10x the single-restart test's depth. Ten
    // rounds over a 100-block rich chain: each round reveals 1-2 more
    // chunk files, sometimes wipes the checkpoint (worst-case
    // at-least-once replay of EVERYTHING), and kills the runner at a
    // random write point of a random micro-batch via the failpoint
    // seam — a genuine mid-cascade crash, partial tables on disk —
    // then restarts. After every crash+recovery the warehouse must
    // keep converging; at the end it must equal a one-shot batch run
    // table for table.
    import graft.sources.BlockFileSource
    import graft.runner.BatchRunner
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val warehouse = tmp("soak_wh")
    val blocksDir = tmp("soak_blocks")
    val rnd = new scala.util.Random(4242)
    val blocks = graft.fixtures.BlockGen.genBlocks(100, rich = true)
      .sortBy(_.header.height)
    val perFile = 10
    val nChunks = blocks.size / perFile
    var revealed = 0
    var kills = 0
    (1 to 10).foreach { round =>
      revealed = math.min(nChunks, revealed + 1 + rnd.nextInt(2))
      BlockFileSource.writeBlockFiles(
        spark, blocks.take(revealed * perFile), blocksDir, perFile)
      if (rnd.nextInt(4) == 0)
        graft.sink.ParquetSink.delete(
          new java.io.File(s"$warehouse/_stream_checkpoint"))
      // kill at a random write point (0..5) of a random batch of this
      // run; if the run has fewer batches the kill simply never fires
      val killBatch = rnd.nextInt(2)
      val killPoint = rnd.nextInt(6)
      var batchNo = -1
      val fp: (Long, Int) => Unit = (_, wp) => {
        if (wp == 0) batchNo += 1
        if (batchNo == killBatch && wp == killPoint)
          throw new RuntimeException(
            s"soak-kill round $round batch $killBatch point $killPoint")
      }
      try StreamRunner.runStream(spark, blocksDir, warehouse, acc,
        failpoint = fp)
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          assert(e.getMessage.contains("soak-kill") ||
            Option(e.getCause).exists(_.getMessage.contains("soak-kill")))
          kills += 1
      }
      // recovery: a clean restart from whatever the crash left behind
      StreamRunner.runStream(spark, blocksDir, warehouse, acc)
    }
    assert(revealed === nChunks, "schedule must reveal the whole chain")
    assert(kills > 0, "the soak never actually crashed the runner")
    // the soaked warehouse equals a one-shot batch run, table by table
    val batchWh = tmp("soak_wh_batch")
    BatchRunner.run(spark, blocksDir, batchWh, acc)
    BatchRunner.productTables.foreach { case (name, pk) =>
      def img(wh: String): Seq[String] = {
        val t = pk match {
          case Some(k) => BatchRunner.tableFinal(spark, wh, name, k)
          case None => BatchRunner.silverFinal(spark, wh, name)
        }
        t.select(t.columns.sorted.map(col): _*)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(img(warehouse) === img(batchWh), s"table $name diverges")
      assert(img(warehouse).nonEmpty, s"table $name is empty")
    }
  }

  test("streaming ANN index (checkpointed, mid-stream restart) answers " +
    "the probe set identically to the batch index") {
    val dir = "/root/testdata/sf0.001"
    // sStreamAnnLsh drives the full product shape: chunked vector feed,
    // checkpointed stream building the bucket table, a stop after two
    // chunks, a resumed run over the full feed, then the SAME search
    // as the batch query over the streamed index
    val streamed = graft.streaming.StreamingAnnIndex
      .sStreamAnnLsh(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.Similarity.sAnnLsh(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and doubles
    assert(streamed.nonEmpty)
  }

  test("streaming dataset card (restart + mid-sequence merge) equals the " +
    "batch card exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingDatasetCard
      .tStreamDatasetCard(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tDatasetCard(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and doubles
  }

  test("streaming priority sample (restart + mid-sequence compaction) " +
    "equals the batch bottom-k exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSample
      .tStreamSamplePriority(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tSamplePriority(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and doubles
    assert(streamed.nonEmpty)
  }

  test("streaming pareto frontier (restart + mid-sequence compaction) " +
    "equals the batch skyline exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingSample
      .tStreamPareto(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tParetoFrontier(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows and order
    assert(streamed.nonEmpty)
  }

  test("streaming funnel (restart + mid-sequence compaction) equals " +
    "the batch windowed funnel exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingEventLog
      .wStreamFunnel(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.queries.EventQueries.wFunnelSteps(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and doubles
    assert(streamed.nonEmpty)
  }

  test("streaming weighted percentiles (restart + mid-sequence merge) " +
    "equals the batch nearest-rank lookup exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingWeighted
      .tStreamWeightedPercentiles(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tWeightedPercentiles(spark, dir)
      .collect().map(_.toString).toSeq
    graft.QueryCaches.releaseAll()
    assert(streamed === batch) // identical rows, order, and values
    assert(streamed.nonEmpty)
  }

  test("streaming heavy hitters (restart + mid-sequence merge) equals " +
    "the batch CMS-pruned query exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingHeavyHitters
      .tStreamHeavyHitters(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tHeavyHitters(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and counts
    assert(streamed.nonEmpty)
  }

  test("streaming anomaly grid (restart + mid-sequence merge) flags " +
    "exactly the batch detector's days") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingAnomaly
      .wStreamAnomaly(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.queries.EventQueries.wAnomalyZscore(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and moments
    assert(streamed.nonEmpty)
  }

  test("streaming gap-fill grid / SCD2 log / interval-coverage log " +
    "(each checkpointed, mid-stream restart + compaction) equal their " +
    "batch twins row for row") {
    val dir = "/root/testdata/sf0.001"
    import graft.streaming.StreamingEventLog
    import graft.queries.EventQueries
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val gf = rows(StreamingEventLog.wStreamGapFill(spark, dir))
    assert(gf === rows(EventQueries.wGapFill(spark, dir)))
    assert(gf.nonEmpty)
    val scd = rows(StreamingEventLog.kStreamScd2(spark, dir))
    assert(scd === rows(EventQueries.kScd2History(spark, dir)))
    assert(scd.nonEmpty)
    val cov = rows(StreamingEventLog.wStreamIntervalCoverage(spark, dir))
    assert(cov === rows(EventQueries.wIntervalCoverage(spark, dir)))
    assert(cov.nonEmpty)
  }

  test("streaming LM score (model summing MVs + PK-FINAL trigram facts, " +
    "checkpointed mid-stream restart + compaction) equals the batch " +
    "scorer row for row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingLmScore
      .tStreamLmScore(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.llm.TextAnalysis.tLmScore(spark, dir)
      .collect().map(_.toString).toSeq
    graft.QueryCaches.releaseAll()
    assert(streamed === batch) // identical rows, order, and doubles
    assert(streamed.nonEmpty)
  }

  test("streaming active users (the retention activity MV, mid-stream " +
    "restart + compaction) equals the batch DAU/WAU row for row") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingRetention
      .wStreamActiveUsers(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.queries.EventQueries.wActiveUsers(spark, dir)
      .collect().map(_.toString).toSeq
    graft.QueryCaches.releaseAll()
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("heavy-hitter and anomaly MV soak: randomized chunk waves with a " +
    "restart per wave and random merges converge to the batch answers", Slow) {
    // the rolling-grid soak discipline applied to this round's two
    // summing MVs: whatever the arrival/restart/merge schedule, the
    // threshold reads must equal the one-shot batch queries
    import graft.streaming.{StreamingAnomaly, StreamingDedup,
      StreamingHeavyHitters}
    import graft.sink.ParquetSink
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val dir = "/root/testdata/sf0.001"
    val nChunks = 6
    val batchHH = graft.llm.TextAnalysis.tHeavyHitters(spark, dir)
      .collect().map(_.toString).toSeq
    val batchAn = graft.queries.EventQueries.wAnomalyZscore(spark, dir)
      .collect().map(_.toString).toSeq
    val hhSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val evSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    (0 until 2).foreach { round =>
      val rnd = new scala.util.Random(6400 + round)
      val cuts = (Seq(nChunks) ++
        Seq.fill(3)(1 + rnd.nextInt(nChunks))).distinct.sorted

      val feedH = tmp(s"hhsoak_feed$round")
      val whH = tmp(s"hhsoak_wh$round")
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      cuts.foreach { take =>
        StreamingDedup.writeDocChunks(spark, docs, feedH, nChunks, take,
          schema = hhSchema)
        StreamingHeavyHitters.runStream(spark, feedH, whH)
        if (rnd.nextBoolean())
          ParquetSink.compactSummed(spark, s"$whH/vocab_summed",
            Seq("token"), Seq("tf"))
      }
      val gotHH = StreamingHeavyHitters.readHeavyHitters(spark, whH)
        .collect().map(_.toString).toSeq
      assert(gotHH === batchHH, s"heavy-hitter soak round $round diverged")

      val feedA = tmp(s"ansoak_feed$round")
      val whA = tmp(s"ansoak_wh$round")
      val evs = Tables.events(spark, dir)
        .select(col("event_id").as("doc_id"), col("ts"), col("event_type"),
          col("value"))
      cuts.foreach { take =>
        StreamingDedup.writeDocChunks(spark, evs, feedA, nChunks, take,
          schema = evSchema)
        StreamingAnomaly.runStream(spark, feedA, whA)
        if (rnd.nextBoolean())
          ParquetSink.compactSummed(spark, s"$whA/anomaly_summed",
            Seq("event_type", "epoch_day"), Seq("day_count"))
      }
      val gotAn = StreamingAnomaly.readAnomalies(spark, whA)
        .collect().map(_.toString).toSeq
      assert(gotAn === batchAn, s"anomaly soak round $round diverged")
    }
  }

  test("stream-stream interval join (watermarked, restart restores the " +
    "symmetric join state) equals the batch range join exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingRangeJoin
      .wStreamRangeJoin(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.queries.EventQueries.wRangeJoin(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the restart genuinely splits the feed mid-stream (2 of 5 chunks
    // first), so same-user pairs straddling the stop exist and were
    // only findable through checkpoint-restored join state — if the
    // state had been lost, those pairs would be missing and the
    // equality above would have failed on count alone
  }

  test("stream-stream join soak: randomized chunk waves with a restart " +
    "per wave converge to the batch range join", Slow) {
    // the soak discipline applied to symmetric JOIN state: whatever the
    // arrival/restart schedule, the accumulated pair table must equal
    // the batch join — every restart must restore both sides' buffered
    // rows or cross-wave pairs go missing
    import graft.streaming.{StreamingDedup, StreamingRangeJoin}
    import graft.sink.ParquetSink
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val dir = "/root/testdata/sf0.001"
    val nChunks = 6
    val windowUs = 3600000000L
    val batch = graft.queries.EventQueries.wRangeJoin(spark, dir)
      .collect().map(_.toString).toSeq
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType)))
    (0 until 2).foreach { round =>
      val rnd = new scala.util.Random(7500 + round)
      val cuts = (Seq(nChunks) ++
        Seq.fill(3)(1 + rnd.nextInt(nChunks))).distinct.sorted
      val feed = tmp(s"rjsoak_feed$round")
      val wh = tmp(s"rjsoak_wh$round")
      val evs = Tables.events(spark, dir)
        .select(col("event_id").as("doc_id"), col("ts"), col("user_id"))
      cuts.foreach { take =>
        StreamingDedup.writeDocChunks(spark, evs, feed, nChunks, take,
          schema = schema)
        StreamingRangeJoin.runStream(spark, feed, wh, windowUs)
      }
      val streamed = ParquetSink.readFinal(
        spark.read.parquet(s"$wh/range_pairs"),
        Seq("event_a", "event_b"))
        .select(col("user_id"), col("event_a"), col("event_b"),
          col("gap_us"))
        .orderBy(col("user_id"), col("event_a"), col("event_b"))
        .collect().map(_.toString).toSeq
      assert(streamed === batch, s"range-join soak round $round diverged")
    }
  }

  test("watermark drops late events: a row older than the watermark " +
    "never reaches an already-closed window") {
    // the semantic the declared queries' batch twins cannot show: in
    // APPEND mode a window emits ONCE, when the watermark passes its
    // end, and a row arriving after its window closed is DROPPED — it
    // must neither re-open the window (a duplicate emission downstream)
    // nor change the already-emitted count. Single-file micro-batches
    // with controlled mtimes: (1) two hour-0 rows + an hour-5 row set
    // max event time to 5h; (2) another hour-5 row — the watermark
    // (5h − 1h = 4h, which the engine applies one batch after the max
    // advances) closes hour-0 → emitted with n=2; (3) a LATE hour-0
    // row arrives after its window closed → dropped; (4–5) an hour-20
    // row then a drain batch close hour-5 → n=2. Final sink: exactly
    // {hour0→2, hour5→2}, each window once.
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val feed = tmp("wm_feed"); val out = tmp("wm_out"); val cp = tmp("wm_cp")
    new java.io.File(feed).mkdirs()
    val hourNs = 3600L * 1000000000L
    def writeChunk(name: String, mtime: Long,
        rows: Seq[(Long, String)]): Unit = {
      val f = new java.io.File(feed, name)
      val body = rows.map { case (ts, et) =>
        s"""{"ts":$ts,"event_type":"$et"}""" }.mkString("\n")
      java.nio.file.Files.writeString(f.toPath, body)
      f.setLastModified(mtime)
    }
    writeChunk("c1.json", 10000L,
      Seq((0L * hourNs + 5L, "e"), (0L * hourNs + 7L, "e"),
        (5L * hourNs + 1L, "e")))
    writeChunk("c2.json", 20000L, Seq((5L * hourNs + 2L, "e")))
    writeChunk("c3.json", 30000L, Seq((0L * hourNs + 9L, "e"))) // late
    writeChunk("c4.json", 40000L, Seq((20L * hourNs, "e")))
    writeChunk("c5.json", 50000L, Seq((20L * hourNs + 1L, "e")))
    val schema = StructType(Seq(StructField("ts", LongType),
      StructField("event_type", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(feed)
    val q = graft.streaming.WindowedActivity.hourlyCounts(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select(col("hour_start").cast("long"), col("n"))
      .collect().map(r => r.getLong(0) / 3600 -> r.getLong(1)).toSeq.sorted
    // exactly one emission per window: a re-opened hour-0 window would
    // surface here as a duplicate (0, 1) row, a leaked late row as
    // (0, 3)
    assert(got === Seq(0L -> 2L, 5L -> 2L),
      s"expected exactly [hour0->2, hour5->2], got $got")
  }

  test("streaming rolling-7d grid (restart + mid-sequence merge) equals " +
    "the batch RANGE-frame window exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingRolling
      .wStreamRolling7d(spark, dir)
      .collect().map(_.toString).toSeq
    val batch = graft.queries.EventQueries.wRolling7d(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === batch) // identical rows, order, and doubles
    assert(streamed.nonEmpty)
  }

  test("rolling-grid soak: randomized chunk waves, checkpoint restarts, " +
    "and compactions converge to the batch window", Slow) {
    // the crash-recovery depth test for the newest summing MV: events
    // arrive in randomized WAVES, every wave is drained by a FRESH
    // runStream call (i.e. a restart from the same checkpoint — only
    // unseen files replay), and random waves are chased by a
    // compaction merge. Whatever the arrival/restart/merge schedule,
    // the read-time window must equal the one-shot batch aggregate.
    import graft.streaming.StreamingRolling
    import graft.sink.ParquetSink
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val dir = "/root/testdata/sf0.001"
    val nChunks = 6
    val batch = graft.queries.EventQueries.wRolling7d(spark, dir)
      .collect().map(_.toString).toSeq
    (0 until 2).foreach { round =>
      val rnd = new scala.util.Random(4200 + round)
      val feed = tmp(s"rollsoak_feed$round")
      val wh = tmp(s"rollsoak_wh$round")
      val evs = Tables.events(spark, dir)
        .select(col("event_id").as("doc_id"), col("ts"), col("event_type"),
          col("value"))
      // waves: strictly growing prefixes of the deterministic chunk
      // sequence, ending with the full corpus
      val cuts = (Seq(nChunks) ++
        Seq.fill(3)(1 + rnd.nextInt(nChunks))).distinct.sorted
      cuts.foreach { take =>
        graft.streaming.StreamingDedup.writeDocChunks(spark, evs, feed,
          nChunks, take, schema = StreamingRolling.eventSchema)
        StreamingRolling.runStream(spark, feed, wh) // restart per wave
        if (rnd.nextBoolean())
          ParquetSink.compactSummed(spark, s"$wh/rolling_summed",
            Seq("event_type", "epoch_day"), Seq("day_dec"))
      }
      val streamed = StreamingRolling.readRolling(spark, wh)
        .collect().map(_.toString).toSeq
      assert(streamed === batch, s"soak round $round diverged")
    }
  }

  test("spans+retention MV soak: randomized chunk waves with a restart " +
    "per wave converge to the batch answers", Slow) {
    // the rolling-grid soak discipline applied to the two newest MVs:
    // whatever the arrival/restart schedule, the read-time report must
    // equal the one-shot batch answer (PK-FINAL state absorbs replays)
    import graft.streaming.{StreamingDedup, StreamingRetention, StreamingSpans}
    import graft.sink.ParquetSink
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    def tmp(name: String): String = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$name")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val dir = "/root/testdata/sf0.001"
    val nChunks = 6
    val batchSpans = graft.llm.Dedup.dDupSpans(spark, dir)
      .collect().map(_.toString).toSeq
    graft.QueryCaches.releaseAll()
    val batchRet = graft.queries.EventQueries.gRetentionCohorts(spark, dir)
      .collect().map(_.toString).toSeq
    val retSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    (0 until 2).foreach { round =>
      val rnd = new scala.util.Random(5300 + round)
      val cuts = (Seq(nChunks) ++
        Seq.fill(3)(1 + rnd.nextInt(nChunks))).distinct.sorted

      val feedS = tmp(s"spansoak_feed$round")
      val whS = tmp(s"spansoak_wh$round")
      val corpus = graft.llm.Dedup.spansCorpus(
        Tables.documents(spark, dir)).localCheckpoint()
      cuts.foreach { take =>
        StreamingDedup.writeDocChunks(spark, corpus, feedS, nChunks, take)
        StreamingSpans.runStream(spark, feedS, whS) // restart per wave
      }
      val wins = ParquetSink.readFinal(
        spark.read.parquet(s"$whS/spans_index"), Seq("doc_id", "pos"))
        .select("doc_id", "pos", "win")
      val lengths = ParquetSink.readFinal(
        spark.read.parquet(s"$whS/spans_docs"), Seq("doc_id"))
        .withColumn("n_tokens",
          size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long"))
        .select("doc_id", "n_tokens")
      val streamedSpans = graft.llm.Dedup.spansFromWindows(wins, lengths)
        .orderBy(col("doc_id")).collect().map(_.toString).toSeq
      assert(streamedSpans === batchSpans, s"spans soak round $round")

      val feedR = tmp(s"retsoak_feed$round")
      val whR = tmp(s"retsoak_wh$round")
      val evs = Tables.events(spark, dir)
        .select(col("event_id").as("doc_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      cuts.foreach { take =>
        StreamingDedup.writeDocChunks(spark, evs, feedR, nChunks, take,
          schema = retSchema)
        StreamingRetention.runStream(spark, feedR, whR)
      }
      val act = ParquetSink.readFinal(
        spark.read.parquet(s"$whR/retention_activity"),
        Seq("user_id", "epoch_day"))
        .select("user_id", "epoch_day")
      val streamedRet =
        graft.queries.EventQueries.retentionFromActivity(act)
          .collect().map(_.toString).toSeq
      assert(streamedRet === batchRet, s"retention soak round $round")
    }
  }

  test("streaming corpus clean (checkpointed, mid-stream restart) " +
    "converges to the batch pipeline's surviving corpus") {
    import graft.streaming.StreamingCorpusClean
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCorpusClean.pipeStreamClean(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.llm.CorpusPipeline.pipeCorpusClean(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }
}
