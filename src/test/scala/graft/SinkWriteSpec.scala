package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.fixtures.{BlockGen, NearFixtures}
import graft.runner.BatchRunner
import graft.sink.{ForkFreeRawLocalFileSystem, ParquetSink}

/** The sink's write layer: the fork-free local file system keeps the
  * stock file system's on-disk result, a one-bucket ingest batch writes
  * each table with one task and no exchange, every file is in its
  * cluster-key order, and [[BatchRunner.concurrently]] starts every
  * write of a batch at once. */
class SinkWriteSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(name: String): String = {
    val d = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_test_$name")
    ParquetSink.delete(d)
    d.getAbsolutePath
  }

  /** Permission bits of `p` as the kernel holds them, sticky and setuid
    * bits included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  test("writeBatch files and directories carry the stock local write's " +
    "modes and .crc siblings") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, 30L + 3L * i, s"v$i"))
      .toDF("pk", "block_height", "v")
    val sunk = tmp("fs_modes_sink")
    ParquetSink.writeBatch(df, sunk, 7L, Seq("pk"))
    // the same frame, layout and AQE setting through Spark's stock
    // `file:` file system (no write options)
    val stock = tmp("fs_modes_stock")
    ParquetSink.withConf(Seq(spark),
        Map("spark.sql.adaptive.enabled" -> "false")) {
      df.withColumn("insert_seq", lit(7L))
        .withColumn("height_bucket", expr("block_height DIV 50L"))
        .repartition(col("height_bucket"))
        .sortWithinPartitions(col("pk"))
        .write.mode("append").partitionBy("height_bucket").parquet(stock)
    }
    // (path relative to the table, mode) of everything on disk; part
    // files are named by task and write id, which differ per write
    val partName = "part-\\d+-[0-9a-f-]{36}".r
    def listing(root: String): Seq[(String, String)] = {
      val r = java.nio.file.Paths.get(root)
      Files.walk(r).iterator().asScala.toSeq.map { p =>
        partName.replaceAllIn(r.relativize(p).toString, "part-N") ->
          f"${mode(p)}%o"
      }.sorted
    }
    val got = listing(sunk)
    assert(got === listing(stock))
    assert(got.count(_._1.endsWith(".parquet.crc")) === 3, got)
    assert(got.count(_._1.endsWith(".parquet")) === 3, got)
    assert(got.exists(_._1 == "._SUCCESS.crc"), got)
    def rows(path: String) =
      spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    assert(rows(sunk) === rows(stock))
  }

  test("setPermission sets the stock modes in-process and takes the " +
    "stock path above 0777; link status is the stock one") {
    val dir = java.nio.file.Paths.get(tmp("fs_chmod"))
    Files.createDirectories(dir)
    val conf = new Configuration()
    val stockFs = new RawLocalFileSystem()
    stockFs.initialize(java.net.URI.create("file:///"), conf)
    val ours = new ForkFreeRawLocalFileSystem()
    ours.initialize(java.net.URI.create("file:///"), conf)
    def hpath(p: JPath) = new Path(p.toUri)
    Seq(0x180, 0x1a0, 0x1c0, 0x1ed).foreach { m => // 0600 0640 0700 0755
      val a = Files.createFile(dir.resolve(f"stock_$m%o"))
      val b = Files.createFile(dir.resolve(f"ours_$m%o"))
      stockFs.setPermission(hpath(a), new FsPermission(m.toShort))
      ours.setPermission(hpath(b), new FsPermission(m.toShort))
      assert(mode(a) === m, f"stock $m%o")
      assert(mode(b) === m, f"ours $m%o")
    }
    // a sticky directory: no POSIX permission set expresses 01777
    val sticky = 0x3ff // 01777
    val a = Files.createDirectory(dir.resolve("stock_sticky"))
    val b = Files.createDirectory(dir.resolve("ours_sticky"))
    stockFs.setPermission(hpath(a), new FsPermission(sticky.toShort))
    ours.setPermission(hpath(b), new FsPermission(sticky.toShort))
    assert(mode(a) === sticky && mode(b) === sticky,
      f"stock ${mode(a)}%o, ours ${mode(b)}%o")
    // link status of a plain file (answered in-process) and of a
    // symlink (the stock path) is the stock file system's
    val plain = dir.resolve("stock_600")
    val link = Files.createSymbolicLink(dir.resolve("link"), plain)
    Seq(plain, link).foreach { p =>
      def seen(s: org.apache.hadoop.fs.FileStatus) =
        (s.isSymlink, s.isFile, s.getLen, s.getPermission)
      assert(seen(ours.getFileLinkStatus(hpath(p))) ===
        seen(stockFs.getFileLinkStatus(hpath(p))), p)
    }
  }

  test("a one-bucket ingest batch writes each table with one result " +
    "task, and its FINAL images are unchanged") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val blocksDir = tmp("one_bucket_blocks")
    val wh = tmp("one_bucket_wh")
    // heights 1000..1009: one 50-block bucket
    graft.sources.BlockFileSource.writeBlockFiles(spark,
      BlockGen.genBlocks(10, rich = true), blocksDir)
    val insertInto = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r
      .unanchored
    val tableOfExec = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val execOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val resultTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.sparkPlanInfo.simpleString match {
            case insertInto(path) => tableOfExec.put(s.executionId,
              path.stripSuffix("/").split('/').last)
            case _ => ()
          }
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).foreach { id =>
          e.stageIds.foreach(s => execOfStage.put(s, id.toLong))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") resultTasks.add(e.stageId): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(BatchRunner.run(spark, blocksDir, wh, NearFixtures.accounts)
        .map(_.nBlocks) === Some(10L))
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    val tasksPerTable = resultTasks.asScala.toSeq
      .flatMap(s => Option(execOfStage.get(s)))
      .flatMap(x => Option(tableOfExec.get(x)))
      .groupBy(identity).map { case (t, ts) => t -> ts.size }
    // FINAL image digests of the same batch written at the session's
    // full shuffle width (4 write tasks per table, before the writes
    // were sized): (rows, SHA-256 prefix of the sorted rows)
    def digest(df: DataFrame): (Long, String) = {
      val rows = df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted
      rows.length.toLong -> java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString
    }
    val images = BatchRunner.productTables.map { case (name, pk) =>
      name -> digest(pk.fold(BatchRunner.silverFinal(spark, wh, name))(
        BatchRunner.tableFinal(spark, wh, name, _)))
    }.toMap
    info(s"result tasks per table: $tasksPerTable")
    info(images.toSeq.sorted.mkString(", "))
    val written = BatchRunner.productTables.map(_._1) :+ "resolver_state"
    assert(tasksPerTable === written.map(_ -> 1).toMap)
    assert(images === FullWidthImages)
  }

  /** Every parquet data file under `root`. */
  private def dataFiles(root: String): Seq[JPath] =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sorted

  test("every written file holds its rows in cluster-key order") {
    import spark.implicits._
    // ids shuffled against the input order, heights 0..29 in one bucket
    // or 0..145 over three
    val ids = new scala.util.Random(7).shuffle((0 until 30).toList)
    def frame(step: Long) = ids.zipWithIndex
      .map { case (id, i) => (id.toLong, i * step, s"v$id") }
      .toDF("id", "block_height", "v").repartition(3)
    Seq(
      ("no_heights", frame(5L), None, 3),
      ("one_bucket", frame(1L), Some((0L, 29L)), 1),
      ("three_buckets", frame(5L), Some((0L, 145L)), 3)
    ).foreach { case (name, df, heights, files) =>
      val path = tmp(s"clustered_$name")
      ParquetSink.writeBatch(df, path, 1L, Seq("id"), heights = heights)
      val written = dataFiles(path)
      assert(written.size === files, name)
      written.foreach { f =>
        val got = spark.read.parquet(f.toString).select("id").as[Long]
          .collect().toSeq
        assert(got.nonEmpty && got === got.sorted, s"$name $f")
      }
      assert(written.map(f => spark.read.parquet(f.toString).count()).sum ===
        30L, name)
    }
  }

  /** Pages of `column` in each row group of the parquet file `f`, from
    * the file's offset index. */
  private def pageCounts(f: JPath, column: String): Seq[Int] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f.toString), new Configuration()))
    try reader.getFooter.getBlocks.asScala.toSeq.map { rowGroup =>
      val chunk = rowGroup.getColumns.asScala
        .find(_.getPath.toDotString == column).get
      reader.readOffsetIndex(chunk).getPageCount
    } finally reader.close()
  }

  test("a batch append writes pages of 64 KB; a compaction rewrite keeps " +
    "Parquet's default page size") {
    // 4000 rows in one bucket; `v` holds 64 hex characters per row, about
    // 270 KB uncompressed: several 64 KB pages, one page at the 1 MB
    // default
    val df = spark.range(4000).select(col("id"),
      (col("id") % 50).as("block_height"),
      sha2(col("id").cast("string"), 256).as("v"))
    val path = tmp("page_size")
    ParquetSink.writeBatch(df, path, 1L, Seq("id"), heights = Some((0L, 49L)))
    val appended = dataFiles(path)
    assert(appended.size === 1)
    val appendedPages = pageCounts(appended.head, "v")
    info(s"pages of v per row group, batch append: $appendedPages")
    assert(appendedPages.size === 1 && appendedPages.head >= 4, appendedPages)

    ParquetSink.compact(spark, path, Seq("id"))
    val compacted = dataFiles(path)
    assert(compacted.size === 1)
    val compactedPages = pageCounts(compacted.head, "v")
    info(s"pages of v per row group, compaction rewrite: $compactedPages")
    assert(compactedPages === Seq(1))
    assert(spark.read.parquet(path).count() === 4000L)
  }

  /** (target table, every plan node's one-line string) of each insert
    * that `body` runs. */
  private def insertPlans(body: => Unit): Seq[(String, Seq[String])] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val insertInto = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r
      .unanchored
    def nodes(p: SparkPlanInfo): Seq[String] =
      p.simpleString +: p.children.flatMap(nodes)
    val plans =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.sparkPlanInfo.simpleString match {
            case insertInto(path) => plans.add(
              path.stripSuffix("/").split('/').last -> nodes(s.sparkPlanInfo))
            case _ => ()
          }
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    plans.asScala.toSeq
  }

  test("a one-bucket ingest batch writes with no repartition exchange; a " +
    "three-bucket write keeps it, one file per bucket") {
    val blocksDir = tmp("no_exchange_blocks")
    val wh = tmp("no_exchange_wh")
    // heights 1000..1009: one 50-block bucket
    graft.sources.BlockFileSource.writeBlockFiles(spark,
      BlockGen.genBlocks(10, rich = true), blocksDir)
    val oneBucket = insertPlans {
      BatchRunner.run(spark, blocksDir, wh, NearFixtures.accounts): Unit
    }
    val written = BatchRunner.productTables.map(_._1) :+ "resolver_state"
    assert(oneBucket.map(_._1).toSet === written.toSet)
    oneBucket.foreach { case (table, plan) =>
      assert(!plan.exists(_.contains("REPARTITION_BY_NUM")),
        s"$table:\n${plan.mkString("\n")}")
    }

    import spark.implicits._
    val path = tmp("three_bucket_write")
    val threeBuckets = insertPlans {
      ParquetSink.writeBatch((0 until 30).map(i => (i.toLong, 5L * i))
        .toDF("id", "block_height"), path, 1L, Seq("id"),
        heights = Some((0L, 145L)))
    }
    assert(threeBuckets.size === 1)
    assert(threeBuckets.head._2.exists(_.contains("REPARTITION_BY_NUM")),
      threeBuckets.head._2.mkString("\n"))
    assert(dataFiles(path).map(_.getParent.getFileName.toString) ===
      Seq("height_bucket=0", "height_bucket=1", "height_bucket=2"))
  }

  test("concurrently starts every write at once, nested writes included, " +
    "with the caller's Spark local properties") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    // the ingest batch's shape: three writes beside a cascade of eight;
    // each write returns only once all eleven are in flight
    def batch(tag: String): Seq[String] = {
      val latch = new CountDownLatch(11)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      def write(name: String): (String, () => Unit) = name -> (() => {
        seen.add(String.valueOf(sc.getLocalProperty("graft.test.batch")))
        latch.countDown()
        assert(latch.await(20, TimeUnit.SECONDS),
          s"$name: ${latch.getCount} of 11 writes never started")
      })
      val launchedOn = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      sc.setLocalProperty("graft.test.batch", tag)
      try BatchRunner.concurrently(spark,
        Seq(write("receipts"), write("execution_outcomes"), write("events"),
          "silver_cascade" -> (() => BatchRunner.concurrently(spark,
            (1 to 8).map(i => write(s"silver_$i"))))),
        before = i => launchedOn += i -> Thread.currentThread.getName)
      finally sc.setLocalProperty("graft.test.batch", null)
      assert(launchedOn.toSeq ===
        (0 to 3).map(_ -> Thread.currentThread.getName))
      seen.asScala.toSeq
    }
    assert(batch("a") === Seq.fill(11)("a"))
    // the second batch reuses the first one's threads
    assert(batch("b") === Seq.fill(11)("b"))
  }

  test("concurrently rethrows the first failure only after every launched " +
    "write has terminated") {
    import java.util.concurrent.atomic.AtomicInteger
    val finished = new AtomicInteger()
    def slow(name: String): (String, () => Unit) = name -> (() => {
      Thread.sleep(300)
      finished.incrementAndGet(): Unit
    })
    val failed = intercept[IllegalStateException] {
      BatchRunner.concurrently(spark, Seq(slow("a"),
        "b" -> (() => throw new IllegalStateException("write b")), slow("c")))
    }
    assert(failed.getMessage === "write b")
    assert(finished.get === 2)
    // a throw from `before` stops launching; what was launched finishes
    finished.set(0)
    val stopped = intercept[IllegalStateException] {
      BatchRunner.concurrently(spark, Seq(slow("a"), slow("b"), slow("c")),
        before = i => if (i == 2) throw new IllegalStateException("before 2"))
    }
    assert(stopped.getMessage === "before 2")
    assert(finished.get === 2)
  }

  private val FullWidthImages: Map[String, (Long, String)] = Map(
    "events" -> (28L, "45e400051e9fe929"),
    "execution_outcomes" -> (18L, "14a2e1dd7b750c07"),
    "gold_block_rollup" -> (9L, "c7baac35f73bfbfc"),
    "receipts" -> (18L, "6bf5b7e241d2dda1"),
    "silver_fee_changed" -> (2L, "5ba0d56957f51362"),
    "silver_intents_executed" -> (2L, "a58316bbaab423aa"),
    "silver_nep245" -> (9L, "eb48944495c63a3f"),
    "silver_public_keys" -> (2L, "2ec33787dd294ca1"),
    "silver_staging_transfer" -> (2L, "b081063c27970215"),
    "silver_token_diff" -> (9L, "31fc18f8bfb0b925"),
    "silver_transfer" -> (2L, "d93d39db96ac00d5"),
    "transactions" -> (10L, "4b38063b290b725a"))
}
