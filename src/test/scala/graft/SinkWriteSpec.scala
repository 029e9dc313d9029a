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
  * stock file system's on-disk result, and a one-bucket ingest batch
  * writes each table with one task. */
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
