package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.NearFixtures
import graft.sink.ParquetSink
import graft.sources.{AssetsRefresher, BlockFileSource}

/** A stand-in object store: a Hadoop FileSystem registered under its
  * own URI scheme (`lake://`), exactly how `s3a://` plugs into Spark —
  * `fs.<scheme>.impl` conf resolves the class, and every reader goes
  * through the FileSystem abstraction, never java.io. Backed by the
  * local disk so the test runs with zero egress; the point is that the
  * block reader sees ONLY the scheme-agnostic API (S2: the reference
  * reads near-lake from S3/GCS via endpoint conf,
  * indexer-clickhouse/src/main.rs:100-127). */
class LakeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "lake"
  override def getUri: java.net.URI = java.net.URI.create("lake:///")
}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val acc = NearFixtures.accounts

  private def tmp(name: String): String = {
    val d = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_test_$name")
    ParquetSink.delete(d)
    d.getAbsolutePath
  }

  test("S2: block source reads an object-store scheme through the " +
    "Hadoop FS abstraction (batch and the full runner path)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lake.impl", classOf[LakeFileSystem].getName)
    val blocksDir = tmp("lake_blocks")
    BlockFileSource.writeBlockFiles(spark, NearFixtures.blocks, blocksDir)
    val lakePath = s"lake://$blocksDir"

    // batch read over the lake:// URI equals the local read
    val viaLake = BlockFileSource.readBlocks(spark, lakePath)
      .select(col("header.height")).collect().map(_.getLong(0)).toSeq
    val viaFile = BlockFileSource.readBlocks(spark, blocksDir)
      .select(col("header.height")).collect().map(_.getLong(0)).toSeq
    assert(viaLake === viaFile && viaLake.nonEmpty)

    // the product runner ingests straight from the lake:// URI
    val warehouse = tmp("lake_wh")
    val summary = graft.runner.BatchRunner.run(spark, lakePath, warehouse, acc)
    assert(summary.nonEmpty)
    val batch = graft.queries.NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq
    def eventsOf(wh: String): Seq[String] = graft.runner.BatchRunner
      .tableFinal(spark, wh, "events",
        Seq("related_receipt_id", "index_in_log"))
      .select(NearFixtures.eventCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val lakeEvents = eventsOf(warehouse)
    assert(lakeEvents.nonEmpty && lakeEvents === batch)

    // the STREAMING source lists and reads through the same FS
    // abstraction — the checkpointed query consumes lake:// files
    val streamWh = tmp("lake_stream_wh")
    graft.streaming.StreamRunner.runStream(spark, lakePath, streamWh, acc)
    assert(eventsOf(streamWh) === batch)
  }

  test("S4: scheduled refresh replaces the assets snapshot on each tick") {
    import spark.implicits._
    graft.Tables.tune(spark)
    val table = tmp("assets_dim")
    // the feed answers with a changing price: tick n sees price = n
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val fetch = () => {
      val n = calls.incrementAndGet()
      val payload = NearFixtures.assetsJsonPayload
        .replace("\"price\":1.0", s""""price":$n.0""")
      Seq(payload).toDF("payload")
    }
    val query = AssetsRefresher.start(spark, fetch, table, every = "1 second")
    try {
      val deadline = System.nanoTime() + 60000000000L
      // a reader can race the swap and see a vanished file — transient
      // by design (the documented retry contract); the poller retries
      def usdcPrice(): Option[Double] =
        try {
          if (!new java.io.File(table).exists()) None
          else spark.read.parquet(table)
            .filter(col("symbol") === "USDC")
            .agg(max(col("price"))).collect()(0) match {
              case r if r.isNullAt(0) => None
              case r => Some(r.getDouble(0))
            }
        } catch { case _: org.apache.spark.SparkException => None }
      // wait until at least two refreshes landed (price advanced past
      // 1); judge the price a read observed, since a fresh read can race
      // the next swap
      var seen = 0.0
      while (seen < 2.0 && System.nanoTime() < deadline) {
        seen = math.max(seen, usdcPrice().getOrElse(0.0))
        if (seen < 2.0) Thread.sleep(100)
      }
      assert(seen >= 2.0, s"no second refresh after ${calls.get()} fetches")
    } finally query.stop()
    // stop() may interrupt a tick mid-swap; recover, then the image is
    // a complete, readable snapshot of one fetch
    ParquetSink.recoverSwap(table)
    val snap = spark.read.parquet(table)
    assert(snap.count() === NearFixtures.assetRows.size.toLong)
    assert(snap.columns.sorted.toSeq === Seq("blockchain", "contract_address",
      "decimals", "defuse_asset_id", "price", "price_updated_at_ns", "symbol"))
    assert(!new java.io.File(table + ".old").exists())
  }

  test("replaceSnapshot: crash between swap steps leaves a recoverable table") {
    import spark.implicits._
    val table = tmp("snap_swap")
    ParquetSink.replaceSnapshot(Seq((1, "v1")).toDF("id", "v"), table)
    // simulate the worst crash point: live renamed aside, new copy lost
    assert(new java.io.File(table).renameTo(new java.io.File(table + ".old")))
    ParquetSink.replaceSnapshot(Seq((2, "v2")).toDF("id", "v"), table)
    val vs = spark.read.parquet(table).select("v")
      .collect().map(_.getString(0)).toSeq
    assert(vs === Seq("v2"))
    assert(!new java.io.File(table + ".old").exists())
  }

  test("z-order layout: Morton codes match the JVM interleave and the " +
    "z-clustered layout prunes a 2-D box to fewer files than 1-D") {
    import graft.sources.ZOrderLayout
    val dir = "/root/testdata/sf0.001"
    val keyed = ZOrderLayout.keyedEvents(spark, dir)
    // expression vs plain-JVM Morton on every row
    def mortonJvm(x: Long, y: Long): Long =
      (0 until 16).map(i =>
        (((x >> i) & 1L) << (2 * i)) + (((y >> i) & 1L) << (2 * i + 1))).sum
    keyed.select("x", "y", "zcode").collect().foreach { r =>
      assert(r.getLong(2) === mortonJvm(r.getLong(0), r.getLong(1)))
    }
    // pruning: a box wide in users, narrow in days — the 1-D user sort
    // cannot prune it, the z-order can
    val days = keyed.agg(min(col("y")), max(col("y"))).collect()(0)
    val (d0, d1) = (days.getLong(0), days.getLong(1))
    assert(d1 - d0 >= 8, "corpus should span >= 8 days for a narrow box")
    val zPath = tmp("zorder_z")
    val xPath = tmp("zorder_x")
    ZOrderLayout.writeZOrdered(keyed, zPath, 16)
    ZOrderLayout.writeLinear(keyed, xPath, 16)
    val (zTotal, zTouched) =
      ZOrderLayout.filesTouched(spark, zPath, 0L, 65535L, d0, d0 + 1)
    val (xTotal, xTouched) =
      ZOrderLayout.filesTouched(spark, xPath, 0L, 65535L, d0, d0 + 1)
    // range partitioning may leave some of the 16 requested partitions
    // empty on a 1k-row corpus — compare touched FRACTIONS, not counts
    assert(zTotal >= 8L && xTotal >= 8L,
      s"expected a real multi-file layout (z=$zTotal, x=$xTotal)")
    // the 1-D user sort spreads each day across (nearly) every file;
    // the z-layout must touch at most half the fraction it touches
    assert(2 * xTouched > xTotal,
      s"user-sorted layout should touch most files ($xTouched/$xTotal)")
    assert(zTouched * 2 * xTotal <= xTouched * zTotal,
      s"z-order should prune the day-narrow box ≥2× " +
        s"($zTouched/$zTotal vs $xTouched/$xTotal)")
  }

  test("format roundtrip: CSV and JSON fingerprints equal parquet at " +
    "FULL nanosecond grain (the gate compares at oracle-visible us)") {
    val dir = "/root/testdata/sf0.001"
    val fps = graft.sources.FormatRoundtrip
      .fingerprints(spark, dir, usGrain = false).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fps.length === 3)
    assert(fps.map(x => (x._2, x._3, x._4)).distinct.length === 1,
      s"fingerprints diverge across formats: ${fps.mkString("; ")}")
    assert(fps(0)._2 > 0)
  }

  test("format roundtrip survives embedded newlines, quotes and " +
    "backslashes in props (the multiLine/quote/escape pin, ADVICE r11)") {
    import spark.implicits._
    val hostile = Seq(
      (1L, 1000000L, 10L, "click", 1.25, "line1\nline2"),
      (2L, 2000000L, 11L, "view", 2.50, "say \"hi\"\nthen\r\nbye"),
      (3L, 3000000L, 12L, "purchase", 3.75, "back\\slash,comma"),
      (4L, 4000000L, 13L, "error", 4.00, "quote\"and\\both\n|pipe"),
      (5L, 5000000L, 14L, "signup", 0.99, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val fps = graft.sources.FormatRoundtrip
      .fingerprintsOf(hostile, usGrain = false).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fps.length === 3)
    assert(fps.forall(_._2 === 5L),
      s"a format sheared rows: ${fps.mkString("; ")}")
    assert(fps.map(x => (x._2, x._3, x._4)).distinct.length === 1,
      s"fingerprints diverge across formats: ${fps.mkString("; ")}")
  }
}
