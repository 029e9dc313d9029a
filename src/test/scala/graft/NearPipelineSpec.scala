package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.NearFixtures
import graft.model._
import graft.queries.NearQueries
import graft.silver.SilverTransforms
import graft.state.ReceiptTxResolver
import graft.bronze.BronzeExtractors

/** SURVEY §5 invariants over the golden fixture corpus. */
class NearPipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private lazy val events = NearQueries.eventsDf(spark).cache()
  private val acc = NearFixtures.accounts

  test("M1 explode-count invariant: rows out = sum of |token_ids| per item") {
    val m1 = SilverTransforms.nep245Events(events)
    val expected = events.filter(col("standard") === "nep245")
      .select(explode(expr(
        "from_json(data, 'array<struct<token_ids:array<string>>>')")).as("i"))
      .agg(sum(size(col("i.token_ids")))).collect()(0).getLong(0)
    assert(m1.count() === expected)
  }

  test("M2 sign-split exclusivity: each row is positive XOR negative") {
    val m2 = SilverTransforms.dip4TokenDiff(events, acc)
    val bad = m2.filter(
      !((col("diff_positive_token") =!= "" && col("diff_negative_token") === "" &&
        col("diff_positive_amount") >= 0 && col("diff_negative_amount") === 0.0) ||
        (col("diff_positive_token") === "" && col("diff_negative_token") =!= "" &&
          col("diff_negative_amount") < 0 && col("diff_positive_amount") === 0.0)))
    assert(bad.count() === 0)
    assert(m2.count() === 4) // r1: 1 entry; r4: item1 has 2, item2 has 1
  }

  test("M6/M7 prod-staging split: no contract appears on both sides") {
    val prod = SilverTransforms.dip4Transfer(events, acc)
      .select("contract_id").distinct().collect().map(_.getString(0)).toSet
    val staging = SilverTransforms.stagingDip4Transfer(events, acc)
      .select("contract_id").distinct().collect().map(_.getString(0)).toSet
    assert(prod.intersect(staging).isEmpty)
    assert(prod.subsetOf(acc.prodContracts.toSet))
    assert(staging.subsetOf(acc.stagingContracts.toSet))
  }

  test("M8/M9 union schema alignment and no cross-contamination") {
    val nep = SilverTransforms.nep245Events(events)
    val m8 = SilverTransforms.silverTransfers(nep,
      SilverTransforms.dip4Transfer(events, acc), acc)
    val m9 = SilverTransforms.stagingSilverTransfers(nep,
      SilverTransforms.stagingDip4Transfer(events, acc), acc)
    assert(m8.columns.toSeq === m9.columns.toSeq)
    assert(m8.filter(col("contract_id").isin(acc.stagingContracts: _*))
      .count() === 0)
    assert(m9.filter(col("contract_id").isin(acc.prodContracts: _*))
      .count() === 0)
  }

  test("receipt depth is a valid BFS: roots at 0, every other vertex " +
    "one past its shallowest parent") {
    val depths = NearQueries.nearReceiptDepth(spark, "unused").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // edges from the same pinned of-interest outcome fixture
    val edges = NearFixtures.expectedOutcomes.flatMap { case (o, rid) =>
      o.receipt_ids.map(child => rid -> child)
    }
    val dsts = edges.map(_._2).toSet
    val parents = edges.groupBy(_._2).map { case (c, es) => c -> es.map(_._1) }
    assert(depths.nonEmpty)
    depths.foreach { case (id, d) =>
      if (!dsts.contains(id)) assert(d === 0L, s"root $id")
      else assert(d === parents(id).map(depths).min + 1L, s"vertex $id")
    }
    // the of-interest fixture DAG has parent->child edges (one level);
    // deeper chains exist only among non-indexed receipts by design
    assert(depths.values.max >= 1L)
    assert(depths.values.exists(_ == 0L))
  }

  test("resolver is deterministic: two runs produce identical rows") {
    import spark.implicits._
    val blocks = spark.createDataset(NearFixtures.blocks).toDF()
    def run() = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(blocks, acc),
      BronzeExtractors.outcomes(blocks))
      .collect().map(_.toString).sorted.toSeq
    assert(run() === run())
  }

  test("resolver honors TTL: r9's hop (gap 60 > 50 blocks) is not resolved") {
    import spark.implicits._
    val blocks = spark.createDataset(NearFixtures.blocks).toDF()
    val resolved = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(blocks, acc),
      BronzeExtractors.outcomes(blocks))
    val ids = resolved.select("receipt_id").collect().map(_.getString(0)).toSet
    assert(!ids.contains("r9"))
    assert(!ids.contains("r7")) // never seeded
    // ...but a wider TTL resolves r9 through the same chain
    val wide = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(blocks, acc),
      BronzeExtractors.outcomes(blocks), ttlBlocks = 100L)
    val wideIds = wide.select("receipt_id").collect().map(_.getString(0)).toSet
    assert(wideIds.contains("r9"))
  }

  test("a 40-hop chain resolves whole: resolve and the ingest fold over " +
    "one batch and over 10-block batches agree on every receipt and the " +
    "terminal event") {
    import spark.implicits._
    // one hop per block, each 1 block after its parent's write (inside
    // the TTL); the terminal outcome, on the last receipt, logs an event
    val depth = 40
    def rid(d: Int) = s"deep$d"
    val eventLog = NearModel.EventJsonPrefix +
      """{"standard":"nep245","version":"1.0.0","event":"mt_mint",""" +
      """"data":[{"owner_id":"x.near","token_ids":["nep141:t.near"],""" +
      """"amounts":["1"]}]}"""
    def outcome(h: Long, d: Int, children: Seq[String], logs: Seq[String]) =
      Block(BlockHeader(h, h * 1000000000L, s"D$h"), Seq(Shard(None, Seq(
        OutcomeWithReceipt(ReceiptView(rid(d), "intents.near", "a.near",
          "Action", Nil, None), s"od$d", OutcomeView("intents.near",
          children, "SuccessValue", logs, "0", 1L))))))
    val blocks = Block(BlockHeader(300L, 300000000000L, "D300"), Seq(Shard(
      Some(Chunk(Seq(TxWithOutcome(TransactionView("deep-tx", "a.near",
        "intents.near", Nil), "odtx", OutcomeView("a.near", Seq(rid(0)),
        "SuccessReceiptId", Nil, "0", 1L))))), Nil))) +:
      ((1 to depth).map(d => outcome(300L + d, d - 1, Seq(rid(d)), Nil)) :+
        outcome(301L + depth, depth, Nil, Seq(eventLog)))
    val want = (0 to depth).map(d => rid(d) -> "deep-tx").toSet
    val wantEvents = Seq(rid(depth) -> "deep-tx")
    def pairs(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c, "tx_hash").collect().map(r => r.getString(0) -> r.getString(1))

    val df = spark.createDataset(blocks).toDF()
    val outs = BronzeExtractors.outcomes(df)
    val resolved = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(df, acc), outs, accounts = acc)
    assert(pairs(resolved, "receipt_id").toSet === want, "resolve")
    assert(pairs(ReceiptTxResolver.attachTxHash(
      BronzeExtractors.eventRows(outs, acc), resolved), "related_receipt_id")
      .toSeq === wantEvents, "resolve events")

    Seq(blocks.length, 10).foreach { size =>
      var state = ReceiptTxResolver.emptyState(spark)
      var seen = Seq.empty[(String, String)]
      var events = Seq.empty[(String, String)]
      blocks.grouped(size).foreach { bs =>
        val (carry, lookup, ev) = ReceiptTxResolver.foldBatch(state,
          spark.createDataset(bs).toDF(), acc, NearModel.TtlBlocks,
          bs.map(_.header.height).max)
        seen ++= pairs(lookup, "receipt_id")
        events ++= pairs(ev, "related_receipt_id")
        state = carry
      }
      assert(seen.toSet === want, s"$size-block fold")
      assert(events === wantEvents, s"$size-block fold events")
    }
  }

  test("T4 promotion: children written by an of-interest outcome join " +
    "the MAIN tier even when the parent entry is potential") {
    import spark.implicits._
    val blocks = Seq(
      Block(BlockHeader(200L, 1L, "T200"), Seq(Shard(Some(Chunk(Seq(
        TxWithOutcome(TransactionView("txp", "out1.near", "out2.near", Nil),
          "ocp",
          OutcomeView("out1.near", Seq("ra"), "SuccessReceiptId", Nil,
            "0", 1L))))), Nil))),
      Block(BlockHeader(201L, 2L, "T201"), Seq(Shard(None, Seq(
        OutcomeWithReceipt(
          ReceiptView("ra", "intents.near", "out1.near", "Action", Nil, None),
          "oa",
          OutcomeView("intents.near", Seq("rb"), "SuccessValue", Nil,
            "0", 1L)))))))
    val df = spark.createDataset(blocks).toDF()
    val res = ReceiptTxResolver.resolve(
      BronzeExtractors.transactions(df, acc), BronzeExtractors.outcomes(df))
    val tiers = res.collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(tiers("ra") === false) // potential seed keeps its first-write tier
    assert(tiers("rb") === true)  // promoted: of-interest hop writes MAIN
  }

  test("attach-time TTL boundary: an entry is readable exactly ttl " +
    "blocks after its write, and not one block later") {
    import spark.implicits._
    val resolved = Seq(("rx", "txx", true, 100L))
      .toDF("receipt_id", "tx_hash", "main", "entry_height")
    def eventAt(h: Long) = Seq((h, "rx")).toDF("block_height", "related_receipt_id")
    val atTtl = ReceiptTxResolver.attachTxHash(eventAt(150L), resolved)
    assert(atTtl.count() === 1) // gap 50 == ttl: still live
    val pastTtl = ReceiptTxResolver.attachTxHash(eventAt(151L), resolved)
    assert(pastTtl.count() === 0) // gap 51: expired, dropped
    val parentAt = ReceiptTxResolver.attachParentTx(
      eventAt(151L).withColumn("receipt_id", col("related_receipt_id")),
      resolved)
    assert(parentAt.select("parent_transaction_hash")
      .collect()(0).getString(0) === "")
  }

  test("M1-M5 timestamp lower bound excludes earlier events " +
    "(the MVs' ts >= const predicate)") {
    val cutoff = NearFixtures.T0 + 3 * NearFixtures.Day
    val bounded = SilverTransforms.nep245Events(events, cutoff)
    assert(bounded.select("block_height").distinct()
      .collect().map(_.getLong(0)).toSet === Set(161L))
    assert(SilverTransforms.nep245Events(events).count() >
      bounded.count())
  }

  test("sink FINAL dedup is idempotent: third re-insert changes nothing") {
    import graft.sink.ParquetSink
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_test_sink_idem")
    ParquetSink.delete(dir)
    val pk = Seq("related_receipt_id", "index_in_log")
    ParquetSink.writeBatch(events, dir.getAbsolutePath, 0L, pk)
    ParquetSink.writeBatch(events, dir.getAbsolutePath, 1L, pk)
    val once = ParquetSink.readFinal(
      spark.read.parquet(dir.getAbsolutePath), pk).count()
    ParquetSink.writeBatch(events, dir.getAbsolutePath, 2L, pk)
    val twice = ParquetSink.readFinal(
      spark.read.parquet(dir.getAbsolutePath), pk).count()
    assert(once === events.count())
    assert(twice === once)
    ParquetSink.delete(dir)
  }

  test("tombstone CLEANUP merge drops deleted keys physically; a later " +
    "re-insert is a fresh row, and live keys keep their versions") {
    import graft.sink.ParquetSink
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_test_sink_cleanup")
    ParquetSink.delete(dir)
    val pk = Seq("k")
    def batch(rows: Seq[(Long, String, Long)]) =
      rows.toDF("k", "v", "is_deleted").withColumn("block_height", col("k"))
    ParquetSink.writeBatch(
      batch(Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L))),
      dir.getAbsolutePath, 1L, pk)
    ParquetSink.writeBatch(batch(Seq((2L, "b", 1L))), // delete k=2
      dir.getAbsolutePath, 2L, pk)
    ParquetSink.compactWithCleanup(spark, dir.getAbsolutePath, pk)
    val afterCleanup = spark.read.parquet(dir.getAbsolutePath)
    // physically gone — not just hidden at read
    assert(afterCleanup.filter(col("k") === 2L).count() === 0L)
    assert(ParquetSink.readFinalWithDeletes(afterCleanup, pk)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // survivors keep their stamps: an as-of pin at seq 1 still answers
    assert(ParquetSink.readAsOf(afterCleanup, pk, 1L).count() === 2L)
    // resurrection after cleanup is an ordinary fresh insert
    ParquetSink.writeBatch(batch(Seq((2L, "b2", 0L))),
      dir.getAbsolutePath, 3L, pk)
    val rows = ParquetSink.readFinalWithDeletes(
      spark.read.parquet(dir.getAbsolutePath), pk)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    ParquetSink.delete(dir)
  }

  test("readAsOf reproduces the table a past batch saw") {
    import graft.sink.ParquetSink
    import org.apache.spark.sql.functions._
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_test_sink_asof")
    ParquetSink.delete(dir)
    val pk = Seq("related_receipt_id", "index_in_log")
    // seq 0: original rows; seq 1: same PKs, mutated payload; a reader
    // pinned to seq 0 must see the ORIGINAL image, not the overwrite
    ParquetSink.writeBatch(events, dir.getAbsolutePath, 0L, pk)
    ParquetSink.writeBatch(
      events.withColumn("event", lit("mutated")),
      dir.getAbsolutePath, 1L, pk)
    val raw = spark.read.parquet(dir.getAbsolutePath)
    val asOf0 = ParquetSink.readAsOf(raw, pk, 0L)
    val latest = ParquetSink.readFinal(raw, pk)
    assert(asOf0.count() === events.count())
    assert(asOf0.filter(col("event") === "mutated").count() === 0L)
    assert(latest.filter(col("event") =!= "mutated").count() === 0L)
    // compaction keeps each SURVIVOR's stamp: the latest pin (seq 1)
    // still resolves after the merge, and the pre-overwrite pin (seq 0)
    // under-reports (its versions were merged away) instead of
    // silently returning post-pin data as a re-stamp-to-0 would
    ParquetSink.compact(spark, dir.getAbsolutePath, pk)
    val rawC = spark.read.parquet(dir.getAbsolutePath)
    assert(ParquetSink.readFinal(rawC, pk)
      .filter(col("event") =!= "mutated").count() === 0L)
    assert(ParquetSink.readAsOf(rawC, pk, 1L).count() === events.count())
    ParquetSink.delete(dir)
  }

  test("SQL view surface: reference-named views answer reference-shaped " +
    "SQL identically to the DataFrame API") {
    import spark.implicits._
    val assets = spark.createDataset(NearFixtures.assetRows).toDF()
    graft.api.NearViews.register(spark, events, assets, acc)
    // silver union view by its ClickHouse name
    val sqlRows = spark.sql(
      "SELECT related_receipt_id, token_id, amount FROM silver_transfers")
      .collect().map(_.toString).sorted.toSeq
    val apiRows = SilverTransforms.silverTransfers(
      SilverTransforms.nep245Events(events),
      SilverTransforms.dip4Transfer(events, acc), acc)
      .select("related_receipt_id", "token_id", "amount")
      .collect().map(_.toString).sorted.toSeq
    assert(sqlRows === apiRows)
    assert(spark.sql("SELECT count(*) FROM silver_dip4_public_keys")
      .collect()(0).getLong(0) === 1L)
  }

  test("runner restart: two-stage ingest equals one-shot ingest and " +
    "resumes from the sink height") {
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    def freshDir(n: String) = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$n")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    // one-shot
    val wh1 = freshDir("runner_oneshot")
    val bd1 = freshDir("runner_oneshot_blocks")
    BlockFileSource.writeBlockFiles(spark, ordered, bd1)
    val s1 = BatchRunner.run(spark, bd1, wh1, acc)
    assert(s1.exists(_.fromHeight.isEmpty))
    // two-stage with restart
    val wh2 = freshDir("runner_twostage")
    val bd2 = freshDir("runner_twostage_blocks")
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), bd2)
    BatchRunner.run(spark, bd2, wh2, acc)
    BlockFileSource.writeBlockFiles(spark, ordered, bd2)
    // resume reads max(height) from the TRANSACTIONS table (mirroring
    // indexer-clickhouse/src/database.rs:15-39): block 102 carries no
    // transactions, so the resume point is 101 and block 102 is
    // REPROCESSED — its re-inserted rows collapse under FINAL dedup
    // (the idempotence the reference gets from ReplacingMergeTree).
    val s2b = BatchRunner.run(spark, bd2, wh2, acc)
    assert(s2b.exists(_.fromHeight.contains(101L)))
    // a third run re-processes only the trailing tx-less block (161 >
    // resume point 160); its re-inserts are idempotent no-ops
    val s3 = BatchRunner.run(spark, bd2, wh2, acc)
    assert(s3.exists(s => s.fromHeight.contains(160L) && s.nBlocks == 1L))
    val pk = Seq("related_receipt_id", "index_in_log")
    def img(wh: String) = BatchRunner.tableFinal(spark, wh, "events", pk)
      .select(NearFixtures.eventCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(img(wh2) === img(wh1))
    assert(img(wh1).size === 11)
  }

  test("runner restart: the resolver state holds every entry live at a " +
    "batch's lowest height") {
    import graft.runner.BatchRunner
    import graft.sink.ParquetSink
    import graft.sources.BlockFileSource
    import graft.streaming.StreamRunner
    def freshDir(n: String) = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$n")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val log = NearModel.EventJsonPrefix +
      """{"standard":"nep245","version":"1.0.0","event":"mt_transfer","data":[]}"""
    def block(h: Long, txs: Seq[TxWithOutcome],
        outs: Seq[OutcomeWithReceipt]) =
      Block(BlockHeader(h, NearFixtures.T0 + h * 1000000000L, s"B$h"),
        Seq(Shard(if (txs.isEmpty) None else Some(Chunk(txs)), outs)))
    def tx(hash: String, receipt: String) = TxWithOutcome(
      TransactionView(hash, "alice.near", "intents.near", Nil), s"oc_$hash",
      OutcomeView("alice.near", Seq(receipt), "SuccessReceiptId", Nil, "0", 1L))
    def exec(receipt: String, spawns: Seq[String]) = OutcomeWithReceipt(
      ReceiptView(receipt, "intents.near", "alice.near", "Action", Nil, None),
      s"o_$receipt", OutcomeView("intents.near", spawns, "SuccessValue",
        Seq(log), "0", 1L))
    def image(wh: String, table: String, pk: Seq[String]): Seq[String] = {
      val t = BatchRunner.tableFinal(spark, wh, table, pk)
      t.select(t.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    def images(wh: String) = Seq(
      image(wh, "events", Seq("related_receipt_id", "index_in_log")),
      image(wh, "receipts", Seq("receipt_id")))
    def resolvedEvents(wh: String) =
      BatchRunner.tableFinal(spark, wh, "events",
        Seq("related_receipt_id", "index_in_log"))
        .select("related_receipt_id", "tx_hash", "block_height")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq

    // tx1 at 100 seeds r1; r1 executes at 140 and spawns r2; an
    // unrelated tx at 160 moves the resume marker; r2 executes at 180.
    // Split at 160, the second stage must still see the seed at 100.
    val chain = Seq(block(100L, Seq(tx("tx1", "r1")), Nil),
      block(140L, Nil, Seq(exec("r1", Seq("r2")))),
      block(160L, Seq(tx("tx2", "r3")), Nil),
      block(180L, Nil, Seq(exec("r2", Nil))))
    val oneShot = freshDir("carry_oneshot")
    val oneShotBlocks = freshDir("carry_oneshot_blocks")
    BlockFileSource.writeBlockFiles(spark, chain, oneShotBlocks)
    BatchRunner.run(spark, oneShotBlocks, oneShot, acc)
    assert(resolvedEvents(oneShot) ===
      Seq(("r1", "tx1", 140L), ("r2", "tx1", 180L)))
    Seq[(String, String) => Unit](
      (bd, wh) => BatchRunner.run(spark, bd, wh, acc),
      (bd, wh) => StreamRunner.runStream(spark, bd, wh, acc)
    ).zipWithIndex.foreach { case (ingest, i) =>
      val wh = freshDir(s"carry_twostage_$i")
      val bd = freshDir(s"carry_twostage_blocks_$i")
      BlockFileSource.writeBlockFiles(spark, chain.take(3), bd)
      ingest(bd, wh)
      BlockFileSource.writeBlockFiles(spark, chain, bd)
      ingest(bd, wh)
      assert(images(wh) === images(oneShot), s"two-stage ingest $i")
    }

    // Blocks 140 and 200 carry no transactions, so the resume marker
    // stays at 100 and a second run re-processes them: r1's receipt
    // row must still resolve against the seed at 100.
    val wh = freshDir("carry_reprocess")
    val bd = freshDir("carry_reprocess_blocks")
    BlockFileSource.writeBlockFiles(spark, Seq(
      block(100L, Seq(tx("tx1", "r1")), Nil),
      block(140L, Nil, Seq(exec("r1", Seq("r2")))),
      block(200L, Nil, Nil)), bd)
    BatchRunner.run(spark, bd, wh, acc)
    val first = images(wh)
    val again = BatchRunner.run(spark, bd, wh, acc)
    assert(again.exists(s => s.fromHeight.contains(100L) && s.nBlocks == 2L))
    assert(images(wh) === first)
    assert(BatchRunner.tableFinal(spark, wh, "receipts", Seq("receipt_id"))
      .filter(col("receipt_id") === "r1")
      .select("parent_transaction_hash").collect().map(_.getString(0))
      .toSeq === Seq("tx1"))
  }

  test("warehouse compaction preserves every table image and the resume " +
    "point") {
    import graft.runner.BatchRunner
    import graft.sink.ParquetSink
    import graft.sources.BlockFileSource
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    def freshDir(n: String) = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$n")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val wh = freshDir("runner_compact")
    val bd = freshDir("runner_compact_blocks")
    // two-stage ingest -> several insert_seq versions incl. replayed rows
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), bd)
    BatchRunner.run(spark, bd, wh, acc)
    BlockFileSource.writeBlockFiles(spark, ordered, bd)
    BatchRunner.run(spark, bd, wh, acc)

    def images(): Map[String, Seq[String]] = {
      BatchRunner.productTables.map { case (name, pk) =>
        val t = pk match {
          case Some(k) => BatchRunner.tableFinal(spark, wh, name, k)
          case None => BatchRunner.silverFinal(spark, wh, name)
        }
        name -> t.select(t.columns.sorted.map(col): _*)
          .collect().map(_.toString).sorted.toSeq
      }.toMap
    }
    val before = images()
    assert(before.values.forall(_.nonEmpty))
    BatchRunner.compactWarehouse(spark, wh)
    assert(images() === before)
    // one surviving ROW VERSION per PK after the merge — each keeping
    // its original insert_seq stamp, so readAsOf pins survive
    // compaction (raw row count collapses to the FINAL image size)
    assert(spark.read.parquet(s"$wh/events").count() ===
      before("events").size)
    // resume still reads 160 from the compacted transactions table and
    // the trailing tx-less block replays idempotently
    val s = BatchRunner.run(spark, bd, wh, acc)
    assert(s.exists(_.fromHeight.contains(160L)))
    assert(images() === before)
  }

  test("state-window reads prune height-bucket partitions and retention " +
    "drops buckets the TTL can never read again") {
    import graft.runner.BatchRunner
    import graft.sink.ParquetSink
    import graft.sources.BlockFileSource
    val ordered = NearFixtures.blocks.sortBy(_.header.height)
    def freshDir(n: String) = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$n")
      ParquetSink.delete(d)
      d.getAbsolutePath
    }
    def buckets(table: String): Set[Long] =
      new java.io.File(table).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("height_bucket="))
        .map(_.getName.stripPrefix("height_bucket=").toLong).toSet

    val wh = freshDir("runner_retention")
    val bd = freshDir("runner_retention_blocks")
    // every in-fixture resolution hop/lookup spans <= 2 blocks, so a
    // 10-block TTL resolves identically to the default 50 — but makes
    // the retention bound bite between the 100-102 and 160-161 groups
    val state = s"$wh/resolver_state"
    BlockFileSource.writeBlockFiles(spark, ordered.take(3), bd)
    BatchRunner.run(spark, bd, wh, acc, ttlBlocks = 10L)
    assert(buckets(state) === Set(2L)) // heights 100-102
    BlockFileSource.writeBlockFiles(spark, ordered, bd)
    BatchRunner.run(spark, bd, wh, acc, ttlBlocks = 10L)
    // this run starts at 102 (the tx-less block above the resume point
    // 101), so it retains from 102 - 10 = 92: bucket 2 (100-149) stays
    // next to bucket 3 (160-161)
    assert(buckets(state) === Set(2L, 3L))
    // a third run re-processes only 161 and retains from 151: bucket 2
    // can never be read again and is dropped
    BatchRunner.run(spark, bd, wh, acc, ttlBlocks = 10L)
    assert(buckets(state) === Set(3L))
    // the trimmed warehouse still serves the full FINAL events image
    val pk = Seq("related_receipt_id", "index_in_log")
    val events = BatchRunner.tableFinal(spark, wh, "events", pk)
      .select(NearFixtures.eventCols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.queries.NearQueries.bronzeEvents(spark, "")
      .collect().map(_.toString).sorted.toSeq
    assert(events === batch)
    // and the windowed read truly prunes: the scan carries a partition
    // filter on height_bucket, not just a data filter on block_height
    val plan = ParquetSink.readFinalSince(spark, state, Seq("receipt_id"),
      152L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("height_bucket"), plan)
  }

  test("gold no-match rows: null referral becomes 'Others', empty-memo" +
    " no-match rows are dropped (CH 3VL parity)") {
    import spark.implicits._
    val gold = NearQueries.goldMetrics(spark, "")
    val referrals = gold.select("referral").collect().map(_.getString(0)).toSet
    assert(referrals === Set("partner.near", "Others"))
    // the staging mt_mint row (memo '', no token_diff match) must be gone
    assert(gold.agg(sum("deposits")).as[Option[Double]].collect()(0)
      .exists(_ > 0)) // only the day-2 memo'd mint survives
  }

  private val confKeys = Seq("spark.sql.adaptive.enabled",
    "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
  /** The keys' explicitly set values (None = unset, default applies). */
  private def confNow(): Map[String, Option[String]] = {
    val all = spark.conf.getAll
    confKeys.map(k => k -> all.get(k)).toMap
  }

  test("session-conf scope: overlapping scopes with different keys from " +
    "two threads restore the original conf when both exit") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.sink.ParquetSink
    import graft.runner.BatchRunner
    val (aqe, wholeStage, factoryMode) = (confKeys(0), confKeys(1),
      confKeys(2))
    val before = confNow()
    assert(before(aqe).contains("true"))
    assert(before(factoryMode).isEmpty, "the suite session leaves it unset")
    val aIn, bIn, aOut = new CountDownLatch(1)
    def await(l: CountDownLatch) = assert(l.await(60, TimeUnit.SECONDS))
    // A holds AQE off; B overlaps it with AQE off plus the interpreted
    // keys, and outlives A
    val a = Future(ParquetSink.withConf(Seq(spark), Map(aqe -> "false")) {
      aIn.countDown()
      await(bIn)
    }).andThen { case _ => aOut.countDown() }
    val b = Future {
      await(aIn)
      ParquetSink.withConf(Seq(spark),
          BatchRunner.interpreted + (aqe -> "false")) {
        bIn.countDown()
        val whileBoth = confNow()
        await(aOut)
        val afterA = confNow()
        // a conflicting value for a held key fails before applying any
        val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        intercept[IllegalArgumentException] {
          ParquetSink.withConf(Seq(spark), Map(
            "spark.sql.shuffle.partitions" -> "7", aqe -> "true"))(())
        }
        assert(spark.conf.get("spark.sql.shuffle.partitions") === shuffle)
        (whileBoth, afterA)
      }
    }
    Await.result(a, 2.minutes)
    val (whileBoth, afterA) = Await.result(b, 2.minutes)
    val scoped = Map(aqe -> Some("false"), wholeStage -> Some("false"),
      factoryMode -> Some("NO_CODEGEN"))
    assert(whileBoth === scoped)
    assert(afterA === scoped, "A's exit must not restore a key B holds")
    assert(confNow() === before)
  }

  test("two BatchRunner.run calls on one session in parallel threads each " +
    "leave the warehouse of their sequential run") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.runner.BatchRunner
    import graft.sources.BlockFileSource
    def freshDir(n: String) = {
      val d = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_test_$n")
      graft.sink.ParquetSink.delete(d)
      d.getAbsolutePath
    }
    val chains = Seq(
      "fixture" -> NearFixtures.blocks,
      "rich" -> graft.fixtures.BlockGen.genBlocks(30, rich = true))
    val blockDirs = chains.map { case (name, blocks) =>
      val d = freshDir(s"par_runner_${name}_blocks")
      BlockFileSource.writeBlockFiles(spark, blocks, d, 5)
      d
    }
    val tables = BatchRunner.productTables :+
      ("resolver_state" -> Some(Seq("receipt_id")))
    def image(wh: String): Map[String, Seq[String]] =
      tables.map { case (name, pk) =>
        val t = pk match {
          case Some(k) => BatchRunner.tableFinal(spark, wh, name, k)
          case None => BatchRunner.silverFinal(spark, wh, name)
        }
        name -> t.select(t.columns.sorted.map(col): _*)
          .collect().map(_.toString).sorted.toSeq
      }.toMap
    val before = confNow()
    val sequential = chains.zip(blockDirs).map { case ((name, _), bd) =>
      val wh = freshDir(s"par_runner_${name}_seq")
      BatchRunner.run(spark, bd, wh, acc)
      image(wh)
    }
    val parallelWh = chains.map { case (name, _) =>
      freshDir(s"par_runner_${name}_par")
    }
    val runs = blockDirs.zip(parallelWh).map { case (bd, wh) =>
      Future(BatchRunner.run(spark, bd, wh, acc))
    }
    runs.foreach(r => assert(Await.result(r, 10.minutes).nonEmpty))
    parallelWh.map(image).zip(sequential).zip(chains).foreach {
      case ((par, seq), (name, _)) =>
        tables.foreach { case (t, _) =>
          assert(par(t) === seq(t), s"$name: table $t diverges")
        }
        assert(seq("events").nonEmpty, s"$name: no events")
    }
    assert(confNow() === before)
  }
}
