package graft.tools

import graft.model._

/** Deep receipt-chain stress for the ingest resolver fold at
  * production state width: the other fixtures' chains are shallow
  * (≤5 hops) and their state tiny (tens of rows). This one drives the
  * fold's TTL bound (`ReceiptTxResolver.foldBatch`) and the one-task
  * resolver core under it (`ReceiptTxResolver.fixpoint`, which holds
  * the carried TTL window plus the batch's edges in one task) with
  * state ~one TTL window wide. Reference semantics under test:
  * Redis `SET ... EX` expiry with refresh-on-hop under sustained load
  * (`indexer-common/src/cache/redis.rs:5-143`).
  *
  * Corpus: `origins` tx chains START per block, each with a per-chain
  * hop gap cycling {1,3,7,13,51} blocks. Chains within the TTL are
  * 5–10 receipt hops deep, so they cross many micro-batch boundaries
  * (max span 10·13 = 130 blocks ≫ the batch size). The 51-gap chains
  * exceed the 50-block TTL at every hop (the expiry path, expected to
  * DROP their terminal events); they are 2 hops deep, so a chain that
  * starts in the first `nBlocks` − 102 blocks ends inside the horizon
  * and the drop is tested, not assumed. At the defaults (40 origins ×
  * ≈7.4 receipts per chain ≈ 300 state entries per block × TTL 50 ≈
  * 15k live entries) the state is production-order (NEAR mainnet
  * carries hundreds of receipts per block).
  *
  * The stream folds `foldBatch` over micro-batches of
  * `batchBlocks` blocks for `nBlocks` total (≥3 TTL windows),
  * recording per-batch wall, carried-state rows, and resolved events.
  * Correctness is CLOSED-FORM: a chain's terminal nep245 event must
  * resolve to `tx{h0}` iff its gap ≤ TTL and its last hop lands
  * inside the horizon; 51-gap chains must contribute zero events, and
  * at least one of them must end inside the horizon. Exit non-zero on
  * any mismatch.
  *
  * `tools/run_main.sh graft.tools.ResolverStress [nBlocks] [origins] [batchBlocks]`
  */
object ResolverStress {
  def main(args: Array[String]): Unit = {
    val nBlocks = args.lift(0).map(_.toInt).getOrElse(200)
    val origins = args.lift(1).map(_.toInt).getOrElse(40)
    val batchBlocks = args.lift(2).map(_.toInt).getOrElse(10)
    val base = 1000L
    val ttl = NearModel.TtlBlocks
    val gaps = Array(1L, 3L, 7L, 13L, 51L)
    val t0 = graft.fixtures.NearFixtures.T0

    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    // ---- corpus (driver-built, bounded: nBlocks × origins × ≤10 hops)
    val horizon = base + nBlocks - 1
    val txsAt = scala.collection.mutable.Map
      .empty[Long, Vector[TxWithOutcome]].withDefaultValue(Vector.empty)
    val outsAt = scala.collection.mutable.Map
      .empty[Long, Vector[OutcomeWithReceipt]].withDefaultValue(Vector.empty)
    var expectResolved = 0L // terminal events that MUST resolve
    var expectDropped = 0L  // terminal events that MUST drop (TTL)
    val droppedMemos = scala.collection.mutable.Set.empty[String]
    for (h0 <- base until base + nBlocks; k <- 0 until origins) {
      val g = gaps((k + (h0 - base).toInt) % gaps.length)
      val dMax = if (g > ttl) 2 else 5 + (k % 6) // 5..10 hops in the TTL
      def rid(d: Int) = s"r${h0}k${k}x$d"
      txsAt(h0) = txsAt(h0) :+ TxWithOutcome(
        TransactionView(s"tx${h0}k$k", "alice.near", "intents.near",
          Seq(ActionView("FunctionCall", """{"method_name":"execute"}"""))),
        s"oc${h0}k$k",
        OutcomeView("alice.near", Seq(rid(0)), "SuccessReceiptId", Nil,
          "0", 1L))
      for (d <- 1 to dMax; hd = h0 + d * g; if hd <= horizon) {
        val terminal = d == dMax
        val logs =
          if (!terminal) Nil
          else Seq(NearModel.EventJsonPrefix +
            s"""{"standard":"nep245","version":"1.0.0","event":"mt_transfer","data":""" +
            s"""[{"memo":"m${h0}k$k","old_owner_id":"a$k.near","new_owner_id":"b$k.near","token_ids":["nep141:usdc.near"],"amounts":["$k"]}]}""")
        if (terminal) {
          if (g <= ttl) expectResolved += 1
          else { expectDropped += 1; droppedMemos += s"m${h0}k$k" }
        }
        outsAt(hd) = outsAt(hd) :+ OutcomeWithReceipt(
          ReceiptView(rid(d - 1), "intents.near",
            if (d == 1) "alice.near" else "intents.near", "Action", Nil, None),
          s"o${h0}k${k}x$d",
          OutcomeView("intents.near", Seq(rid(d)), "SuccessValue", logs,
            "0", 2L))
      }
    }
    val blocks: Seq[Block] = (base to horizon).map { h =>
      Block(BlockHeader(h, t0 + (h - base) * 1000000000L, s"G$h"),
        Seq(Shard(
          if (txsAt(h).isEmpty) None else Some(Chunk(txsAt(h))),
          outsAt(h).sortBy(_.receipt.receipt_id))))
    }
    println(s"""{"corpus":{"blocks":$nBlocks,"origins_per_block":$origins,""" +
      s""""batch_blocks":$batchBlocks,"ttl":$ttl,""" +
      s""""expect_resolved":$expectResolved,"expect_dropped":$expectDropped}}""")

    // ---- fold the stream
    val acc = AccountsConfig()
    var state = graft.state.ReceiptTxResolver.emptyState(spark)
    var gotEvents = 0L
    val memoTx = scala.collection.mutable.Map.empty[String, Set[String]]
    val perBatch = Seq.newBuilder[(Int, Double, Long, Long)]
    blocks.grouped(batchBlocks).zipWithIndex.foreach { case (bs, i) =>
      val df = spark.createDataset(bs).toDF()
      val tb0 = System.nanoTime()
      val (carry, _, events) = graft.state.ReceiptTxResolver.foldBatch(
        state, df, acc, ttl, bs.map(_.header.height).max)
      // events are bounded (≤ origins·batch terminal emissions): the
      // memo→tx collection is the closed-form correctness probe
      val ev = events
        .select(org.apache.spark.sql.functions.get_json_object(
          org.apache.spark.sql.functions.col("data"),
          "$[0].memo").as("memo"),
          org.apache.spark.sql.functions.col("tx_hash"))
        .collect()
      ev.foreach { r =>
        val memo = r.getString(0)
        memoTx(memo) = memoTx.getOrElse(memo, Set.empty) +
          (if (r.isNullAt(1)) "NULL" else r.getString(1))
      }
      gotEvents += ev.length
      val stateRows = carry.count()
      val wall = (System.nanoTime() - tb0) / 1e9
      perBatch += ((i, wall, stateRows, ev.length.toLong))
      println(f"""{"batch":$i,"wall_sec":$wall%.2f,"state_rows":$stateRows,"events":${ev.length}}""")
      state = carry
    }

    // ---- verdicts
    var failures = 0
    def check(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failures += 1
      println(s"""{"check":"$name","ok":$ok,$detail}""")
    }
    check("event_count", gotEvents == expectResolved,
      s""""expect":$expectResolved,"got":$gotEvents""")
    val wrongTx = memoTx.filter { case (memo, txs) =>
      // memo m{h0}k{k} → tx{h0}k{k}
      txs != Set("tx" + memo.drop(1))
    }
    check("tx_attribution", wrongTx.isEmpty,
      s""""wrong":${wrongTx.size},"sample":"${wrongTx.take(3).mkString(";").replace("\"", "'")}"""")
    // an expired chain's terminal event must not be emitted at all
    val leaked = memoTx.keySet.intersect(droppedMemos)
    check("ttl_drop", expectDropped > 0 && leaked.isEmpty,
      s""""expect_dropped":$expectDropped,"emitted":${leaked.size}""")
    val pb = perBatch.result()
    // drift: median per-batch wall + state rows, first vs last TTL
    // window (warmup batch 0 excluded from the first window)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; if (s.isEmpty) -1 else s(s.length / 2)
    }
    val windowBatches = math.max(1, (ttl / batchBlocks).toInt)
    val firstW = pb.slice(1, 1 + windowBatches)
    val lastW = pb.takeRight(windowBatches)
    val wallFirst = med(firstW.map(_._2))
    val wallLast = med(lastW.map(_._2))
    val stateMax = pb.map(_._3).max
    check("flat_per_batch_wall", wallLast <= wallFirst * 1.5,
      s""""first_window_med":$wallFirst,"last_window_med":$wallLast""")
    check("bounded_state", stateMax <= (origins.toLong * 11 + origins) * ttl,
      s""""state_max":$stateMax,"bound":${(origins.toLong * 11 + origins) * ttl}""")
    println(s"""{"summary":"resolver_stress","failures":$failures,""" +
      s""""events":$gotEvents,"state_max":$stateMax,""" +
      s""""wall_first_med":$wallFirst,"wall_last_med":$wallLast}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
