package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Multimodal
import graft.operators.SkewJoin
import graft.streaming.Sessionize

/** Randomized invariants over the operator library (raw scalacheck Gen
  * with fixed seeds — deterministic, no scalatestplus dependency).
  * Each property pits a Spark operator against an independent plain-
  * Scala model on adversarial inputs (ties, duplicates, empties, hot
  * keys) that the fixed corpora underexercise. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def sample[A](gen: Gen[A], seed: Long): A =
    gen.apply(Gen.Parameters.default, Seed(seed)).get

  test("prefix-filter length matches exact rational arithmetic across " +
    "thresholds where t*n lands on integers") {
    import spark.implicits._
    // The dangerous cases are thresholds whose double representation
    // differs from the decimal value (fl(0.1) > 0.1, fl(0.3) < 0.3, …)
    // at an n where t·n is an exact integer: a naive ceil(fl(t)*n) then
    // over/under-shoots by one and silently shortens the prefix
    // (ADVICE r8 #1). Sweep every tenth plus 0.25/0.75 over n = 1..600
    // — covers t·n integer points for all of them many times over.
    val thresholds = Seq("0.1", "0.2", "0.25", "0.3", "0.4", "0.5",
      "0.6", "0.7", "0.75", "0.8", "0.9")
    val ns = (1 to 600).toDF("n")
    thresholds.foreach { ts =>
      val t = ts.toDouble
      val sparkSide = ns
        .withColumn("p", graft.llm.Dedup.prefixLenCol(t, col("n")))
        .orderBy("n").collect().map(r => (r.getInt(0), r.getLong(1)))
      sparkSide.foreach { case (n, p) =>
        val exact = graft.llm.Dedup.prefixLenExact(BigDecimal(ts), n)
        assert(p === exact.toLong, s"threshold $ts n=$n")
      }
    }
  }

  test("span aggregation equals a plain-Scala interval-union model on " +
    "random window sets") {
    import spark.implicits._
    // Random duplicated-position sets per doc (duplicates, adjacency,
    // exact-overlap edges), pitted against a direct interval-union fold
    // — the gaps-and-islands window arithmetic must agree on span
    // count, window count, and covered-token total for every doc.
    val w = graft.llm.Dedup.SpanW
    val gen = Gen.listOfN(60, for {
      doc <- Gen.chooseNum(0L, 7L)
      pos <- Gen.chooseNum(0L, 40L)
    } yield (doc, pos))
    (1L to 5L).foreach { seed =>
      val raw = sample(gen, seed).distinct
      // wins relation: every position carries SOME window string; make
      // every string globally duplicated so the occ >= 2 gate keeps all
      // (the gate itself is pinned by the corpus tests — this property
      // targets the island arithmetic)
      val wins = (raw ++ raw.map { case (d, p) => (d + 100L, p) })
        .toDF("doc_id", "pos")
        .withColumn("win", concat(lit("w"), col("pos")))
      val lengths = (0L to 7L).flatMap(d => Seq(d, d + 100L))
        .map(d => (d, 48L)).toDF("doc_id", "n_tokens")
      val got = graft.llm.Dedup.spansFromWindows(wins, lengths)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      // independent model: sort positions, merge [p, p+w-1] intervals on
      // overlap-or-adjacency, sum lengths
      val byDoc = (raw ++ raw.map { case (d, p) => (d + 100L, p) })
        .groupBy(_._1).map { case (d, ps) =>
          val sorted = ps.map(_._2).distinct.sorted
          val spans = sorted.foldLeft(List.empty[(Long, Long)]) {
            case (acc, p) =>
              val (s, e) = (p, p + w - 1)
              acc match {
                case (cs, ce) :: tail if s <= ce + 1 =>
                  (cs, math.max(ce, e)) :: tail
                case _ => (s, e) :: acc
              }
          }
          d -> (sorted.size.toLong, spans.size.toLong,
            spans.map { case (s, e) => e - s + 1 }.sum)
        }
      (0L to 7L).flatMap(d => Seq(d, d + 100L)).foreach { d =>
        assert(got(d) === byDoc.getOrElse(d, (0L, 0L, 0L)),
          s"doc $d seed $seed")
      }
    }
  }

  test("saltedJoin equals the plain join for every allowed join type") {
    import spark.implicits._
    val rowGen = for {
      k <- Gen.chooseNum(0L, 5L) // few keys -> hot keys guaranteed
      v <- Gen.chooseNum(0, 100)
    } yield (k, v)
    val largeGen = Gen.listOfN(200, rowGen)
    val smallGen = Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 7L), Gen.alphaStr))
    (0 until 5).foreach { i =>
      val large = sample(largeGen, i.toLong).zipWithIndex
        .map { case ((k, v), id) => (k, v, id.toLong) }
        .toDF("k", "v", "row_id")
      val small = sample(smallGen, 100L + i).distinctBy(_._1)
        .toDF("k", "name")
      Seq("inner", "left", "left_semi", "left_anti").foreach { jt =>
        val salted = SkewJoin
          .saltedJoin(large, small, Seq("k"), "row_id", 4, jt)
          .collect().map(_.toString).sorted.toSeq
        val plain = large.join(small, Seq("k"), jt)
          .collect().map(_.toString).sorted.toSeq
        assert(salted === plain, s"seed $i join type $jt")
      }
    }
  }

  test("batch sessionization equals a plain-Scala gaps model under ties " +
    "and duplicates") {
    import spark.implicits._
    val gapUs = 100L
    val evGen = Gen.listOfN(120, for {
      u <- Gen.chooseNum(0L, 3L)
      t <- Gen.chooseNum(0L, 2000L) // dense -> tied timestamps likely
    } yield (u, t))
    (0 until 5).foreach { i =>
      val evs = sample(evGen, 7000L + i).zipWithIndex
        .map { case ((u, t), id) => Sessionize.Ev(u, t, id.toLong) }
      val got = Sessionize.sessionsBatch(evs.toDS(), gapUs)
        .collect().map(s =>
          (s.user_id, s.session_start_us, s.session_end_us, s.n_events))
        .sorted.toSeq
      // model: sort by (ts, event_id), split where the gap exceeds gapUs
      val want = evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts_us, e.event_id))
        val sessions = sorted.tail.foldLeft(List(List(sorted.head))) {
          case (acc @ cur :: rest, e) =>
            if (e.ts_us - cur.head.ts_us <= gapUs) (e :: cur) :: rest
            else List(e) :: acc
          case (Nil, e) => List(List(e))
        }
        sessions.map(s =>
          (u, s.last.ts_us, s.head.ts_us, s.size.toLong))
      }.sorted
      assert(got === want, s"seed $i")
    }
  }

  test("dot_product equals the zip_with fold on random vectors with " +
    "nulls and ragged lengths") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val vecGen = Gen.listOfN(8,
      Gen.oneOf(Gen.const[Option[Double]](None),
        Gen.chooseNum(-10.0, 10.0).map(Some(_))))
    val pairGen = for {
      a <- vecGen
      aLen <- Gen.chooseNum(0, 8)
      b <- vecGen
      bLen <- Gen.chooseNum(0, 8)
    } yield (a.take(aLen), b.take(bLen))
    val pairs = (0 until 40).map(i => sample(pairGen, 900L + i))
      .toDF("a", "b")
    val r = pairs.select(
      expr("dot_product(a, b)").as("dp"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, " +
        "(acc, v) -> acc + v)").as("hof")).collect()
    r.zipWithIndex.foreach { case (row, i) =>
      val dp = if (row.isNullAt(0)) None else Some(row.getDouble(0))
      val hof = if (row.isNullAt(1)) None else Some(row.getDouble(1))
      assert(dp === hof, s"row $i")
    }
  }

  test("randomized block chains: the streaming fold emits exactly the " +
    "batch pipeline's events (TTL expiry, same-block hops, orphans)", Slow) {
    import graft.model._
    import graft.bronze.BronzeExtractors
    import graft.state.ReceiptTxResolver
    import graft.fixtures.NearFixtures
    import spark.implicits._
    graft.Tables.tune(spark)
    val acc = NearFixtures.accounts
    val ttl = 5L // small, so random gaps cross the expiry boundary
    // of-interest contracts weighted in so events pass the P5 filter
    val pool = Seq("intents.near", "intents.near", "defuse-alpha.near",
      "alice.near", "bob.near")
    val eventLog = "EVENT_JSON:" +
      """{"standard":"nep245","version":"1.0.0","event":"mt_mint",""" +
      """"data":[{"owner_id":"x.near","token_ids":["nep141:t.near"],""" +
      """"amounts":["1"]}]}"""

    def genChain(seed: Int): Seq[Block] = {
      val rnd = new scala.util.Random(seed)
      def pick() = pool(rnd.nextInt(pool.size))
      var h = 100L
      var rc = 0
      var txc = 0
      val pending = scala.collection.mutable.Queue.empty[String]
      (0 until 10).map { _ =>
        h += 1 + rnd.nextInt(4)
        if (rnd.nextInt(4) == 0) h += ttl + 2 // blow past the TTL sometimes
        // seed 0-2 fresh receipts via transactions
        val txs = (0 until rnd.nextInt(3)).map { _ =>
          txc += 1; rc += 1
          val first = s"r$rc-$seed"
          pending.enqueue(first)
          TxWithOutcome(
            TransactionView(s"tx$txc-$seed", pick(), pick(), Nil),
            s"oc$txc-$seed",
            OutcomeView(pick(), Seq(first), "SuccessReceiptId", Nil, "0", 1L))
        }
        // execute 0-2 pending receipts (possibly seeded THIS block —
        // the within-block fixpoint path; possibly stale — TTL path)
        val outs = (0 until math.min(pending.size, rnd.nextInt(3))).map { _ =>
          val rid = pending.dequeue()
          val children = (0 until rnd.nextInt(3)).map { _ =>
            rc += 1; val c = s"r$rc-$seed"; pending.enqueue(c); c
          }
          val executor = pick()
          val logs = if (rnd.nextInt(2) == 0) Seq(eventLog) else Nil
          OutcomeWithReceipt(
            ReceiptView(rid, executor, pick(), "Action", Nil, None),
            s"o-$rid", OutcomeView(executor, children, "SuccessValue",
              logs, "0", 1L))
        }
        // occasionally an orphan receipt that was never seeded: its
        // events must be dropped identically on both paths
        val orphan = if (rnd.nextInt(5) == 0) {
          rc += 1
          Seq(OutcomeWithReceipt(
            ReceiptView(s"orph$rc-$seed", "intents.near", "x.near",
              "Action", Nil, None),
            s"o-orph$rc", OutcomeView("intents.near", Nil, "SuccessValue",
              Seq(eventLog), "0", 1L)))
        } else Nil
        Block(BlockHeader(h, h * 1000000000L, s"B$h-$seed"),
          Seq(Shard(if (txs.nonEmpty) Some(Chunk(txs)) else None,
            outs ++ orphan)))
      }
    }

    (0 until 5).foreach { seed =>
      val blocks = genChain(seed)
      val streamed = ResolverFold
        .runMicroBatched(spark, blocks, acc, ttl)
        .select(NearFixtures.eventCols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
      val df = spark.createDataset(blocks).toDF()
      val resolved = ReceiptTxResolver.resolve(
        BronzeExtractors.transactions(df, acc),
        BronzeExtractors.outcomes(df), ttl)
      val batch = ReceiptTxResolver.attachTxHash(
        BronzeExtractors.eventRows(BronzeExtractors.outcomes(df), acc),
        resolved, dropUnresolved = true, ttlBlocks = ttl)
        .select(NearFixtures.eventCols.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed === batch, s"seed $seed diverged")
    }
  }

  test("resize then resize-to-same-size is identity on exact-fit payloads") {
    import spark.implicits._
    val mediaGen = Gen.listOfN(6, for {
      w <- Gen.chooseNum(1, 12)
      h <- Gen.chooseNum(1, 12)
      bytes <- Gen.listOfN(w * h, Gen.chooseNum(0, 255))
    } yield (w, h, bytes))
    (0 until 3).foreach { i =>
      val rows = sample(mediaGen, 300L + i).zipWithIndex.map {
        case ((w, h, bs), id) =>
          Multimodal.MediaRow(id.toLong, "image/fake", w, h,
            bs.map(_.toByte).toArray)
      }
      val ds = rows.toDS()
      // identity: nearest-neighbor with tw=w, th=h maps pixel (x,y)->(x,y)
      val same = Multimodal.resize(ds, rows.head.width, rows.head.height)
      val back = same.filter(col("doc_id") === 0L).collect()(0)
      assert(back.payload.toSeq === rows.head.payload.toSeq)
      // downsample never reads out of bounds and always fills the grid
      val small = Multimodal.resize(ds, 3, 3).collect()
      assert(small.forall(_.payload.length == 9))
    }
  }

  test("readAsOf pins never see post-pin or stale data under random maintenance", Slow) {
    // The ParquetSink scaladoc contract: maintenance may make an old
    // pin UNDER-report (compaction discards pre-pin versions of later-
    // overwritten keys; TTL trims drop whole rows), but a pin must
    // never return a row the pinned image didn't contain — no post-pin
    // seqs, no resurrected older versions, no re-stamped values. Random
    // insert/compact/trim interleavings, every live pin re-checked
    // after each maintenance op and at the end.
    import spark.implicits._
    import graft.sink.ParquetSink
    val pk = Seq("id")
    (0 until 2).foreach { round =>
      val rnd = new scala.util.Random(7100 + round)
      val dir = java.nio.file.Files
        .createTempDirectory(s"asof_prop$round").toString + "/t"
      // model: insert_seq -> the full FINAL image at that seq
      var history = Map.empty[Long, Map[Long, Long]]
      var current = Map.empty[Long, Long]
      var seq = 0L
      def checkPins(n: Int): Unit = {
        val pins = rnd.shuffle(history.keys.toList).take(n)
        pins.foreach { p =>
          val img = ParquetSink
            .readAsOf(spark.read.parquet(dir), pk, p)
            .select(col("id"), col("value"), col("insert_seq"))
            .collect()
          val model = history(p)
          img.foreach { r =>
            assert(r.getLong(2) <= p,
              s"pin $p returned post-pin seq ${r.getLong(2)}")
            assert(model.get(r.getLong(0)).contains(r.getLong(1)),
              s"pin $p: id ${r.getLong(0)} -> ${r.getLong(1)} but " +
                s"model says ${model.get(r.getLong(0))}")
          }
        }
      }
      (0 until 15).foreach { _ =>
        val op = rnd.nextInt(10)
        if (op < 6 || history.isEmpty) {
          // insert a random subset of keys; block_height is a FIXED
          // function of the key so every version of a key shares one
          // height bucket (trims remove keys wholesale, the TTL shape)
          seq += 1
          val ids = List.fill(1 + rnd.nextInt(6))(rnd.nextInt(20).toLong)
            .distinct
          val rows = ids.map(id => (id, seq * 1000 + id, id * 13L))
          ParquetSink.writeBatch(
            rows.toDF("id", "value", "block_height"), dir, seq, pk)
          current = current ++ rows.map(r => r._1 -> r._2)
          history += seq -> current
        } else if (op < 8) {
          ParquetSink.compact(spark, dir, pk)
          checkPins(3)
        } else {
          ParquetSink.dropBucketsBelow(dir, rnd.nextInt(20) * 13L)
          checkPins(3)
        }
      }
      checkPins(history.size) // every pin, after the full history
    }
  }

  test("summing sink equals an additive model under random replays and merges", Slow) {
    // Additive state is replay-hostile: the invariant is that totals
    // NEVER move except when a genuinely new batch lands (VERDICT r6
    // #1). Randomized (Gen, fixed seeds): batch composition, redelivery
    // MULTIPLICITY (a batch may be redelivered several times, possibly
    // back-to-back), merge timing, and below-watermark replays (every
    // compact is chased by a redelivery of the OLDEST batch — the one
    // certainly at-or-below the new watermark — on top of random ones
    // that land above it). After every op, readSummed must equal a
    // plain additive map model; after the schedule, it must also equal
    // one plain Spark GROUP BY over the delivered rows (each batch
    // counted exactly once), the same oracle shape the declared
    // queries' DuckDB twins use.
    import spark.implicits._
    import graft.sink.ParquetSink
    val keys = Seq("k")
    val sums = Seq("amt", "n")
    // composition gen: 1-5 DISTINCT keys (the writer contract: one
    // partial row per key per batch), cents-precision decimals
    val batchGen = for {
      nk <- Gen.chooseNum(1, 5)
      ks <- Gen.pick(nk, 0L to 9L)
      rows <- Gen.sequence[List[(Long, BigDecimal, Long)], (Long, BigDecimal, Long)](
        ks.toList.map(k => for {
          cents <- Gen.chooseNum(-5000L, 10000L) // negatives: retractions
          n <- Gen.chooseNum(0L, 50L)
        } yield (k, BigDecimal(cents) / 100, n)))
    } yield rows
    val opGen = Gen.chooseNum(0, 9)
    (0 until 3).foreach { round =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"summing_prop$round").toString + "/t"
      val model = scala.collection.mutable.Map.empty[Long, (BigDecimal, Long)]
      val batches = scala.collection.mutable.ArrayBuffer
        .empty[(Long, List[(Long, BigDecimal, Long)])]
      def writeRows(seq: Long, rows: Seq[(Long, BigDecimal, Long)]): Unit =
        ParquetSink.writeSummedBatch(
          rows.toDF("k", "amt", "n")
            .withColumn("amt",
              col("amt").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
            .withColumn("block_height", col("k")),
          dir, seq, keys)
      def check(tag: String): Unit = {
        val got = ParquetSink
          .readSummed(spark.read.parquet(dir), keys, sums)
          .select(col("k"), col("amt").cast("string"), col("n"))
          .collect()
          .map(r => r.getLong(0) -> ((BigDecimal(r.getString(1)), r.getLong(2))))
          .toMap
        assert(got.keySet === model.keySet, tag)
        model.foreach { case (k, (amt, n)) =>
          assert(got(k)._1 === amt, s"$tag key $k amt ${got(k)._1} != $amt")
          assert(got(k)._2 === n, s"$tag key $k n ${got(k)._2} != $n")
        }
      }
      var seq = 0L
      var step = 0
      def deliverNew(): Unit = {
        seq += 1
        val rows = sample(batchGen, 8200L * (round + 1) + seq)
        writeRows(seq, rows)
        batches += seq -> rows
        rows.foreach { case (k, amt, n) =>
          val (a0, n0) = model.getOrElse(k, (BigDecimal(0), 0L))
          model(k) = (a0 + amt, n0 + n)
        }
      }
      (0 until 16).foreach { _ =>
        step += 1
        val op = sample(opGen, 9100L * (round + 1) + step)
        if (op < 5 || batches.isEmpty) deliverNew()
        else if (op < 8) {
          // redeliver a random previous batch byte-identically — the
          // at-least-once contract; totals must not move
          val (s, rows) = batches(
            sample(Gen.chooseNum(0, batches.size - 1), 9300L * (round + 1) + step))
          writeRows(s, rows)
        } else {
          ParquetSink.compactSummed(spark, dir, keys, sums)
          check(s"round $round step $step post-compact")
          // late replay from BELOW the fresh watermark: the oldest
          // batch is folded into the merged image by construction
          val (s, rows) = batches.head
          writeRows(s, rows)
        }
        check(s"round $round step $step")
      }
      // the verdict-shape oracle: one plain GROUP BY over delivered
      // rows, each batch exactly once, vs the sink's folded state
      val delivered = batches.toList.flatMap(_._2)
        .toDF("k", "amt", "n")
        .withColumn("amt",
          col("amt").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
      val plain = delivered.groupBy(col("k"))
        .agg(sum(col("amt")).cast("string").as("amt"), sum(col("n")).as("n"))
        .collect()
        .map(r => r.getLong(0) -> ((BigDecimal(r.getString(1)), r.getLong(2))))
        .toMap
      val folded = ParquetSink
        .readSummed(spark.read.parquet(dir), keys, sums)
        .select(col("k"), col("amt").cast("string"), col("n"))
        .collect()
        .map(r => r.getLong(0) -> ((BigDecimal(r.getString(1)), r.getLong(2))))
        .toMap
      assert(folded === plain, s"round $round: folded state != plain GROUP BY")
    }
  }

  test("decile labels equal a nearest-rank model on the corpus, and ties " +
    "always share a label") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byType = e.groupBy(_._2)
    val bounds = byType.view.mapValues { rows =>
      val vs = rows.map(_._3).sorted
      // duplicate boundaries are KEPT: a value above a cut shared by
      // several deciles jumps several labels, same as the operator's
      // per-p boundary list
      (1 to 9).map(i => vs(math.ceil(i / 10.0 * vs.length).toInt - 1))
    }.toMap
    val expected = e.map { case (id, t, v) =>
      id -> (1L + bounds(t).count(_ < v))
    }.toMap
    val got = graft.queries.EventQueries
      .wValueDeciles(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === expected)
    // equal values share a label by construction (the NTILE failure mode)
    e.groupBy(t => (t._2, t._3)).foreach { case (_, rows) =>
      assert(rows.map(r => got(r._1)).toSet.size === 1)
    }
  }

  test("as-of join equals a plain-Scala model under heavy timestamp ties") {
    import spark.implicits._
    // few users x tiny ts range -> same-(user,ts) purchase collisions
    // and events landing exactly on purchase timestamps are guaranteed
    val rowGen = for {
      u <- Gen.chooseNum(0L, 3L)
      ts <- Gen.chooseNum(0L, 15L)
      isPurchase <- Gen.oneOf(true, true, false)
    } yield (u, ts, if (isPurchase) "purchase" else "view")
    (0 until 5).foreach { i =>
      val rows = sample(Gen.listOfN(120, rowGen), 7000L + i).zipWithIndex
        .map { case ((u, ts, et), id) => (id.toLong, u, et, ts) }
      val df = rows.toDF("event_id", "user_id", "event_type", "ts_us")
      val got = graft.queries.EventQueries.asofLastPurchase(df)
        .select("event_id", "last_purchase_event_id")
        .collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val purchases = rows.filter(_._3 == "purchase")
      rows.foreach { case (id, u, _, ts) =>
        // model: max (ts, event_id) purchase of the user at ts' <= ts
        val expected = purchases
          .filter(p => p._2 == u && p._4 <= ts)
          .sortBy(p => (p._4, p._1))
          .lastOption.map(_._1)
        assert(got(id) === expected, s"seed $i event $id user $u ts $ts")
      }
    }
  }

  test("banded range join equals brute force at bucket boundaries, " +
    "negative timestamps, and exact-window gaps") {
    import spark.implicits._
    val W = 10L
    // ts clustered around multiples of W so pairs straddle bucket
    // boundaries and land exactly at gap == W; negatives exercise
    // floor-vs-truncate division edges
    val rowGen = for {
      u <- Gen.chooseNum(0L, 2L)
      base <- Gen.chooseNum(-3L, 3L)
      off <- Gen.chooseNum(-1L, 1L)
    } yield (u, base * W + off)
    (0 until 5).foreach { i =>
      val rows = sample(Gen.listOfN(80, rowGen), 9000L + i).zipWithIndex
        .map { case ((u, ts), id) => (id.toLong, u, ts) }
      val df = rows.toDF("event_id", "user_id", "ts_us")
      val got = graft.queries.EventQueries.rangePairs(df, W)
        .select("event_a", "event_b", "gap_us")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      val brute = (for {
        a <- rows; b <- rows
        if a._2 == b._2 && a._1 < b._1 && math.abs(a._3 - b._3) <= W
      } yield (a._1, b._1, b._3 - a._3)).sorted
      assert(got === brute, s"seed $i")
      assert(brute.nonEmpty)
    }
  }

  test("gram-hash expressions replicate split/trim/substring semantics on " +
    "adversarial whitespace and multi-byte text") {
    import spark.implicits._
    // the one real risk in GramHash is tokenization drift vs Spark's
    // split(trim(text), '\s+'): tabs/newlines/CRs (UTF8String.trim
    // strips ASCII SPACE only), runs of separators, leading/trailing
    // whitespace, multi-byte codepoints shifting gram byte offsets
    val piece = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.const(" "), 1 -> Gen.const("\t"), 1 -> Gen.const("\n"),
      1 -> Gen.const("\r"), 1 -> Gen.const("  "),
      1 -> Gen.oneOf("α", "あ", "日本語", "ß", "émoji é"))
    val textGen = Gen.listOfN(12, piece).map(_.mkString)
    val texts = (0 until 40).map(i => sample(textGen, 900L + i)) ++
      Seq("", " ", "\t\t", "ab", "a b", " a  b\tc \n")
    val df = texts.toDF("text")
      .withColumn("t", split(trim(col("text")), "\\s+"))
      .withColumn("n_sh_strings",
        when(size(col("t")) >= 3,
          size(expr("array_distinct(transform(sequence(0, size(t) - 3), " +
            "i -> concat_ws(' ', t[i], t[i+1], t[i+2])))")))
          .otherwise(lit(0)))
      .withColumn("n_sh_hashes", size(expr("token_shingle_hashes(text, 3)")))
      .withColumn("n_cg_strings",
        when(length(col("text")) >= 4,
          size(expr("array_distinct(transform(" +
            "sequence(1, length(text) - 3), i -> substring(text, i, 4)))")))
          .otherwise(lit(0)))
      .withColumn("n_cg_hashes", size(expr("char_gram_hashes(text, 4)")))
    val bad = df.filter(
      col("n_sh_strings") =!= col("n_sh_hashes") ||
        col("n_cg_strings") =!= col("n_cg_hashes"))
      .select("text", "n_sh_strings", "n_sh_hashes",
        "n_cg_strings", "n_cg_hashes")
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("rolling-7d RANGE frame equals the brute-force calendar model " +
    "on sparse random days") {
    // the subtlety the corpus underexercises: CALENDAR GAPS. The RANGE
    // frame must bound the window by day VALUE (a missing day narrows
    // the sum), where a ROWS frame would reach 7 rows back across the
    // gap. Values are integer cents -> every comparison is exact.
    import spark.implicits._
    val NanosPerDay = 86400L * 1000000000L
    val evGen = Gen.listOfN(150, for {
      ty <- Gen.oneOf("a", "b", "c")
      day <- Gen.oneOf(Gen.chooseNum(0L, 6L), Gen.chooseNum(20L, 40L),
        Gen.chooseNum(90L, 95L)) // clustered islands -> guaranteed gaps
      off <- Gen.chooseNum(0L, NanosPerDay - 1) // any intra-day instant
      cents <- Gen.chooseNum(0L, 999999L)
    } yield (ty, day, off, cents))
    (0 until 3).foreach { i =>
      val rows = sample(evGen, 8800 + i)
      val dir = java.nio.file.Files
        .createTempDirectory(s"roll_prop$i").toString
      rows.zipWithIndex
        .map { case ((ty, day, off, cents), id) =>
          (id.toLong, day * NanosPerDay + off, 0L, ty, cents / 100.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.queries.EventQueries.wRolling7d(spark, dir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
      // brute force in exact integer cents
      val dayCents = rows.groupBy(t => (t._1, t._2))
        .view.mapValues(_.map(_._4).sum).toMap
      val expected = dayCents.keys.toSeq.sorted.map { case (ty, d) =>
        val win = (d - 6 to d).flatMap(dd => dayCents.get((ty, dd))).sum
        (ty, d, dayCents((ty, d)) / 100.0, win / 100.0)
      }
      assert(got.toSeq === expected,
        s"round $i: rolling mismatch\n got=${got.take(5).mkString(";")}" +
          s"\n exp=${expected.take(5).mkString(";")}")
    }
  }

  private def h60Jvm(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("priority sampling equals the bottom-k model on random facts " +
    "with zero weights, weight ties, and sub-k language groups") {
    import spark.implicits._
    val k = 25
    val factsGen = Gen.chooseNum(50, 200).flatMap { n =>
      Gen.listOfN(n, for {
        lang <- Gen.oneOf("aa", "bb", "cc", "dd", "rare")
        w <- Gen.chooseNum(0L, 5L) // zeros excluded; heavy ties
      } yield (lang, w))
    }
    (0 until 3).foreach { i =>
      val rows = sample(factsGen, 9100 + i).zipWithIndex
        .map { case ((lang, w), id) => (id.toLong, lang, w) }
      val got = graft.llm.TextAnalysis.samplePriorityFromFacts(
        rows.toDF("doc_id", "lang", "n_chars")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSeq
      graft.QueryCaches.releaseAll()
      val expect = rows.filter(_._3 > 0)
        .map { case (id, lang, w) =>
          (lang, h60Jvm(id.toString).toDouble / w.toDouble, id, w) }
        .groupBy(_._1).toSeq
        .flatMap { case (lang, g) =>
          g.sortBy(x => (x._2, x._3)).take(k).zipWithIndex.map {
            case ((_, pk, id, w), j) => (lang, j.toLong + 1, id, w, pk) }
        }.sortBy(x => (x._1, x._2))
      assert(got === expect, s"round $i")
      // sub-k groups return their whole membership, never pad
      val sizes = rows.filter(_._3 > 0).groupBy(_._2)
        .view.mapValues(_.size).toMap
      got.groupBy(_._1).foreach { case (lang, g) =>
        assert(g.size === math.min(k, sizes(lang)), s"round $i lang $lang")
      }
    }
  }

  test("pareto frontier equals brute-force dominance on random points " +
    "with duplicate coordinates") {
    import spark.implicits._
    val ptsGen = Gen.chooseNum(30, 150).flatMap { n =>
      Gen.listOfN(n, for {
        x <- Gen.chooseNum(0L, 20L) // tiny grid -> ties everywhere
        y <- Gen.chooseNum(0L, 20L)
      } yield (x, y))
    }
    def dominates(q: (Long, Long, Long), p: (Long, Long, Long)) =
      q._2 >= p._2 && q._3 <= p._3 && (q._2 > p._2 || q._3 < p._3)
    (0 until 3).foreach { i =>
      val pts = sample(ptsGen, 9200 + i).zipWithIndex
        .map { case ((x, y), id) => (id.toLong, x, y) }
      val got = graft.llm.TextAnalysis.paretoFromPoints(
        pts.toDF("doc_id", "n_chars", "n_tokens"), buckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val expect = pts.filter(p => !pts.exists(q => dominates(q, p)))
        .sortBy(_._1)
      assert(got === expect, s"round $i")
      // duplicate frontier coordinates all survive (neither dominates)
      assert(got.groupBy(x => (x._2, x._3)).values.exists(_.size >= 1))
    }
  }

  test("windowed funnel levels equal brute-force chain search on random " +
    "event streams with timestamp ties and boundary-width chains") {
    import spark.implicits._
    val w = 10L
    val evGen = Gen.chooseNum(40, 120).flatMap { n =>
      Gen.listOfN(n, for {
        u <- Gen.chooseNum(1L, 8L)
        ts <- Gen.chooseNum(0L, 60L) // ties + chains landing ON w
        ty <- Gen.oneOf("view", "click", "purchase", "other")
      } yield (u, ts, ty))
    }
    (0 until 3).foreach { i =>
      val evs = sample(evGen, 9300 + i)
      val got = graft.queries.EventQueries.funnelFromEvents(spark,
        evs.toDF("user_id", "ts", "event_type"), w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val levels = evs.groupBy(_._1).map { case (_, es) =>
        val vs = es.filter(_._3 == "view").map(_._2)
        val cs = es.filter(_._3 == "click").map(_._2)
        val ps = es.filter(_._3 == "purchase").map(_._2)
        val l3 = ps.exists(p => cs.exists(c => c < p &&
          vs.exists(v => v < c && p - v <= w)))
        val l2 = cs.exists(c => vs.exists(v => v < c && c - v <= w))
        if (l3) 3L else if (l2) 2L else if (vs.nonEmpty) 1L else 0L
      }.toSeq
      val hist = (0L to 3L).map(l => (l, levels.count(_ == l).toLong))
      val reach = (0L to 3L).map(l => levels.count(_ >= l).toLong)
      assert(got.map(x => (x._1, x._2)) === hist, s"round $i")
      assert(got.map(_._3) === reach, s"round $i")
    }
  }

  test("tombstone sink soak: randomized insert/delete/resurrect waves " +
    "with replays and CLEANUP merges equal a last-write-wins model",
    Slow) {
    import spark.implicits._
    import graft.sink.ParquetSink
    val waveGen = Gen.listOfN(12, for {
      keys <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 40L)).map(_.distinct)
      del <- Gen.oneOf(true, false)
      replay <- Gen.oneOf(true, false)
      cleanupAfter <- Gen.frequency((4, false), (1, true))
    } yield (keys, del, replay, cleanupAfter))
    (0 until 2).foreach { i =>
      val waves = sample(waveGen, 9400 + i)
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_prop_tomb$i")
      ParquetSink.delete(dir)
      val pk = Seq("k")
      // model: key -> (is_deleted, payload) under last-write-wins
      val model = scala.collection.mutable.Map.empty[Long, (Boolean, String)]
      waves.zipWithIndex.foreach { case ((keys, del, replay, clean), w) =>
        val seq = w.toLong + 1L
        val rows = keys.map(k => (k, s"v${w}_$k", if (del) 1L else 0L))
        val df = rows.toDF("k", "v", "is_deleted")
          .withColumn("block_height", col("k"))
        ParquetSink.writeBatch(df, dir.getAbsolutePath, seq, pk)
        if (replay) ParquetSink.writeBatch(df, dir.getAbsolutePath, seq, pk)
        keys.foreach(k => model(k) = (del, s"v${w}_$k"))
        if (clean) {
          ParquetSink.compactWithCleanup(spark, dir.getAbsolutePath, pk)
          // cleanup physically drops currently-deleted keys; the model
          // image is unchanged for live keys, deleted keys disappear
          model.filterInPlace { case (_, (d, _)) => !d }
        }
      }
      val got = ParquetSink.readFinalWithDeletes(
        spark.read.parquet(dir.getAbsolutePath), pk)
        .select("k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val expect = model.toSeq.collect {
        case (k, (false, v)) => (k, v) }.sortBy(_._1)
      assert(got === expect, s"round $i")
      ParquetSink.delete(dir)
    }
  }

  test("eps multi-assignment == a plain-Scala top-2 margin model on " +
    "random corpora with DUPLICATE centroids (exact score ties) and " +
    "eps values spanning identity, knife-edge, and replicate-all") {
    import spark.implicits._
    // quantized components keep products dyadic, but exactness is not
    // load-bearing: both sides run the SAME IEEE ops in the SAME order
    // (DotProduct is a sequential left fold; the model mirrors it)
    val genComp = Gen.chooseNum(1, 64).map(_ / 16.0)
    val dim = 4
    def genVec = Gen.listOfN(dim, genComp).map(_.toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    (1 to 8).foreach { trial =>
      val nVecs = 30
      val vecs = sample(Gen.listOfN(nVecs, genVec), 1000L + trial)
      val kCells = sample(Gen.chooseNum(1, 5), 2000L + trial)
      val baseCents = sample(Gen.listOfN(kCells, genVec), 3000L + trial)
      // duplicate one centroid half the time: two cells with BITWISE
      // equal scores for every vector - the tie-break path
      val cents = (if (trial % 2 == 0 && kCells > 1)
        baseCents :+ baseCents.head.clone() else baseCents).toArray
      val eps = Seq(0.0, 1e-12, 0.05, 0.3, 3.0)(trial % 5)
      val e = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("vec_id", "emb")
        .withColumn("emb", col("emb").cast("array<double>"))
        .withColumn("nrm", expr("sqrt(dot_product(emb, emb))"))
      val got = graft.llm.Similarity.residualRel(e, cents, eps)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .toSet
      // the model: scores = dot(v, c_i) / ||c_i|| (centroid norms via
      // the exact driver expression withScoreArray uses), sort by
      // (score desc, idx asc), replicate iff (s0 - s1)/||v|| < eps
      val cNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      val want = vecs.zipWithIndex.flatMap { case (v, vid) =>
        val scored = cents.indices
          .map(i => (i, dot(v, cents(i)) / cNorms(i)))
          .sortBy { case (i, sc) => (-sc, i) }
        val nrm = math.sqrt(dot(v, v))
        val cells =
          if (eps > 0 && scored.length > 1 &&
              (scored(0)._2 - scored(1)._2) / nrm < eps)
            Seq(scored(0)._1, scored(1)._1)
          else Seq(scored(0)._1)
        cells.map { c =>
          (vid.toLong, c, v.indices.map(d => v(d) - cents(c)(d)): Seq[Double])
        }
      }.toSet
      assert(got === want, s"trial $trial (k=$kCells, eps=$eps, " +
        s"dup=${cents.length > kCells})")
    }
  }

  // ------------------------------------------------ resolver core

  private type ResEntry = (String, String, Boolean, Long)  // id, tx, main, h
  private type ResEdge = (String, String, Long, Boolean)   // parent, child, h, hopMain

  /** Plain-Scala receipt → tx closure, the spec every resolver entry
    * point must equal: round 0 first-writes the entries; each round
    * extends the LAST round's new receipts along edges whose hop lies
    * within `ttl` of the parent's write, skipping resolved receipts,
    * until a round adds nothing.
    * First write = least (height, tx, main first, not promoted). */
  private def closureModel(entries: Seq[ResEntry], edges: Seq[ResEdge],
      ttl: Long): Map[String, (String, Boolean, Long, Boolean)] = {
    def first(cs: Seq[(String, Boolean, Long, Boolean)]) =
      cs.minBy(c => (c._3, c._1, !c._2, c._4))
    var done = entries.groupBy(_._1).map { case (id, es) =>
      id -> first(es.map(e => (e._2, e._3, e._4, false)))
    }
    var frontier = done
    while (frontier.nonEmpty) {
      frontier = (for {
        (p, c, h, hopMain) <- edges
        (tx, main, eh, _) <- frontier.get(p).toSeq
        if h >= eh && h - eh <= ttl && !done.contains(c)
      } yield c -> (tx, main || hopMain, h, hopMain && !main))
        .groupBy(_._1).map { case (c, cs) => c -> first(cs.map(_._2)) }
      done ++= frontier
    }
    done
  }

  /** A seeded random receipt forest: chains of depth 1–7 with hop gaps
    * drawn from {0, 1, 49, 50, 51} around the 50-block TTL, branching,
    * duplicate seeds (a second tx seeding the same receipt at the same
    * height, so (height) ties fall to tx order), duplicate outcomes of
    * one receipt at one height with the other hop tier (so (height, tx)
    * ties fall to main first), mixed main/potential tiers, orphans.
    * Every receipt has one parent, so no fold boundary can change which
    * candidates compete for it. */
  private final case class Forest(blocks: Seq[graft.model.Block],
      seeds: Seq[ResEntry], edges: Seq[ResEdge],
      events: Seq[(String, Long)]) // (receipt_id, height) per event row

  private def genForest(seed: Int): Forest = {
    import graft.model._
    val rnd = new scala.util.Random(seed)
    val gaps = Array(0L, 1L, 49L, 50L, 51L)
    val eventLog = NearModel.EventJsonPrefix +
      """{"standard":"nep245","version":"1.0.0","event":"mt_mint",""" +
      """"data":[{"owner_id":"x.near","token_ids":["nep141:t.near"],""" +
      """"amounts":["1"]}]}"""
    val txsAt = scala.collection.mutable.Map
      .empty[Long, Vector[TxWithOutcome]].withDefaultValue(Vector.empty)
    val outsAt = scala.collection.mutable.Map
      .empty[Long, Vector[OutcomeWithReceipt]].withDefaultValue(Vector.empty)
    val seeds = Seq.newBuilder[ResEntry]
    val edges = Seq.newBuilder[ResEdge]
    val events = Seq.newBuilder[(String, Long)]
    def party(main: Boolean) =
      if (main) "intents.near" else s"u${rnd.nextInt(3)}.near"
    def tx(hash: String, rid: String, h: Long, main: Boolean): Unit = {
      txsAt(h) :+= TxWithOutcome(
        TransactionView(hash, s"s${rnd.nextInt(3)}.near", party(main), Nil),
        s"oc-$hash", OutcomeView(party(main), Seq(rid), "SuccessReceiptId",
          Nil, "0", 1L))
      seeds += ((rid, hash, main, h))
    }
    def outcome(rid: String, children: Seq[String], h: Long,
        hopMain: Boolean, oid: String): Unit = {
      val logs = if (rnd.nextInt(3) == 0) Seq(eventLog) else Nil
      outsAt(h) :+= OutcomeWithReceipt(
        ReceiptView(rid, party(hopMain), s"p${rnd.nextInt(3)}.near",
          "Action", Nil, None),
        oid, OutcomeView("intents.near", children, "SuccessValue", logs,
          "0", 1L))
      children.foreach(c => edges += ((rid, c, h, hopMain)))
      logs.foreach(_ => events += ((rid, h)))
    }
    (0 until 6 + rnd.nextInt(5)).foreach { c =>
      val h0 = 1000L + rnd.nextInt(30)
      // random hash prefixes, so tx order is not chain order
      tx(s"t${rnd.nextInt(900) + 100}c$c", s"c${c}r0", h0, rnd.nextBoolean())
      if (rnd.nextInt(3) == 0)
        tx(s"t${rnd.nextInt(900) + 100}d$c", s"c${c}r0", h0, rnd.nextBoolean())
      val depth = 1 + rnd.nextInt(7)
      var level = Seq(s"c${c}r0" -> h0)
      var n = 0
      (1 to depth).foreach { d =>
        level = level.flatMap { case (rid, h) =>
          val hop = h + gaps(rnd.nextInt(gaps.length))
          val kids = (0 to (if (rnd.nextInt(4) == 0) 1 else 0)).map { _ =>
            n += 1; s"c${c}r$n"
          }
          val hopMain = rnd.nextBoolean()
          outcome(rid, kids, hop, hopMain, s"o-$rid")
          if (rnd.nextInt(4) == 0) outcome(rid, kids, hop, !hopMain, s"o2-$rid")
          kids.map(_ -> hop)
        }
      }
    }
    (0 until rnd.nextInt(3)).foreach { o =>
      outcome(s"orphan$o", Seq(s"orphan${o}kid"), 1000L + rnd.nextInt(30),
        rnd.nextBoolean(), s"o-orphan$o")
    }
    val heights = (txsAt.keySet ++ outsAt.keySet).toSeq.sorted
    val blocks = heights.map { h =>
      Block(BlockHeader(h, h * 1000000000L, s"B$h"),
        Seq(Shard(if (txsAt(h).isEmpty) None else Some(Chunk(txsAt(h))),
          outsAt(h))))
    }
    Forest(blocks, seeds.result(), edges.result(), events.result())
  }

  test("resolver core, batch resolve and the streaming fold over 1-, 3- " +
    "and 10-block micro-batches all equal a plain-Scala closure") {
    import graft.bronze.BronzeExtractors
    import graft.state.ReceiptTxResolver
    import spark.implicits._
    val acc = graft.fixtures.NearFixtures.accounts
    val ttl = graft.model.NearModel.TtlBlocks
    def rows(df: org.apache.spark.sql.DataFrame): Set[ResEntry] =
      df.select("receipt_id", "tx_hash", "main", "entry_height").collect()
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getLong(3))).toSet
    def eventRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.select("related_receipt_id", "block_height", "tx_hash").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted

    (1 to 3).foreach { seed =>
      val f = genForest(seed)
      val want = closureModel(f.seeds, f.edges, ttl)
      val wantRows = want.map { case (id, (tx, m, h, _)) => (id, tx, m, h) }.toSet
      val wantEvents = f.events.flatMap { case (rid, h) =>
        want.get(rid).collect {
          case (tx, _, eh, _) if h >= eh && h - eh <= ttl => (rid, h, tx)
        }
      }.sorted
      assert(wantRows.map(_._1).size > f.seeds.map(_._1).distinct.size,
        s"seed $seed: forest resolves no hop")

      // the core, with (height, tx)-tied seeds of both tiers added
      val tied = f.seeds.take(2).map { case (id, tx, m, h) => (id, tx, !m, h) }
      val entriesDf = (f.seeds ++ tied)
        .toDF("receipt_id", "tx_hash", "main", "entry_height")
      val edgesDf = f.edges
        .toDF("parent_receipt_id", "child_receipt_id", "hop_height", "hop_main")
      val core = ReceiptTxResolver.fixpoint(entriesDf, edgesDf, ttl)
        .collect().map(r => r.getString(0) ->
          (r.getString(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4)))
      assert(core.length === core.map(_._1).distinct.length)
      assert(core.toMap === closureModel(f.seeds ++ tied, f.edges, ttl),
        s"seed $seed: core")

      val df = spark.createDataset(f.blocks).toDF()
      val outs = BronzeExtractors.outcomes(df)
      val resolved = ReceiptTxResolver.resolve(
        BronzeExtractors.transactions(df, acc), outs, ttl, accounts = acc)
      assert(rows(resolved) === wantRows, s"seed $seed: resolve")
      assert(eventRows(ReceiptTxResolver.attachTxHash(
        BronzeExtractors.eventRows(outs, acc), resolved,
        ttlBlocks = ttl)) === wantEvents, s"seed $seed: resolve events")

      Seq(1, 3, 10).foreach { size =>
        var state = ReceiptTxResolver.emptyState(spark)
        var seen = Set.empty[ResEntry]
        var events = Seq.empty[(String, Long, String)]
        f.blocks.grouped(size).foreach { bs =>
          val (carry, lookup, ev) = ReceiptTxResolver.foldBatch(
            state, spark.createDataset(bs).toDF(), acc, ttl,
            bs.map(_.header.height).max)
          seen ++= rows(lookup)
          events ++= eventRows(ev)
          state = carry
        }
        assert(seen.size === seen.map(_._1).size,
          s"seed $seed: a receipt resolved twice in $size-block batches")
        assert(seen === wantRows, s"seed $seed: $size-block fold")
        assert(events.sorted === wantEvents, s"seed $seed: $size-block events")
      }
    }
  }

  test("the resolver runs the same job count (<= 1) on a depth-1 and a " +
    "depth-8 chain, in the streaming fold and in batch resolve") {
    import graft.bronze.BronzeExtractors
    import graft.model._
    import graft.state.ReceiptTxResolver
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val acc = graft.fixtures.NearFixtures.accounts
    def chain(depth: Int): Seq[Block] = {
      def rid(d: Int) = s"j${depth}r$d"
      Block(BlockHeader(100L, 0L, "B100"), Seq(Shard(Some(Chunk(Seq(
        TxWithOutcome(TransactionView(s"j${depth}tx", "a.near",
          "intents.near", Nil), "oc", OutcomeView("intents.near",
          Seq(rid(0)), "SuccessReceiptId", Nil, "0", 1L))))), Nil))) +:
        (1 to depth).map { d =>
          Block(BlockHeader(100L + d, 0L, s"B${100 + d}"), Seq(Shard(None,
            Seq(OutcomeWithReceipt(ReceiptView(rid(d - 1), "intents.near",
              "a.near", "Action", Nil, None), s"o$d",
              OutcomeView("intents.near", Seq(rid(d)), "SuccessValue", Nil,
                "0", 1L))))))
        }
    }
    val sc = spark.sparkContext
    def jobsDuring[A](body: => A): (Int, A) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain.drain(sc)
      sc.addSparkListener(counter)
      try {
        val a = body
        org.apache.spark.ListenerBusDrain.drain(sc)
        (n.get, a)
      } finally sc.removeSparkListener(counter)
    }
    val counts = Seq(1, 8).map { depth =>
      val df = spark.createDataset(chain(depth)).toDF()
      val (fold, (_, lookup, _)) = jobsDuring(ReceiptTxResolver.foldBatch(
        ReceiptTxResolver.emptyState(spark), df, acc, NearModel.TtlBlocks,
        100L + depth))
      val (batch, resolved) = jobsDuring(ReceiptTxResolver.resolve(
        BronzeExtractors.transactions(df, acc),
        BronzeExtractors.outcomes(df), accounts = acc))
      // the counted jobs did the whole closure
      assert(lookup.count() === depth + 1 && resolved.count() === depth + 1)
      (fold, batch)
    }
    assert(counts(0) === counts(1), "job count depends on chain depth")
    assert(counts(0)._1 <= 1 && counts(0)._2 <= 1, counts)
  }
}
