package perfbench

import scala.collection.mutable
import graft.fixtures.NearFixtures
import graft.model._

/** Seeded NEAR chain generator owned by the benchmark, with the
  * closed-form truth the pipeline's output is checked against.
  *
  * Every transaction starts one receipt chain: depth 1–5 hops, all hops
  * of a chain `gap` blocks apart; 0–3 transactions start per block. Gaps include 50 (exactly on the
  * resolver TTL, so the chain still resolves) and 51 (one past it, so
  * every event of the chain is dropped as unresolved). A hop's receipt
  * resolves iff the chain's gap is ≤ the TTL, so the truth needs no
  * simulation of the resolver.
  *
  * Skew: one hot account takes [[HotPct]] percent of the account draws;
  * half of the token items carry both tokens, and one hot token takes
  * [[HotPct]] percent of the rest. Tokens come from
  * [[NearFixtures.assetRows]], so the gold price join finds a price for
  * every row. The event mix reaches all seven silver MV tables and adds
  * noise logs the extractors must drop (no prefix, malformed JSON, a
  * foreign standard, events on a contract that is not of interest).
  *
  * The rates are synthetic assumptions, not measured from NEAR traffic:
  * the 10-block chain shape (1.7 transactions per block), the hot
  * shares, and the uniform draws of receivers, event kinds and logs per
  * receipt. They fix how much work a block carries, so every per-row
  * cost and work count of the benchmark depends on them.
  *
  * Truth is accumulated per block height (the gold rollup's rows are
  * the distinct (block, token) pairs) and summed over the chain. */
object NearChainGen {

  val Ttl: Long = NearModel.TtlBlocks
  val BaseHeight: Long = 1000L
  private val T0 = NearFixtures.T0
  private val Day = NearFixtures.Day
  // Every block of a chain must fall on the assets' first price day,
  // which ends 6400 s after T0.
  val MaxBlocks: Int = 6000

  private val accounts = AccountsConfig()
  private val assets: Map[String, (Long, Double)] = NearFixtures.assetRows
    .filter(_.price_updated_at_ns / Day == T0 / Day)
    .map(a => a.defuse_asset_id -> (a.decimals, a.price)).toMap
  private val hotToken = "nep141:usdc.near"
  private val coldToken = "nep141:wnear.near"
  /** Share (percent) of account and token draws that hit the hot one. */
  val HotPct: Int = 50

  val tables: Seq[String] =
    graft.runner.BatchRunner.productTables.map(_._1)

  /** Row counts and gold totals of a chain. */
  final case class Expected(
      rows: Map[String, Long],
      amountSum: BigDecimal,
      transferUsd: Double,
      mintUsd: Double,
      burnUsd: Double,
      lookups: Long,
      unresolved: Long) {
    def nTransfers: Long = rows("silver_nep245")
  }

  /** Per-height accumulator. */
  final class Acc {
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val rollupTokens = mutable.Set.empty[String]
    var amountSum = BigDecimal(0)
    var transferUsd, mintUsd, burnUsd = 0.0
    var lookups, unresolved = 0L
  }

  final case class Chain(blocks: IndexedSeq[Block],
      private val acc: Map[Long, Acc],
      /** resolved events per transaction hash */
      txEvents: Map[String, Long],
      /** a transaction hash with resolved events, drawn from the seed */
      drillTx: String,
      /** chains with at least one hop, by hop gap */
      chainsByGap: Map[Long, Int]) {
    /** Truth for the whole chain. */
    def expected: Expected = expectedAbove(Long.MinValue)

    /** Truth for the blocks above height `h`. */
    def expectedAbove(h: Long): Expected = {
      val in = acc.filter(_._1 > h).values
      Expected(tables.map(t => t -> in.map(_.rows(t)).sum).toMap,
        in.map(_.amountSum).sum, in.map(_.transferUsd).sum,
        in.map(_.mintUsd).sum, in.map(_.burnUsd).sum,
        in.map(_.lookups).sum, in.map(_.unresolved).sum)
    }
  }

  private def oneOf[T](r: scala.util.Random, xs: T*): T = xs(r.nextInt(xs.size))

  private def ej(standard: String, event: String, data: String): String =
    NearModel.EventJsonPrefix +
      s"""{"standard":"$standard","version":"1.0.0","event":"$event","data":$data}"""

  private def strs(ss: Seq[String]) = ss.map(s => "\"" + s + "\"").mkString("[", ",", "]")

  def generate(seed: Long, nBlocks: Int): Chain = {
    require(nBlocks >= 1 && nBlocks <= MaxBlocks,
      s"nBlocks must be in 1..$MaxBlocks")
    val r = new scala.util.Random(seed)
    val end = BaseHeight + nBlocks // exclusive
    val txsAt = mutable.Map.empty[Long, Vector[TxWithOutcome]]
      .withDefaultValue(Vector.empty)
    val outsAt = mutable.Map.empty[Long, Vector[OutcomeWithReceipt]]
      .withDefaultValue(Vector.empty)
    val acc = mutable.Map.empty[Long, Acc]
    def at(h: Long) = acc.getOrElseUpdate(h, new Acc)
    val txEvents = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val chainsByGap = mutable.Map.empty[Long, Int].withDefaultValue(0)
    var txId = 0L

    def account(): String =
      if (r.nextInt(100) < HotPct) "alice.near" else s"user${r.nextInt(500)}.near"
    def tokens(): Seq[String] =
      if (r.nextBoolean()) Seq(hotToken, coldToken)
      else Seq(if (r.nextInt(100) < HotPct) hotToken else coldToken)
    def amount(): Long = 1L + r.nextInt(1000000)
    def ofInterest(a: String, b: String) =
      accounts.all.contains(a) || accounts.all.contains(b)

    // The chain's shape repeats every 10 blocks: at each position of the
    // cycle the same transactions start chains of the same (depth, gap),
    // so every aligned 10-block window has the same structure and every
    // micro-batch of the tail workload does comparable work. The seed
    // varies everything else: parties, receivers, event mix and payloads.
    val shape: IndexedSeq[Seq[(Int, Long)]] = IndexedSeq(
      Seq(5 -> 1L),
      Seq(2 -> 2L, 3 -> 1L),
      Seq(1 -> 1L, 4 -> 3L, 2 -> Ttl),
      Seq(3 -> 1L, 2 -> 5L),
      Seq(),
      Seq(2 -> 10L, 3 -> 1L),
      Seq(1 -> 2L),
      Seq(5 -> 1L, 2 -> (Ttl + 1), 3 -> 2L),
      Seq(2 -> 1L, 4 -> 1L),
      Seq(1 -> 5L))
    for (h0 <- BaseHeight until end) {
      for ((depth, gap) <- shape(((h0 - BaseHeight) % shape.size).toInt)) {
        txId += 1
        val hash = s"tx$txId"
        val signer = account()
        val receiver = oneOf(r, "intents.near", "defuse-alpha.near",
          "staging-intents.near", "wrap.near")
        val resolves = gap <= Ttl
        def rid(d: Int) = s"r${txId}_$d"
        txsAt(h0) = txsAt(h0) :+ TxWithOutcome(
          TransactionView(hash, signer, receiver, Seq(
            ActionView("FunctionCall", """{"method_name":"execute"}"""),
            ActionView("Delegate", "{}", serializable = r.nextInt(10) != 0))),
          s"oc$txId",
          OutcomeView(signer, Seq(rid(0)), "SuccessReceiptId", Nil, "0", 1L))
        if (ofInterest(signer, receiver)) at(h0).rows("transactions") += 1
        // a chain on wrap.near (not of interest) starts there and moves
        // to intents.near: its hops write the potential tier first
        def executor(d: Int) =
          if (receiver == "wrap.near" && d > 1) "intents.near" else receiver
        if (h0 + gap < end) chainsByGap(gap) += 1
        var d = 1
        while (d <= depth && h0 + d * gap < end) {
          val h = h0 + d * gap
          val exec = executor(d)
          val pred = if (d == 1) signer else executor(d - 1)
          val receiptId = rid(d - 1)
          val a = at(h)
          if (ofInterest(exec, pred)) {
            a.rows("receipts") += 1
            a.rows("execution_outcomes") += 1
          }
          val emits = accounts.all.contains(exec)
          val prod = accounts.prodContracts.contains(exec)
          val referral = oneOf(r, "partner.near", "app.near", "wallet.near")
          var tokenDiffDone = false
          val nLogs = r.nextInt(4)
          val logs = (0 until nLogs).map { li =>
            val tag = s"${receiptId}_$li"
            // (event log, silver table, silver rows) for a well-formed event
            def nep245(event: String): (String, Option[String], Long) = {
              val items = (0 until 1 + r.nextInt(2)).map { j =>
                val toks = tokens()
                val amts = toks.map(_ => amount())
                toks.zip(amts).foreach { case (t, x) =>
                  if (emits && resolves) {
                    a.rollupTokens += t
                    a.amountSum += BigDecimal(x)
                    val (dec, price) = assets(t)
                    val usd = x.toDouble / math.pow(10.0, dec.toDouble) * price
                    event match {
                      case "mt_transfer" => a.transferUsd += usd
                      case "mt_mint" => a.mintUsd += usd
                      case _ => a.burnUsd += usd
                    }
                  }
                }
                val owners =
                  if (event == "mt_transfer")
                    s""""old_owner_id":"${account()}","new_owner_id":"${account()}""""
                  else s""""owner_id":"${account()}""""
                (s"""{"memo":"m${tag}_$j",$owners,"token_ids":${strs(toks)},""" +
                  s""""amounts":${strs(amts.map(_.toString))}}""", toks.size)
              }
              (ej("nep245", event, items.map(_._1).mkString("[", ",", "]")),
                Some("silver_nep245"), items.map(_._2.toLong).sum)
            }
            def transfer(table: String): (String, Option[String], Long) = {
              val items = (0 until 1 + r.nextInt(2)).map { j =>
                val toks = tokens()
                (s"""{"memo":"tip$tag","account_id":"${account()}",""" +
                  s""""receiver_id":"${account()}","intent_hash":"it${tag}_$j",""" +
                  s""""tokens":{${toks.map(t => s""""$t":"${amount()}"""").mkString(",")}}}""",
                  toks.size)
              }
              (ej("dip4", "transfer", items.map(_._1).mkString("[", ",", "]")),
                Some(table), items.map(_._2.toLong).sum)
            }
            val kind =
              if (exec == "staging-intents.near")
                oneOf(r, "transfer", "mt_mint", "noise")
              else oneOf(r, "mt_transfer", "mt_mint", "mt_burn", "token_diff",
                "transfer", "public_key_added", "intents_executed", "fee_changed",
                "noise")
            val (log, table, silverRows) = kind match {
              case "mt_transfer" | "mt_mint" | "mt_burn" => nep245(kind)
              case "transfer" =>
                transfer(if (prod) "silver_transfer" else "silver_staging_transfer")
              case "token_diff" if !tokenDiffDone =>
                // one referral per receipt, so the gold referral join
                // never fans a transfer out to two groups
                tokenDiffDone = true
                val items = (0 until 1 + r.nextInt(2)).map { j =>
                  val toks = tokens()
                  (s"""{"account_id":"${account()}","diff":{""" +
                    toks.map(t => s""""$t":${amount() * (if (r.nextBoolean()) 1 else -1)}""")
                      .mkString(",") +
                    s"""},"intent_hash":"ih${tag}_$j","referral":"$referral"}""",
                    toks.size)
                }
                (ej("dip4", "token_diff", items.map(_._1).mkString("[", ",", "]")),
                  Some("silver_token_diff"), items.map(_._2.toLong).sum)
              case "public_key_added" =>
                (ej("dip4", "public_key_added",
                  s"""{"account_id":"${account()}","public_key":"ed25519:K$tag"}"""),
                  Some("silver_public_keys"), 1L)
              case "intents_executed" =>
                val n = 1 + r.nextInt(3)
                (ej("dip4", "intents_executed", (0 until n).map(j =>
                  s"""{"account_id":"${account()}","intent_hash":"ie${tag}_$j"}""")
                  .mkString("[", ",", "]")), Some("silver_intents_executed"), n.toLong)
              case "fee_changed" =>
                (ej("dip4", "fee_changed", s"""{"old_fee":"$li","new_fee":"${li + 1}"}"""),
                  Some("silver_fee_changed"), 1L)
              case _ =>
                (oneOf(r, s"plain log $tag",
                  NearModel.EventJsonPrefix + """{"standard":"dip4", broken""",
                  NearModel.EventJsonPrefix +
                    """{"standard":"other","version":"1.0.0","event":"noop","data":{}}"""),
                  None, 0L)
            }
            if (emits && table.isDefined) {
              a.lookups += 1
              if (resolves) {
                a.rows("events") += 1
                a.rows(table.get) += silverRows
                txEvents(hash) += 1
              } else a.unresolved += 1
            }
            log
          }
          val status = if (r.nextInt(20) == 0) "Failure" else "SuccessValue"
          outsAt(h) = outsAt(h) :+ OutcomeWithReceipt(
            ReceiptView(receiptId, exec, pred, "Action",
              Seq(ActionView("FunctionCall", """{"method_name":"execute_intents"}""")),
              None),
            s"o${txId}_$d",
            OutcomeView(exec, if (d < depth) Seq(rid(d)) else Nil, status,
              logs, "0", 2L))
          d += 1
        }
      }
    }
    val blocks = (BaseHeight until end).map { h =>
      val chunk = if (txsAt(h).isEmpty) None else Some(Chunk(txsAt(h)))
      Block(BlockHeader(h, T0 + (h - BaseHeight) * 1000000000L, s"G$h"),
        Seq(Shard(chunk, outsAt(h))))
    }
    val withEvents = txEvents.keys.toSeq.sorted
    val drill =
      if (withEvents.isEmpty) "" else withEvents(r.nextInt(withEvents.size))
    // gold rollup rows are distinct (block, token) pairs
    acc.values.foreach(a => a.rows("gold_block_rollup") = a.rollupTokens.size.toLong)
    Chain(blocks, acc.toMap, txEvents.toMap, drill, chainsByGap.toMap)
  }

  // ------------------------------------------------------ block files

  private def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  private def arr[T](xs: Seq[T])(f: T => String) = xs.map(f).mkString("[", ",", "]")
  private def action(a: ActionView) =
    s"""{"action_type":${js(a.action_type)},"params":${js(a.params)},"serializable":${a.serializable}}"""
  private def outcome(o: OutcomeView) =
    s"""{"executor_id":${js(o.executor_id)},"receipt_ids":${arr(o.receipt_ids)(js)},""" +
      s""""status_kind":${js(o.status_kind)},"logs":${arr(o.logs)(js)},""" +
      s""""tokens_burnt":${js(o.tokens_burnt)},"gas_burnt":${o.gas_burnt}}"""

  /** One block as a JSON document in the shape `BlockFileSource` reads. */
  def blockJson(b: Block): String = {
    val shards = arr(b.shards) { s =>
      val chunk = s.chunk.fold("null")(c => s"""{"transactions":${arr(c.transactions) { t =>
        s"""{"transaction":{"hash":${js(t.transaction.hash)},""" +
          s""""signer_id":${js(t.transaction.signer_id)},""" +
          s""""receiver_id":${js(t.transaction.receiver_id)},""" +
          s""""actions":${arr(t.transaction.actions)(action)}},""" +
          s""""outcome_id":${js(t.outcome_id)},"outcome":${outcome(t.outcome)}}"""
      }}}""")
      val outs = arr(s.receipt_execution_outcomes) { o =>
        s"""{"receipt":{"receipt_id":${js(o.receipt.receipt_id)},""" +
          s""""receiver_id":${js(o.receipt.receiver_id)},""" +
          s""""predecessor_id":${js(o.receipt.predecessor_id)},""" +
          s""""kind":${js(o.receipt.kind)},"actions":${arr(o.receipt.actions)(action)},""" +
          s""""data":${o.receipt.data.fold("null")(js)}},""" +
          s""""outcome_id":${js(o.outcome_id)},"outcome":${outcome(o.outcome)}}"""
      }
      s"""{"chunk":$chunk,"receipt_execution_outcomes":$outs}"""
    }
    s"""{"header":{"height":${b.header.height},"timestamp":${b.header.timestamp},""" +
      s""""hash":${js(b.header.hash)}},"shards":$shards}"""
  }

  /** Write the chain as JSON-lines files of `perFile` blocks, named and
    * mtime-stamped by their first height (the file source's order).
    * Returns the file paths in height order. */
  def writeFiles(blocks: Seq[Block], dir: java.io.File,
      perFile: Int): Seq[java.io.File] = {
    dir.mkdirs()
    blocks.grouped(perFile).map { chunk =>
      val h = chunk.head.header.height
      val f = new java.io.File(dir, f"$h%012d.json")
      java.nio.file.Files.writeString(f.toPath,
        chunk.map(blockJson).mkString("", "\n", "\n"))
      f.setLastModified(1600000000000L + h * 1000L): Unit
      f
    }.toSeq
  }
}
