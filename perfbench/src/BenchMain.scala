package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.NearFixtures
import graft.gold.GoldViews
import graft.metrics.{Metrics, Tracing}
import graft.runner.BatchRunner
import graft.sink.ParquetSink
import graft.streaming.StreamRunner

/** Runs one workload and writes its raw measurements as JSON; `run.py`
  * reduces them to the reported metrics.
  *
  * `--workload tail|backfill|parity|selftest --seed N --seconds S --trace 0|1
  *  --cores N --work DIR --out FILE [--trace-out FILE]`
  *
  * Every run times the workload with tracing off. A traced run (`--trace
  * 1`) then repeats the timed region from a copy of the same starting
  * state with the program's spans and counters switched on, and reports
  * the per-layer figures of that second pass. */
object BenchMain {

  /** The timed region of one pass: its micro-batch triggers (tail) or
    * its `BatchRunner.run` calls (backfill), and every job it ran. */
  final case class Pass(t0: Long, t1: Long, blocks: Long, opMs: Seq[Double],
      triggers: Seq[(Long, Map[String, Long], Long)], calls: Seq[(Long, Long)],
      jobs: Seq[Probe#Job], actions: Int) {
    def wallMs: Long = t1 - t0
    /** (start, end) of each micro-batch, from its per-trigger progress. */
    def batches: Seq[(Long, Long)] =
      triggers.map(t => (t._1, t._1 + t._2.getOrElse("triggerExecution", 0L)))
  }

  final case class Check(name: String, expected: String, actual: String) {
    def ok: Boolean = expected == actual
  }

  def main(args: Array[String]): Unit = {
    val start = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val out = opt("out")
    if (workload == "selftest") {
      Json.write(out, SelfTest.run(seed))
      return
    }
    val seconds = opt.get("seconds").fold(0)(_.toInt)
    val trace = opt.get("trace").contains("1")
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(probe.streaming)
    val bench = new Bench(spark, probe, work, start, opt.get("trace-out"))
    val result = workload match {
      case "tail" => bench.tail(seed, seconds, trace)
      case "backfill" => bench.backfill(seed, seconds, trace)
      case "parity" => bench.parity(seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.stop()
    Json.write(out, result ++ Map(
      "workload" -> workload, "seed" -> seed, "master" -> s"local[$cores]",
      "peak_rss_mb" -> peakRssMb))
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

final class Bench(spark: SparkSession, probe: Probe, work: File, startMs: Long,
    traceOut: Option[String]) {
  import BenchMain._

  private def now = System.currentTimeMillis()
  private def drain(): Unit =
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
  private def dir(name: String) = new File(work, name)

  // ---------------------------------------------------------------- tail

  /** Live ingest: a pre-written chain drained by the streaming runner in
    * height order. The first file holds 60 blocks: the catch-up batch,
    * drained in set-up (with the JIT and codegen warm-up), which fills
    * the resolver state past the 50-block TTL. The runner then restarts
    * on the same checkpoint and drains the rest, 10-block files, one per
    * micro-batch; the timed region runs from the first of those
    * micro-batches to the end. */
  def tail(seed: Long, seconds: Int, trace: Boolean): Map[String, Any] = {
    val catchUp = 60
    val perFile = 10
    val timedFiles = math.max(2, math.round(seconds / 5.0).toInt)
    val chain = NearChainGen.generate(seed, catchUp + perFile * timedFiles)
    val blocks = dir("blocks")
    NearChainGen.writeFiles(chain.blocks.take(catchUp), blocks, catchUp)
    StreamRunner.runStream(spark, blocks.getPath, dir("wh").getPath)
    // traced passes restart from a copy of the caught-up warehouse
    if (trace) Seq("wh_traced", "wh_untraced").foreach(d => copyTree(dir("wh"), dir(d)))
    NearChainGen.writeFiles(chain.blocks.drop(catchUp), blocks, perFile)

    def stream(wh: File): Pass = {
      drain()
      val n0 = probe.triggers.size
      StreamRunner.runStream(spark, blocks.getPath, wh.getPath)
      val t1 = now
      drain()
      val trig = probe.triggers.drop(n0).filter(_._3 > 0)
      val t0 = trig.head._1
      Pass(t0, t1, trig.map(_._3).sum,
        trig.map(_._2.getOrElse("triggerExecution", 0L).toDouble), trig, Nil,
        probe.jobsIn(t0, t1), probe.actionsIn(t0, t1))
    }
    val pass = stream(dir("wh"))
    val setupS = (pass.t0 - startMs) / 1000.0
    val checks = Check("blocks_committed", (perFile * timedFiles).toString,
      pass.blocks.toString) +: verify(dir("wh"), chain)
    result(pass, setupS, checks, if (!trace) None else Some(tracedPasses(
      pass, chain, chain.blocks(catchUp - 1).header.height,
      Seq("resolver_state" -> Seq("receipt_id")), stream)))
  }

  // ------------------------------------------------------------ backfill

  /** Catch-up ingest: one `BatchRunner.run` call over a long chain in
    * 250-block files. Set-up runs the same call over the first file
    * into a scratch warehouse (JIT and codegen warm-up). */
  def backfill(seed: Long, seconds: Int, trace: Boolean): Map[String, Any] = {
    val perFile = 250
    val n = math.min(NearChainGen.MaxBlocks, math.max(2 * perFile, 70 * seconds))
    val chain = NearChainGen.generate(seed, n)
    val files = NearChainGen.writeFiles(chain.blocks, dir("blocks"), perFile)
    dir("warm_blocks").mkdirs()
    java.nio.file.Files.copy(files.head.toPath,
      new File(dir("warm_blocks"), files.head.getName).toPath)
    BatchRunner.run(spark, dir("warm_blocks").getPath, dir("wh_warm").getPath)
    val setupS = (now - startMs) / 1000.0

    def run(wh: File): Pass = {
      drain()
      val t0 = now
      val summary = BatchRunner.run(spark, dir("blocks").getPath, wh.getPath)
      val t1 = now
      drain()
      Pass(t0, t1, summary.map(_.nBlocks).getOrElse(0L), Seq((t1 - t0).toDouble),
        Nil, Seq((t0, t1)), probe.jobsIn(t0, t1), probe.actionsIn(t0, t1))
    }
    val pass = run(dir("wh"))
    val checks = Check("blocks_committed", n.toString, pass.blocks.toString) +:
      verify(dir("wh"), chain)
    result(pass, setupS, checks, if (!trace) None else Some(tracedPasses(pass, chain,
      Long.MinValue, Seq("state_seeds" -> Seq("transaction_hash"), "state_edges" -> Seq("receipt_id")),
      run)))
  }

  // -------------------------------------------------------------- parity

  /** The streaming and batch ingest paths over the same 60-block chain
    * must leave identical FINAL images: per product table, the row count
    * and an order-independent digest of the rows. Run by the tests. */
  def parity(seed: Long): Map[String, Any] = {
    val chain = NearChainGen.generate(seed, 60)
    NearChainGen.writeFiles(chain.blocks, dir("blocks"), 10)
    StreamRunner.runStream(spark, dir("blocks").getPath, dir("wh_stream").getPath)
    BatchRunner.run(spark, dir("blocks").getPath, dir("wh_batch").getPath)
    def image(wh: File): Map[String, String] = concurrently(
      BatchRunner.productTables.map { case (t, pk) => () =>
        t -> (if (!ParquetSink.hasData(s"$wh/$t")) "0" else {
          val df = pk.fold(BatchRunner.silverFinal(spark, wh.getPath, t))(
            BatchRunner.tableFinal(spark, wh.getPath, t, _))
          val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.sorted.map(col).toSeq: _*)
            .cast("decimal(38,0)"))).collect()(0)
          s"${r.getLong(0)} rows, digest ${r.get(1)}"
        })
      }).toMap
    val (batch, stream) = (image(dir("wh_batch")), image(dir("wh_stream")))
    Map("checks" -> NearChainGen.tables.map { t =>
      val c = Check(s"image.$t", batch(t), stream(t))
      Map("name" -> c.name, "ok" -> c.ok, "expected" -> c.expected, "actual" -> c.actual)
    })
  }

  private def result(pass: Pass, setupS: Double, checks: Seq[Check],
      traced: Option[(Seq[Pass], Map[String, Any], Seq[Check])]): Map[String, Any] = {
    val passes = pass +: traced.map(_._1).getOrElse(Nil)
    val all = checks ++ traced.map(_._3).getOrElse(Nil)
    Map[String, Any]("setup_s" -> setupS, "blocks" -> pass.blocks,
      "drain_s" -> pass.wallMs / 1000.0, "op_ms" -> pass.opMs,
      "attempted" -> math.max(1, passes.map(_.opMs.size).sum),
      "checks" -> all.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "expected" -> c.expected, "actual" -> c.actual))) ++
      traced.map(t => Map("layers" -> t._2)).getOrElse(Map.empty)
  }

  // -------------------------------------------------------- traced pass

  /** Re-run the timed region twice more from the same starting state:
    * once with the program's spans and counters on, then untraced again.
    * The overhead compares the traced pass with the untraced one after
    * it, not with the first pass, which runs 20–30% slower for being
    * colder; the pass after runs warmer, so the figure is an upper bound.
    * Returns the two passes, the layer figures of the traced one and its
    * checks. */
  private def tracedPasses(plain: Pass, chain: NearChainGen.Chain, timedAbove: Long,
      stateTable: Seq[(String, Seq[String])],
      timed: File => Pass): (Seq[Pass], Map[String, Any], Seq[Check]) = {
    val wh = dir("wh_traced")
    val (files0, bytes0) = parquetFiles(wh)
    Tracing.enable(spark)
    Tracing.reset()
    Metrics.install(spark)
    Metrics.reset()
    val pass = try timed(wh) finally Tracing.disable()
    traceOut.foreach(Tracing.writeJson)
    val counters = Metrics.snapshot()
    val spans = Tracing.spans().filter(_.startUnixMs >= pass.t0)
    val plainAgain = timed(dir("wh_untraced"))

    val ops = math.max(1, pass.opMs.size).toDouble
    val jobs = pass.jobs
    // a job belongs to the nearest enclosing span that names a module,
    // else to the module its call site names
    val byId = spans.map(s => s.spanId -> s).toMap
    def spanModule(id: Long): Option[String] = byId.get(id).flatMap(s =>
      Probe.moduleOfSpan(s.name).orElse(spanModule(s.parentId)))
    val module = jobs.map(j => j -> j.span.flatMap(spanModule).getOrElse(j.module)).toMap
    def modJobs(m: String) = jobs.count(module(_) == m)
    def spanMs(name: String) =
      spans.filter(_.name == name).map(_.durationNs).sum / 1e6 / ops
    val resolveIds = spans.filter(_.name == "cache_map_new_receipts_from_outcomes")
      .map(_.spanId).toSet
    def trig(k: String*) = pass.triggers.map(t => k.map(t._2.getOrElse(_, 0L)).sum.toDouble)
    // the streaming figures count the jobs of micro-batches, the runner
    // figures those of runner calls: each reads 0 where its module does
    // not run
    def during(windows: Seq[(Long, Long)]) =
      jobs.filter(j => windows.exists { case (a, b) => j.start >= a && j.start <= b })
    def gap(windows: Seq[(Long, Long)]) =
      windows.map { case (a, b) => probe.gapMs(a, b) }.sum.toDouble
    val batchJobs = during(pass.batches)
    val callJobs = during(pass.calls)
    // rows the timed region's write jobs reported, by table written
    def rowsWritten(table: String => Boolean) =
      jobs.filter(_.table.exists(table)).map(_.rowsWritten).sum.toDouble

    val expected = chain.expectedAbove(timedAbove)
    val lookups = counters.getOrElse("resolver_lookups_total", 0L)
    val unresolved = counters.getOrElse("resolver_unresolved_total", 0L)
    val (files1, bytes1) = parquetFiles(wh)
    val carried = stateTable.map { case (t, pk) =>
      if (ParquetSink.hasData(s"$wh/$t"))
        ParquetSink.readFinal(spark.read.parquet(s"$wh/$t"), pk).count() else 0L
    }.sum

    val layers = Map[String, Any](
      "streaming.jobs_per_batch" -> batchJobs.size / ops,
      "streaming.tasks_per_batch" -> batchJobs.map(_.tasks).sum / ops,
      "streaming.driver_gap_ms_per_batch" -> gap(pass.batches) / ops,
      "streaming.trigger_ms_p50" -> trig("triggerExecution"),
      "streaming.add_batch_ms_p50" -> trig("addBatch"),
      "streaming.commit_ms_p50" -> trig("walCommit", "commitOffsets"),
      "sources.get_batch_ms" -> trig("getBatch"),
      "sources.rows_per_batch" -> pass.triggers.map(_._3.toDouble),
      "state.resolve_ms_per_batch" -> spanMs("cache_map_new_receipts_from_outcomes"),
      "state.resolve_jobs_per_batch" -> jobs.count(_.span.exists(resolveIds)) / ops,
      "state.persist_ms_per_batch" -> spanMs("persist_resolver_state"),
      "bronze.parse_events_ms_per_batch" -> spanMs("parse_events"),
      "silver.cascade_ms_per_batch" -> spanMs("silver_cascade"),
      "sink.insert_ms_per_batch" -> spanMs("insert_batches"),
      "sink.tx_ms_per_batch" -> spanMs("insert_transactions_to_db"),
      "sink.jobs_per_batch" -> modJobs("sink") / ops,
      "runner.driver_gap_ms" -> gap(pass.calls),
      "runner.exec_cpu_ms" -> callJobs.map(_.cpuNs).sum / 1e6,
      "runner.shuffle_bytes" -> callJobs.map(_.shuffleBytes).sum.toDouble,
      "bronze.rows_out" ->
        rowsWritten(Set("transactions", "receipts", "execution_outcomes", "events")),
      "silver.rows_out" -> rowsWritten(_.startsWith("silver_")),
      "sink.bytes_written" -> (bytes1 - bytes0).toDouble,
      "sink.files_written" -> (files1 - files0).toDouble,
      "state.unresolved_ratio" ->
        (if (lookups == 0) 0.0 else unresolved.toDouble / lookups),
      "state.rows_carried" -> carried.toDouble,
      "trace.overhead_pct" ->
        100.0 * (pass.wallMs - plainAgain.wallMs) / plainAgain.wallMs,
      "trace.jobs_untraced" -> plainAgain.jobs.size.toDouble,
      "trace.jobs_traced" -> jobs.size.toDouble) ++
      Probe.modules.map(m => s"$m.jobs" -> modJobs(m).toDouble) ++
      goldReads(wh, chain)

    val checks = verify(wh, chain) ++ Seq(
      Check("unresolved_lookups", s"${expected.unresolved}/${expected.lookups}",
        s"$unresolved/$lookups"),
      // tracing must not change the Spark work of the timed region: the
      // traced pass and the untraced one after it run the same actions as
      // the first pass (job counts are reported, not compared: adaptive
      // execution decides at run time how many jobs one plan runs)
      Check("spark_actions.traced", plain.actions.toString, pass.actions.toString),
      Check("spark_actions.untraced_again", plain.actions.toString,
        plainAgain.actions.toString))
    (Seq(pass, plainAgain), layers, checks)
  }

  // -------------------------------------------------------- gold reads

  private val assets =
    spark.createDataFrame(NearFixtures.assetRows)

  private def intents(wh: File): DataFrame = GoldViews.intentsMetrics(
    BatchRunner.silverFinal(spark, wh.getPath, "silver_nep245"),
    BatchRunner.silverFinal(spark, wh.getPath, "silver_token_diff"), assets)

  private def drilldown(wh: File, tx: String): DataFrame =
    BatchRunner.tableFinal(spark, wh.getPath, "events",
      Seq("related_receipt_id", "index_in_log")).filter(col("tx_hash") === tx)

  /** The gold read mix, three rounds, each read timed and attributed. */
  private def goldReads(wh: File, chain: NearChainGen.Chain): Map[String, Any] = {
    val reads = Seq[(String, () => Any, Seq[String])](
      ("intents", () => intents(wh).collect(), Seq("silver_nep245", "silver_token_diff")),
      ("daily", () => BatchRunner.goldDailyFinal(spark, wh.getPath).collect(),
        Seq("gold_block_rollup")),
      ("drilldown", () => drilldown(wh, chain.drillTx).collect(), Seq("events")))
    val samples = (1 to 3).flatMap(_ => reads.map { case (name, read, tables) =>
      drain()
      val t0 = now
      read()
      val t1 = now
      drain()
      val jobs = probe.jobsIn(t0, t1)
      (name, (t1 - t0).toDouble, jobs.size.toDouble, jobs.map(_.tasks).sum.toDouble,
        probe.gapMs(t0, t1).toDouble, jobs.map(_.inputBytes).sum.toDouble,
        tables.map(t => parquetFiles(new File(wh, t))._1).sum.toDouble)
    })
    val n = samples.size.toDouble
    Map(
      "gold.intents_ms_p50" -> samples.filter(_._1 == "intents").map(_._2),
      "gold.daily_ms_p50" -> samples.filter(_._1 == "daily").map(_._2),
      "gold.drilldown_ms_p50" -> samples.filter(_._1 == "drilldown").map(_._2),
      "gold.jobs_per_read" -> samples.map(_._3).sum / n,
      "gold.tasks_per_read" -> samples.map(_._4).sum / n,
      "gold.driver_gap_ms_per_read" -> samples.map(_._5).sum / n,
      "sink.bytes_read_per_read" -> samples.map(_._6).sum / n,
      "sink.files_read_per_read" -> samples.map(_._7).sum / n)
  }

  // ------------------------------------------------------------ checks

  /** Run independent reads as concurrent Spark jobs. */
  private def concurrently[T](reads: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try reads.map(r => pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = r()
    })).map(_.get())
    finally pool.shutdown()
  }

  private def tableCounts(wh: File): Map[String, Long] =
    concurrently(BatchRunner.productTables.map { case (t, pk) => () =>
      t -> (if (!ParquetSink.hasData(s"$wh/$t")) 0L else pk match {
        case Some(k) => BatchRunner.tableFinal(spark, wh.getPath, t, k).count()
        case None => BatchRunner.silverFinal(spark, wh.getPath, t).count()
      })
    }).toMap

  /** FINAL row counts of every product table and the gold totals
    * against the generator's truth for the whole chain. */
  private def verify(wh: File, chain: NearChainGen.Chain): Seq[Check] = {
    val e = chain.expected
    val counts = tableCounts(wh)
    val Seq(daily, gold, drill) = concurrently(Seq(
      () => BatchRunner.goldDailyFinal(spark, wh.getPath)
        .agg(sum(col("n_transfers")), sum(col("amount_sum_dec"))).collect()(0),
      () => intents(wh).agg(sum(col("transfer_volume")), sum(col("deposits")),
        sum(col("withdraws"))).collect()(0),
      () => org.apache.spark.sql.Row(drilldown(wh, chain.drillTx).count())))
    def dbl(i: Int) = if (gold.isNullAt(i)) 0.0 else gold.getDouble(i)
    def close(name: String, want: Double, got: Double) =
      Check(name, "within 1e-9", if (math.abs(want - got) <= 1e-9 * math.max(1.0,
        math.abs(want))) "within 1e-9" else s"$got vs $want")
    NearChainGen.tables.map(t => Check(s"rows.$t", e.rows(t).toString, counts(t).toString)) ++
      Seq(
        Check("gold.n_transfers", e.nTransfers.toString,
          (if (daily.isNullAt(0)) 0L else daily.getLong(0)).toString),
        Check("gold.amount_sum", e.amountSum.setScale(6).toString,
          Option(daily.getDecimal(1)).map(d => BigDecimal(d).setScale(6).toString)
            .getOrElse("0.000000")),
        close("gold.transfer_volume", e.transferUsd, dbl(0)),
        close("gold.deposits", e.mintUsd, dbl(1)),
        close("gold.withdraws", -e.burnUsd, dbl(2)),
        Check("gold.drilldown_events", chain.txEvents.getOrElse(chain.drillTx, 0L).toString,
          drill.getLong(0).toString))
  }

  // -------------------------------------------------------------- files

  /** (parquet file count, bytes) under a directory. */
  private def copyTree(from: File, to: File): Unit = {
    val walk = java.nio.file.Files.walk(from.toPath)
    try walk.forEach { p =>
      val q = to.toPath.resolve(from.toPath.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def parquetFiles(d: File): (Long, Long) = {
    val fs = Option(d.listFiles()).getOrElse(Array.empty[File])
    fs.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = parquetFiles(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".parquet")) (n + 1, b + f.length())
      else (n, b)
    }
  }
}

/** Minimal JSON writer for the raw result. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
