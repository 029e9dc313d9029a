package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Outside-in probe: a passive SparkListener plus a
  * StreamingQueryListener. Neither runs a Spark job; both only record
  * what the scheduler and the streaming engine report.
  *
  * Each job is attributed to the module whose source file Spark names
  * in the job's call site ("parquet at ParquetSink.scala:127"): the
  * innermost program frame that submitted it, or that started the job's
  * SQL execution.
  *
  * A job that writes a table (its SQL execution inserts into a path of
  * the warehouse) also records the table and the rows its tasks wrote. */
final class Probe extends SparkListener {

  /** `span`: the program's tracing span the job ran under, if tracing
    * was on. `table`: the warehouse table the job writes, if any. */
  final class Job(val start: Long, val module: String, val span: Option[Long],
      val execution: Option[Long], val table: Option[String]) {
    var end: Long = -1L
    var tasks, cpuNs, shuffleBytes, inputBytes, rowsWritten = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long], Long)]

  // module of each SQL execution, by the call site that started it, and
  // the table it writes
  private val executionModule = mutable.Map.empty[Long, String]
  private val executionTable = mutable.Map.empty[Long, String]
  private val executionStarts = mutable.ArrayBuffer.empty[Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        executionStarts += s.time
        executionModule(s.executionId) = Probe.moduleOf(s.description)
        Probe.tableWritten(s.sparkPlanInfo.simpleString)
          .foreach(executionTable(s.executionId) = _)
      }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // adaptive query stages run on a pool thread whose call site names no
    // program frame; their SQL execution's call site does
    val site = Probe.moduleOf(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val execution = prop("spark.sql.execution.id").map(_.toLong)
    val module = if (site != "other") site
      else execution.flatMap(executionModule.get).getOrElse(site)
    val j = new Job(e.time, module,
      // graft.metrics.Tracing links a job to its span as "traceId:spanId"
      prop("graft.trace.parent").map(_.split(':').last.toLong),
      execution, execution.flatMap(executionTable.get))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      j.tasks += e.stageInfo.numTasks
      if (m != null) {
        j.rowsWritten += m.outputMetrics.recordsWritten
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Jobs that started inside `[t0, t1]` (driver wall-clock ms). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }

  /** Spark actions that started inside `[t0, t1]`: SQL executions plus
    * jobs run outside any. Unlike the job count, this does not depend on
    * how adaptive execution splits a plan into jobs at run time. */
  def actionsIn(t0: Long, t1: Long): Int = synchronized {
    executionStarts.count(t => t >= t0 && t <= t1) +
      jobs.values.count(j => j.start >= t0 && j.start <= t1 && j.execution.isEmpty)
  }

  /** Time in `[t0, t1]` during which no Spark job was running. */
  def gapMs(t0: Long, t1: Long): Long = {
    val iv = jobsIn(t0, t1).map(j => (j.start, if (j.end < 0) t1 else math.min(j.end, t1)))
      .sortBy(_._1)
    var covered, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    (t1 - t0) - covered
  }

  /** Per-trigger progress of streaming queries: (trigger start ms,
    * durationMs by phase, input rows). */
  def triggers: Seq[(Long, Map[String, Long], Long)] = synchronized(progress.toSeq)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = Probe.this.synchronized {
      val p = e.progress
      progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }
}

object Probe {
  /** Module of a call site, by the source file it names. A streaming
    * query stamps every job of its micro-batches with the call site that
    * started the query, so those jobs name the streaming runner. */
  def moduleOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "BlockFileSource.scala" => "sources"
      case "BronzeExtractors.scala" => "bronze"
      case "StreamingResolver.scala" | "ReceiptTxResolver.scala" => "state"
      case "SilverTransforms.scala" => "silver"
      case "ParquetSink.scala" => "sink"
      case "StreamRunner.scala" => "streaming"
      case "BatchRunner.scala" => "runner"
      case "GoldViews.scala" => "gold"
      case _ => "other"
    }
  }

  private val InsertInto = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r.unanchored

  /** The table a SQL execution's plan inserts into: the last segment of
    * the output path of its file-insert command. */
  def tableWritten(plan: String): Option[String] = plan match {
    case InsertInto(path) => Some(path.stripSuffix("/").split('/').last)
    case _ => None
  }

  /** Module of one of the program's tracing spans (its phase names
    * follow the reference indexer's handler hierarchy), if it names one. */
  def moduleOfSpan(name: String): Option[String] = name match {
    case "cache_map_new_receipts_from_outcomes" | "persist_resolver_state" => Some("state")
    case "parse_events" => Some("bronze")
    case "insert_gold_block_rollup_to_db" => Some("gold")
    case "silver_cascade" => Some("silver")
    case n if n.startsWith("insert_silver_") => Some("silver")
    case n if n.startsWith("insert_") && n.endsWith("_to_db") => Some("sink")
    case _ => None
  }

  val modules: Seq[String] =
    Seq("sources", "bronze", "state", "silver", "sink", "streaming", "runner", "gold")
}
