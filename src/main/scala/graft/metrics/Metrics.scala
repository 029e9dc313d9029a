package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Metrics sink (SURVEY §2.2 K5) — the Spark-native analog of the
  * reference's Prometheus counters (indexer-common/src/metrics.rs:36-88):
  * rows-processed counters per asset type collected with Spark's
  * `observe` API (zero extra actions — metrics ride the existing job),
  * gathered by a QueryExecutionListener, and rendered in the Prometheus
  * text exposition format the reference's `/metrics` endpoint serves.
  * [[MetricsServer]] serves it over HTTP with optional basic auth.
  */
object Metrics {

  /** Latest values per OBSERVATION NAME (one entry per observedAgg
    * attachment): re-running the same plan in another action re-reports
    * the same name and overwrites — counters are action-idempotent —
    * while distinct attachments (unique names) sum at [[snapshot]].
    * Without this, a caller running N actions over one observed plan
    * (the batch runner executes its resolve subtree ~5 times) would
    * inflate every counter N-fold.
    *
    * Bounded: when more than [[MaxLiveObservations]] attachments are
    * live, the OLDEST half (by mint sequence) folds into [[folded]]
    * and further reports for them are ignored — a long-lived ingest
    * service keeps O(MaxLive) memory and scrape cost, at the price
    * that an ancient plan re-executed after folding no longer updates
    * its (already-summed) contribution. */
  private val observations =
    new ConcurrentHashMap[String, Map[String, Long]]()
  private val folded = new ConcurrentHashMap[String, Long]()
  @volatile private var foldedBelowSeq = 0L
  private val MaxLiveObservations = 1024

  private def seqOf(name: String): Long =
    try name.substring(name.lastIndexOf('_') + 1).toLong
    catch { case _: NumberFormatException => Long.MaxValue }

  private def maybeFold(): Unit = synchronized {
    if (observations.size > MaxLiveObservations) {
      val entries = observations.asScala.toSeq.sortBy(e => seqOf(e._1))
      val toFold = entries.take(entries.size - MaxLiveObservations / 2)
      toFold.foreach { case (name, values) =>
        values.foreach { case (f, v) =>
          folded.merge(f, v, (a, b) => a + b): Unit
        }
        observations.remove(name): Unit
      }
      if (toFold.nonEmpty)
        foldedBelowSeq = toFold.map(e => seqOf(e._1)).max
    }
  }

  /** Attach named row counters to a DataFrame; they are recorded when
    * any action runs the plan. */
  def observed(df: DataFrame, metricPrefix: String): DataFrame =
    observedAgg(df, metricPrefix,
      count(lit(1)).as(s"${metricPrefix}_rows_total"))

  private val obsSeq = new AtomicLong()

  /** Attach arbitrary aggregate counters (each a LongType aggregate with
    * a stable alias — the alias IS the Prometheus counter name). The
    * observation name is made unique per call so the same operator can
    * appear more than once inside one query plan; the rendered counter
    * sums the latest value of every attachment sharing the field name,
    * exactly like a Prometheus counter labelled per operator. */
  def observedAgg(df: DataFrame, group: String, metrics: Column*): DataFrame =
    df.observe(s"graft_${group}_${obsSeq.incrementAndGet()}",
      metrics.head, metrics.tail: _*)

  /** Install the collector once per session (idempotent). */
  def install(spark: SparkSession): Unit = synchronized {
    if (!installed.contains(spark)) {
      spark.listenerManager.register(listener)
      installed += spark
    }
  }

  private val installed = scala.collection.mutable.Set.empty[SparkSession]

  private val listener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_") && seqOf(name) > foldedBelowSeq) {
          val values = row.schema.fieldNames.zipWithIndex.flatMap {
            case (f, i) =>
              if (row.isNullAt(i)) None else Some(f -> row.getLong(i))
          }.toMap
          observations.put(name, values): Unit
          maybeFold()
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Field name → folded base + sum over the latest value of each
    * live attachment. */
  def snapshot(): Map[String, Long] = {
    val live = observations.asScala.values.flatten
      .groupBy(_._1).map { case (f, kvs) => f -> kvs.map(_._2).sum }
    (live.keySet ++ folded.asScala.keySet).map { f =>
      f -> (live.getOrElse(f, 0L) + folded.getOrDefault(f, 0L))
    }.toMap
  }

  def reset(): Unit = {
    observations.clear()
    folded.clear()
  }

  /** Spark's own codegen figures for this JVM (driver and, in local
    * mode, executors): classes compiled and seconds spent compiling,
    * read at scrape time — zero jobs, no timers of our own. */
  private def codegenCounters(): Seq[(String, String)] = Seq(
    "codegen_compiles_total" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toString,
    "codegen_compile_seconds_total" ->
      java.math.BigDecimal.valueOf(CodeGenerator.compileTime, 9)
        .toPlainString)

  /** Prometheus text exposition format (metrics.rs serves the same).
    * Phase-duration histograms ([[Tracing]]) ride the same page, the
    * way the reference's process serves counters and tracing from one
    * binary. */
  def renderPrometheus(): String =
    (snapshot().toSeq.map { case (k, v) => k -> v.toString } ++
      codegenCounters()).sortBy(_._1).map { case (k, v) =>
      s"# TYPE $k counter\n$k $v"
    }.mkString("", "\n", "\n") + Tracing.renderPrometheus()
}
