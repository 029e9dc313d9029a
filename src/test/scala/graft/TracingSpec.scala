package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.metrics.Tracing

/** Pins the span exporter (VERDICT r14 #6): nesting, Spark-job
  * attribution through the job-local property, pool-thread nesting,
  * Prometheus histogram rendering, and the JSON artifact. */
class TracingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("span nesting, spark_job attribution, histograms, JSON artifact") {
    Tracing.enable(spark)
    Tracing.reset()
    try {
      Tracing.span("handle_streamer_message", "max_height" -> "7") {
        Tracing.span("handle_events") {
          // a real Spark job inside the child span
          assert(spark.range(1000).selectExpr("sum(id)")
            .collect()(0).getLong(0) === 499500L)
        }
        Tracing.span("persist_resolver_state") { Thread.sleep(5) }
      }
    } finally Tracing.disable()

    val spans = Tracing.spans()
    val root = spans.find(_.name == "handle_streamer_message").get
    val events = spans.find(_.name == "handle_events").get
    val stateSp = spans.find(_.name == "persist_resolver_state").get
    assert(root.parentId === 0L)
    assert(events.parentId === root.spanId)
    assert(stateSp.parentId === root.spanId)
    assert(root.attrs.contains("max_height" -> "7"))
    // children closed before the root, so the root's duration bounds
    assert(root.durationNs >= events.durationNs + stateSp.durationNs)

    // the Spark job landed as a child of handle_events, carrying the
    // scheduler's own numbers
    val job = spans.filter(_.name == "spark_job")
    assert(job.nonEmpty, "no spark_job span attributed")
    assert(job.forall(_.parentId === events.spanId))
    val attrs = job.head.attrs.toMap
    assert(attrs.contains("job_id"))
    assert(attrs.get("tasks").exists(_.toLong > 0))
    assert(attrs.contains("executor_run_time_ms"))

    // per-phase totals: the spark time folds under its parent phase
    val totals = Tracing.phaseTotals().map(t => t._1 -> t._3).toMap
    assert(totals("handle_events/spark") === job.size.toLong)
    assert(totals("handle_streamer_message") === 1L)

    // Prometheus histograms ride the K5 metrics page
    val prom = graft.metrics.Metrics.renderPrometheus()
    assert(prom.contains("# TYPE graft_phase_duration_seconds histogram"))
    assert(prom.contains(
      """graft_phase_duration_seconds_count{phase="handle_events"} 1"""))
    assert(prom.contains("""le="+Inf"} 1"""))

    // JSON artifact: parseable by any JSON reader — cross-check with
    // the JVM's own nashorn-free parser stand-in (structure asserts)
    val out = java.nio.file.Files.createTempFile("trace", ".json")
    Tracing.writeJson(out.toString)
    val txt = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(txt.contains(""""name":"handle_streamer_message""""))
    assert(txt.contains(""""parent_span_id":${root.spanId}""".replace(
      "${root.spanId}", root.spanId.toString)))
    assert(txt.startsWith("{") && txt.endsWith("}"))
    java.nio.file.Files.delete(out)
  }

  test("pool-thread spans re-root under the captured context; " +
      "disabled tracing records nothing") {
    Tracing.enable(spark)
    Tracing.reset()
    try {
      Tracing.span("silver_cascade") {
        // the writes run on BatchRunner's pool, each with the caller's
        // local properties
        graft.runner.BatchRunner.concurrently(spark, Seq("a", "b").map(t =>
          s"insert_${t}_to_db" -> (() => spark.range(10).count(): Unit)))
      }
    } finally Tracing.disable()
    val spans = Tracing.spans()
    val cascade = spans.find(_.name == "silver_cascade").get
    val writers = spans.filter(_.name.startsWith("insert_"))
    assert(writers.size === 2)
    assert(writers.forall(_.parentId === cascade.spanId))
    assert(writers.forall(_.traceId === cascade.traceId))
    // jobs launched on the pool threads attribute under the writers
    val jobs = spans.filter(_.name == "spark_job")
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => writers.exists(_.spanId == j.parentId)))

    Tracing.reset()
    // disabled: span() is a pass-through, nothing recorded
    assert(Tracing.span("x") { 41 + 1 } === 42)
    assert(Tracing.spans().isEmpty)
    assert(Tracing.renderPrometheus() === "")
  }
}
