package graft.tools

import graft.metrics.Tracing

/** Traced cascade run (VERDICT r14 #6 + #4): drive the full streaming
  * ingest cascade with [[graft.metrics.Tracing]] enabled, write the
  * span artifact (`TRACE_SAMPLE.json` by default), and print the
  * per-phase attribution table — the same "which phase dominates a
  * block's wall time" reading the reference gets from Jaeger over its
  * OTel spans (/root/reference/TRACING.md), and the measurement behind
  * the cascade-vs-bronze gap attribution in SCALE_CHECK.
  *
  * `sbt "runMain graft.tools.TraceCascade [nBlocks] [perFile] [out]"`. */
object TraceCascade {
  def main(args: Array[String]): Unit = {
    val nBlocks = args.headOption.map(_.toInt).getOrElse(2000)
    val perFile = args.lift(1).map(_.toInt).getOrElse(100)
    val out = args.lift(2).getOrElse("TRACE_SAMPLE.json")
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val base = java.nio.file.Files
      .createTempDirectory("graft_trace").toString
    graft.sources.BlockFileSource.writeBlockFiles(
      spark, graft.fixtures.BlockGen.genBlocks(nBlocks, rich = true),
      s"$base/blocks", perFile)
    // untimed warm-up rep (codegen/JIT), then the traced rep — the
    // same discipline as the bench's cascade section
    graft.streaming.StreamRunner.runStream(spark, s"$base/blocks", s"$base/wh")
    graft.sink.ParquetSink.delete(new java.io.File(s"$base/wh"))

    Tracing.enable(spark)
    Tracing.reset()
    val t0 = System.nanoTime()
    graft.streaming.StreamRunner.runStream(spark, s"$base/blocks", s"$base/wh")
    val wall = (System.nanoTime() - t0) / 1e9
    Tracing.disable()
    Tracing.writeJson(out)
    // the reference's env contract: spans ALSO go out OTLP/HTTP when
    // OTEL_EXPORTER_OTLP_ENDPOINT is set (TRACING.md quick start)
    graft.metrics.OtlpExporter.exportIfConfigured(): Unit

    println(f"cascade: $nBlocks blocks in $wall%.1f s " +
      f"(${nBlocks / wall}%.1f blocks/s), trace -> $out")
    println(f"${"phase"}%-45s ${"total_s"}%9s ${"n"}%6s ${"share"}%7s")
    val batchTotal = Tracing.phaseTotals()
      .find(_._1 == "handle_streamer_message").map(_._2).getOrElse(wall)
    Tracing.phaseTotals().foreach { case (name, sec, n) =>
      println(f"$name%-45s $sec%9.2f $n%6d ${100 * sec / batchTotal}%6.1f%%")
    }
    graft.sink.ParquetSink.delete(new java.io.File(base))
    spark.stop()
  }
}
