package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract line: one JSON object that reaches a pipe in
  * one write, with the headline keys a reader of the line parses. */
class BenchLineSpec extends AnyFunSuite {

  /** The members Bench prints, at the widths a real board gives them. */
  private val members = Seq(
    "metric" -> "\"total\"", "value" -> Bench.ms3(1234.5678),
    "unit" -> "\"sec\"", "total_warm" -> Bench.ms3(987.6543),
    "failed" -> "[\"q_one_failing_query\",\"q_another_failing_query\"]",
    "suspect" -> "[\"s_suspect_a\",\"s_suspect_b\",\"s_suspect_c\"]",
    "ingest_blocks_per_sec" -> Bench.ms3(123.4567),
    "ingest_blocks_n" -> "2000",
    "ingest_cascade_blocks_per_sec" -> Bench.ms3(12.3456),
    "ingest_cascade_blocks_n" -> "400", "ingest_cascade_per_file" -> "10",
    "load_avg_start" -> Bench.ms3(1.234), "load_avg_end" -> Bench.ms3(9.876),
    "load_max" -> Bench.ms3(12.345), "load_gate" -> "2.0",
    "load_contaminated" -> "false",
    "sf" -> "\"data/tpch/sf0.1\"", "bench_detail" -> "\"BENCH_DETAIL_c4.json\"",
    "note" -> ("\"" + "x" * 250 + "\""))

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("Bench's stdout line fits in PIPE_BUF and keeps its headline keys") {
    val line = Bench.stdoutLine(members)
    assert(line.getBytes("UTF-8").length <= Bench.PipeBuf, line.length)
    val json = parse(line)
    Seq("metric", "value", "unit", "failed").foreach(k => assert(json.has(k), k))
    assert(json.get("metric").asText === "total")
    assert(json.get("value").asDouble === 1234.568)
    assert(json.get("failed").size === 2)
    // the per-query map is in the detail file the line names
    assert(!json.has("queries"))
    assert(json.get("bench_detail").asText === "BENCH_DETAIL_c4.json")
  }
}
