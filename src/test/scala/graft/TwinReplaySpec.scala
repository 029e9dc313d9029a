package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Concurrency pins for the streaming twins and the loud-failure
  * contract of the parallel Verify dump. */
class TwinReplaySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("twins that share a scratch name run concurrently in one session " +
    "and each equals its sequential run") {
    // the dedup twins share one MV build, the graph twins another; the
    // parallel Verify co-schedules each group. Every run must get its
    // own feed/warehouse, or one twin wipes a sibling's feed mid-stream.
    val groups = Seq(
      Seq("d_stream_minhash", "d_stream_dup_groups"),
      Seq("g_stream_bfs", "g_stream_components", "g_stream_pagerank"))
    val sequential = groups.flatten.map { name =>
      name -> rows(SparkEntry.queries(name)(spark, dir))
    }.toMap
    groups.foreach { names =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val runs = names.map { name =>
          Future(name -> rows(SparkEntry.queries(name)(spark, dir)))
        }
        Await.result(Future.sequence(runs), 10.minutes).foreach {
          case (name, got) =>
            assert(got === sequential(name), s"$name diverged when concurrent")
            assert(got.nonEmpty, s"$name is empty")
        }
      } finally pool.shutdown()
    }
    QueryCaches.releaseAll()
  }

  test("Verify.dumpAll returns every failed query and the failure file " +
    "lists it, while the good dumps land") {
    val out = graft.sink.ParquetSink.scratchDir("verify_failures_spec")
    val good: Verify.QueryFn = (s, _) => s.range(3).toDF("x")
    val todo: Seq[(String, Verify.QueryFn)] = Seq(
      "a_good" -> good,
      "b_boom" -> ((_, _) => throw new IllegalStateException("boom \"x\"")),
      "c_good" -> good)
    val failures = Verify.dumpAll(spark, todo, dir, out, threads = 4)
    assert(failures.map(_._1) === Seq("b_boom"))
    assert(failures.head._2.isInstanceOf[IllegalStateException])
    Seq("a_good", "c_good").foreach { name =>
      assert(spark.read.parquet(s"$out/$name").count() === 3L,
        s"$name must dump")
    }
    assert(!new java.io.File(s"$out/b_boom").exists())
    Verify.writeFailures(out, failures)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, Verify.FailuresFile))
    assert(text.contains("\"name\": \"b_boom\""), text)
    assert(text.contains("java.lang.IllegalStateException"), text)
    assert(text.contains("boom \\\"x\\\""), text)
  }

  private def dumpDirs(out: String): Set[String] =
    new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet

  test("Verify.run with a name subset dumps and writes oracle SQL for " +
    "exactly those names, and returns 0") {
    val out = graft.sink.ParquetSink.scratchDir("verify_subset_spec")
    val names = Seq("p_filter_project", "q1_pricing_summary")
    assert(Verify.run(spark, Array(dir, out) ++ names) === 0)
    assert(dumpDirs(out) === names.toSet)
    val oracle = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "oracle_sql.json"))
    val keys = "[{,]\"([a-z0-9_]+)\": \"".r.findAllMatchIn(oracle)
      .map(_.group(1)).toSet
    assert(keys === names.toSet, oracle)
    assert(!new java.io.File(s"$out/${Verify.FailuresFile}").exists())
  }

  test("Verify.run returns non-zero and writes the failure file when a " +
    "query throws") {
    val out = graft.sink.ParquetSink.scratchDir("verify_throw_spec")
    assert(Verify.run(spark,
      Array(s"$out/no_such_sf", out, "p_filter_project")) !== 0)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, Verify.FailuresFile))
    assert(text.contains("\"name\": \"p_filter_project\""), text)
    assert(dumpDirs(out).isEmpty)
  }
}
