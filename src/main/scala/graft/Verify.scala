package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`).
  *
  * A query that throws is a LOUD failure, never a silently missing
  * dump dir: every failure lands in `_verify_failures.json` and the
  * process exits non-zero (after oracle_sql.json and `spark.stop()`,
  * so the passing dumps still get compared). */
object Verify {
  type QueryFn = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val code = run(spark, args)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The dump over `args` = `sfDir outDir [name…]` in `spark`; returns
    * the process exit code (1 if any query threw). Leaves the session
    * running, so a test can call it on a shared session. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args: restrict the dump AND oracle_sql.json to the
    // named queries, so tools/check.py's tally covers exactly the dumped
    // set (spot checks); with just the two required args, the full map
    // is dumped
    val only: String => Boolean =
      if (rest.isEmpty) _ => true else rest.toSet
    new java.io.File(outDir).mkdirs()
    Files.deleteIfExists(Paths.get(outDir, FailuresFile))
    // Sorted name order for symmetry with Bench (VERDICT r8 #1): the dump
    // itself is order-insensitive, but deterministic execution order makes
    // any order-dependent failure reproducible.
    val todo = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
    // SPARK_GRAFT_VERIFY_THREADS=1 restores the sequential loop.
    val threads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val failures = dumpAll(spark, todo, sfDir, outDir, threads)
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.isEmpty) 0
    else {
      writeFailures(outDir, failures)
      System.err.println(s"[verify] ${failures.size} of ${todo.size} " +
        s"queries failed: ${failures.map(_._1).mkString(", ")}")
      1
    }
  }

  val FailuresFile = "_verify_failures.json"

  /** Dump every `(name, fn)` of `todo` to `outDir/name` as parquet,
    * `threads` at a time; returns the queries that threw, in name
    * order.
    *
    * Overlapped dumps (r18, "overlap independent jobs"): at
    * the gate SF the per-query cost is dominated by DRIVER work
    * (planning + codegen + job orchestration on byte-small data), so
    * running the dumps one-by-one leaves the cores idle. The dumps are
    * independent (each writes its own directory; scratch dirs are
    * unique per call, [[graft.sink.ParquetSink.scratchDir]]); the one
    * piece of shared mutable state is the QueryCaches registry, whose
    * release is a BATCH BARRIER here: all threads of a batch join
    * before releaseAll(), so a release can never unpersist a sibling's
    * in-flight intermediate. Everything a query registers is released
    * at the next barrier — same contract as the sequential loop, held
    * at batch rather than query grain. */
  def dumpAll(spark: SparkSession, todo: Seq[(String, QueryFn)],
      sfDir: String, outDir: String,
      threads: Int): Seq[(String, Throwable)] = {
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Throwable)]()
    def dump(name: String, fn: QueryFn): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        failures.add(name -> e): Unit
      }
    todo.grouped(threads).foreach { batch =>
      if (threads == 1 || batch.size == 1) batch.foreach(kv => dump(kv._1, kv._2))
      else {
        val ts = batch.map { case (name, fn) =>
          val t = new Thread(() => dump(name, fn), s"verify-$name")
          t.start(); t
        }
        ts.foreach(_.join())
      }
      // the tracked cache contract: release exactly the blocks the
      // batch's queries registered (QueryCaches scaladoc); clearCache
      // stays as a backstop against untracked persists sneaking in
      QueryCaches.releaseAll()
      spark.catalog.clearCache()
    }
    import scala.jdk.CollectionConverters._
    failures.asScala.toSeq.sortBy(_._1)
  }

  /** `outDir/_verify_failures.json`: one {name, class, message} object
    * per failed query. */
  def writeFailures(outDir: String,
      failures: Seq[(String, Throwable)]): Unit = {
    val rows = failures.map { case (name, e) =>
      s"{${q("name")}: ${q(name)}, ${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }
    Files.writeString(Paths.get(outDir, FailuresFile),
      rows.mkString("[", ",\n", "]\n"))
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle's SQL would otherwise make the
  // compare's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
