package graft.tools

import org.apache.spark.scheduler._

/** Per-stage decomposition of a declared query's wall time (guide §1:
  * measure first — know WHICH exchange/scan/window owns the seconds
  * before touching anything). Same session shape as [[graft.Bench]];
  * a registered listener records every stage's wall span, task-time
  * sum, shuffle bytes and row counts, and the gaps BETWEEN jobs (pure
  * driver time: planning, plan-time collects, commit protocol).
  *
  * `sbt "runMain graft.tools.ProfileQuery d_embed_dedup"` — runs cold
  * + `SPARK_GRAFT_REPS` warm passes, prints the breakdown of the LAST
  * pass (codegen-warm, the optimization-relevant one).
  */
object ProfileQuery {
  private case class StageRec(jobId: Int, stageId: Int, name: String,
      submitted: Long, completed: Long, taskTimeMs: Long,
      shufWriteB: Long, shufReadB: Long, inputB: Long, outRows: Long,
      nTasks: Int)

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000).selectExpr("sum(id)").collect()

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobSpans =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
        jobSpans.put(js.jobId, (js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobSpans.get(je.jobId)).foreach { case (s, _) =>
          jobSpans.put(je.jobId, (s, je.time))
        }
      }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = si.taskMetrics
        stages.put(si.stageId, StageRec(
          stageJob.getOrDefault(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n'),
          si.submissionTime.getOrElse(-1L),
          si.completionTime.getOrElse(-1L),
          tm.executorRunTime,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.shuffleReadMetrics.totalBytesRead,
          tm.inputMetrics.bytesRead,
          tm.outputMetrics.recordsWritten,
          si.numTasks))
      }
    }

    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      (0 to reps).foreach { r =>
        stages.clear(); stageJob.clear(); jobSpans.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // drain the async listener bus before detaching (ADVICE r17):
        // StageCompleted/JobEnd events for the last stages may still be
        // queued; removing the listener immediately drops them and the
        // printed breakdown undercounts the pass it claims to decompose
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        graft.QueryCaches.releaseAll()
        spark.catalog.clearCache()
        val tag = if (r == 0) "cold" else s"warm$r"
        println(f"==== $name $tag: wall $wall%.2fs rows=$n ====")
        if (r == reps) { // print breakdown of the last (warmest) pass
          import scala.jdk.CollectionConverters._
          val recs = stages.values.asScala.toSeq.sortBy(_.submitted)
          var prevEnd = -1L
          recs.foreach { s =>
            val span = (s.completed - s.submitted) / 1e3
            val gap = if (prevEnd > 0) (s.submitted - prevEnd) / 1e3 else 0.0
            prevEnd = math.max(prevEnd, s.completed)
            println(f"  j${s.jobId}%3d st${s.stageId}%4d span=$span%6.2fs " +
              f"gap=$gap%5.2fs task=${s.taskTimeMs / 1e3}%6.2fs " +
              f"n=${s.nTasks}%3d in=${s.inputB / 1048576.0}%7.1fMB " +
              f"sw=${s.shufWriteB / 1048576.0}%7.1fMB " +
              f"sr=${s.shufReadB / 1048576.0}%7.1fMB  ${s.name}%s")
          }
          val jobs = jobSpans.asScala.toSeq.sortBy(_._1)
          val jTot = jobs.collect { case (_, (s, e)) if e > 0 => e - s }.sum
          println(f"  jobs=${jobs.size} jobWall=${jTot / 1e3}%.2fs " +
            f"(driver/plan gap = wall - jobWall)")
        }
      }
    }
    spark.stop()
  }
}
