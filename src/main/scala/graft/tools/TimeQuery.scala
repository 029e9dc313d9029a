package graft.tools

/** Time individual declared queries in isolation (the iterating twin of
  * [[graft.Bench]] — same session shape, but only the named queries):
  * `sbt "runMain graft.tools.TimeQuery d_ngram_pairs d_minhash_pairs"`.
  * Each query runs `reps` times (default 2) so JIT/codegen warm-up is
  * visible instead of folded into a single number. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000).selectExpr("sum(id)").collect()
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        println(f"$name rep$r: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
        graft.QueryCaches.releaseAll() // the tracked cache contract
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
