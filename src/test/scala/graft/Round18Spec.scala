package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Tables.FanoutOps

/** Round-18 pins: the ADAPTIVE fanout guard (VERDICT r17 #8) — the
  * explicit-N repartition in front of CPU-heavy narrow stages must be
  * the IDENTITY when a scan-shaped input is already at least as wide
  * as the session's shuffle parallelism (at 100 TB every fact scan
  * is), and must stay the unconditional pinned repartition everywhere
  * else (post-shuffle inputs, where AQE coalescing is exactly the
  * problem the fanout exists to undo). */
class Round18Spec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private def shufflePartitions =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  test("fanout is the identity on a leaf input already wider than " +
      "the session parallelism (no exchange added)") {
    // localCheckpoint => LogicalRDD leaf, 8 partitions > 4 (session)
    val wide = spark.range(1000).toDF("id")
      .repartition(8).localCheckpoint()
    assert(wide.rdd.getNumPartitions > shufflePartitions)
    val out = wide.fanout(col("id"))
    assert(out.rdd.getNumPartitions === wide.rdd.getNumPartitions,
      "identity fanout must not change the partitioning")
    assert(!out.queryExecution.analyzed.toString
        .contains("RepartitionByExpression"),
      "no repartition node may be added on an already-wide leaf input")
  }

  test("fanout still pins N on a narrow (1-split-shaped) leaf input") {
    val narrow = spark.range(1000).toDF("id")
      .coalesce(1).localCheckpoint()
    assert(narrow.rdd.getNumPartitions === 1)
    val out = narrow.fanout(col("id"))
    assert(out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
    assert(out.rdd.getNumPartitions === shufflePartitions,
      "narrow scan must fan out to the session's shuffle parallelism")
  }

  test("fanout keeps the unconditional pinned repartition on inputs " +
      "with an exchange below them (width unknowable without " +
      "executing; probing .rdd there would materialize AQE stages)") {
    val agged = spark.range(1000).toDF("id")
      .groupBy(col("id")).agg(count(lit(1)).as("c"))
    val out = agged.fanout(col("id"))
    assert(out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"),
      "aggregated input must keep the explicit-N repartition")
  }

  test("narrow transforms over a wide leaf stay identity (projection/" +
      "filter/explode do not defeat the guard)") {
    val wide = spark.range(1000).toDF("id")
      .repartition(8).localCheckpoint()
      .withColumn("arr", array(lit(1), lit(2)))
      .select(col("id"), explode(col("arr")).as("x"))
      .filter(col("x") >= 1)
    val out = wide.fanout(col("id"))
    assert(!out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
  }

  // the production input: a parquet scan (a LogicalRelation leaf), read
  // back from files written here
  private def parquetRead(name: String, nFiles: Int) = {
    val path = graft.sink.ParquetSink.scratchDir(name)
    spark.range(1000).toDF("id").repartition(nFiles)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("fanout is the identity on a parquet scan already as wide as " +
      "the session parallelism (the production scan node matches)") {
    val wide = parquetRead("fanout_wide_scan", 4 * shufflePartitions)
    assert(wide.rdd.getNumPartitions >= shufflePartitions,
      "precondition: the scan must be at least shuffle.partitions wide")
    val out = wide.fanout(col("id"))
    assert(!out.queryExecution.analyzed.toString
        .contains("RepartitionByExpression"),
      "no repartition node may be added on an already-wide parquet scan")
    assert(out.rdd.getNumPartitions === wide.rdd.getNumPartitions)
  }

  test("fanout still pins N on a 1-file parquet scan") {
    val narrow = parquetRead("fanout_narrow_scan", 1)
    assert(narrow.rdd.getNumPartitions === 1)
    val out = narrow.fanout(col("id"))
    assert(out.queryExecution.analyzed.toString
      .contains("RepartitionByExpression"))
    assert(out.rdd.getNumPartitions === shufflePartitions)
  }
}
