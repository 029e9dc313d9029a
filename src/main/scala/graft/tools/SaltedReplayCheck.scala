package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-relation second-implementation replay for `g_cooccur_salted`
  * at beyond-DuckDB scales (the `scale_pairs_check` discipline's
  * replay half): rebuild the repeat-edge relation through the PLAIN
  * occupancy self-join ([[graft.queries.CoOccurrenceMv.pairCounts]])
  * and require its order-independent fingerprint (count, Σnco,
  * bit_xor of the portable h60 row image) to equal the fingerprint of
  * a salted-build Verify dump. At sf10 the relation is 212M rows —
  * DuckDB's replay of the raw self-join exceeds this sandbox's spill
  * budget, so the engine-independent evidence is the SAMPLED exact
  * probe (one-sided filtered join in DuckDB) and this full replay
  * covers every row via the independent join implementation.
  *
  * `sbt "runMain graft.tools.SaltedReplayCheck <sfDir> <dumpDir>"`
  * — non-zero exit on fingerprint mismatch. */
object SaltedReplayCheck {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.SaltedReplayCheck <sfDir> <dumpDir>")
      sys.exit(2)
    }
    val Array(dir, dump) = args.take(2)
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def fp(df: DataFrame, label: String): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        sum(col("nco")).as("s"),
        bit_xor(graft.validate.Validation.h60(
          graft.validate.Validation.rowImage(
            Seq(col("u"), col("v"), col("nco"))))).as("x"))
        .collect()(0)
      val t = (r.getLong(0), r.getLong(1), r.getLong(2))
      println(s"[$label] n=${t._1} sum_nco=${t._2} fingerprint=${t._3}")
      t
    }

    val plain = fp(
      graft.queries.CoOccurrenceMv.pairCounts(
        graft.queries.CoOccurrenceMv.occupancy(
          graft.Tables.events(spark, dir)))
        .filter(col("nco") >= 2),
      "plain-self-join")
    val salted = fp(spark.read.parquet(dump), "salted-dump")
    val ok = plain == salted
    println(s"VERDICT: fingerprints_equal=$ok")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
