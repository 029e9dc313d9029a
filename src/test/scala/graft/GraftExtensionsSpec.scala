package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions injection path: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` resolves the engine's
  * codegen'd functions in PURE SQL with no library call — the surface a
  * JDBC gateway or notebook user sees. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("a raw newSession resolves injected functions without tune()") {
    // newSession() builds a fresh SessionState (empty temp-function
    // registry) from the same extensions — if injection were broken,
    // dot_product would only exist in sessions tune() touched
    val fresh = SharedSpark.spark.newSession()
    val d = fresh.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(d === 11.0)
    val sig = fresh.sql(
      "SELECT size(minhash_sig(token_shingle_hashes('a b c d e', 3), 8)) AS n")
      .collect()(0).getInt(0)
    assert(sig === 8)
    val sim = fresh.sql("SELECT simhash64('hello world') AS s")
      .collect()(0).getSeq[Long](0)
    assert(sim.length === 2)
  }

  test("injection and registry twins build the same expression") {
    // tune() on a session that already has the injected functions must
    // not re-register (idempotence) and both paths must agree
    val s = SharedSpark.spark
    Tables.tune(s)
    val viaSql = s.sql(
      "SELECT dot_product(array(1.5D, -2.0D), array(2.0D, 0.5D)) AS d")
      .collect()(0).getDouble(0)
    assert(viaSql === (1.5 * 2.0 + -2.0 * 0.5))
  }

  test("the suite session is Tables.localSession(4): its settings are " +
    "the ones Bench and Verify run with") {
    val s = SharedSpark.spark
    assert(s.sparkContext.master === "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
  }
}
