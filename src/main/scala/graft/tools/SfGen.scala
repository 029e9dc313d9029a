package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Self-generated >gate-scale corpus (VERDICT r8 #8): union N
  * key-shifted copies of an existing testdata directory into a larger
  * one with the same schema, distributions, and referential structure
  * (foreign keys shift by the same offset as their primary keys, so
  * per-order line counts, per-customer order counts, per-copy near-dup
  * structure etc. are preserved; dimension tables stay as-is). Document
  * and embedding copies are textual duplicates of each other — which is
  * not a flaw but a dedup stress test: every doc gains N−1 exact twins
  * across copies, exercising the pair families at a candidate density
  * the original corpus never reaches.
  *
  * `SPARK_GRAFT_SF_COPIES=10 sbt "runMain graft.tools.SfGen /root/testdata/sf0.1 /tmp/sf1"`
  */
object SfGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val copies = sys.env.getOrElse("SPARK_GRAFT_SF_COPIES", "10").toInt
    val spark = graft.Tables.localSession(32)
    new java.io.File(dst).mkdirs()

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def off(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L

    // per-entity offsets, read once from the source
    val oOrd = off(load("orders"), "o_orderkey")
    val oCus = off(load("customer"), "c_custkey")
    val oSup = load("supplier").agg(max(col("s_suppkey"))).collect()(0)
      .getLong(0) + 1L
    val oPar = off(load("part"), "p_partkey")
    val oEvt = off(load("events"), "event_id")
    val oUsr = off(load("events"), "user_id")
    val oDoc = off(load("documents"), "doc_id")
    val oVec = off(load("embeddings"), "vec_id")

    // the driver's layout is ONE parquet FILE per table (what
    // tools/check.py's DuckDB read_parquet expects), so write via a
    // scratch dir and move the single part file into place
    def writeSingleFile(df: DataFrame, t: String): Unit = {
      val scratch = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = new java.io.File(s"$dst/$t.parquet")
      graft.sink.ParquetSink.delete(target)
      require(part.renameTo(target), s"rename failed for $t")
      graft.sink.ParquetSink.delete(new java.io.File(scratch))
    }

    /** Union `copies` copies of `df`, shifting each named long column by
      * copy_index * its offset. Column types are preserved. */
    def replicate(t: String, shifts: (String, Long)*): Unit = {
      val df = load(t)
      val out = (0 until copies).map { i =>
        shifts.foldLeft(df) { case (acc, (c, o)) =>
          acc.withColumn(c, (col(c) + lit(i * o)).cast(df.schema(c).dataType))
        }
      }.reduce(_ unionByName _)
      writeSingleFile(out, t)
      println(s"$t: ${load(t).count()} -> ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def copyAsIs(t: String): Unit = {
      writeSingleFile(load(t), t)
      println(s"$t: dimension copied as-is")
    }

    // SPARK_GRAFT_SF_TABLES=embeddings,documents restricts the output
    // to the named tables (round 17: the 200k ANN sweep corpus only
    // needs embeddings — regenerating 60M lineitem rows for it is
    // wasted wall time). Default: all tables.
    val only: String => Boolean =
      sys.env.get("SPARK_GRAFT_SF_TABLES") match {
        case Some(ts) => ts.split(",").map(_.trim).toSet
        case None     => _ => true
      }
    def ifWanted(t: String)(body: => Unit): Unit = if (only(t)) body

    ifWanted("region")(copyAsIs("region"))
    ifWanted("nation")(copyAsIs("nation"))
    ifWanted("customer")(replicate("customer", "c_custkey" -> oCus))
    ifWanted("supplier")(replicate("supplier", "s_suppkey" -> oSup))
    ifWanted("part")(replicate("part", "p_partkey" -> oPar))
    ifWanted("orders")(
      replicate("orders", "o_orderkey" -> oOrd, "o_custkey" -> oCus))
    ifWanted("lineitem")(
      replicate("lineitem", "l_orderkey" -> oOrd, "l_partkey" -> oPar,
        "l_suppkey" -> oSup))
    ifWanted("events")(
      replicate("events", "event_id" -> oEvt, "user_id" -> oUsr))
    ifWanted("documents")(replicate("documents", "doc_id" -> oDoc))
    // SPARK_GRAFT_SF_PERTURB=1 (VERDICT r12 #6): exact-copy embedding
    // twins SATURATE small-k ANN recall by construction (each query's
    // 9 twins are cosine-1 neighbors, so every index finds them and
    // recall reads 1.0 — a degenerate benchmark). Perturbed mode adds
    // DETERMINISTIC per-(copy, vector, dimension) noise to copies > 0:
    // component delta = (xxhash64(vec_id, i, copy) mod 1000 − 500)·1e-4
    // (≤ ±0.05 per dim — copies become near-dups at cosine ≈ 0.998,
    // near the top of the ranking but no longer tied), leaving copy 0
    // bit-identical so the original corpus stays embedded. Hash noise,
    // not rand(): reruns regenerate the same corpus bit-for-bit.
    val perturb = sys.env.getOrElse("SPARK_GRAFT_SF_PERTURB", "0") == "1"
    if (!only("embeddings")) ()
    else if (!perturb) replicate("embeddings", "vec_id" -> oVec)
    else {
      val df = load("embeddings")
      val out = (0 until copies).map { i =>
        val shifted = df.withColumn("vec_id",
          (col("vec_id") + lit(i * oVec)).cast(df.schema("vec_id").dataType))
        if (i == 0) shifted
        else shifted.withColumn("embedding", expr(
          s"""transform(embedding, (x, i) ->
             |  CAST(x + (pmod(xxhash64(vec_id, i, $i), 1000) - 500)
             |    * CAST(1e-4 AS DOUBLE) AS FLOAT))""".stripMargin))
      }.reduce(_ unionByName _)
      writeSingleFile(out, "embeddings")
      println(s"embeddings: perturbed x$copies (copy 0 exact)")
    }
    spark.stop()
  }
}
