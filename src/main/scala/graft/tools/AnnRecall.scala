package graft.tools

import org.apache.spark.sql.functions._

/** One-off evidence tool: measure trained-IVF ANN recall against the
  * EXACT brute-force top-k at scale, single-probe vs multi-probe
  * (VERDICT r8 #6 — the recall lift of probing the nprobe nearest
  * k-means cells instead of only the argmax cell, same methodology as
  * the ScaleRecall tool, removed; kept in commit 58ab0d2). The exact
  * side is the broadcast-query top-k — 20 query vectors against the
  * corpus scan, bounded regardless of SF.
  *
  * `sbt "runMain graft.tools.AnnRecall"` — prints recall@k per nprobe.
  * Recorded in SCALE_CHECK_r09.md. */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // k is env-tunable because the SfGen sf1 corpus is 10 key-shifted
    // copies: each query's 9 exact twins saturate any small-k recall
    // (measured 1.0 at k=3 for every index/probe setting) — k beyond
    // the twin count is the non-degenerate measure there.
    val k = sys.env.getOrElse("SPARK_GRAFT_ANN_K", "3").toInt
    val nQueries = 20

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // exact ground truth: brute-force top-k over the whole corpus for
    // the same query set (the s_cosine_topk shape with this k/nQueries)
    val exact = pairs(
      graft.llm.Similarity.sCosineTopk(spark, dir, k, nQueries))

    def recall(got: Set[(Long, Long)]): Double =
      (exact intersect got).size.toDouble / exact.size

    Seq(1, 2, 3).foreach { nprobe =>
      val got = pairs(graft.llm.Similarity.sAnnKmeans(
        spark, dir, k, nQueries, nprobe = nprobe))
      println(s"""{"sf":"$dir","index":"kmeans-ivf","nprobe":$nprobe,""" +
        s""""k":$k,"n_queries":$nQueries,"exact":${exact.size},""" +
        s""""found":${(exact intersect got).size},"recall":${recall(got)}}""")
    }
    // PQ-ADC: recall vs the rerank candidate budget (8-byte codes,
    // 8 subspaces x 8 cells) — the compressed-domain scan's lever
    Seq(8, 16, 32, 64).foreach { nCand =>
      val got = pairs(graft.llm.Similarity.sAnnPq(
        spark, dir, k, nQueries, nCand = nCand))
      println(s"""{"sf":"$dir","index":"pq-adc","n_cand":$nCand,""" +
        s""""k":$k,"n_queries":$nQueries,"exact":${exact.size},""" +
        s""""found":${(exact intersect got).size},"recall":${recall(got)}}""")
    }
    // IVFADC (round 14): the composed index — both levers at once.
    // Residual coding only beats flat PQ when the coarse cells are
    // tight enough that residual variance << raw variance (Jégou §IV:
    // the cell count grows with the corpus) — cells/nprobe/nCand are
    // env-tunable lists so the 200k-vector sweep (VERDICT r14 #2) can
    // measure the √n scaling rule against the small-corpus settings.
    val ivfadcCellsList =
      sys.env.getOrElse("SPARK_GRAFT_IVFADC_CELLS", "8")
        .split(",").toSeq.map(_.trim.toInt)
    val ivfadcProbes = sys.env.getOrElse("SPARK_GRAFT_IVFADC_NPROBE", "1,2,3")
      .split(",").toSeq.map(_.trim.toInt)
    val ivfadcCands = sys.env.getOrElse(
        "SPARK_GRAFT_IVFADC_NCAND", "8,16,32,64")
      .split(",").toSeq.map(_.trim.toInt)
    // Code-quality axes (VERDICT r16 #3): the ADC ranking tail can be
    // closed by a bigger rerank budget (nCand, the scan-side lever) OR
    // by better codes — more subspaces (m: 8-byte vs 16-byte codes)
    // or bigger sub-codebooks (ksub: 3-bit vs 4-bit cells). Sweeping
    // m and ksub beside the nCand ladder answers which axis is the
    // cheaper recall at the same index bytes. dsub derives from the
    // corpus dim (m·dsub must cover the vector).
    val ivfadcMs = sys.env.getOrElse("SPARK_GRAFT_IVFADC_M", "8")
      .split(",").toSeq.map(_.trim.toInt)
    val ivfadcKsubs = sys.env.getOrElse("SPARK_GRAFT_IVFADC_KSUB", "8")
      .split(",").toSeq.map(_.trim.toInt)
    val dim = graft.Tables.embeddings(spark, dir)
      .select(size(col("embedding"))).first.getInt(0)
    for (ivfadcCells <- ivfadcCellsList; m <- ivfadcMs; ksub <- ivfadcKsubs;
         nprobe <- ivfadcProbes; nCand <- ivfadcCands) {
      require(dim % m == 0, s"dim $dim not divisible by m=$m")
      val dsub = dim / m
      val t0 = System.nanoTime()
      val got = pairs(graft.llm.Similarity.sAnnIvfPq(
        spark, dir, k, nQueries, nCells = ivfadcCells, nprobe = nprobe,
        m = m, dsub = dsub, ksub = ksub, nCand = nCand))
      val sec = (System.nanoTime() - t0) / 1e9
      // code_bits: what the codes column costs per vector at this
      // (m, ksub) — the index-bytes side of the tradeoff
      val codeBits = m * (32 - Integer.numberOfLeadingZeros(ksub - 1))
      println(s"""{"sf":"$dir","index":"ivfadc","n_cells":$ivfadcCells,""" +
        s""""m":$m,"ksub":$ksub,"code_bits":$codeBits,""" +
        s""""nprobe":$nprobe,"n_cand":$nCand,"k":$k,""" +
        s""""n_queries":$nQueries,"exact":${exact.size},""" +
        s""""found":${(exact intersect got).size},"recall":${recall(got)},""" +
        // Locale.ROOT: the default-locale f"" renders 1,23 under
        // comma-decimal locales and breaks the JSON line (ADVICE r15)
        s""""wall_sec":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))}}""")
    }
    // ε-boundary replication sweep (VERDICT r15 #6): recall vs
    // index-size under index-side multi-assignment. Off unless the
    // eps list env is set; each (cells, eps) prints the replicated
    // index row count first (replication factor = rows / n), then
    // recall across the probe/cand grid.
    val epsList = sys.env.getOrElse("SPARK_GRAFT_IVFADC_EPS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(_.toDouble)
    for (ivfadcCells <- ivfadcCellsList; eps <- epsList) {
      val rows = graft.llm.Similarity.ivfIndexRows(
        spark, dir, ivfadcCells, assignEps = eps)
      println(s"""{"sf":"$dir","index":"ivfadc-eps","n_cells":$ivfadcCells,""" +
        s""""eps":$eps,"index_rows":$rows}""")
      for (nprobe <- ivfadcProbes; nCand <- ivfadcCands) {
        val got = pairs(graft.llm.Similarity.sAnnIvfPq(
          spark, dir, k, nQueries, nCells = ivfadcCells, nprobe = nprobe,
          nCand = nCand, assignEps = eps))
        println(s"""{"sf":"$dir","index":"ivfadc-eps","n_cells":$ivfadcCells,""" +
          s""""eps":$eps,"nprobe":$nprobe,"n_cand":$nCand,"k":$k,""" +
          s""""n_queries":$nQueries,"exact":${exact.size},""" +
          s""""found":${(exact intersect got).size},"recall":${recall(got)},""" +
          s""""index_rows":$rows}""")
      }
    }
    spark.stop()
  }
}
