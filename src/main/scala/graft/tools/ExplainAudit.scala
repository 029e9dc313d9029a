package graft.tools

/** Plan auditor: prints the formatted physical plan of selected headline
  * queries so scan pushdown / join strategies / codegen spans can be
  * reviewed (brief: iterate on .explain until it's the plan you want).
  *
  * Note (ADVICE r9): some audited queries do real DRIVER-SIDE work at
  * plan-construction time — `d_semantic_dedup` trains its k-means
  * quantizer (localCheckpoint + Lloyd collects) and `d_dup_spans`
  * scans for its id shift — so "explain" for those entries runs small
  * jobs, not just analysis. Deliberate: the printed plan embeds the
  * trained constants the production plan would carry. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // session shape overridable so plan dumps can demonstrate
    // width-dependent behavior (r18: the adaptive fanout guard is the
    // identity when the scan is at least shuffle.partitions wide —
    // dump with SPARK_GRAFT_SHUFFLE_PARTITIONS=1 to see it fire)
    val spark = graft.Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(v => spark.conf.set("spark.sql.shuffle.partitions", v))
    val names = if (args.nonEmpty) args.toSeq
      else Seq("p_filter_project", "m_json_extract", "q3_shipping_priority",
        "q5_local_supplier", "s_cosine_topk", "d_minhash_pairs",
        "q19_disjunctive_revenue", "q21_waiting_supplier", "w_rolling_7d",
        "d_prefix_pairs", "d_dup_spans", "d_semantic_dedup",
        "g_retention_cohorts", "g_funnel_steps",
        // round 10 headline additions (t_heavy_hitters builds its CMS
        // at plan construction — small driver jobs, like the k-means
        // entries above)
        "t_heavy_hitters", "d_walk_counts", "w_interval_coverage",
        "s_quantize_int8",
        // round 13: the session-MV consumers — their plans should show
        // a plain parquet scan of the maintained snapshot feeding the
        // analytic, not the full re-derivation (first call builds the
        // snapshot as a side effect, like the k-means entries above)
        "g_pagerank", "d_dup_groups", "near_skew_gold",
        // round 14: the salted pair build (block-key shuffle join, no
        // broadcast), DSIR (one wide shuffle + broadcast model rejoin +
        // TakeOrdered), prototype pruning (scan + per-cell window)
        "g_cooccur_salted", "t_dsir_weights", "s_prune_prototypes")
    names.foreach { n =>
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
