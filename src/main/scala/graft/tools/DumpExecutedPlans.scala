package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS_SF01.md: the EXECUTED (post-AQE, isFinalPlan=true)
  * physical plan of every heavy batch gate at bench scale (sf0.1, on
  * the bench session with `SPARK_GRAFT_CPUS` cores). This closes the
  * static-plan/executed-plan gap: `DumpPlans` explains at sf0.01
  * without running, so AQE's runtime broadcast/SMJ choices (made from
  * actual exchange sizes) never appear there — r6's q58 regression hid
  * exactly that way (a fact-derived distinct set that was
  * broadcast-sized at sf0.01 and 10× larger at sf0.1).
  *
  * `runMain graft.tools.DumpExecutedPlans [sfDir] [outFile] [names...]`
  * — names default to every batch gate whose r6 bench median exceeded
  * 2s plus the audit's watch items.
  */
object DumpExecutedPlans {

  /** Batch gates with bench_detail median >2s (streaming gates have no
    * batch plan — their shape of record is PLANS.md's streaming
    * section), plus q59/t38 (the r6 bench watch items). */
  private val defaultHeavy = Seq(
    "q58_blocking_supplier", "s12_label_prop_fixpoint", "d10_kept_corpus",
    "t18_leakage_split", "d16_containment", "d12_cdc_chunks", "q40_rfm",
    "s13_pagerank", "s17_weighted_paths", "s23_hits", "sk5_cms_heavy",
    "d15_keepbest", "s16_bfs_hops", "d5_dedup_clusters", "s10_knn_graph",
    "q34_frequent_pairs", "s8_embed_clusters",
    "q59_idle_rich", "t38_kneser_ney",
    // round-7 additions that crossed (or sit near) the 1s line
    "v25_column_profile", "d21_lsh_tuning", "s33_sq8", "x63_interval_sql",
    // round-7 continued: expression-bound rewrite + new >1s gates
    "x66_band_sql", "d24_contam_run", "t49_linear_classifier",
    // round 8: the as-of rewrite pair (both idioms must show the
    // native exec in the EXECUTED plan) + the new >=1s batch gates
    "x68_asof_sql", "x70_asof_maxby_sql", "x71_asof_strict_sql",
    "x72_asof_tolerance_sql", "t52_bm25", "v28_jdbc_roundtrip",
    // round 8, closing session: the rewritten prefix-filter join (its
    // 178s->6s fix must stay visible at the executed-plan level) and
    // the two new >2s gates
    "d26_prefix_filter", "x74_rrf_fusion", "s35_graph_beam",
    // round 8, continued: the pointer-doubling gate (>2s — its wall is
    // R=⌈log₂ n⌉ checkpointed rounds; the executed plan shows one
    // n-row equi-join per round, never a Θ(n)-step walk)
    "s37_pointer_doubling")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "PLANS_SF01.md"
    val names = if (args.length > 2) args.drop(2).toSeq else defaultHeavy
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.BenchSupport.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS_SF01 — EXECUTED plans of heavy gates at bench scale\n\n")
    sb.append(s"Generated by `graft.tools.DumpExecutedPlans` on `$sfDir`\n")
    sb.append(s"(local[$cpus], $cpus shuffle partitions — the bench session).\n")
    sb.append("Each query was RUN to a noop sink first, so every\n")
    sb.append("`AdaptiveSparkPlan` below is `isFinalPlan=true`: the broadcast\n")
    sb.append("vs sort-merge choices shown are the ones AQE actually made from\n")
    sb.append("runtime exchange sizes at this scale, not static estimates.\n")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(f"\n## $name (executed in $sec%.2f s)\n\n```\n$plan```\n")
      println(f"[plans-sf01] $name%-28s $sec%6.2f s")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
