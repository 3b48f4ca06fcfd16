package graft.operators

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BinaryComparison, EqualTo, In, IsNotNull, Literal}
import graft.SparkSpec

/** Automated plan-regression gate (VERDICT r4 item 4): PLANS.md pins
  * plans by prose; this suite pins them by assertion, so an edit that
  * silently de-optimizes a plan fails the build instead of waiting for
  * a human diff. Three rules over EVERY gate query's pre-AQE physical
  * plan (planner output is deterministic; AQE can only improve on it):
  *
  *  1. No CartesianProduct / BroadcastNestedLoopJoin — except the
  *     whitelisted queries whose nested-loop join is a deliberate
  *     1-row-or-bounded scalar/codebook broadcast (the "ride a scalar
  *     along" pattern), each with its bound stated.
  *  2. Every parquet/orc scan carrying a pushable attribute predicate
  *     (IsNotNull / comparison / In against a literal) must have
  *     pushed at least one filter into the scan.
  *  3. The dimension-join gates must plan a BroadcastHashJoin — a
  *     size-misestimate regressing one to SortMergeJoin is exactly the
  *     silent 100×-scale cost this gate exists to catch.
  */
class PlanRegressionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** query → max allowed nested-loop joins (CartesianProduct or
    * BroadcastNestedLoopJoin), each justified by a bounded build side. */
  private val nestedLoopWhitelist: Map[String, Int] = Map(
    "s1_topk_brute" -> 1,     // 1-row query vector × corpus
    "s29_mrr" -> 1,           // same shape as s1: bounded query-set
                              // broadcast × candidate stream
    "s31_jl_neighbors" -> 1,  // same shape as s29: bounded query-set
                              // broadcast × candidate stream
    "s7_topk_ivf" -> 1,       // codebook broadcast: 2^bits centroid rows
    "s32_ivfpq" -> 1,         // same coarse-probe broadcast as s7
    "sk2_hll_union" -> 1,     // 1-row global HLL-merge aggregate
    "t14_temperature_mix" -> 1, // per-source rate table: #sources rows
    "t16_pmi_bigrams" -> 2,   // two 1-row corpus-total aggregates
    "t19_df_score" -> 1,      // 1-row corpus doc-count aggregate
    "sk4_hll_intersect" -> 4, // 1-row frames: exact-counts × union-est
                              // × per-side pivot (sketch set algebra)
    "sk9_kmv_setops" -> 2,    // 1-row frames: view-sketch × click-sketch
                              // × exact anchors (KMV set algebra)
    "t51_shard_manifest" -> 1, // 1-row corpus-total ride-along (shard div)
    "t57_naive_bayes" -> 3,   // 1-row evidence-budget K scalar (the
                              // counts subtree carrying it appears
                              // twice: once under the class grid, once
                              // under the scoring join) + the class
                              // grid (#langs rows) broadcast
    "q29_equidepth_hist" -> 1, // 1-row corpus-count aggregate (bucket div)
    "s15_ann_recall" -> 2,    // composes s1 + s7, inherits their two
                              // whitelisted bounded broadcasts
    "x17_pit_audit" -> 1,     // 6-row probe-date list broadcast into the
                              // non-equi as-of join (eff_from <= probe)
    "x78_bitemporal" -> 1,    // 4-row (valid, known-at) probe grid
                              // broadcast into the two-period stab
    "x11_gapfill" -> 1,       // distinct event_type dim: 5 rows
    "q34_frequent_pairs" -> 1, // 1-row basket-count aggregate (lift denom)
    "x4_skyline" -> 1,        // dominance anti-join over per-customer
                              // aggregates (dimension-sized by design)
    "v15_benford" -> 1,       // 1-row total-count aggregate (ppm denom)
    "s20_modularity" -> 1,    // 1-row edge-count aggregate (2m denom)
    "v16_anomaly_mad" -> 3,   // 1-row median + MAD scalar frames (the
                              // MAD branch re-derives the median tree,
                              // so the 1-row broadcast appears 3×
    "q40_rfm" -> 1,           // 1-row (ref_date, n_cust) aggregate
    "x28_seasonality" -> 1,   // 1-row corpus-total aggregate (ppm denom)
    "x29_rolling_wau" -> 1,   // 1-row (min_day, max_day) bounds aggregate
    "x30_abc_pareto" -> 1,    // 1-row corpus-total aggregate (class cuts)
    "v18_skew_audit" -> 3,    // 1-row (n_keys, max_cnt) stats per key column
    "q41_chi2" -> 1,          // 1-row grand-total aggregate (expected freq)
    "v20_drift_tvd" -> 1,     // 1-row per-epoch totals aggregate (ppm denoms)
    "t32_pps_sample" -> 1,    // 1-row total-weight aggregate (PPS stride)
    "x37_weighted_median" -> 1, // 1-row total-weight aggregate (quantile cuts)
    "v23_pseudonymize" -> 3,  // 1-row audit frames (join counts × distincts)
    "x38_holt_forecast" -> 1, // 1-row empty-input guard anti-join (both
                              // sides ≤1 row: oracle-shape parity)
    "q59_idle_rich" -> 1,     // 1-row positive-balance average aggregate
    "sk6_bloom_fpr" -> 2,     // 1-row member-count + bit-count aggregates
    "d21_lsh_tuning" -> 3,    // 1-row truth-count ride-along, ×3 configs
    "q65_promo_suppliers" -> 1, // 1-row global-volume aggregate
    "t35_concordance" -> 1,   // 1-row argmax target-token ride-along
    "x40_acf" -> 12,          // 1-row (S, n) totals + 1-row den frames,
                              // re-expanded per lag branch pre-execution
                              // (the lazy localCheckpoint collapses them
                              // at run time)
    "q67_important_parts" -> 1, // 1-row regional-total aggregate (share cut)
    "x42_theil_sen" -> 1,     // 1-row empty-input guard anti-join
    "x43_kendall_tau" -> 1,   // 1-row empty-input guard anti-join
    "x45_kaplan_meier" -> 1,  // 1-row observation-edge aggregate
    "x46_ks_test" -> 1,       // 1-row (n_hi, n_lo) totals ride-along
    "sk7_kmv" -> 1,           // 1-row exact-anchor ride-along
    "q70_percentile_cont" -> 1, // 1-row count into the 3-row rank targets
    "x47_changepoint" -> 1,   // 1-row totals ride-along
    "x48_runs_test" -> 1,     // 1-row transition-count ride-along
    "t38_kneser_ney" -> 1,    // 1-row bigram-type-count ride-along
    "t40_burstiness" -> 1,    // 1-row corpus-doc-count ride-along
    "t41_mixture_apportion" -> 3, // 1-row totals + leftover ride-alongs
                              // (totals re-expands inside the leftover
                              // branch pre-execution, like x40's)
    "x56_robust_mean" -> 1,   // 1-row total-count ride-along (rank cuts)
    "s33_sq8" -> 2,           // 5-row query-set broadcast × candidate
                              // stream (s1's shape): SQ scoring pass +
                              // exact rerank pass
    "v25_column_profile" -> 1, // 1-row distincts × 1-row min/max frames
                              // (the HashAggregate/SortAggregate plan
                              // split — see the gate's comment)
    "x74_rrf_fusion" -> 1,    // 1-row query-vector ride-along (dense arm)
    "s35_graph_beam" -> 9,    // the SAME 1-row query-vector broadcast,
                              // re-expanded pre-execution across the 3
                              // unrolled beam rounds + final/exact
                              // branches (x40's re-expansion pattern —
                              // each instance is the one bounded scalar)
    "s36_nprobe_sweep" -> 5)  // s1's query broadcast + 3× s7's codebook
                              // broadcast (2^bits rows) + the 3-row
                              // sweep-axis ride-along

  /** Queries that MUST broadcast their dimension join. */
  private val mustBroadcast = Seq(
    "q3_join_broadcast", // nation/region dims vs customer
    "v5_pa_route",       // opco routing dim
    "d7_contamination",  // eval-set fingerprints vs corpus
    "t19_df_score")      // vocabulary DF table vs token stream

  // Building a gate DF executes any driver-side bounded collects the
  // query performs (streaming drains, IVF training, BPE rounds) — this
  // lazy map is the suite's one expensive step, shared by all tests.
  private lazy val plans: Map[String, SparkPlan] =
    graft.SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.sparkPlan
    }

  // QueryPlan-generic: at the `sparkPlan` (pre-execution) stage scalar
  // subqueries still hold LOGICAL plans (PlanSubqueries runs later), so
  // a SparkPlan-typed recursion ClassCastExceptions on them (q49).
  private def countNodes(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_],
      names: String*): Int =
    p.collect {
      case n: org.apache.spark.sql.catalyst.trees.TreeNode[_]
          if names.contains(n.nodeName) => n
    }.size +
      p.subqueries.collect {
        case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
          countNodes(q, names: _*)
      }.sum

  test("no unintended cartesian or nested-loop joins anywhere in the gate") {
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      val n = countNodes(p, "CartesianProduct", "BroadcastNestedLoopJoin")
      val allowed = nestedLoopWhitelist.getOrElse(name, 0)
      if (n > allowed) Some(s"$name: $n nested-loop joins (allowed $allowed)") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  private def pushableOn(scan: FileSourceScanExec): Boolean = {
    val outs = scan.output.map(_.exprId).toSet
    def isScanAttr(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case a: AttributeReference => outs.contains(a.exprId)
        case _ => false
      }
    scan.dataFilters.exists {
      case IsNotNull(a) => isScanAttr(a)
      case b: BinaryComparison =>
        (isScanAttr(b.left) && b.right.isInstanceOf[Literal]) ||
          (isScanAttr(b.right) && b.left.isInstanceOf[Literal])
      case In(a, vs) => isScanAttr(a) && vs.forall(_.isInstanceOf[Literal])
      case _ => false
    }
  }

  test("every scan with a pushable predicate actually pushed a filter down") {
    def scans(p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => f } ++
        p.subqueries.collect {
          case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] => scans(q)
        }.flatten
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      scans(p).filter(s => pushableOn(s) &&
          s.metadata.get("PushedFilters").forall(_ == "[]"))
        .map(s => s"$name: pushable predicate not pushed at ${s.nodeName} " +
          s"(DataFilters=${s.dataFilters.mkString(",")})")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("dimension-join gates plan a BroadcastHashJoin") {
    val offenders = mustBroadcast.flatMap { name =>
      if (countNodes(plans(name), "BroadcastHashJoin") == 0)
        Some(s"$name: no BroadcastHashJoin in plan") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** VERDICT r5 item 5: an unpartitioned window funnels its whole input
    * through ONE task — the classic silent scale-killer
    * (`row_number().over(Window.orderBy(...))` on a fact table). The
    * library's sanctioned escape is [[RelationalQueries.globalRank]] /
    * [[RelationalQueries.globalPrefixSum]], whose only unpartitioned
    * window runs over the per-partition OFFSET table — one row per
    * shuffle partition, O(32) here, O(#partitions) on any cluster —
    * ordered by the synthetic `_pid` column. That ordering attribute is
    * the structural fingerprint: assert every unpartitioned window in
    * every gate plan (including subqueries, where they are still
    * logical) orders by `_pid` alone, so a future gate cannot ship a
    * data-cardinality single-reducer window. */
  private def unpartitionedWindows(
      p: org.apache.spark.sql.catalyst.plans.QueryPlan[_]): Seq[String] = {
    val here = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w.orderSpec
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w.orderSpec
    }.collect {
      case os if !(os.nonEmpty && os.flatMap(_.references.toSeq)
          .forall(_.name == "_pid")) =>
        s"unpartitioned window ordered by [${os.mkString(", ")}]"
    }
    here ++ p.subqueries.collect {
      case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
        unpartitionedWindows(q)
    }.flatten
  }

  /** Gates allowed N unpartitioned windows over a BOUNDED (not
    * data-cardinality) frame: each runs over the per-DAY series, whose
    * cardinality is the observation window (~730 rows at any corpus
    * scale) — the volume was already absorbed by a map-side-combined
    * daily aggregate, so the single task sees days, not events. */
  private val boundedWindowWhitelist: Map[String, Int] = Map(
    "q35_running_distinct" -> 1, // running-distinct walk of the day series
    "q48_rolling_ols" -> 3,      // rolling Σx/Σy/Σxy frames over days
    "v16_anomaly_mad" -> 6,      // median + MAD rank picks over day counts
                                 // (3 ranked branches × rank/count pair)
    "x41_stl" -> 2,              // trend + seasonal smoothing over days
    "t41_mixture_apportion" -> 1, // remainder rank over #sources rows
    "x74_rrf_fusion" -> 2,       // rank assignment AFTER limit(50): both
                                 // arms' windows see ≤50 rows by
                                 // construction (TakeOrderedAndProject
                                 // feeds them), never the corpus
    "s35_graph_beam" -> 1,       // final-beam rank over ≤8 rows (the
                                 // beam width), post-limit like x74's
    "d26_prefix_filter" -> 4)    // dense-token-id rank over the
                                 // VOCABULARY-sized df table (31 rows;
                                 // dimension cardinality at any scale).
                                 // The bitset-verify rewrite references
                                 // the `ordered` subtree four times
                                 // (prefix join a/b + verify joins a/b),
                                 // so the ONE vocab window appears 4×
                                 // in the logical tree; execution
                                 // dedups via ReuseExchange and each
                                 // instance still sees only the vocab.

  test("q69 keeps the rank-filter pushdown (WindowGroupLimit)") {
    // InferWindowGroupLimit turns `row_number() <= k` into a per-group
    // top-k BEFORE the window's shuffle — the exchange carries k rows
    // per key instead of the whole fact table. Losing this node is a
    // silent 100×-scale regression, so its presence is pinned.
    assert(countNodes(plans("q69_topk_per_group"), "WindowGroupLimit") >= 1,
      "q69_topk_per_group: no WindowGroupLimit in plan")
  }

  test("the SQL interval gates keep the native sweep (auto-rewrite pin)") {
    // x63 (BETWEEN), x66 (expression band bounds), x67 (strict bounds
    // normalized) all reach IntervalJoinExec/BroadcastIntervalJoinExec
    // only through IntervalJoinAutoRewrite — a classifier regression
    // silently re-plans them as SMJ + residual (per-key pair blowup),
    // so the node's presence is pinned per written shape.
    Seq("x63_interval_sql", "x66_band_sql", "x67_strict_attr_sql",
        "x69_strict_ts_sql") // r8: strict TIMESTAMP bounds (MicrosView)
      .foreach { name =>
        val n = countNodes(plans(name), "IntervalJoin",
          "BroadcastIntervalJoin")
        assert(n >= 1, s"$name: no native interval-join node in plan")
      }
  }

  test("the SQL as-of gate keeps the native operator (auto-rewrite pin)") {
    // x68 reaches AsOfJoinExec/BroadcastAsOfJoinExec only through
    // AsOfJoinAutoRewrite — a classifier (or uniqueness-proof)
    // regression silently re-plans the idiom as SMJ + residual +
    // window (per-key pair blowup through two buffers), so the node's
    // presence is pinned.
    val n = countNodes(plans("x68_asof_sql"), "AsOfJoin", "BroadcastAsOfJoin")
    assert(n >= 1, "x68_asof_sql: no native as-of node in plan")
    // ...and the AGGREGATE spelling (max_by/min_by over the join,
    // AsOfAggregateRewrite) — same failure mode, same pin
    val m = countNodes(plans("x70_asof_maxby_sql"),
      "AsOfJoin", "BroadcastAsOfJoin")
    assert(m >= 1, "x70_asof_maxby_sql: no native as-of node in plan")
    // ...and the strict-TIMESTAMP form (MicrosView normalization)
    val s = countNodes(plans("x71_asof_strict_sql"),
      "AsOfJoin", "BroadcastAsOfJoin")
    assert(s >= 1, "x71_asof_strict_sql: no native as-of node in plan")
    // ...and the tolerance pair (two bounds -> toleranceMicros)
    val t = countNodes(plans("x72_asof_tolerance_sql"),
      "AsOfJoin", "BroadcastAsOfJoin")
    assert(t >= 1, "x72_asof_tolerance_sql: no native as-of node in plan")
  }

  test("x77 keeps the aggregate pushed below the join") {
    // AggregatePushThroughJoin is result-invisible (the pushed partial
    // computes the same groups), so only this pin catches the rule
    // silently not firing — a regression re-plans x77 to shuffle every
    // fact row through the join before aggregating. Pushed shape: TWO
    // aggregates under the join (the dim build + the pushed fact
    // partial); the plain plan has one (the dim build).
    val aggsUnderJoin = plans("x77_eager_agg").collect {
      case p if p.nodeName.contains("Join") =>
        p.children.map(_.collect {
          case h if h.nodeName.contains("HashAggregate") ||
            h.nodeName.contains("SortAggregate") ||
            h.nodeName.contains("ObjectHashAggregate") => h
        }.size).sum
    }.maxOption.getOrElse(0)
    assert(aggsUnderJoin >= 2,
      s"x77_eager_agg: fact aggregate not pushed below the join " +
        s"($aggsUnderJoin aggregate nodes under the join)")
  }

  test("x76 keeps the self-join eliminated") {
    // SelfJoinElimination is result-INVISIBLE by construction (the
    // whole point is that the single copy computes the same rows), so
    // the oracle can never catch the rule silently not firing — only
    // this pin can. A regression re-plans the gate as two full
    // aggregates plus a join exchange.
    val joins = plans("x76_selfjoin_elim").collect {
      case p if p.nodeName.contains("Join") => p
    }
    assert(joins.isEmpty,
      s"x76_selfjoin_elim: self-join not eliminated:\n${joins.mkString("\n")}")
  }

  test("x79 keeps the distinct eliminated above the as-of join") {
    // DistinctElimination is result-INVISIBLE (the dedup removes
    // nothing), so only this pin can catch the rule silently not
    // firing. A regression re-plans the gate with a THIRD aggregate —
    // a full exchange + hash-dedup of the as-of output.
    val p = plans("x79_distinct_elim")
    val aggs = p.collect {
      case h if h.nodeName.contains("HashAggregate") ||
        h.nodeName.contains("SortAggregate") ||
        h.nodeName.contains("ObjectHashAggregate") => h
    }
    // partial+final pairs: 2 logical aggregates (the two input
    // rollups) → at most 4 physical nodes; the distinct would add more
    assert(aggs.size <= 4,
      s"x79_distinct_elim: distinct not eliminated (${aggs.size} " +
        s"aggregate nodes):\n$p")
  }

  test("unpartitioned windows only ever run over the offset table") {
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      val ws = unpartitionedWindows(p)
      val allowed = boundedWindowWhitelist.getOrElse(name, 0)
      if (ws.size > allowed)
        Some(s"$name: ${ws.size} unpartitioned data windows (allowed " +
          s"$allowed): ${ws.mkString("; ")}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("gate outputs carry only driver-hash-stable column types") {
    // The correctness driver hashes Spark's parquet against DuckDB's
    // oracle result with NO casts, so any output column whose DuckDB
    // twin reads back as a different type (DECIMAL(38,0) vs HUGEINT,
    // INT vs BIGINT count) is a hash FAIL even when values match —
    // exactly how q42/t31/x31 shipped red in round 5. Pin the contract:
    // every gate's schema is drawn from the proven-stable set below, so
    // a wide DECIMAL or a narrow INT can never reach a gate's output.
    import org.apache.spark.sql.types._
    // INT and TIMESTAMP_NTZ are in the set because dozens of r5-green
    // gates emit them as parquet PASSTHROUGH columns (nationkey, media
    // metadata) where DuckDB reads the identical physical type. The
    // banned types are the ones that bit us: DECIMAL(38,0) (q42) and
    // anything DuckDB renders differently than Spark writes.
    val stable: DataType => Boolean = {
      case LongType | DoubleType | StringType | DateType | BooleanType
        | IntegerType => true
      case _: TimestampType | _: TimestampNTZType => true
      case ArrayType(LongType | DoubleType | StringType, _) => true
      case _ => false
    }
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      val bad = p.schema.fields.filterNot(f => stable(f.dataType))
      if (bad.nonEmpty)
        Some(s"$name: ${bad.map(f => s"${f.name}: ${f.dataType.sql}").mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      "driver-hash-unstable output types:\n" + offenders.mkString("\n"))
  }
}
