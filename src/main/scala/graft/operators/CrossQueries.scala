package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.similarity.Similarity

/** Cross-table pipeline queries: the shapes a training-data curation job
  * actually runs — text signals joined to embedding signals, and
  * event-sequence analytics.
  */
object CrossQueries {

  // ---------------------------------------------------------------------
  // x1_docs_embeddings — join the text table to its embedding table
  // (doc_id == vec_id) and aggregate quality × geometry per language:
  // the "curation dashboard" query. Both sides map-side; one small agg.
  def x1(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("toks"))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        Similarity.dotScaled(
          Similarity.scaled(col("embedding")), Similarity.scaled(col("embedding"))).as("nrm"),
        Similarity.signBucket(col("embedding"), 3).as("bucket"))
    docs.join(vecs, col("doc_id") === col("vec_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("toks")).as("sum_tokens"),
        sum(col("nrm")).as("sum_nrm"),
        countDistinct(col("bucket")).as("n_buckets"))
      .orderBy(col("lang"))
  }

  private val x1Sql =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv,
      |    (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END)
      |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
      |    + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |n AS (SELECT vec_id, bucket,
      |        list_aggregate(list_transform(sv, x -> x * x), 'sum') AS nrm FROM v)
      |SELECT lang, COUNT(*) AS n,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(nrm) AS BIGINT) AS sum_nrm,
      |  COUNT(DISTINCT bucket) AS n_buckets
      |FROM documents JOIN n ON doc_id = vec_id
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // x2_funnel — ordered event-sequence detection (view → click →
  // purchase) via conditional min timestamps: one aggregation, no
  // self-joins. Event time in micros (nanos truncate identically).
  def x2(spark: SparkSession, dir: String): DataFrame = {
    val tsu = graft.streaming.Streaming.tsMicros(col("ts"))
    val m = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", tsu)).as("v"),
        min(when(col("event_type") === "click", tsu)).as("c"),
        min(when(col("event_type") === "purchase", tsu)).as("p"),
        count(lit(1)).as("n_events"))
    m.select(
        col("user_id"), col("n_events"),
        (col("v") < col("c") && col("c") < col("p")).as("converted"))
      .filter(col("converted"))
      .select(col("user_id"), col("n_events"))
      .orderBy(col("user_id"))
  }

  private val x2Sql =
    """WITH m AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
      |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY user_id)
      |SELECT user_id, n_events FROM m
      |WHERE v < c AND c < p ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // x3_intersect — set-op completion (§2.7 lists union/except; intersect
  // rounds out the library): high-value customers present in BOTH years.
  def x3(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val y96 = o.filter(year(col("o_orderdate")) === 1996 && col("o_totalprice") > 200000.0)
      .select(col("o_custkey"))
    val y97 = o.filter(year(col("o_orderdate")) === 1997 && col("o_totalprice") > 200000.0)
      .select(col("o_custkey"))
    y96.intersect(y97).orderBy(col("o_custkey"))
  }

  private val x3Sql =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996 AND o_totalprice > 200000.0
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997 AND o_totalprice > 200000.0
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // x4_skyline — Pareto-optimal customers on (total spend, order count):
  // the skyline operator over an aggregated (dimension-sized) input, so
  // the anti-join form is the right plan. Exact decimal spend keeps the
  // dominance comparisons engine-identical.
  def x4(spark: SparkSession, dir: String): DataFrame = {
    val stats = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(RelationalQueries.dsum(col("o_totalprice")).as("spend"),
        count(lit(1)).cast("double").as("n_orders"))
    Skyline.antiJoin(stats, Seq("spend", "n_orders"))
      .orderBy(col("o_custkey"))
  }

  private val x4Sql =
    """WITH stats AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS spend,
      |    CAST(COUNT(*) AS DOUBLE) AS n_orders
      |  FROM orders GROUP BY o_custkey)
      |SELECT * FROM stats x
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM stats y
      |  WHERE y.spend >= x.spend AND y.n_orders >= x.n_orders
      |    AND (y.spend > x.spend OR y.n_orders > x.n_orders))
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // x5_asof_attribution — AS-OF semantics composed from ordered windows
  // (no custom operator needed when both sides share a partition key):
  // each purchase attributes to the user's most recent PRECEDING view;
  // output is the attribution-gap histogram in minutes. A running max
  // over the event-time-ordered window is the single-pass as-of form —
  // no self-join, no range join, one sort per user partition.
  def x5(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("tsu"))).over(w))
    e.filter(col("event_type") === "purchase")
      .withColumn("gap_min",
        when(col("last_view").isNull, lit(-1L))
          .otherwise(least(floor((col("tsu") - col("last_view")) / 60000000L).cast("long"), lit(60L))))
      .groupBy(col("gap_min"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("gap_min"))
  }

  private val x5Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
      |    max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view
      |  FROM events)
      |SELECT CASE WHEN last_view IS NULL THEN -1
      |            ELSE least(CAST(floor((tsu - last_view) / 60000000) AS BIGINT), 60) END AS gap_min,
      |  COUNT(*) AS n
      |FROM e WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------------
  // x54_asof_native — x5's attribution semantics through the NATIVE
  // as-of operator ([[graft.plans.AsOfJoin]]): each click is joined to
  // the user's latest preceding purchase by the custom sort-merge
  // AsOfJoinExec — a custom logical node + planner strategy + physical
  // operator, the whole-operator extension path. The oracle is DuckDB's
  // own `ASOF LEFT JOIN`, so the gate pins this engine's operator
  // against ANOTHER engine's native implementation of the same
  // semantics. Plan shape (AsOfJoinSpec-pinned): exactly two
  // ENSURE_REQUIREMENTS hash exchanges — the equi-join lower bound —
  // versus x5's composed form, whose union+window carries BOTH event
  // streams through one tagged exchange. The right side pre-aggregates
  // to unique (user, ts) so the tie-on-equal-time row is well-defined
  // in both engines.
  def x54(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tsu"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
    AsOf.joinBackward(clicks, buys, Seq("user_id"), "tsu", "rtsu")
      .select(
        when(col("v").isNull, lit(-1L))
          .otherwise(least(expr("(tsu - rtsu) div 60000000"), lit(60L)))
          .as("gap_min"),
        col("v"))
      .groupBy(col("gap_min"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(floor(col("v") * 100).cast("long"), lit(0L)))
          .as("cents"))
      .orderBy(col("gap_min"))
  }

  private val x54Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu
      |  FROM events),
      |l AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'click'),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (SELECT l.tsu, r.rtsu, r.v
      |      FROM l ASOF LEFT JOIN r
      |        ON l.user_id = r.user_id AND l.tsu >= r.rtsu)
      |SELECT CASE WHEN v IS NULL THEN -1
      |            ELSE LEAST((tsu - rtsu) // 60000000, 60) END AS gap_min,
      |  COUNT(*) AS n,
      |  CAST(SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0)) AS BIGINT)
      |    AS cents
      |FROM j GROUP BY 1 ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------------
  // x55_asof_forward — the native as-of operator in FORWARD mode with a
  // tolerance: each click joined to the user's NEXT purchase within 2
  // hours (time-to-convert, the attribution question x54's backward
  // mode can't answer). The oracle flips DuckDB's ASOF comparison to
  // `l.tsu <= r.rtsu` (its forward form) and mirrors the tolerance as
  // a post-join null-out — semantics identical to tolerance-in-join
  // because as-of yields at most one candidate per left row. Same
  // two-exchange plan as x54; the forward merge never buffers (the
  // candidate is the un-consumed stream head, shared across left rows).
  def x55(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("tsu"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
    AsOf.joinForward(clicks, buys, Seq("user_id"), "tsu", "rtsu",
        toleranceMicros = Some(7200000000L))
      .select(
        when(col("v").isNull, lit(-1L))
          .otherwise(expr("(rtsu - tsu) div 600000000")).as("lag_10min"),
        col("v"))
      .groupBy(col("lag_10min"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(floor(col("v") * 100).cast("long"), lit(0L)))
          .as("cents"))
      .orderBy(col("lag_10min"))
  }

  private val x55Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu
      |  FROM events),
      |l AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'click'),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j0 AS (SELECT l.tsu, r.rtsu, r.v
      |       FROM l ASOF LEFT JOIN r
      |         ON l.user_id = r.user_id AND l.tsu <= r.rtsu),
      |j AS (SELECT tsu,
      |        CASE WHEN rtsu - tsu <= 7200000000 THEN rtsu END AS rtsu,
      |        CASE WHEN rtsu - tsu <= 7200000000 THEN v END AS v
      |      FROM j0)
      |SELECT CASE WHEN v IS NULL THEN -1
      |            ELSE (rtsu - tsu) // 600000000 END AS lag_10min,
      |  COUNT(*) AS n,
      |  CAST(SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0)) AS BIGINT)
      |    AS cents
      |FROM j GROUP BY 1 ORDER BY lag_10min""".stripMargin

  // ---------------------------------------------------------------------
  // x57_cohort_ltv — cumulative lifetime value per acquisition cohort:
  // x18's retention triangle with MONEY — for each (first-order month,
  // months-since) cell, the running total of cohort revenue per cohort
  // customer, in exact integer cents. Scale shape: revenue collapses
  // map-side to (customer, month); the cohort month is one more
  // customer-keyed aggregate reusing that shuffle's partitioning; the
  // cumulative window partitions by cohort over ≤ #months rows (never
  // unpartitioned); cohort sizes ride a #months-row broadcast. The
  // fact table is read once and every later frame is month- or
  // customer-bounded.
  def x57(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey"), col("mkey"))
      .agg(sum(col("cents")).as("cents"))
    val cohort = rev.groupBy(col("o_custkey")).agg(min(col("mkey")).as("cm"))
    val sized = broadcast(cohort.groupBy(col("cm"))
      .agg(count(lit(1)).as("cohort_cust")))
    val aged = rev.join(cohort, Seq("o_custkey"))
      .groupBy(col("cm"), (col("mkey") - col("cm")).as("age"))
      .agg(sum(col("cents")).as("mcents"))
    val w = Window.partitionBy(col("cm")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    aged.withColumn("cum_cents", sum(col("mcents")).over(w))
      .join(sized, Seq("cm"))
      .select(col("cm").as("cohort_month"), col("age"),
        col("cohort_cust"), col("cum_cents"),
        expr("cum_cents div cohort_cust").as("ltv_cents_per_cust"))
      .orderBy(col("cohort_month"), col("age"))
  }

  private val x57Sql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |      AS mkey,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2),
      |cohort AS (SELECT o_custkey, MIN(mkey) AS cm FROM rev GROUP BY 1),
      |sized AS (SELECT cm, COUNT(*) AS cohort_cust FROM cohort GROUP BY 1),
      |aged AS (
      |  SELECT c.cm, r.mkey - c.cm AS age,
      |    CAST(SUM(r.cents) AS BIGINT) AS mcents
      |  FROM rev r JOIN cohort c USING (o_custkey) GROUP BY 1, 2),
      |cum AS (
      |  SELECT cm, age,
      |    CAST(SUM(mcents) OVER (PARTITION BY cm ORDER BY age
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |  FROM aged)
      |SELECT cum.cm AS cohort_month, cum.age, s.cohort_cust,
      |  cum.cum_cents, cum.cum_cents // s.cohort_cust AS ltv_cents_per_cust
      |FROM cum JOIN sized s USING (cm)
      |ORDER BY cohort_month, age""".stripMargin

  // ---------------------------------------------------------------------
  // x6_range_join — point-in-interval join via bin equi-keys
  // ([[graft.joins.RangeJoin]]): customers whose balance falls in a
  // supplier's [acctbal, acctbal+500] band. The oracle is the plain
  // inequality join DuckDB can afford at oracle scale; Spark runs the
  // binned HASH-join plan (a raw BETWEEN join would plan
  // BroadcastNestedLoopJoin — O(|P|·|R|)).
  def x6(spark: SparkSession, dir: String): DataFrame = {
    val ranges = Tables.supplier(spark, dir).select(
      col("s_suppkey"), col("s_acctbal").as("lo"),
      (col("s_acctbal") + lit(500.0)).as("hi"))
    val points = Tables.customer(spark, dir).select(col("c_custkey"), col("c_acctbal"))
    graft.joins.RangeJoin
      .pointInRange(points, ranges, "c_acctbal", "lo", "hi", binWidth = 500.0)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_cust"),
        RelationalQueries.dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("s_suppkey"))
  }

  private val x6Sql =
    """SELECT s_suppkey, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM supplier JOIN customer
      |  ON c_acctbal >= s_acctbal AND c_acctbal <= s_acctbal + 500.0
      |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // x60_interval_native — x6's point-in-interval semantics through the
  // NEW native sort-merge interval join ([[graft.plans.IntervalJoin]],
  // the as-of operator's sibling): views landing inside each purchase's
  // trailing 2-hour attribution window, per user. The native operator
  // plans EXACTLY two hash exchanges (the equi-join lower bound; spec-
  // pinned) and sweeps each partition once with an active-open-interval
  // buffer — no BETWEEN residual filter over the full per-key cross
  // product (Spark's default plan for this join), no binned explode
  // (x6's rewrite), no width parameter to tune. The oracle is the plain
  // inequality join DuckDB can afford at oracle scale.
  def x60(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_type"))
    val views = ev.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"), col("tsu"))
    val windows = ev.filter(col("event_type") === lit("purchase"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("tsu") - lit(7200000000L)).as("lo"), col("tsu").as("hi"))
    Interval.join(views, windows, Seq("user_id"), "tsu", "lo", "hi")
      .select(col("user_id"), col("purchase_id"), col("view_id"))
      .orderBy(col("user_id"), col("purchase_id"), col("view_id"))
  }

  private val x60Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |v AS (SELECT user_id, event_id AS view_id, tsu
      |      FROM e WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id,
      |        tsu - 7200000000 AS lo, tsu AS hi
      |      FROM e WHERE event_type = 'purchase')
      |SELECT v.user_id AS user_id, p.purchase_id, v.view_id
      |FROM v JOIN p ON v.user_id = p.user_id AND v.tsu BETWEEN p.lo AND p.hi
      |ORDER BY v.user_id, purchase_id, view_id""".stripMargin

  // ---------------------------------------------------------------------
  // x7_scd2_history — gaps-and-islands change collapse (the SCD2 build
  // step of a dimension-history pipeline): per customer, collapse runs
  // of consecutive equal order status into [eff_from, eff_to] intervals
  // with a current-run flag. One shuffle on the partition key serves
  // both window passes and the aggregate (same partitioning); the
  // change flag is a null-safe lag compare, the island id a running
  // sum — the standard distributed change-data-capture shape, no
  // self-join. Money totals go through the DECIMAL(18,4) sum so the
  // hash gate is order-independent.
  /** The SCD2 gaps-and-islands collapse shared by x7 (full rebuild) and
    * x9 (incremental merge) — ONE definition so the merge's "equals the
    * rebuild" contract can never desynchronize. Money sums stay
    * DECIMAL(18,4) (x9 adds them across the era boundary exactly; x7
    * casts at the end). Edge conventions, chosen to keep the island
    * arithmetic sound and both engines aligned:
    *  - rows with a NULL effective date are excluded (Spark sorts nulls
    *    FIRST in an ASC window, DuckDB LAST — a null date has no
    *    well-defined place in a cross-engine-deterministic history);
    *  - the change flag is row-1-aware (`lag(o_orderkey) IS NULL` — the
    *    key is non-null, so a null previous KEY means "no previous
    *    row", which `lag(status) <=> status` alone cannot distinguish
    *    from a genuine NULL status): islands always number from 1, even
    *    when a customer's first status is NULL. */
  private def scd2Islands(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    orders
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), col("o_totalprice"))
      .withColumn("chg",
        when(lag(col("o_orderkey"), 1).over(w).isNull ||
          !(lag(col("o_orderstatus"), 1).over(w) <=> col("o_orderstatus")), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("chg")).over(run))
      .groupBy(col("o_custkey"), col("island"), col("o_orderstatus").as("status"))
      .agg(
        min(col("o_orderdate")).as("eff_from"),
        max(col("o_orderdate")).as("eff_to"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("sum_dec"))
  }

  def x7(spark: SparkSession, dir: String): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
    scd2Islands(Tables.orders(spark, dir))
      .withColumn("is_current", col("island") === max(col("island")).over(wc))
      .select(col("o_custkey"), col("island").as("run_idx"), col("status"),
        col("eff_from"), col("eff_to"), col("n_orders"),
        col("sum_dec").cast("double").as("sum_total"), col("is_current"))
      .orderBy(col("o_custkey"), col("run_idx"))
  }

  private val x7Sql =
    """WITH w AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus, o_totalprice,
      |    CASE WHEN lag(o_orderkey) OVER ord IS NULL
      |           OR lag(o_orderstatus) OVER ord IS DISTINCT FROM o_orderstatus
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders WHERE o_orderdate IS NOT NULL
      |  WINDOW ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (
      |  SELECT *, SUM(chg) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM w),
      |g AS (
      |  SELECT o_custkey, island, o_orderstatus AS status,
      |    min(o_orderdate) AS eff_from, max(o_orderdate) AS eff_to,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
      |  FROM i GROUP BY 1, 2, 3)
      |SELECT o_custkey, CAST(island AS BIGINT) AS run_idx, status,
      |  eff_from, eff_to, n_orders, sum_total,
      |  island = MAX(island) OVER (PARTITION BY o_custkey) AS is_current
      |FROM g ORDER BY o_custkey, run_idx""".stripMargin

  // ---------------------------------------------------------------------
  // x62_window_funnel — the ORDERED funnel with a per-step time window
  // (ClickHouse's windowFunnel): a user reaches level k iff there is a
  // view → click → purchase chain with each consecutive gap strictly
  // positive and ≤ 1h — unlike x2's unordered conditional-mins, the
  // chain constraint is per-PAIR, so "max level reached" is a genuine
  // sequential property. Spark runs it as the secondary-sort fold
  // (x59's shape — zero per-key buffering) with an O(levels) DP: for
  // each level keep the LATEST TWO distinct achieve times; the valid
  // predecessor of an event at time t is the largest achieve time < t
  // (the latest, unless it ties t — the two-candidate trick that makes
  // equal-timestamp shadowing impossible), and if the LATEST valid
  // predecessor is farther back than the window no earlier one can be
  // closer. The oracle states the same semantics as EXISTS chains —
  // any (v, c) / (v, c, p) witness — which the largest-predecessor DP
  // provably decides identically.
  def x62(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = 3600000000L // 1h window per step, in µs
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_id"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .otherwise(3).as("step"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tsu"), col("event_id"))
      .as[(Long, Long, Long, Int)]
      .mapPartitions { it =>
        val NONE = Long.MinValue
        new Iterator[(Long, Long)] {
          private var cur = NONE
          // last(k), prev(k): the two latest DISTINCT achieve times of
          // level k (1-indexed; level 1 = any view)
          private val last = Array.fill(4)(NONE)
          private val prev = Array.fill(4)(NONE)
          private var pending: Option[(Long, Long)] = None
          private def maxLevel: Long = {
            var k = 3
            while (k >= 1 && last(k) == NONE) k -= 1
            k.toLong
          }
          private def reset(): Unit = {
            var k = 1
            while (k <= 3) { last(k) = NONE; prev(k) = NONE; k += 1 }
          }
          private def achieve(k: Int, t: Long): Unit =
            if (t != last(k)) { prev(k) = last(k); last(k) = t }
          private def roll(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (uid, tsu, _, step) = it.next()
              if (uid != cur) {
                if (cur != NONE && last(1) != NONE) pending = Some((cur, maxLevel))
                cur = uid; reset()
              }
              if (step == 1) achieve(1, tsu)
              else {
                // largest achieve time of level step-1 strictly before tsu
                val p = if (last(step - 1) != NONE && last(step - 1) < tsu)
                  last(step - 1) else prev(step - 1)
                if (p != NONE && p < tsu && tsu - p <= T) achieve(step, tsu)
              }
            }
            if (pending.isEmpty && !it.hasNext && cur != NONE) {
              if (last(1) != NONE) pending = Some((cur, maxLevel))
              cur = NONE
            }
          }
          override def hasNext: Boolean = { roll(); pending.nonEmpty }
          override def next(): (Long, Long) = {
            roll(); val r = pending.get; pending = None; r
          }
        }
      }
      .toDF("user_id", "lvl")
      .groupBy(col("lvl"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("lvl"))
  }

  private val x62Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tsu
      |  FROM events WHERE user_id IS NOT NULL),
      |v AS (SELECT user_id, tsu FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, tsu FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, tsu FROM e WHERE event_type = 'purchase'),
      |u1 AS (SELECT DISTINCT user_id FROM v),
      |u2 AS (
      |  SELECT DISTINCT c.user_id FROM c JOIN v ON v.user_id = c.user_id
      |  WHERE c.tsu > v.tsu AND c.tsu - v.tsu <= 3600000000),
      |u3 AS (
      |  SELECT DISTINCT p.user_id
      |  FROM p JOIN c ON c.user_id = p.user_id
      |    JOIN v ON v.user_id = p.user_id
      |  WHERE c.tsu > v.tsu AND c.tsu - v.tsu <= 3600000000
      |    AND p.tsu > c.tsu AND p.tsu - c.tsu <= 3600000000)
      |SELECT CAST(CASE WHEN u3.user_id IS NOT NULL THEN 3
      |                 WHEN u2.user_id IS NOT NULL THEN 2
      |                 ELSE 1 END AS BIGINT) AS lvl,
      |  COUNT(*) AS n_users
      |FROM u1 LEFT JOIN u2 USING (user_id) LEFT JOIN u3 USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // x63_interval_sql — x60's attribution semantics written as PLAIN SQL
  // and re-planned onto the native sweep by the optimizer
  // ([[graft.plans.IntervalJoinAutoRewrite]]): the query text is the
  // `v.user_id = p.user_id AND v.tsu BETWEEN p.lo AND p.hi` join any
  // warehouse user would write; the session rule turns it into
  // IntervalJoinExec (zero API change — the rewrite path
  // `IntervalJoinAutoRewriteSpec` plan-pins), and the extra
  // mixed-side conjunct (`view_id <> purchase_id`, trivially true on
  // disjoint id ranges but structurally a residual) proves non-pattern
  // predicates survive as a post-join filter. Output is per-purchase
  // attributed-view stats, so the gate exercises the restored right
  // key through a downstream aggregate.
  def x63(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_type"))
    ev.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"), col("tsu"))
      .createOrReplaceTempView("graft_x63_views")
    ev.filter(col("event_type") === lit("purchase"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("tsu") - lit(7200000000L)).as("lo"), col("tsu").as("hi"))
      .createOrReplaceTempView("graft_x63_purchases")
    spark.sql(
      """SELECT v.user_id, p.purchase_id,
        |  COUNT(*) AS n_views, MIN(v.view_id) AS first_view
        |FROM graft_x63_views v JOIN graft_x63_purchases p
        |  ON v.user_id = p.user_id
        | AND v.tsu BETWEEN p.lo AND p.hi
        | AND v.view_id <> p.purchase_id
        |GROUP BY v.user_id, p.purchase_id
        |ORDER BY v.user_id, p.purchase_id""".stripMargin)
  }

  private val x63Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |v AS (SELECT user_id, event_id AS view_id, tsu
      |      FROM e WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id,
      |        tsu - 7200000000 AS lo, tsu AS hi
      |      FROM e WHERE event_type = 'purchase')
      |SELECT v.user_id AS user_id, p.purchase_id,
      |  COUNT(*) AS n_views, MIN(v.view_id) AS first_view
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND v.tsu BETWEEN p.lo AND p.hi AND v.view_id <> p.purchase_id
      |GROUP BY v.user_id, p.purchase_id
      |ORDER BY user_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------------
  // x66_band_sql — the plain-SQL BAND join (`c.tsu BETWEEN p.tsu - 30m
  // AND p.tsu + 30m`), re-planned onto the native interval sweep by the
  // EXPRESSION-bound generalization of [[graft.plans
  // .IntervalJoinAutoRewrite]]: unlike x63 the interval side carries NO
  // precomputed lo/hi columns — the bounds are arithmetic over the
  // purchase timestamp, written exactly as a warehouse user writes a
  // proximity join. Semantics: every click within ±30 min of a
  // same-user purchase, aggregated per purchase. Scale shape: without
  // the rewrite Spark plans SMJ-on-user_id with the band as a
  // post-join residual — every (click, purchase) pair of a user
  // materializes (p·c per user); the sweep admits/evicts clicks as
  // purchase windows open and close, O(n + m + matches) with state =
  // max concurrent window overlap per user.
  def x66(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_type"))
    ev.filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_id").as("click_id"), col("tsu"))
      .createOrReplaceTempView("graft_x66_clicks")
    ev.filter(col("event_type") === lit("purchase"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("tsu").as("ptsu"))
      .createOrReplaceTempView("graft_x66_purchases")
    spark.sql(
      """SELECT c.user_id, p.purchase_id,
        |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
        |FROM graft_x66_clicks c JOIN graft_x66_purchases p
        |  ON c.user_id = p.user_id
        | AND c.tsu BETWEEN p.ptsu - 1800000000 AND p.ptsu + 1800000000
        |GROUP BY c.user_id, p.purchase_id
        |ORDER BY c.user_id, p.purchase_id""".stripMargin)
  }

  private val x66Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |c AS (SELECT user_id, event_id AS click_id, tsu
      |      FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, tsu AS ptsu
      |      FROM e WHERE event_type = 'purchase')
      |SELECT c.user_id AS user_id, p.purchase_id,
      |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND c.tsu BETWEEN p.ptsu - 1800000000 AND p.ptsu + 1800000000
      |GROUP BY c.user_id, p.purchase_id
      |ORDER BY user_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------------
  // x67_strict_attr_sql — the STRICT-bound attribution window in plain
  // SQL: clicks STRICTLY after a same-user view, within one hour
  // (`c.tsu > v.tsu AND c.tsu <= v.tsu + 1h` — the funnel-step shape
  // x2 computes with min-aggregates). This is the strict-normalization
  // path of [[graft.plans.IntervalJoinAutoRewrite]] driven end to end:
  // `>` on LONG micros re-plans as `≥ lo + 1` (with the MaxValue→NULL
  // overflow guard), so the half-open band join reaches the native
  // sweep — before the normalization, any strict conjunct pushed the
  // whole join back to SMJ + residual (per-user click×view pairs
  // through the join buffer). Per-view click counts aggregate after.
  def x67(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_type"))
    ev.filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_id").as("click_id"), col("tsu"))
      .createOrReplaceTempView("graft_x67_clicks")
    ev.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("tsu").as("vtsu"))
      .createOrReplaceTempView("graft_x67_views")
    spark.sql(
      """SELECT c.user_id, v.view_id,
        |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
        |FROM graft_x67_clicks c JOIN graft_x67_views v
        |  ON c.user_id = v.user_id
        | AND c.tsu > v.vtsu AND c.tsu <= v.vtsu + 3600000000
        |GROUP BY c.user_id, v.view_id
        |ORDER BY c.user_id, v.view_id""".stripMargin)
  }

  private val x67Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |c AS (SELECT user_id, event_id AS click_id, tsu
      |      FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, event_id AS view_id, tsu AS vtsu
      |      FROM e WHERE event_type = 'view')
      |SELECT c.user_id AS user_id, v.view_id,
      |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
      |FROM c JOIN v ON c.user_id = v.user_id
      |  AND c.tsu > v.vtsu AND c.tsu <= v.vtsu + 3600000000
      |GROUP BY c.user_id, v.view_id
      |ORDER BY user_id, view_id""".stripMargin

  // ---------------------------------------------------------------------
  // x68_asof_sql — x54's attribution semantics written as the PLAIN SQL
  // as-of idiom (equi + time-bound join topped by row_number() = 1 per
  // left row) and re-planned onto the native operator by
  // [[graft.plans.AsOfJoinAutoRewrite]] — the interval family's x63,
  // for the as-of family: zero API change for spark.sql users. The
  // left side pre-aggregates clicks to distinct (user, instant) so the
  // window's PARTITION BY is STRUCTURALLY unique (the rewrite's
  // soundness proof — without it, duplicate left rows would make the
  // idiom and the operator genuinely differ, and the rule correctly
  // falls back). The oracle is DuckDB's own native ASOF LEFT JOIN, so
  // the gate pins the REWRITTEN plan against another engine's native
  // as-of implementation. Plan shape (AsOfJoinAutoRewriteSpec +
  // PlanRegressionSpec-pinned): the quadratic SMJ+window idiom plan is
  // replaced by the two-exchange O(1)-state merge.
  def x68(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    ev.filter(col("event_type") === lit("click"))
      .groupBy(col("user_id"), col("tsu"))
      .agg(count(lit(1)).as("n_at"))
      .createOrReplaceTempView("graft_x68_clicks")
    ev.filter(col("event_type") === lit("purchase"))
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
      .createOrReplaceTempView("graft_x68_buys")
    spark.sql(
      """SELECT CASE WHEN v IS NULL THEN -1L
        |            ELSE least((tsu - rtsu) div 60000000, 60L) END AS gap_min,
        |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
        |  SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0L)) AS cents
        |FROM (
        |  SELECT l.tsu, l.n_at, r.rtsu, r.v,
        |    row_number() OVER (PARTITION BY l.user_id, l.tsu
        |                       ORDER BY r.rtsu DESC) AS rn
        |  FROM graft_x68_clicks l LEFT JOIN graft_x68_buys r
        |    ON l.user_id = r.user_id AND r.rtsu <= l.tsu)
        |WHERE rn = 1
        |GROUP BY 1 ORDER BY gap_min""".stripMargin)
  }

  private val x68Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS tsu FROM events),
      |l AS (SELECT user_id, tsu, COUNT(*) AS n_at
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (SELECT l.tsu, l.n_at, r.rtsu, r.v
      |      FROM l ASOF LEFT JOIN r
      |        ON l.user_id = r.user_id AND l.tsu >= r.rtsu)
      |SELECT CASE WHEN v IS NULL THEN -1
      |            ELSE LEAST((tsu - rtsu) // 60000000, 60) END AS gap_min,
      |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
      |  CAST(SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0)) AS BIGINT)
      |    AS cents
      |FROM j GROUP BY 1 ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------------
  // x70_asof_maxby_sql — x68's attribution semantics in the OTHER
  // textbook SQL spelling: `max_by(payload, r.t)` grouped by the left
  // key, instead of `row_number() = 1` — re-planned onto the same
  // native as-of node by [[graft.plans.AsOfAggregateRewrite]]. Both
  // spellings now execute identically; the quadratic join+aggregate
  // never materializes. The left side pre-aggregates clicks so the
  // GROUP BY is structurally unique (the rewrite's soundness proof);
  // the right side pre-aggregates purchases per (user, instant) so
  // max_by's ordering has no ties and every payload is deterministic.
  // Oracle: DuckDB's native ASOF LEFT JOIN, same as x68 — two engines,
  // two idioms, one result.
  def x70(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    ev.filter(col("event_type") === lit("click"))
      .groupBy(col("user_id"), col("tsu"))
      .agg(count(lit(1)).as("n_at"))
      .createOrReplaceTempView("graft_x70_clicks")
    ev.filter(col("event_type") === lit("purchase"))
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
      .createOrReplaceTempView("graft_x70_buys")
    spark.sql(
      """SELECT CASE WHEN mv IS NULL THEN -1L
        |            ELSE least((tsu - mrt) div 60000000, 60L) END AS gap_min,
        |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
        |  SUM(COALESCE(CAST(floor(mv * 100) AS BIGINT), 0L)) AS cents
        |FROM (
        |  SELECT l.user_id, l.tsu, l.n_at,
        |    max_by(r.rtsu, r.rtsu) AS mrt, max_by(r.v, r.rtsu) AS mv
        |  FROM graft_x70_clicks l LEFT JOIN graft_x70_buys r
        |    ON l.user_id = r.user_id AND r.rtsu <= l.tsu
        |  GROUP BY l.user_id, l.tsu, l.n_at)
        |GROUP BY 1 ORDER BY gap_min""".stripMargin)
  }

  // ---------------------------------------------------------------------
  // x72_asof_tolerance_sql — BOUNDED as-of in plain SQL: the idiom's
  // join carries BOTH the time bound and a lower bound offset by a
  // constant (`r.t <= l.t AND r.t >= l.t − 2h`), which the classifier
  // maps onto the node's native toleranceMicros (pandas merge_asof's
  // `tolerance`; the exec's |lt−rt| ≤ tol is inclusive, exactly the
  // SQL `>=`). Attribution beyond the 2-hour window becomes NULL
  // instead of matching a stale purchase. Oracle: DuckDB has no
  // tolerance ASOF, so it computes the quadratic window idiom
  // literally — the rewritten O(1)-state plan must agree with the
  // brute-force form row for row.
  def x72(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    ev.filter(col("event_type") === lit("click"))
      .groupBy(col("user_id"), col("tsu"))
      .agg(count(lit(1)).as("n_at"))
      .createOrReplaceTempView("graft_x72_clicks")
    ev.filter(col("event_type") === lit("purchase"))
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
      .createOrReplaceTempView("graft_x72_buys")
    spark.sql(
      """SELECT CASE WHEN v IS NULL THEN -1L
        |            ELSE least((tsu - rtsu) div 60000000, 60L) END AS gap_min,
        |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
        |  SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0L)) AS cents
        |FROM (
        |  SELECT l.tsu, l.n_at, r.rtsu, r.v,
        |    row_number() OVER (PARTITION BY l.user_id, l.tsu
        |                       ORDER BY r.rtsu DESC) AS rn
        |  FROM graft_x72_clicks l LEFT JOIN graft_x72_buys r
        |    ON l.user_id = r.user_id AND r.rtsu <= l.tsu
        |       AND r.rtsu >= l.tsu - 7200000000L)
        |WHERE rn = 1
        |GROUP BY 1 ORDER BY gap_min""".stripMargin)
  }

  private val x72Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS tsu FROM events),
      |l AS (SELECT user_id, tsu, COUNT(*) AS n_at
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (SELECT l.tsu, l.n_at, r.rtsu, r.v,
      |        ROW_NUMBER() OVER (PARTITION BY l.user_id, l.tsu
      |                           ORDER BY r.rtsu DESC) AS rn
      |      FROM l LEFT JOIN r
      |        ON l.user_id = r.user_id AND r.rtsu <= l.tsu
      |           AND r.rtsu >= l.tsu - 7200000000)
      |SELECT CASE WHEN v IS NULL THEN -1
      |            ELSE LEAST((tsu - rtsu) // 60000000, 60) END AS gap_min,
      |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
      |  CAST(SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0)) AS BIGINT)
      |    AS cents
      |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------------
  // x71_asof_strict_sql — the as-of idiom with a STRICT bound on real
  // TIMESTAMP columns (`r.rts < l.ets`): the r8 micros-view
  // normalization of [[graft.plans.AsOfJoinAutoRewrite]] end to end.
  // Strictness on timestamps is NOT interval arithmetic — the rewrite
  // reinterprets both sides as their internal epoch-micros longs
  // (zero-cost MicrosView) and applies the −1 there, so "latest
  // purchase strictly before the click" excludes the equal instant
  // exactly. Oracle: DuckDB's native strict ASOF (`ON l.ets > r.rts`)
  // — both engines' native as-of, strict form, must agree.
  def x71(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        timestamp_micros(graft.streaming.Streaming.tsMicros(col("ts"))).as("ets"))
    ev.filter(col("event_type") === lit("click"))
      .groupBy(col("user_id"), col("ets"))
      .agg(count(lit(1)).as("n_at"))
      .createOrReplaceTempView("graft_x71_clicks")
    ev.filter(col("event_type") === lit("purchase"))
      .groupBy(col("user_id"), col("ets").as("rts"))
      .agg(max(col("value")).as("v"))
      .createOrReplaceTempView("graft_x71_buys")
    spark.sql(
      """SELECT CASE WHEN v IS NULL THEN -1L
        |            ELSE least((unix_micros(ets) - unix_micros(rts)) div 60000000, 60L)
        |       END AS gap_min,
        |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
        |  SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0L)) AS cents
        |FROM (
        |  SELECT l.ets, l.n_at, r.rts, r.v,
        |    row_number() OVER (PARTITION BY l.user_id, l.ets
        |                       ORDER BY r.rts DESC) AS rn
        |  FROM graft_x71_clicks l LEFT JOIN graft_x71_buys r
        |    ON l.user_id = r.user_id AND r.rts < l.ets)
        |WHERE rn = 1
        |GROUP BY 1 ORDER BY gap_min""".stripMargin)
  }

  private val x71Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |    make_timestamp(epoch_us(ts)) AS ets FROM events),
      |l AS (SELECT user_id, ets, COUNT(*) AS n_at
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
      |r AS (SELECT user_id, ets AS rts, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |j AS (SELECT l.ets, l.n_at, r.rts, r.v
      |      FROM l ASOF LEFT JOIN r
      |        ON l.user_id = r.user_id AND l.ets > r.rts)
      |SELECT CASE WHEN v IS NULL THEN -1
      |            ELSE LEAST((epoch_us(ets) - epoch_us(rts)) // 60000000, 60)
      |       END AS gap_min,
      |  COUNT(*) AS n, CAST(SUM(n_at) AS BIGINT) AS n_clicks,
      |  CAST(SUM(COALESCE(CAST(floor(v * 100) AS BIGINT), 0)) AS BIGINT)
      |    AS cents
      |FROM j GROUP BY 1 ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------------
  // x69_strict_ts_sql — x67's strict attribution window with
  // TIMESTAMP-typed columns: clicks STRICTLY after a same-user view,
  // within one hour, written as plain SQL over real TIMESTAMPs
  // (`c.cts > v.vts AND c.cts <= v.vts + INTERVAL 1 HOUR`). This
  // drives the r8 strict-TIMESTAMP normalization of
  // [[graft.plans.IntervalJoinAutoRewrite]] end to end: the strict
  // bound re-plans as `≥ micros(vts) + 1` through the zero-cost
  // [[graft.plans.MicrosView]] reinterpret (micros are the type's full
  // precision, so succession on the internal long is exact), and the
  // inclusive upper bound is the surface-level interval arithmetic the
  // analyzer already resolved. Before r8 any strict TIMESTAMP conjunct
  // pushed the whole join back to SMJ + residual. Oracle: DuckDB
  // computes the identical strict window over make_timestamp(micros).
  def x69(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        timestamp_micros(graft.streaming.Streaming.tsMicros(col("ts")))
          .as("cts"),
        col("event_type"))
    ev.filter(col("event_type") === lit("click"))
      .select(col("user_id"), col("event_id").as("click_id"), col("cts"))
      .createOrReplaceTempView("graft_x69_clicks")
    ev.filter(col("event_type") === lit("view"))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("cts").as("vts"))
      .createOrReplaceTempView("graft_x69_views")
    spark.sql(
      """SELECT c.user_id, v.view_id,
        |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
        |FROM graft_x69_clicks c JOIN graft_x69_views v
        |  ON c.user_id = v.user_id
        | AND c.cts > v.vts AND c.cts <= v.vts + INTERVAL 1 HOUR
        |GROUP BY c.user_id, v.view_id
        |ORDER BY c.user_id, v.view_id""".stripMargin)
  }

  private val x69Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, make_timestamp(epoch_us(ts)) AS cts,
      |    event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |c AS (SELECT user_id, event_id AS click_id, cts
      |      FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, event_id AS view_id, cts AS vts
      |      FROM e WHERE event_type = 'view')
      |SELECT c.user_id AS user_id, v.view_id,
      |  COUNT(*) AS n_clicks, MIN(c.click_id) AS first_click
      |FROM c JOIN v ON c.user_id = v.user_id
      |  AND c.cts > v.vts AND c.cts <= v.vts + INTERVAL 1 HOUR
      |GROUP BY c.user_id, v.view_id
      |ORDER BY user_id, view_id""".stripMargin

  // ---------------------------------------------------------------------
  // x61_scd2_effectivity — the SCD2 BACKFILL RE-KEY (the other half of
  // x7: after the dimension history exists, every fact row must be
  // re-keyed to the dimension VERSION whose validity interval contains
  // its date), through the native interval join. Points = orders
  // (custkey, orderdate as epoch-day long); intervals = x7's
  // gaps-and-islands status runs. Most facts land in exactly one era;
  // boundary-day ties (an era closing and the next opening on the same
  // date) genuinely match two — the multiplicity a plain as-of join
  // would silently collapse, and the reason this is the interval
  // operator's fixture. Scale shape: both sides hash-cluster on
  // custkey only (two exchanges), the sweep holds at most a handful of
  // open eras per customer, and no BETWEEN residual ever sees the
  // per-customer cross product.
  def x61(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01")
    val points = Tables.orders(spark, dir)
      .filter(col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), epoch).cast("long").as("day"))
    val runs = scd2Islands(Tables.orders(spark, dir))
      .select(col("o_custkey"), col("island").as("run_idx"), col("status"),
        datediff(col("eff_from"), epoch).cast("long").as("lo"),
        datediff(col("eff_to"), epoch).cast("long").as("hi"))
    Interval.join(points, runs, Seq("o_custkey"), "day", "lo", "hi")
      .select(col("o_orderkey"), col("o_custkey"), col("run_idx"),
        col("status"))
      .orderBy(col("o_orderkey"), col("run_idx"))
  }

  private val x61Sql =
    """WITH w AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    CASE WHEN lag(o_orderkey) OVER ord IS NULL
      |           OR lag(o_orderstatus) OVER ord IS DISTINCT FROM o_orderstatus
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders WHERE o_orderdate IS NOT NULL
      |  WINDOW ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (
      |  SELECT *, SUM(chg) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM w),
      |g AS (
      |  SELECT o_custkey, island, o_orderstatus AS status,
      |    min(o_orderdate) AS eff_from, max(o_orderdate) AS eff_to
      |  FROM i GROUP BY 1, 2, 3),
      |p AS (SELECT o_orderkey, o_custkey, o_orderdate
      |      FROM orders WHERE o_orderdate IS NOT NULL)
      |SELECT p.o_orderkey, p.o_custkey AS o_custkey,
      |  CAST(g.island AS BIGINT) AS run_idx, g.status
      |FROM p JOIN g ON p.o_custkey = g.o_custkey
      |  AND p.o_orderdate BETWEEN g.eff_from AND g.eff_to
      |ORDER BY p.o_orderkey, run_idx""".stripMargin

  // ---------------------------------------------------------------------
  // x8_bloom_join — Bloom-pruned big-to-big join (semi-join reduction):
  // lineitem rows joined to a filtered slice of orders, with a
  // `BloomFilterAggregate` over the build-side keys prefiltering the
  // probe side MAP-SIDE before any shuffle. At gate scale the orders
  // slice could simply broadcast; the Bloom shape is for when the build
  // side outgrows a broadcast but its KEY SET still fits a few MB of
  // bits — then the probe stream drops ~(1 − selectivity) of its rows
  // before the exchange, which at 100 TB is the difference between
  // shuffling the full fact table and shuffling the matching trickle.
  // False positives only let extra rows through; the real join removes
  // them, so the result is exactly the plain join's (= the oracle).
  def x8(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val build = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1998 && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // one-row driver fetch of the serialized filter — bounded by numBits
    // (the same contract as a broadcast variable), not by build rows
    val bloomAgg = new BloomFilterAggregate(
      GraftColumnBridge.expression(col("o_orderkey")), 1000000L)
    val bloom = build
      .select(GraftColumnBridge.column(bloomAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // an empty build side yields a NULL filter; skip the prefilter then
    // (an absent Bloom filter means "no pruning", and the join below
    // still produces the correct — empty — result) rather than feeding
    // BloomFilterMightContain a NullType literal it refuses to analyze
    val probe = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val pruned = if (bloom == null) probe else probe.filter(
      GraftColumnBridge.column(new BloomFilterMightContain(
        GraftColumnBridge.expression(lit(bloom)),
        GraftColumnBridge.expression(col("l_orderkey")))))
    pruned // map-side prune: probe shuffles only survivors
      .join(build, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        RelationalQueries.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val x8Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE year(o_orderdate) = 1998 AND o_totalprice > 150000.0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------
  // x9_scd2_merge — INCREMENTAL SCD2: apply a CDC batch (orders from
  // 1999 on) to an existing dimension history (built from orders through
  // 1998) and produce the merged history. The correctness contract is
  // the strongest one available: the merged result must hash-equal the
  // FULL REBUILD (x7's gaps-and-islands plan over all data — the oracle
  // is x7's SQL verbatim). Merge semantics at the boundary: the open
  // (latest) interval of each customer absorbs the batch's first island
  // iff the status continues unchanged; otherwise the batch opens a new
  // interval; batch islands renumber on top of the old maximum. Interval
  // money totals stay DECIMAL(18,4) until the final projection so the
  // boundary merge adds exactly (double + double would drift from the
  // rebuild's single decimal sum). Every join and window partitions by
  // o_custkey — one shuffle key end to end, and the incremental path
  // touches only the batch plus one open row per active customer, which
  // at 100 TB is the difference between reprocessing seven years of
  // history and reprocessing a day.
  def x9(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val all = Tables.orders(spark, dir)
    // lazy localCheckpoints at the three fan-out points (hist2 ×2,
    // batch ×2, openJ ×2 consumers): without them the gaps-and-islands
    // pipelines re-ran per consumer — 12 scans of orders in the
    // executed plan (r9 finding; these are the incremental-merge job's
    // natural persist points — the history snapshot and the batch).
    val hist = scd2Islands(all.filter(year(col("o_orderdate")) <= 1998))
    val batch = scd2Islands(all.filter(year(col("o_orderdate")) >= 1999))
      .transform(graft.Pins.pinForFanout(_))
    val wc = Window.partitionBy(col("o_custkey"))
    val hist2 = hist.withColumn("old_max", max(col("island")).over(wc))
      .transform(graft.Pins.pinForFanout(_))
    val closedOld = hist2.filter(col("island") < col("old_max"))
      .select(col("o_custkey"), col("island").as("run_idx"), col("status"),
        col("eff_from"), col("eff_to"), col("n_orders"), col("sum_dec"))
    // the one open interval per customer, joined to the batch's first
    // island; null-safe compare so a customer with no batch keeps its row
    val first = batch.filter(col("island") === 1L)
      .select(col("o_custkey"), col("status").as("b_status"),
        col("eff_to").as("b_to"), col("n_orders").as("b_n"),
        col("sum_dec").as("b_sum"))
    val openJ = hist2.filter(col("island") === col("old_max"))
      .join(first, Seq("o_custkey"), "left")
      // presence guard (b_n non-null ⟺ the customer HAS a batch island):
      // the bare null-safe status compare would conflate "no batch rows"
      // with "batch continues a NULL status", merging against all-NULL
      // batch columns and nulling eff_to/n_orders — scd2Islands
      // documents NULL-status support, so the merge path must too
      .withColumn("merged",
        col("b_n").isNotNull && (col("b_status") <=> col("status")))
      .transform(graft.Pins.pinForFanout(_))
    val openRows = openJ.select(col("o_custkey"), col("island").as("run_idx"),
      col("status"), col("eff_from"),
      when(col("merged"), col("b_to")).otherwise(col("eff_to")).as("eff_to"),
      when(col("merged"), col("n_orders") + col("b_n")).otherwise(col("n_orders"))
        .as("n_orders"),
      when(col("merged"), col("sum_dec") + col("b_sum")).otherwise(col("sum_dec"))
        .as("sum_dec"))
    // remaining batch islands shift onto the old numbering; island 1
    // disappears when the open interval absorbed it
    val shifts = openJ.select(col("o_custkey"), col("old_max"),
      when(col("merged"), 1L).otherwise(0L).as("consumed"))
    val batchRest = batch.join(shifts, Seq("o_custkey"), "left")
      .filter(col("island") > coalesce(col("consumed"), lit(0L)))
      .select(col("o_custkey"),
        (col("island") + coalesce(col("old_max"), lit(0L))
          - coalesce(col("consumed"), lit(0L))).as("run_idx"),
        col("status"), col("eff_from"), col("eff_to"), col("n_orders"),
        col("sum_dec"))
    closedOld.unionAll(openRows).unionAll(batchRest)
      .withColumn("is_current", col("run_idx") === max(col("run_idx")).over(wc))
      .select(col("o_custkey"), col("run_idx"), col("status"), col("eff_from"),
        col("eff_to"), col("n_orders"),
        col("sum_dec").cast(DoubleType).as("sum_total"), col("is_current"))
      .orderBy(col("o_custkey"), col("run_idx"))
  }

  // ---------------------------------------------------------------------
  // x10_overlap_join — interval × interval OVERLAP join (x6 covers
  // point-in-interval; this is the other range-join kind): user sessions
  // (gaps-and-islands over events, 30-min gap) overlapped against promo
  // windows, aggregated per window. Runs through
  // [[graft.joins.RangeJoin.intervalOverlap]]: both interval sets
  // explode onto a 6-hour bin grid, the join is a plain hash join on the
  // bin id (a raw inequality join would plan BroadcastNestedLoopJoin —
  // O(|sessions|·|windows|)), and the OWNER-BIN rule (keep the pair only
  // in the bin of `greatest(session_start, window_start)`) emits every
  // overlapping pair exactly once with no distinct — at 100 TB the
  // distinct would be the dominant shuffle, the owner comparison is
  // free. The promo dimension is a deterministic literal table (15
  // five-hour windows stepping every 48h), restated verbatim by the
  // oracle.
  def x10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourUs = 3600L * 1000000L
    // sessions as [start,end] intervals
    val sessions = graft.streaming.Streaming
      .sessionize(Tables.events(spark, dir), gapMinutes = 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("tsu")).as("s_lo"), max(col("tsu")).as("s_hi"))
    // deterministic promo dimension: window w covers
    // [base + 48h·w + 3.5h, +5h), epoch micros (base = 2024-01-01T00:00Z)
    val windows = (0 until 15).map { w =>
      val lo = 1704067200000000L + w * 48 * hourUs + 12600L * 1000000L
      (w.toLong, lo, lo + 5 * hourUs)
    }.toDF("promo_id", "w_lo", "w_hi")
    graft.joins.RangeJoin
      .intervalOverlap(sessions, windows, "s_lo", "s_hi", "w_lo", "w_hi",
        binWidth = 6 * hourUs)
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(least(col("s_hi"), col("w_hi")) - greatest(col("s_lo"), col("w_lo")))
          .as("sum_overlap_us"))
      .orderBy(col("promo_id"))
  }

  private val x10Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, tsu,
      |    SUM(CASE WHEN prev IS NULL OR tsu - prev > 30 * 60 * 1000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS seq
      |  FROM e),
      |g AS (
      |  SELECT user_id, seq, min(tsu) AS s_lo, max(tsu) AS s_hi
      |  FROM s GROUP BY user_id, seq),
      |w AS (
      |  SELECT CAST(t.w AS BIGINT) AS promo_id,
      |    1704067200000000 + t.w * 172800000000 + 12600000000 AS w_lo,
      |    1704067200000000 + t.w * 172800000000 + 12600000000 + 18000000000 AS w_hi
      |  FROM (SELECT unnest(range(15)) AS w) t)
      |SELECT promo_id, COUNT(*) AS n_sessions,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(least(s_hi, w_hi) - greatest(s_lo, w_lo)) AS BIGINT) AS sum_overlap_us
      |FROM g JOIN w ON s_lo <= w_hi AND w_lo <= s_hi
      |GROUP BY promo_id ORDER BY promo_id""".stripMargin

  // ---------------------------------------------------------------------
  // x11_gapfill — time-series regularization: hourly event counts per
  // type on a DENSE hour grid (hours with no events appear with 0) plus
  // a trailing 3-hour rolling sum — the resample/gap-fill step that
  // precedes any fixed-step time-series modeling. The dense axis is
  // GENERATED, not scanned: one tiny aggregate finds the global
  // [min, max] hour span, `sequence` explodes it (rows = types × hours,
  // dimension-sized), and the observed counts LEFT-join onto the grid —
  // the fact table is touched once, pre-aggregated; the join carries
  // one row per non-empty (hour, type). Hour indexes are exact integer
  // micros divisions, so both engines build bit-identical grids.
  def x11(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `div`, not `/`: long `/` routes through double division (exact
    // here only by magnitude luck); integral div is the repo convention
    // for epoch arithmetic (see Streaming.tsMicros)
    val e = Tables.events(spark, dir)
      .select(graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_type"))
      .select(expr("tsu div 3600000000").as("h"), col("event_type"))
    val counts = e.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val span = e.agg(min(col("h")).as("h_lo"), max(col("h")).as("h_hi"))
    val grid = span
      .select(explode(sequence(col("h_lo"), col("h_hi"))).as("h"))
      .crossJoin(e.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-2, 0)
    grid.join(counts, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("sum_3h", sum(col("n")).over(w))
      .orderBy(col("h"), col("event_type"))
  }

  private val x11Sql =
    """WITH e AS (
      |  SELECT epoch_us(ts) // 3600000000 AS h, event_type FROM events),
      |c AS (SELECT h, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
      |span AS (SELECT min(h) AS h_lo, max(h) AS h_hi FROM e),
      |grid AS (
      |  SELECT t.h, et.event_type
      |  FROM (SELECT unnest(range(h_lo, h_hi + 1)) AS h FROM span) t
      |  CROSS JOIN (SELECT DISTINCT event_type FROM e) et)
      |SELECT g.h, g.event_type, COALESCE(c.n, 0) AS n,
      |  CAST(SUM(COALESCE(c.n, 0)) OVER (
      |    PARTITION BY g.event_type ORDER BY g.h
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_3h
      |FROM grid g LEFT JOIN c ON g.h = c.h AND g.event_type = c.event_type
      |ORDER BY g.h, g.event_type""".stripMargin

  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // x12_cogroup_reconcile — typed COGROUP (KeyValueGroupedDataset), the
  // per-key merge escape hatch for logic a join can't express: both
  // sides co-partition on the key in ONE shuffle each, then arbitrary
  // Scala sees each key's two row groups together. Here it reconciles
  // every order against its lineitems (count + exact cent total —
  // floor(price*100) is the same IEEE double op in both engines),
  // emitting zero-line orders too; orphan lineitems are dropped
  // (none exist in the data — the branch is the referential guard).
  // The oracle is the relational equivalent (LEFT JOIN + GROUP BY),
  // pinning that the typed path loses nothing vs the declarative one.
  // Use a join when the logic fits one — Catalyst can't see inside a
  // cogroup function; this gate exists for the cases that don't.
  def x12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val os = Tables.orders(spark, dir)
      .select(col("o_orderkey")).as[Long]
      .groupByKey(identity)
    val ls = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
    os.cogroup(ls) { (k, oIt, lIt) =>
      if (oIt.isEmpty) Iterator.empty
      else {
        var n = 0L
        var s = 0L
        lIt.foreach { case (_, c) => n += 1; s += c }
        Iterator.single((k, n, s))
      }
    }.toDF("o_orderkey", "n_lines", "sum_cents")
      .orderBy(col("o_orderkey"))
  }

  private val x12Sql =
    """SELECT o.o_orderkey, COUNT(l.l_orderkey) AS n_lines,
      |  CAST(COALESCE(SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)), 0)
      |       AS BIGINT) AS sum_cents
      |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // x13_zorder_layout — Morton-curve data layout (the lakehouse
  // Z-ORDER BY primitive): bin two join/filter dimensions, interleave
  // their bits into a z-value, and bucket rows by aligned z-ranges.
  // Why it matters at 100 TB: files written in z-order admit data
  // skipping on BOTH dimensions — every aligned 4^m-cell z-range is
  // exactly a 2^m × 2^m tile, so each bucket's min/max span in EACH
  // dimension is ≤ 2^m − 1 and a predicate on either column prunes to
  // a contiguous run of buckets. The gate materializes that contract:
  // per-bucket counts and per-dimension min/max (the file-skipping
  // stats a manifest would store), which the oracle recomputes from
  // the same integer bit arithmetic — and the ≤ 7 span bound (m = 3
  // here) is additionally pinned by ZOrderSpec.
  // Scale shape: z is a map-side integer expression inside codegen;
  // the bucket aggregate is one map-side-combined groupBy on a
  // 1024-value key. (A real layout job would `repartitionByRange` on
  // the full z-value before writing; the stats table is the gate
  // because file boundaries aren't SQL-observable.)
  def x13(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrder
    Tables.lineitem(spark, dir)
      .select((col("l_partkey") % 256).cast("int").as("ba"),
        (col("l_suppkey") % 256).cast("int").as("bb"))
      .withColumn("z", ZOrder.zValue2(col("ba"), col("bb"), bits = 8))
      .withColumn("bucket", expr("z div 64"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ba")).as("min_a"), max(col("ba")).as("max_a"),
        min(col("bb")).as("min_b"), max(col("bb")).as("max_b"))
      .orderBy(col("bucket"))
  }

  private val x13Sql = {
    val z = graft.functions.ZOrder.zValue2Sql("ba", "bb", 8)
    s"""WITH b AS (
       |  SELECT CAST(l_partkey % 256 AS INTEGER) AS ba,
       |         CAST(l_suppkey % 256 AS INTEGER) AS bb
       |  FROM lineitem),
       |z AS (SELECT ba, bb, CAST($z AS BIGINT) // 64 AS bucket FROM b)
       |SELECT bucket, COUNT(*) AS n,
       |  MIN(ba) AS min_a, MAX(ba) AS max_a,
       |  MIN(bb) AS min_b, MAX(bb) AS max_b
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------------
  // x14_snapshot_diff — corpus snapshot reconciliation: what changed
  // between two crawls? Two snapshots are derived deterministically from
  // `documents` (old = doc_id % 10 ≠ 3; new = doc_id % 10 ≠ 7 with every
  // doc_id % 5 = 0 text revised), fingerprinted with md5, and FULL OUTER
  // joined on doc_id to classify every document as added / removed /
  // changed / unchanged — the audit a versioned training corpus runs
  // before each retrain. Scale shape: fingerprints are computed map-side
  // (text itself never shuffles — only the 32-char fp rides the
  // exchange), the join is a co-partitioned key join on doc_id (both
  // sides would share the corpus's id layout in a real lake), and the
  // per-(source, status) rollup is a tiny map-side-combined aggregate.
  def x14(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val old = docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"), col("source").as("src_old"),
        md5(col("text")).as("fp_old"))
    val cur = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("source").as("src_new"),
        md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("fp_new"))
    old.join(cur, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .withColumn("source", coalesce(col("src_old"), col("src_new")))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"), col("status"))
  }

  private val x14Sql =
    """WITH old AS (
      |  SELECT doc_id, source AS src_old, md5(text) AS fp_old
      |  FROM documents WHERE doc_id % 10 <> 3),
      |cur AS (
      |  SELECT doc_id, source AS src_new,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END) AS fp_new
      |  FROM documents WHERE doc_id % 10 <> 7),
      |d AS (
      |  SELECT COALESCE(old.doc_id, cur.doc_id) AS doc_id,
      |    COALESCE(src_old, src_new) AS source,
      |    CASE WHEN fp_old IS NULL THEN 'added'
      |         WHEN fp_new IS NULL THEN 'removed'
      |         WHEN fp_old = fp_new THEN 'unchanged'
      |         ELSE 'changed' END AS status
      |  FROM old FULL OUTER JOIN cur ON old.doc_id = cur.doc_id)
      |SELECT source, status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // x15_interval_merge — union of overlapping intervals per key (the
  // coverage/stitching primitive behind ad-attribution windows, sensor
  // uptime, and retention horizons): each event opens a 30-minute
  // interval; per user, overlapping intervals merge and the gate
  // reports interval count, merged-island count, and total covered
  // microseconds. Classic gaps-and-islands with a RUNNING-MAX end
  // (an interval can be swallowed by an earlier, longer one — lag(end)
  // alone misreads that as a gap; the running max doesn't). One
  // user-partitioned exchange carries both window passes; all-integer
  // micros so the cross-engine compare is exact.
  def x15(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizon = 30L * 60 * 1000000 // 30 min in micros
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
      .withColumn("end_tsu", col("tsu") + lit(horizon))
      .withColumn("prev_max_end",
        max(col("end_tsu")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("tsu") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_iv"),
        min(col("tsu")).as("s"), max(col("end_tsu")).as("e"))
      .groupBy(col("user_id"))
      .agg(sum(col("n_iv")).as("n_intervals"),
        count(lit(1)).as("n_merged"),
        sum(col("e") - col("s")).as("coverage_us"))
      .orderBy(col("user_id"))
  }

  private val x15Sql =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    epoch_us(ts) + 30 * 60 * 1000000 AS end_tsu
      |  FROM events WHERE user_id IS NOT NULL),
      |m AS (
      |  SELECT user_id, event_id, tsu, end_tsu,
      |    MAX(end_tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
      |  FROM ev),
      |i AS (
      |  SELECT user_id, tsu, end_tsu,
      |    SUM(CASE WHEN prev_max_end IS NULL OR tsu > prev_max_end
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |        ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m),
      |g AS (
      |  SELECT user_id, island, COUNT(*) AS n_iv,
      |    MIN(tsu) AS s, MAX(end_tsu) AS e
      |  FROM i GROUP BY user_id, island)
      |SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
      |  COUNT(*) AS n_merged, CAST(SUM(e - s) AS BIGINT) AS coverage_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // x16_skew_salted_join — SALTED join through the oracle: the fact side
  // is orders keyed by a deliberately skewed derived key (~70% of rows
  // land on key 0 — the "one viral document / one giant tenant" shape),
  // joined to a per-key dimension via SkewJoin.saltedInnerJoin: the hot
  // key's rows spread across 8 salt cells (stable hash of o_orderkey)
  // while the dimension replicates 8× (dimension-sized, cheap), so no
  // single reducer owns 70% of the fact table. AQE skew-split covers
  // sort-merge plans at runtime; explicit salting is the tool when the
  // downstream agg would re-concentrate the key anyway or AQE can't
  // split (bucketed scans, broadcast-ineligible dims). Salting is
  // engine-internal: the salt joins away and the aggregate hash-equals
  // the plain join the oracle states.
  def x16(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.orders(spark, dir)
      .withColumn("skew_key",
        when(col("o_orderkey") % 10 < 7, 0L).otherwise(col("o_orderkey") % 100))
      .select(col("skew_key"), col("o_orderkey"), col("o_totalprice"))
    val dim = fact.select(col("skew_key")).distinct()
      .withColumn("label", concat(lit("k"), col("skew_key").cast("string")))
    SkewJoin.saltedInnerJoin(fact, dim, "skew_key", "o_orderkey", salts = 8)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_orders"),
        RelationalQueries.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("label"))
  }

  private val x16Sql =
    """WITH f AS (
      |  SELECT CASE WHEN o_orderkey % 10 < 7 THEN 0
      |              ELSE o_orderkey % 100 END AS skew_key,
      |    o_totalprice
      |  FROM orders),
      |d AS (
      |  SELECT DISTINCT skew_key,
      |    'k' || CAST(skew_key AS VARCHAR) AS label
      |  FROM f)
      |SELECT label, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM f JOIN d USING (skew_key)
      |GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // x17_pit_audit — POINT-IN-TIME audit of the SCD2 dimension: for a
  // small set of probe timestamps, reconstruct every customer's status
  // as of that instant from the interval history (as-of = the LAST
  // island whose eff_from ≤ probe — island gaps inherit the earlier
  // status, exactly the "state persists until changed" dimension
  // contract) and tally customers per (probe, status). The oracle
  // bypasses the dimension entirely and reads each customer's last
  // order ≤ probe straight from the facts — so a hash match proves the
  // interval history answers time-travel queries exactly as the raw
  // facts would, the audit every warehouse team runs before trusting
  // SCD2 for compliance reporting. Probes broadcast (they are always
  // tiny); the history never re-shuffles beyond its o_custkey window.
  def x17(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeDates = Seq(
      "1995-12-31", "1996-12-31", "1997-12-31", "1998-12-31",
      "1999-12-31", "2000-12-31")
    val probes = spark.range(1).select(
      explode(array(probeDates.map(d => to_timestamp(lit(d))): _*)).as("probe"))
    val hist = scd2Islands(Tables.orders(spark, dir))
    val w = Window.partitionBy(col("probe"), col("o_custkey"))
      .orderBy(col("island").desc)
    hist.join(broadcast(probes), col("eff_from") <= col("probe"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(date_format(col("probe"), "yyyy-MM-dd").as("probe"), col("status"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("probe"), col("status"))
  }

  private val x17Sql =
    """WITH probes AS (
      |  SELECT unnest([TIMESTAMP '1995-12-31', TIMESTAMP '1996-12-31',
      |                 TIMESTAMP '1997-12-31', TIMESTAMP '1998-12-31',
      |                 TIMESTAMP '1999-12-31', TIMESTAMP '2000-12-31']) AS probe),
      |last AS (
      |  SELECT p.probe, o.o_custkey, o.o_orderstatus AS status,
      |    ROW_NUMBER() OVER (PARTITION BY p.probe, o.o_custkey
      |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      |  FROM probes p JOIN orders o ON o.o_orderdate <= p.probe
      |  WHERE o.o_orderdate IS NOT NULL)
      |SELECT strftime(probe, '%Y-%m-%d') AS probe, status, COUNT(*) AS n_cust
      |FROM last WHERE rn = 1
      |GROUP BY 1, 2 ORDER BY probe, status""".stripMargin

  // ---------------------------------------------------------------------
  // x18_cohort_retention — the cohort × days-since retention matrix
  // (the growth-analytics staple): each user joins the cohort of their
  // first active day; every (user, active-day) pair then lands in
  // cell (cohort, days-since-cohort) and cells count users. Plan:
  // distinct (user, day) pairs → ONE user-partitioned window computes
  // each user's cohort with no self-join (min-over-partition replaces
  // the groupBy+join a naive form pays) → small matrix agg. Day
  // arithmetic on day-truncated timestamps is exact in both engines.
  def x18(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val act = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        date_trunc("day",
          timestamp_micros(graft.streaming.Streaming.tsMicros(col("ts")))).as("mo"))
      .distinct()
    act.withColumn("cm", min(col("mo")).over(Window.partitionBy(col("user_id"))))
      .groupBy(date_format(col("cm"), "yyyy-MM-dd").as("cohort"),
        datediff(col("mo"), col("cm")).cast("int").as("days_since"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("days_since"))
  }

  private val x18Sql =
    """WITH act AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS mo
      |  FROM events WHERE user_id IS NOT NULL),
      |c AS (
      |  SELECT user_id, mo,
      |    MIN(mo) OVER (PARTITION BY user_id) AS cm
      |  FROM act)
      |SELECT strftime(cm, '%Y-%m-%d') AS cohort,
      |  CAST(datediff('day', cm, mo) AS INTEGER) AS days_since,
      |  COUNT(*) AS n_users
      |FROM c GROUP BY 1, 2 ORDER BY cohort, days_since""".stripMargin

  // ---------------------------------------------------------------------
  // x19_multitouch — linear multi-touch attribution: every purchase
  // splits exactly 1,000,000 ppm of credit equally across the views that
  // preceded it within a 30-minute window (integer division; the
  // remainder goes to the EARLIEST touches so each purchase's credits
  // sum to exactly 1e6 — exact bookkeeping both engines hash-match,
  // where float shares would drift). Output: per credited view, its
  // total accumulated credit and the purchase count it fed. Scale
  // shape: the view×purchase pairing is a user-key equi-join filtered
  // to the window IN-PARTITION (per-user event counts bound the
  // fan-out), the per-purchase n/rank ride ONE (user, purchase) window
  // exchange, and the final aggregate is keyed by the credited view.
  def x19(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("tsu").as("v_tsu"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("tsu").as("p_tsu"))
    val win = 30L * 60L * 1000000L
    val touches = views.join(purch, Seq("user_id"))
      .filter(col("v_tsu") <= col("p_tsu") && col("p_tsu") - col("v_tsu") <= win)
    val wN = Window.partitionBy(col("user_id"), col("p_id"))
    val wR = wN.orderBy(col("v_tsu"), col("view_id"))
    touches
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("r", row_number().over(wR))
      .withColumn("credit",
        expr("1000000L div n + CASE WHEN r <= 1000000L % n THEN 1L ELSE 0L END"))
      .groupBy(col("user_id"), col("view_id"))
      .agg(sum(col("credit")).as("credit_ppm"),
        count(lit(1)).as("n_purch"))
      .orderBy(col("user_id"), col("view_id"))
  }

  private val x19Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |  FROM events WHERE user_id IS NOT NULL),
      |v AS (SELECT user_id, event_id AS view_id, tsu AS v_tsu
      |      FROM e WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS p_id, tsu AS p_tsu
      |      FROM e WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT v.user_id, view_id, v_tsu, p_id
      |  FROM v JOIN p ON v.user_id = p.user_id
      |    AND v_tsu <= p_tsu AND p_tsu - v_tsu <= 30 * 60 * 1000000),
      |c AS (
      |  SELECT user_id, view_id, p_id,
      |    COUNT(*) OVER (PARTITION BY user_id, p_id) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, p_id
      |      ORDER BY v_tsu, view_id) AS r
      |  FROM t)
      |SELECT user_id, view_id,
      |  CAST(SUM(1000000 // n + CASE WHEN r <= 1000000 % n THEN 1 ELSE 0 END)
      |    AS BIGINT) AS credit_ppm,
      |  COUNT(*) AS n_purch
      |FROM c GROUP BY user_id, view_id ORDER BY user_id, view_id""".stripMargin

  // ---------------------------------------------------------------------
  // x20_stock_rollforward — per-product inventory roll-forward with a
  // zero floor: balance_d = max(0, balance_{d-1} + delta_d). The clamp
  // makes the recurrence NON-LINEAR, so no window/prefix-sum algebra
  // expresses it — this is the honest case for the typed per-key escape
  // hatch (same family as x12's cogroup): ONE partial-agg pass reduces
  // the fact to (product, day, delta) — day-cardinality per key, weeks
  // not rows — then one key shuffle and a bounded in-memory sequential
  // scan per product. The oracle replays the same recurrence as a
  // per-key recursive CTE over the day rank. Deltas stay exact longs
  // (quantities are integral; cast BEFORE summing).
  def x20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Day rides as an INTEGER epoch-day index, not a formatted string:
    // the group key is hashed/compared per fact row, and the day never
    // appears in the output, so minting 600k ten-char strings was pure
    // overhead (measured 2.0 → 1.2s at sf0.1). Ordering by the index is
    // ordering by day — datediff is monotone in the date.
    val deltas = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"),
        datediff(col("l_shipdate"), lit("1970-01-01")).as("day_i"))
      .agg(sum(when(col("l_returnflag") === "R",
        -col("l_quantity").cast("long"))
        .otherwise(col("l_quantity").cast("long"))).as("delta"))
      .as[(Long, Int, Long)]
    deltas.groupByKey(_._1)
      .mapGroups { (k, it) =>
        val days = it.toArray.sortBy(_._2)
        var bal = 0L
        var clamps = 0L
        days.foreach { case (_, _, d) =>
          val nb = bal + d
          if (nb < 0) { bal = 0L; clamps += 1 } else bal = nb
        }
        (k, days.length.toLong, bal, clamps)
      }
      .toDF("l_partkey", "n_days", "final_balance", "n_clamps")
      .orderBy(col("l_partkey"))
  }

  private val x20Sql =
    """WITH RECURSIVE d AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R'
      |      THEN -CAST(l_quantity AS BIGINT)
      |      ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
      |  FROM lineitem GROUP BY 1, 2),
      |o AS (SELECT l_partkey, delta,
      |        ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY day) AS rn
      |      FROM d),
      |r(l_partkey, rn, bal, clamps) AS (
      |  SELECT l_partkey, rn, GREATEST(delta, 0),
      |    CAST(CASE WHEN delta < 0 THEN 1 ELSE 0 END AS BIGINT)
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.l_partkey, o.rn, GREATEST(r.bal + o.delta, 0),
      |    r.clamps + CASE WHEN r.bal + o.delta < 0 THEN 1 ELSE 0 END
      |  FROM r JOIN o ON o.l_partkey = r.l_partkey AND o.rn = r.rn + 1)
      |SELECT l_partkey, MAX(rn) AS n_days,
      |  CAST(arg_max(bal, rn) AS BIGINT) AS final_balance,
      |  CAST(MAX(clamps) AS BIGINT) AS n_clamps
      |FROM r GROUP BY l_partkey ORDER BY l_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q36_asof_nearest — NEAREST-in-time as-of join (x5 is last-BEFORE):
  // each purchase pairs with the view minimizing |view_ts − purchase_ts|
  // within ±30 minutes, ties to the earlier side. One user-sorted
  // window exchange produces both candidates — prev view via
  // last(IGNORE NULLS) over the preceding frame, next view via
  // first(IGNORE NULLS) over the following frame — and a scalar case
  // picks the winner; no view×purchase join at all, which is what keeps
  // the shape linear when a user has thousands of both.
  def q36(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val isView = col("event_type") === "view"
    val withCand = e
      .withColumn("pv_id", last(when(isView, col("event_id")), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("pv_ts", last(when(isView, col("tsu")), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("nv_id", first(when(isView, col("event_id")), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("nv_ts", first(when(isView, col("tsu")), ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
    val win = 30L * 60L * 1000000L
    withCand.filter(col("event_type") === "purchase")
      .withColumn("d_prev",
        when(col("pv_ts").isNotNull && col("tsu") - col("pv_ts") <= win,
          col("tsu") - col("pv_ts")))
      .withColumn("d_next",
        when(col("nv_ts").isNotNull && col("nv_ts") - col("tsu") <= win,
          col("nv_ts") - col("tsu")))
      .filter(col("d_prev").isNotNull || col("d_next").isNotNull)
      .select(col("user_id"), col("event_id").as("p_id"),
        when(col("d_next").isNull || (col("d_prev").isNotNull &&
          col("d_prev") <= col("d_next")), col("pv_id"))
          .otherwise(col("nv_id")).as("view_id"),
        when(col("d_next").isNull || (col("d_prev").isNotNull &&
          col("d_prev") <= col("d_next")), -col("d_prev"))
          .otherwise(col("d_next")).as("delta_us"))
      .orderBy(col("user_id"), col("p_id"))
  }

  private val q36Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')),
      |c AS (
      |  SELECT user_id, event_id, event_type, tsu,
      |    last_value(CASE WHEN event_type = 'view' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv_id,
      |    last_value(CASE WHEN event_type = 'view' THEN tsu END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv_ts,
      |    first_value(CASE WHEN event_type = 'view' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv_id,
      |    first_value(CASE WHEN event_type = 'view' THEN tsu END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv_ts
      |  FROM e),
      |p AS (
      |  SELECT user_id, event_id AS p_id,
      |    CASE WHEN pv_ts IS NOT NULL AND tsu - pv_ts <= 30 * 60 * 1000000
      |      THEN tsu - pv_ts END AS d_prev,
      |    CASE WHEN nv_ts IS NOT NULL AND nv_ts - tsu <= 30 * 60 * 1000000
      |      THEN nv_ts - tsu END AS d_next,
      |    pv_id, nv_id
      |  FROM c WHERE event_type = 'purchase')
      |SELECT user_id, p_id,
      |  CASE WHEN d_next IS NULL OR (d_prev IS NOT NULL AND d_prev <= d_next)
      |    THEN pv_id ELSE nv_id END AS view_id,
      |  CASE WHEN d_next IS NULL OR (d_prev IS NOT NULL AND d_prev <= d_next)
      |    THEN -d_prev ELSE d_next END AS delta_us
      |FROM p WHERE d_prev IS NOT NULL OR d_next IS NOT NULL
      |ORDER BY user_id, p_id""".stripMargin

  // ---------------------------------------------------------------------
  // x21_fifo_allocation — FIFO lot allocation (inventory costing /
  // queue-matching): per product, demand units consume supply units in
  // ship-date order. The classic quadratic form walks lots per sale; the
  // scale-correct form is the CUMULATIVE-INTERVAL intersection — lot i
  // owns supply units [lcum_{i-1}, lcum_i), sale j consumes demand units
  // [scum_{j-1}, scum_j), and FIFO matches unit u of demand to unit u of
  // supply, so alloc(i,j) = overlap of the two intervals. Per key the
  // overlapping pairs form a staircase (≤ lots + sales − 1 rows), so the
  // pairing join is LINEAR in the input even though it is written as a
  // join. Shapes: two window cumsums over the same partkey exchange, one
  // equi-join on partkey whose range predicate prunes to the staircase,
  // partial-agg per key. Quantities are integral doubles → exact longs.
  def x21(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def cum(side: DataFrame) = side
      .withColumn("hi", sum(col("qty")).over(w))
      .withColumn("lo", col("hi") - col("qty"))
    val lots = cum(li.filter(col("l_returnflag") === "R"))
      .select(col("l_partkey"), col("lo").as("l_lo"), col("hi").as("l_hi"))
    val sales = cum(li.filter(col("l_returnflag") =!= "R"))
      .select(col("l_partkey").as("s_partkey"), col("lo").as("s_lo"), col("hi").as("s_hi"))
    val pairs = lots.join(sales,
      col("l_partkey") === col("s_partkey") &&
        col("l_lo") < col("s_hi") && col("s_lo") < col("l_hi"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("l_hi"), col("s_hi")) - greatest(col("l_lo"), col("s_lo")))
          .as("allocated"))
    val supply = lots.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lots"), max(col("l_hi")).as("supply"))
    val demand = sales.groupBy(col("s_partkey").as("l_partkey"))
      .agg(count(lit(1)).as("n_sales"), max(col("s_hi")).as("demand"))
    supply.join(demand, Seq("l_partkey"), "full_outer")
      .join(pairs, Seq("l_partkey"), "left")
      .select(col("l_partkey"),
        coalesce(col("n_lots"), lit(0L)).as("n_lots"),
        coalesce(col("n_sales"), lit(0L)).as("n_sales"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("supply"), lit(0L)).as("supply"),
        coalesce(col("demand"), lit(0L)).as("demand"),
        coalesce(col("allocated"), lit(0L)).as("allocated"))
      .withColumn("leftover", col("supply") - col("allocated"))
      .withColumn("unfilled", col("demand") - col("allocated"))
      .orderBy(col("l_partkey"))
  }

  private val x21Sql =
    """WITH li AS (
      |  SELECT l_partkey, l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
      |    l_shipdate, l_orderkey, l_linenumber
      |  FROM lineitem),
      |lots AS (
      |  SELECT l_partkey,
      |    CAST(SUM(qty) OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS hi,
      |    CAST(SUM(qty) OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - qty AS BIGINT) AS lo
      |  FROM li WHERE l_returnflag = 'R'),
      |sales AS (
      |  SELECT l_partkey,
      |    CAST(SUM(qty) OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS BIGINT) AS hi,
      |    CAST(SUM(qty) OVER (PARTITION BY l_partkey
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - qty AS BIGINT) AS lo
      |  FROM li WHERE l_returnflag <> 'R'),
      |p AS (
      |  SELECT l.l_partkey, COUNT(*) AS n_pairs,
      |    CAST(SUM(LEAST(l.hi, s.hi) - GREATEST(l.lo, s.lo)) AS BIGINT) AS allocated
      |  FROM lots l JOIN sales s
      |    ON l.l_partkey = s.l_partkey AND l.lo < s.hi AND s.lo < l.hi
      |  GROUP BY 1),
      |sup AS (SELECT l_partkey, COUNT(*) AS n_lots, MAX(hi) AS supply
      |        FROM lots GROUP BY 1),
      |dem AS (SELECT l_partkey, COUNT(*) AS n_sales, MAX(hi) AS demand
      |        FROM sales GROUP BY 1)
      |SELECT COALESCE(sup.l_partkey, dem.l_partkey) AS l_partkey,
      |  COALESCE(n_lots, 0) AS n_lots, COALESCE(n_sales, 0) AS n_sales,
      |  COALESCE(n_pairs, 0) AS n_pairs,
      |  COALESCE(supply, 0) AS supply, COALESCE(demand, 0) AS demand,
      |  COALESCE(allocated, 0) AS allocated,
      |  COALESCE(supply, 0) - COALESCE(allocated, 0) AS leftover,
      |  COALESCE(demand, 0) - COALESCE(allocated, 0) AS unfilled
      |FROM sup FULL OUTER JOIN dem ON sup.l_partkey = dem.l_partkey
      |LEFT JOIN p ON COALESCE(sup.l_partkey, dem.l_partkey) = p.l_partkey
      |ORDER BY l_partkey""".stripMargin

  // ---------------------------------------------------------------------
  // x22_streaks — longest consecutive-day activity streak per user: the
  // engagement/retention primitive ("current streak", "longest run").
  // Day numbers are exact integer micros-div-86400M — no calendar
  // arithmetic to disagree on. Gaps-and-islands: after reducing events
  // to DISTINCT (user, day) — day-cardinality per user, not events —
  // day − row_number() is constant exactly on a consecutive run, so one
  // user-partitioned window + one aggregate finds every streak. All
  // exchanges carry (user, day) pairs, bounded by the day grid.
  def x22(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // day = micros div 86400M in exact long arithmetic (tsMicros's own
    // rationale: double division at epoch magnitude can misround floors).
    val day = {
      import org.apache.spark.sql.GraftColumnBridge
      import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
      GraftColumnBridge.column(IntegralDivide(
        GraftColumnBridge.expression(graft.streaming.Streaming.tsMicros(col("ts"))),
        Literal(86400000000L))).cast("long")
    }
    val days = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), day.as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val runs = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), max(col("day")).as("run_end"))
    runs.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        max(col("run_end")).as("last_day"))
      .orderBy(col("user_id"))
  }

  private val x22Sql =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events WHERE user_id IS NOT NULL),
      |g AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |runs AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MAX(day) AS run_end
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days, COUNT(*) AS n_streaks,
      |  MAX(len) AS longest_streak, MAX(run_end) AS last_day
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // x23_ewma — exponentially weighted moving average of per-customer
  // order value (α = 1/4, fixed-point): the smoothing step behind spend
  // scoring and burn-rate monitors. Like x20's clamp, the recurrence
  // s_t = (3·s_{t−1} + x_t·1000) div 4 is non-linear in integer
  // arithmetic (the div truncates), so no window algebra expresses it
  // exactly — the honest shape is the bounded typed per-key scan: one
  // partial-agg-free projection to (cust, date, orderkey, cents) —
  // orders are already one row each — one custkey shuffle, and a
  // sequential fold over the ≤ tens of orders a customer has. Cents are
  // floor(price·100) in IEEE double, identical across engines; the
  // fixed-point state carries ×1000 sub-cent precision.
  def x23(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .as[(Long, String, Long, Long)]
    o.groupByKey(_._1)
      .mapGroups { (k, it) =>
        val seq = it.toArray.sortBy(r => (r._2, r._3))
        var s = seq.head._4 * 1000L
        seq.tail.foreach { case (_, _, _, c) => s = (3L * s + 1000L * c) / 4L }
        (k, seq.length.toLong, s, seq.last._4)
      }
      .toDF("o_custkey", "n_orders", "ewma_millicents", "last_cents")
      .orderBy(col("o_custkey"))
  }

  private val x23Sql =
    """WITH RECURSIVE o AS (
      |  SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS day, o_orderkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY strftime(o_orderdate, '%Y-%m-%d'), o_orderkey) AS rn
      |  FROM orders),
      |r(o_custkey, rn, s, cents) AS (
      |  SELECT o_custkey, rn, cents * 1000, cents FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.o_custkey, o.rn, (3 * r.s + 1000 * o.cents) // 4, o.cents
      |  FROM r JOIN o ON o.o_custkey = r.o_custkey AND o.rn = r.rn + 1)
      |SELECT o_custkey, MAX(rn) AS n_orders,
      |  CAST(arg_max(s, rn) AS BIGINT) AS ewma_millicents,
      |  CAST(arg_max(cents, rn) AS BIGINT) AS last_cents
      |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // x24_hierarchy_rollup — SUBTREE aggregation over an implicit N-level
  // hierarchy (category trees, org charts, BOM structures): every node's
  // total over all descendants. The join-free scale shape: each leaf
  // emits its ≤7 ANCESTORS map-side (parent = key div 10 per level — an
  // arithmetic hierarchy, so no parent table is even read), and one
  // partial-agg groupBy on the ancestor key does the rest. No recursive
  // self-join, no driver iteration; at 100× the fan-out stays a
  // constant ×depth before the only exchange. The oracle builds the
  // same ancestor list per row and unnests it.
  def x24(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("cents"))
    // integral `div`, not `/` (double division would go through IEEE)
    val ancestors = array((0 to 6).map(i =>
      expr(s"p_partkey div ${math.pow(10, i).toLong}L")): _*)
    p.select(col("cents"), explode(ancestors).as("node"))
      .filter(col("node") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_desc"), sum(col("cents")).as("subtree_cents"))
      .orderBy(col("node"))
  }

  private val x24Sql =
    """WITH p AS (
      |  SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
      |  FROM part),
      |a AS (
      |  SELECT cents, UNNEST([p_partkey, p_partkey // 10, p_partkey // 100,
      |    p_partkey // 1000, p_partkey // 10000, p_partkey // 100000,
      |    p_partkey // 1000000]) AS node
      |  FROM p)
      |SELECT node, COUNT(*) AS n_desc,
      |  CAST(SUM(cents) AS BIGINT) AS subtree_cents
      |FROM a WHERE node > 0
      |GROUP BY node ORDER BY node""".stripMargin

  // ---------------------------------------------------------------------
  // x25_revenue_recognition — calendarization: each line's revenue is
  // recognized EVENLY across the months from order to ship date, with
  // the integer remainder credited to the EARLIEST months (x19's
  // exact-split convention — per-line shares sum to the line's cents
  // exactly, so the monthly ledger reconciles to the fact table to the
  // cent). Shapes: one orderkey equi-join to fetch the order date, a
  // ≤6-wide month fan-out MAP-SIDE (TPC-H ship lag is ≤ ~4 months),
  // then (month, share) partials into a month-cardinality result — the
  // exchange never carries the fan-out.
  def x25(spark: SparkSession, dir: String): DataFrame = {
    // Months ride as INTEGER indices (year·12 + month−1): the fan-out's
    // per-row work is then pure codegen'd integer arithmetic — no
    // months_between/add_months/date_format calendar calls in the hot
    // loop (measured 3.0 → 2.0s at sf0.1) — and the month STRING is
    // minted once per aggregated month, not once per line-month.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("ship_mi"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("order_mi"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("nm", greatest(col("ship_mi") - col("order_mi") + 1, lit(1L)))
      .select(col("cents"), col("nm"), col("order_mi"),
        posexplode(sequence(lit(0L), col("nm") - 1)).as(Seq("pos", "i")))
      .select((col("order_mi") + col("i")).as("mi"),
        (expr("cents div nm") +
          when(col("i") < expr("cents % nm"), 1L).otherwise(0L)).as("share"))
      .groupBy(col("mi"))
      .agg(count(lit(1)).as("n_line_months"), sum(col("share")).as("recognized_cents"))
      .select(
        format_string("%04d-%02d", expr("mi div 12"), expr("mi % 12 + 1"))
          .as("month"),
        col("n_line_months"), col("recognized_cents"))
      .orderBy(col("month"))
  }

  private val x25Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
      |    date_trunc('month', l_shipdate) AS ship_m
      |  FROM lineitem),
      |j AS (
      |  SELECT cents,
      |    GREATEST(datediff('month', order_m, ship_m) + 1, 1) AS nm, order_m
      |  FROM li JOIN (
      |    SELECT o_orderkey, date_trunc('month', o_orderdate) AS order_m
      |    FROM orders) o ON l_orderkey = o_orderkey),
      |f AS (
      |  SELECT cents, nm, order_m,
      |    UNNEST(range(0, nm)) AS i
      |  FROM j)
      |SELECT strftime(order_m + to_months(CAST(i AS INTEGER)), '%Y-%m') AS month,
      |  COUNT(*) AS n_line_months,
      |  CAST(SUM(cents // nm
      |    + CASE WHEN i < cents % nm THEN 1 ELSE 0 END) AS BIGINT)
      |    AS recognized_cents
      |FROM f GROUP BY 1 ORDER BY month""".stripMargin

  // ---------------------------------------------------------------------
  // x26_ab_lift — experiment readout: users split into two variants
  // (deterministic user_id parity — the hash-bucket assignment every
  // experimentation system uses), conversion = a purchase within 30
  // minutes of a preceding view (x5's as-of semantics), and per-variant
  // rates in exact ppm with the lift left to the consumer. The scale
  // shape is the x5 window, not a view×purchase join: ONE user-sorted
  // exchange computes the last-preceding-view column, per-user flags
  // collapse in the same pass's aggregate, and the final variant
  // table is 2 rows. Conversion is a user-level (not event-level)
  // metric, so double-purchasers don't double-count.
  def x26(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val flagged = e
      .withColumn("pv_ts",
        last(when(col("event_type") === "view", col("tsu")), ignoreNulls = true).over(w))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("exposed"),
        max(when(col("event_type") === "purchase" && col("pv_ts").isNotNull &&
          col("tsu") - col("pv_ts") <= 30L * 60L * 1000000L, 1L).otherwise(0L))
          .as("converted"))
    flagged
      .groupBy((col("user_id") % 2).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("exposed")).as("n_exposed"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conv_ppm",
        when(col("n_exposed") > 0,
          expr("(n_converted * 1000000L) div n_exposed")).otherwise(0L))
      .orderBy(col("variant"))
  }

  private val x26Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')),
      |f AS (
      |  SELECT user_id, event_type, tsu,
      |    last_value(CASE WHEN event_type = 'view' THEN tsu END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv_ts
      |  FROM e),
      |u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
      |    MAX(CASE WHEN event_type = 'purchase' AND pv_ts IS NOT NULL
      |      AND tsu - pv_ts <= 30 * 60 * 1000000 THEN 1 ELSE 0 END) AS converted
      |  FROM f GROUP BY 1)
      |SELECT user_id % 2 AS variant, COUNT(*) AS n_users,
      |  CAST(SUM(exposed) AS BIGINT) AS n_exposed,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  CASE WHEN SUM(exposed) > 0
      |    THEN (CAST(SUM(converted) AS BIGINT) * 1000000)
      |      // CAST(SUM(exposed) AS BIGINT)
      |    ELSE 0 END AS conv_ppm
      |FROM u GROUP BY 1 ORDER BY variant""".stripMargin

  // ---------------------------------------------------------------------
  // x27_event_pathing — the clickstream TRANSITION MATRIX: within
  // 30-minute sessions, count consecutive (from_type → to_type) steps —
  // the input to Markov path models, funnel-drop diagnosis, and "next
  // action" features. Sessionization is the st2 gaps-and-islands window
  // (one user exchange); transitions are a lag over the SAME
  // (user, session) ordering, so the window exchange is reused, and the
  // final aggregate is type² cardinality. Events never shuffle twice.
  def x27(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gap = 30L * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
      .withColumn("prev_ts", lag(col("tsu"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("tsu") - col("prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("tsu"), col("event_id"))
    sess
      .withColumn("from_type", lag(col("event_type"), 1).over(ws))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val x27Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |  FROM events WHERE user_id IS NOT NULL),
      |s AS (
      |  SELECT user_id, event_id, event_type, tsu,
      |    CASE WHEN lag(tsu) OVER w IS NULL
      |         OR tsu - lag(tsu) OVER w > 30 * 60 * 1000000
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |g AS (
      |  SELECT user_id, event_id, event_type, tsu,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      |  FROM s),
      |t AS (
      |  SELECT user_id, event_type AS to_type,
      |    lag(event_type) OVER (PARTITION BY user_id, session_seq
      |      ORDER BY tsu, event_id) AS from_type
      |  FROM g)
      |SELECT from_type, to_type, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM t WHERE from_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------------
  // x34_locf — last-observation-carried-forward imputation (the time-
  // series repair primitive): only 'click' events carry a trusted
  // reading here; every event gets the latest trusted value at-or-
  // before it on its user's timeline. `last(..., ignoreNulls)` over a
  // (user, time) window — ONE key-shuffle + in-partition sort, the st2
  // sessionization ordering; no self-join, no point-in-time probe per
  // row. The carried value is a STORED double (no arithmetic), so
  // cross-engine equality is bit-exact. Rows before a user's first
  // trusted reading stay null — LOCF has nothing to carry, and the
  // output says so honestly.
  def x34(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tsu = graft.streaming.Streaming.tsMicros(col("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), tsu.as("tsu"),
        col("event_type"),
        when(col("event_type") === "click", col("value")).as("reading"))
      .withColumn("carried", last(col("reading"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("reading"), col("carried"))
      .orderBy(col("event_id"))
  }

  private val x34Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tsu, event_type,
      |    CASE WHEN event_type = 'click' THEN value END AS reading
      |  FROM events)
      |SELECT event_id, user_id, event_type, reading,
      |  last_value(reading IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY tsu, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
      |FROM e ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------------
  // x35_grid_join — SPATIAL radius self-join by grid bucketing (the
  // scale-correct shape for "all pairs within distance r": bucket
  // points into r-sized cells, probe only the 3×3 neighborhood, never
  // the all-pairs grid). Coordinates are hash-derived BIGINT grid
  // positions (both engines run the identical modular arithmetic — no
  // trig, no floats; a real deployment swaps in projected integer
  // coordinates), r=8 on a 300×300 grid (coordinates mix through a post-offset Knuth multiply so the 2^32 wrap engages for every key). Each UNORDERED pair is
  // found exactly once: b's cell falls in exactly one of a's nine
  // probe cells, and a<b keeps one direction. Candidate volume is
  // 9×|points| keys joined cell-equi — the exchange carries cell keys,
  // and the distance² filter is exact integer. Output is a
  // distance²-histogram (26-row result at any scale).
  def x35(spark: SparkSession, dir: String): DataFrame = {
    // xor-shift mix: a bare multiplicative hash is LINEAR in the key, so
    // pair DIFFERENCES depend only on key differences and the "random"
    // points collapse onto a lattice (observed: every dist2 was 2k2).
    // The xor of the high half breaks the linearity in both engines
    // identically (BIGINT ops only, no overflow: h < 2^32, x40503 < 2^48).
    val pts = Tables.customer(spark, dir)
      .select(col("c_custkey").as("id"),
        expr("(((((((c_custkey) % 67108864) * 2654435761L) % 4294967296L) ^ shiftright((((c_custkey) % 67108864) * 2654435761L) % 4294967296L, 16)) * 40503L) % 4294967296L) % 300").as("x"),
        expr("(((((((c_custkey + 7919L) % 67108864) * 2654435761L) % 4294967296L) ^ shiftright((((c_custkey + 7919L) % 67108864) * 2654435761L) % 4294967296L, 16)) * 40503L) % 4294967296L) % 300").as("y"))
      .withColumn("cx", expr("x div 8"))
      .withColumn("cy", expr("y div 8"))
    val probes = pts.select(col("id").as("a"), col("x").as("ax"), col("y").as("ay"),
        explode(sequence(col("cx") - 1, col("cx") + 1)).as("pcx"), col("cy"))
      .select(col("a"), col("ax"), col("ay"), col("pcx"),
        explode(sequence(col("cy") - 1, col("cy") + 1)).as("pcy"))
    probes
      .join(pts.select(col("id").as("b"), col("x").as("bx"), col("y").as("by"),
          col("cx").as("pcx"), col("cy").as("pcy")),
        Seq("pcx", "pcy"))
      .filter(col("a") < col("b"))
      .withColumn("dist2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("dist2") <= 64)
      .groupBy(col("dist2"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("dist2"))
  }

  private val x35Sql =
    """WITH p AS (
      |  SELECT c_custkey AS id,
      |    ((xor(((((c_custkey) % 67108864) * 2654435761) % 4294967296), ((((c_custkey) % 67108864) * 2654435761) % 4294967296) >> 16) * 40503) % 4294967296) % 300 AS x,
      |    ((xor(((((c_custkey + 7919) % 67108864) * 2654435761) % 4294967296), ((((c_custkey + 7919) % 67108864) * 2654435761) % 4294967296) >> 16) * 40503) % 4294967296) % 300 AS y
      |  FROM customer),
      |c AS (SELECT id, x, y, x // 8 AS cx, y // 8 AS cy FROM p),
      |pairs AS (
      |  SELECT a.id AS a, b.id AS b,
      |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
      |  FROM c a
      |  CROSS JOIN range(-1, 2) dx(i) CROSS JOIN range(-1, 2) dy(j)
      |  JOIN c b ON b.cx = a.cx + dx.i AND b.cy = a.cy + dy.j AND a.id < b.id)
      |SELECT dist2, COUNT(*) AS n_pairs
      |FROM pairs WHERE dist2 <= 64
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // x36_cusum — CUSUM changepoint detection over the daily-revenue
  // series (the classic drift alarm, and the SEQUENTIAL-recurrence
  // contrast to v16's pointwise MAD outliers: CUSUM accumulates small
  // sustained shifts that no per-day threshold sees). Everything is
  // integer: mu = total div n, slack = mu div 20 (5%), and the
  // one-sided statistic S_t = max(0, S_{t-1} + x_t − mu − slack) is
  // x20's clamp recurrence — inherently sequential, so it runs as a
  // bounded typed fold over the DAY-cardinality series (the volume was
  // absorbed by the per-day aggregate; the fold input is ~thousands of
  // rows at ANY corpus scale, which is why a single sequential pass is
  // the honest plan, not a compromise). Alarm when S_t > mu div 2.
  def x36(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .as[(String, Long)]
    daily.groupByKey(_ => 0).flatMapGroups { (_, it) =>
      val days = it.toArray.sortBy(_._1)
      val n = days.length.toLong
      // sum via BigInt: the oracle's HUGEINT sum never wraps, so a Scala
      // Long sum (which wraps silently past ~9.2e18 total cents) would
      // diverge at warehouse scale; mu itself fits a Long (≤ max daily).
      val mu =
        if (n == 0) 0L
        else (days.iterator.map(d => BigInt(d._2)).sum / n).toLong
      val slack = mu / 20
      val h = mu / 2
      var s = 0L
      days.iterator.map { case (day, x) =>
        s = math.max(0L, s + x - mu - slack)
        (day, x, s, if (s > h) 1L else 0L)
      }
    }.toDF("day", "cents", "s_up", "alarm")
      .orderBy(col("day"))
  }

  private val x36Sql =
    """WITH RECURSIVE d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |m AS (SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu FROM d),
      |o AS (SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
      |r(rn, day, cents, s) AS (
      |  SELECT rn, day, cents,
      |    GREATEST(cents - mu - mu // 20, 0)
      |  FROM o, m WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.day, o.cents,
      |    GREATEST(r.s + o.cents - mu - mu // 20, 0)
      |  FROM r JOIN o ON o.rn = r.rn + 1 CROSS JOIN m)
      |SELECT day, cents, CAST(s AS BIGINT) AS s_up,
      |  CAST(CASE WHEN s > mu // 2 THEN 1 ELSE 0 END AS BIGINT) AS alarm
      |FROM r CROSS JOIN m ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // x37_weighted_median — exact WEIGHTED quantiles of line price with
  // quantity weights (the inventory-valuation cut: "the price at which
  // half the UNITS trade", not half the line items): sort by (cents,
  // line identity), cumulative weight via
  // [[RelationalQueries.globalPrefixSum]], and each quantile is the
  // first row whose cumulative weight crosses the target fraction —
  // which, because the qualifying set is a suffix of the sort order,
  // is just MIN(cents) over the qualifying rows: three aggregates over
  // one prefix-summed pass, no per-row quantile join. Integer
  // arithmetic throughout (cum·4 vs k·W cross-multiplication).
  def x37(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"))
    val cum = RelationalQueries.globalPrefixSum(li,
      Seq(col("cents"), col("l_orderkey"), col("l_linenumber")), col("w"), "cw")
    val tot = li.agg(sum(col("w")).as("wt"))
    cum.crossJoin(broadcast(tot)) // 1-row scalar ride-along
      .agg(max(col("wt")).as("total_weight"),
        min(when(col("cw") * 4 >= col("wt"), col("cents"))).as("wp25_cents"),
        min(when(col("cw") * 2 >= col("wt"), col("cents"))).as("wmedian_cents"),
        min(when(col("cw") * 4 >= col("wt") * 3, col("cents"))).as("wp75_cents"))
  }

  private val x37Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |c AS (SELECT cents, w,
      |  SUM(w) OVER (ORDER BY cents, l_orderkey, l_linenumber
      |    ROWS UNBOUNDED PRECEDING) AS cw
      |  FROM li),
      |t AS (SELECT SUM(w) AS wt FROM li)
      |SELECT CAST(MAX(wt) AS BIGINT) AS total_weight,
      |  CAST(MIN(CASE WHEN cw * 4 >= wt THEN cents END) AS BIGINT) AS wp25_cents,
      |  CAST(MIN(CASE WHEN cw * 2 >= wt THEN cents END) AS BIGINT) AS wmedian_cents,
      |  CAST(MIN(CASE WHEN cw * 4 >= wt * 3 THEN cents END) AS BIGINT) AS wp75_cents
      |FROM c CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // x38_holt_forecast — Holt double exponential smoothing (level +
  // trend) of the daily-revenue series, the one-step-up from x23's
  // single EWMA and the simplest real FORECASTING operator: with
  // α = β = 1/4 the whole recurrence is integer —
  //   level_t = (y_t + 3·(level + trend)) floordiv 4
  //   trend_t = ((level_t − level_{t−1}) + 3·trend) floordiv 4
  // — with TRUNCATING division on both sides: the trend goes negative
  // on downswings, and DuckDB's integer `//` truncates toward zero
  // (-7 // 4 = -1, measured) exactly like Scala's `/` — so plain
  // division is the portable spelling here, and Math.floorDiv would be
  // the bug. (The q47 offset trick exists for DECIMAL/HUGEINT division
  // where the engines' conventions do differ.)
  // Runs as the bounded typed fold over the day-cardinality aggregate
  // (x36's argument); output is a 1-row summary with the 7-day-ahead
  // linear forecast.
  def x38(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
      .as[(String, Long)]
    val folded = daily.groupByKey(_ => 0).mapGroups { (_, it) =>
      val days = it.toArray.sortBy(_._1)
      var level = days.head._2
      var trend = 0L
      days.drop(1).foreach { case (_, y) =>
        val prev = level
        level = (y + 3 * (level + trend)) / 4
        trend = ((level - prev) + 3 * trend) / 4
      }
      (days.length.toLong, level, trend, level + 7 * trend)
    }.toDF("n_days", "level_cents", "trend_cents", "forecast7_cents")
    // Empty-input shape: mapGroups over zero groups emits ZERO rows, but
    // the oracle's ungrouped aggregate emits ONE all-NULL row. The guard
    // is a left-anti against the folded result (kept iff folded is
    // empty) — distributed, no driver-side isEmpty probe.
    val nullRow = spark.range(1).select(
      lit(null).cast("long").as("n_days"),
      lit(null).cast("long").as("level_cents"),
      lit(null).cast("long").as("trend_cents"),
      lit(null).cast("long").as("forecast7_cents"))
    folded.unionByName(nullRow.join(folded, lit(true), "left_anti"))
  }

  private val x38Sql =
    """WITH RECURSIVE d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |o AS (SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
      |r(rn, level, trend) AS (
      |  SELECT rn, y, CAST(0 AS BIGINT) FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn,
      |    (o.y + 3 * (r.level + r.trend)) // 4,
      |    (((o.y + 3 * (r.level + r.trend)) // 4 - r.level) + 3 * r.trend) // 4
      |  FROM r JOIN o ON o.rn = r.rn + 1)
      |SELECT MAX(rn) AS n_days,
      |  CAST(arg_max(level, rn) AS BIGINT) AS level_cents,
      |  CAST(arg_max(trend, rn) AS BIGINT) AS trend_cents,
      |  CAST(arg_max(level, rn) + 7 * arg_max(trend, rn) AS BIGINT)
      |    AS forecast7_cents
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // x64_twap — hourly TIME-weighted average (x39's other weighting
  // axis, the market-data / metering standard): per (event type,
  // hour), each observation's value holds until the next observation
  // of that type or the hour boundary, whichever is first, and the
  // average weights by that holding duration (whole seconds, exact
  // integer arithmetic — floor-cents × dur_s // Σdur_s, headroom
  // ~4.5e10 rows/group before int64 saturates at these value ranges).
  // Scale shape: the lead() window partitions by (type, hour) — NOT
  // by type alone, which would funnel each type through one reducer —
  // sound because a next-observation beyond the hour end clips to the
  // boundary anyway, so the within-hour lead is semantically
  // identical. The follow-up aggregate groups on the same keys, so
  // Spark reuses the window's exchange: ONE shuffle end to end.
  def x64(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("hidx"))
      .orderBy(col("tsu"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("hidx", expr("tsu div 3600000000"))
      .withColumn("next_tsu", lead(col("tsu"), 1).over(w))
      .withColumn("dur_s", expr(
        "(coalesce(next_tsu, (hidx + 1) * 3600000000) - tsu) div 1000000"))
      .groupBy(col("event_type"), col("hidx"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("cents") * col("dur_s")).as("wsum"),
        sum(col("dur_s")).as("dsum"))
      .select(col("event_type"),
        date_format(timestamp_micros(col("hidx") * lit(3600000000L)),
          "yyyy-MM-dd HH:mm").as("hour"),
        col("n_obs"),
        expr("CAST(wsum div NULLIF(dsum, 0) AS BIGINT)").as("twap_cents"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val x64Sql =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS tsu,
      |    CAST(FLOOR(value * 100) AS BIGINT) AS cents,
      |    epoch_us(ts) // 3600000000 AS hidx
      |  FROM events WHERE value IS NOT NULL),
      |l AS (
      |  SELECT *, LEAD(tsu) OVER (PARTITION BY event_type, hidx
      |      ORDER BY tsu, event_id) AS next_tsu
      |  FROM e),
      |d AS (
      |  SELECT event_type, hidx, cents,
      |    (coalesce(next_tsu, (hidx + 1) * 3600000000) - tsu) // 1000000
      |      AS dur_s
      |  FROM l)
      |SELECT event_type,
      |  strftime(make_timestamp(hidx * 3600000000), '%Y-%m-%d %H:%M')
      |    AS hour,
      |  COUNT(*) AS n_obs,
      |  CAST(SUM(cents * dur_s) // NULLIF(CAST(SUM(dur_s) AS BIGINT), 0)
      |    AS BIGINT) AS twap_cents
      |FROM d GROUP BY event_type, hidx
      |ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------------
  // x39_vwap — monthly volume-weighted average price (x37's weighted
  // MEAN sibling, the standard market/pricing readout): per ship
  // month, VWAP = Σ(price·qty) / Σqty in exact milli-cents by one
  // cross-multiplied division. Σ(cents·qty) rides DECIMAL(38,0) (a
  // warehouse-scale month exceeds BIGINT×1000). One map-side-combined
  // aggregate, month-cardinality output.
  def x39(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy(col("month"))
      .agg(sum(col("qty")).as("total_qty"),
        sum(expr("cast(cents AS DECIMAL(38,0)) * qty")).as("pv"))
      .select(col("month"), col("total_qty"),
        expr("cast((pv * 1000) div total_qty AS BIGINT)").as("vwap_millicents"))
      .orderBy(col("month"))
  }

  private val x39Sql =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
      |  CAST((SUM(CAST(floor(l_extendedprice * 100) AS HUGEINT)
      |    * CAST(l_quantity AS BIGINT)) * 1000)
      |    // SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS vwap_millicents
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // x50_price_volume_mix — the year-over-year revenue-bridge ("waterfall")
  // decomposition every BI team builds: per market segment, the 1997→1998
  // revenue change split into a VOLUME effect ((n2−n1)·avg1), a PRICE
  // effect (n2·(avg2−avg1)), and the exact truncation residual — so the
  // three columns reconcile to the delta bit-for-bit (resid is the only
  // place the integer averages' truncation can land, and emitting it
  // makes the identity auditable instead of approximate). Exact integer
  // micro-cents; per-order averages via truncating div (nonnegative on
  // both engines). Scale shape: ONE orders pass with the customer dim
  // BROADCAST, both years as conditional aggregates in the same
  // partial-agg reduce — no self-join of year slices, no second scan.
  // Long bound: rev_cents·10^6 < 2^63 holds to ~$92B per (segment, year).
  def x50(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("y").isin(1997, 1998))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("segment"))
      .agg(sum(when(col("y") === 1997, 1L).otherwise(0L)).as("n1"),
        sum(when(col("y") === 1998, 1L).otherwise(0L)).as("n2"),
        sum(when(col("y") === 1997, col("cents")).otherwise(0L)).as("rev1_cents"),
        sum(when(col("y") === 1998, col("cents")).otherwise(0L)).as("rev2_cents"))
      .select(col("segment"), col("n1"), col("n2"), col("rev1_cents"),
        col("rev2_cents"),
        expr("(n2 - n1) * (rev1_cents * 1000000 div n1)").as("vol_eff_micro"),
        expr("n2 * (rev2_cents * 1000000 div n2 - rev1_cents * 1000000 div n1)")
          .as("price_eff_micro"),
        expr("""(rev2_cents - rev1_cents) * 1000000
              |  - (n2 - n1) * (rev1_cents * 1000000 div n1)
              |  - n2 * (rev2_cents * 1000000 div n2
              |          - rev1_cents * 1000000 div n1)""".stripMargin)
          .as("resid_micro"))
      .orderBy(col("segment"))
  }

  private val x50Sql =
    """WITH j AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) IN (1997, 1998)),
      |a AS (
      |  SELECT segment,
      |    CAST(SUM(CASE WHEN y = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN y = 1998 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN y = 1997 THEN cents ELSE 0 END) AS BIGINT) AS rev1_cents,
      |    CAST(SUM(CASE WHEN y = 1998 THEN cents ELSE 0 END) AS BIGINT) AS rev2_cents
      |  FROM j GROUP BY 1)
      |SELECT segment, n1, n2, rev1_cents, rev2_cents,
      |  CAST((n2 - n1) * (rev1_cents * 1000000 // n1) AS BIGINT) AS vol_eff_micro,
      |  CAST(n2 * (rev2_cents * 1000000 // n2 - rev1_cents * 1000000 // n1)
      |    AS BIGINT) AS price_eff_micro,
      |  CAST((rev2_cents - rev1_cents) * 1000000
      |    - (n2 - n1) * (rev1_cents * 1000000 // n1)
      |    - n2 * (rev2_cents * 1000000 // n2 - rev1_cents * 1000000 // n1)
      |    AS BIGINT) AS resid_micro
      |FROM a ORDER BY segment""".stripMargin

  // ---------------------------------------------------------------------
  // x73_asof_rtfilter — the native as-of join under RUNTIME BLOOM
  // PRUNING ([[graft.plans.NativeJoinRuntimeFilter]]): a selective
  // probe (purchases of the ~10 "VIP" users) as-of joins the full
  // click stream, and the rule plants a Bloom filter of the probe's
  // user ids BELOW the click side's exchange — at cluster scale the
  // non-VIP ~93% of clicks never shuffle. Spark's own
  // InjectRuntimeFilter can't do this (it pattern-matches Join, never
  // the custom node). The size gates are conf-forced here because
  // sf-scale inputs are all below the 1 GB application default — the
  // conf scope covers the eager localCheckpoint that executes the
  // join, then restores, so no other gate sees the thresholds; result
  // equality with the unfiltered plan is the rule's contract
  // (false positives only ADMIT rows the merge re-checks), spec-pinned
  // in NativeJoinRuntimeFilterSpec and oracle-checked here against
  // DuckDB's native ASOF (which does no such pruning — same answer).
  def x73(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val vipBuys = ev
      .filter(col("event_type") === "purchase" && col("user_id") % 15 === 0)
      .select(col("event_id"), col("user_id"), col("tsu"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("event_id")).as("click_id"))
    val keys = Seq(
      "spark.graft.runtimeFilter.applicationSideThreshold",
      "spark.graft.runtimeFilter.creationSideThreshold",
      "spark.graft.asOfJoin.broadcastThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "0")
    spark.conf.set(keys(1), Long.MaxValue.toString)
    spark.conf.set(keys(2), "-1") // SMJ path: the exchange is what's pruned
    val joined =
      try AsOf.joinBackward(vipBuys, clicks, Seq("user_id"), "tsu", "rtsu")
        .select(col("user_id"), col("tsu"), col("rtsu"))
        .transform(graft.Pins.pinForFanout(_, eager = true)) // executes the pruned plan INSIDE the conf scope
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    joined
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_buys"),
        sum(when(col("rtsu").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        max(when(col("rtsu").isNotNull, expr("(tsu - rtsu) div 60000000")))
          .as("max_gap_min"))
      .orderBy(col("user_id"))
  }

  private val x73Sql =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
      |  FROM events),
      |l AS (SELECT event_id, user_id, tsu FROM e
      |      WHERE event_type = 'purchase' AND user_id % 15 = 0),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(event_id) AS click_id
      |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
      |j AS (SELECT l.user_id, l.tsu, r.rtsu
      |      FROM l ASOF LEFT JOIN r
      |        ON l.user_id = r.user_id AND l.tsu >= r.rtsu)
      |SELECT user_id, COUNT(*) AS n_buys,
      |  CAST(SUM(CASE WHEN rtsu IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_matched,
      |  CAST(MAX(CASE WHEN rtsu IS NOT NULL
      |                THEN (tsu - rtsu) // 60000000 END) AS BIGINT)
      |    AS max_gap_min
      |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // x74_rrf_fusion — HYBRID RETRIEVAL with Reciprocal-Rank Fusion
  // (Cormack et al. 2009, the standard RAG-era way to combine a lexical
  // and a dense ranking without score calibration): BM25 top-50 (t52's
  // scoring core, shared code AND shared oracle CTEs) fused with
  // embedding-cosine top-50 against the vec_id=0 query vector, score =
  // Σ floor(1e12 / (60 + rank)) over the arms that ranked the doc.
  // INTEGER-EXACT throughout: the dense arm never materializes a float
  // cosine — it ranks by the monotone surrogate sign(dot)·⌊⌊|dot|/1e6⌋²
  // / max(⌊nrm/1e6⌋,1)⌋ (cos² ∝ dot²/nrm for a fixed query vector, sign
  // restores direction; the 1e-6 truncation only reshuffles within-
  // 1e-6 ties, which both engines then break identically by vec_id).
  // Scale shape: the lexical arm prunes to query-term postings BEFORE
  // any exchange (t52); both arms end in orderBy+limit(50) =
  // TakeOrderedAndProject, with rank assignment a 50-row window AFTER
  // the limit (never a global window); the fusion is a full-outer join
  // of two ≤50-row frames. Docs matched by one arm only score with the
  // other contribution 0 — the whole point of RRF.
  def x74(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 50
    val lex = TextQueries.bm25Scaled(spark, dir, Seq("stream", "join", "query"))
      .orderBy(col("bm25_scaled").desc, col("doc_id")).limit(k)
      .withColumn("lex_rnk", row_number()
        .over(Window.orderBy(col("bm25_scaled").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("lex_rnk"))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.scaled(col("embedding")).as("sv"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
    val qv = v.filter(col("vec_id") === 0).select(col("sv").as("qsv"))
    val dense = v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv)) // 1-row scalar ride-along: the query vector
      .withColumn("dot", Similarity.dotScaled(col("sv"), col("qsv")))
      .withColumn("skey", Similarity.surrogateCosKey("dot", "nrm"))
      .orderBy(col("skey").desc, col("vec_id")).limit(k)
      .withColumn("dense_rnk", row_number()
        .over(Window.orderBy(col("skey").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("dense_rnk"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_scaled",
        coalesce(expr("1000000000000 div (60 + lex_rnk)"), lit(0L)) +
          coalesce(expr("1000000000000 div (60 + dense_rnk)"), lit(0L)))
      .orderBy(col("rrf_scaled").desc, col("doc_id")).limit(20)
  }

  private val x74Sql =
    s"""WITH ${TextQueries.bm25SqlCtes(Seq("stream", "join", "query"))},
       |lexr AS (
       |  SELECT doc_id, lex_rnk FROM (
       |    SELECT doc_id, CAST(ROW_NUMBER() OVER
       |      (ORDER BY bm25_scaled DESC, doc_id) AS BIGINT) AS lex_rnk
       |    FROM bm25) WHERE lex_rnk <= 50),
       |v AS (SELECT vec_id,
       |        list_transform(embedding,
       |          x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
       |      FROM embeddings),
       |n AS (SELECT vec_id, sv,
       |        CAST(list_aggregate(list_transform(sv, x -> x * x), 'sum') AS BIGINT) AS nrm
       |      FROM v),
       |qvec AS (SELECT sv AS qsv FROM n WHERE vec_id = 0),
       |scd AS (
       |  SELECT a.vec_id,
       |    CAST(list_aggregate(list_transform(range(1, len(a.sv) + 1),
       |      i -> a.sv[i] * qvec.qsv[i]), 'sum') AS BIGINT) AS dot,
       |    a.nrm
       |  FROM n a CROSS JOIN qvec WHERE a.vec_id <> 0),
       |ky AS (
       |  SELECT vec_id,
       |    CASE WHEN dot >= 0
       |      THEN ((abs(dot) // 1000000) * (abs(dot) // 1000000))
       |             // greatest(nrm // 1000000, 1)
       |      ELSE -(((abs(dot) // 1000000) * (abs(dot) // 1000000))
       |             // greatest(nrm // 1000000, 1)) END AS skey
       |  FROM scd),
       |denser AS (
       |  SELECT vec_id AS doc_id, dense_rnk FROM (
       |    SELECT vec_id, CAST(ROW_NUMBER() OVER
       |      (ORDER BY skey DESC, vec_id) AS BIGINT) AS dense_rnk
       |    FROM ky) WHERE dense_rnk <= 50),
       |f AS (
       |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rnk, d.dense_rnk,
       |    COALESCE(1000000000000 // (60 + l.lex_rnk), 0)
       |      + COALESCE(1000000000000 // (60 + d.dense_rnk), 0) AS rrf_scaled
       |  FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id)
       |SELECT doc_id, lex_rnk, dense_rnk, CAST(rrf_scaled AS BIGINT) AS rrf_scaled
       |FROM f ORDER BY rrf_scaled DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // x75_match_recognize — ROW-PATTERN RECOGNITION (the SQL:2016
  // MATCH_RECOGNIZE class — Flink CEP / Trino MATCH_RECOGNIZE — which
  // Spark has no surface for): detect `view+ click+ purchase+` with
  // STRICT contiguity over each user's event-time sequence, AFTER MATCH
  // SKIP PAST LAST ROW. Spark-first plan: the regex over rows collapses
  // to a regex over RUNS — run-length-compress consecutive same-type
  // events (the gaps-and-islands double-row_number), order runs, and
  // the pattern V+C+P+ becomes exactly "three ADJACENT runs typed
  // (view, click, purchase)" matched with two `lead`s — quantifiers
  // absorbed by the compression, the match scan a per-user window pass
  // (no self-join, no UDF automaton). Scale shape: two user-keyed
  // window passes (one exchange) + a per-run aggregate; runs, not
  // events, cross the second window. Output: per matched user, match
  // count, events consumed, first match start — all exact micros.
  def x75(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tsu"), col("event_id"))
    val runs = e
      .withColumn("rid",
        row_number().over(byUser) - row_number().over(byUserType))
      .groupBy(col("user_id"), col("event_type"), col("rid"))
      .agg(count(lit(1)).as("run_len"), min(col("tsu")).as("start_tsu"),
        min(col("event_id")).as("start_eid"))
    val bySeq = Window.partitionBy(col("user_id"))
      .orderBy(col("start_tsu"), col("start_eid"))
    val matches = runs
      .withColumn("t1", lead(col("event_type"), 1).over(bySeq))
      .withColumn("t2", lead(col("event_type"), 2).over(bySeq))
      .withColumn("l1", lead(col("run_len"), 1).over(bySeq))
      .withColumn("l2", lead(col("run_len"), 2).over(bySeq))
      .filter(col("event_type") === "view" && col("t1") === "click" &&
        col("t2") === "purchase")
    matches.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        sum(col("run_len") + col("l1") + col("l2")).as("events_consumed"),
        min(col("start_tsu")).as("first_start_tsu"))
      .orderBy(col("user_id"))
  }

  private val x75Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
      |r AS (
      |  SELECT user_id, event_id, event_type, tsu,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsu, event_id)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY tsu, event_id) AS rid
      |  FROM e),
      |runs AS (
      |  SELECT user_id, event_type, rid, COUNT(*) AS run_len,
      |    MIN(tsu) AS start_tsu, MIN(event_id) AS start_eid
      |  FROM r GROUP BY 1, 2, 3),
      |seq AS (
      |  SELECT user_id, event_type, run_len, start_tsu,
      |    LEAD(event_type, 1) OVER w AS t1,
      |    LEAD(event_type, 2) OVER w AS t2,
      |    LEAD(run_len, 1) OVER w AS l1,
      |    LEAD(run_len, 2) OVER w AS l2
      |  FROM runs
      |  WINDOW w AS (PARTITION BY user_id ORDER BY start_tsu, start_eid))
      |SELECT user_id, COUNT(*) AS n_matches,
      |  CAST(SUM(run_len + l1 + l2) AS BIGINT) AS events_consumed,
      |  MIN(start_tsu) AS first_start_tsu
      |FROM seq
      |WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // x76_selfjoin_elim — REDUNDANT SELF-JOIN ELIMINATION driven end to
  // end through plain `spark.sql`: a per-customer metric view joined
  // to ITSELF on its grouping key (the accidental/generated-SQL shape
  // — BI tools and ORMs emit it routinely), with symmetric cross-side
  // residual conjuncts. [[graft.plans.SelfJoinElimination]] proves the
  // key unique on the view (its Aggregate grouping key), proves both
  // join inputs canonically identical (after column pruning both sides
  // reference the same columns — the rule peels attribute-only
  // Projects), and collapses the join to ONE copy: one scan, ONE
  // aggregate, zero join exchanges, with the residuals substituted
  // onto the single row they would have compared. At 100 TB this
  // removes half the I/O and a full shuffle — the largest plan win
  // available without touching data. Plan pinned by
  // SelfJoinEliminationSpec + PlanRegressionSpec: the optimized plan
  // contains NO Join node and exactly one Aggregate. The oracle
  // executes the self-join literally — elimination must be
  // result-invisible.
  def x76(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .createOrReplaceTempView("graft_x76_m")
    spark.sql(
      """SELECT a.o_custkey AS custkey, a.n + b.n AS n2,
        |  a.cents + b.cents AS cents2
        |FROM graft_x76_m a JOIN graft_x76_m b
        |  ON a.o_custkey = b.o_custkey
        | AND b.cents >= a.n AND a.cents >= b.n
        |ORDER BY custkey""".stripMargin)
  }

  private val x76Sql =
    """WITH m AS (
      |  SELECT o_custkey, COUNT(*) AS n,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1)
      |SELECT a.o_custkey AS custkey, a.n + b.n AS n2,
      |  a.cents + b.cents AS cents2
      |FROM m a JOIN m b
      |  ON a.o_custkey = b.o_custkey
      | AND b.cents >= a.n AND a.cents >= b.n
      |ORDER BY custkey""".stripMargin

  // x77_eager_agg — EAGER AGGREGATION driven end to end through plain
  // `spark.sql`: the per-order rollup (fact grouped by its join key
  // plus dim attributes) that Spark plans as join-then-aggregate —
  // shuffling EVERY lineitem row through the join — re-plans via
  // [[graft.plans.AggregatePushThroughJoin]] into aggregate-then-join:
  // the 4-per-order lineitem fact collapses to per-order partials
  // BEFORE any join exchange (the q58 hand-rewrite as a reusable
  // rule; the dim side is aggregated so its uniqueness on the join
  // key is structurally provable, the same opt-in x68 uses). The
  // outer priority rollup stays above — its grouping key is a
  // dim attribute, so the rule correctly leaves it. Plan pinned by
  // AggregatePushThroughJoinSpec + PlanRegressionSpec (TWO aggregates
  // under the join: the dim build and the pushed fact partial); the
  // oracle executes the same SQL literally — the rewrite must be
  // result-invisible.
  def x77(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_x77_l")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_x77_o")
    spark.sql(
      """WITH dim AS (
        |  SELECT o_orderkey, MAX(o_orderpriority) AS pri
        |  FROM graft_x77_o GROUP BY o_orderkey),
        |per_order AS (
        |  SELECT l.l_orderkey, d.pri,
        |    SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS cents,
        |    COUNT(*) AS n_lines
        |  FROM graft_x77_l l JOIN dim d ON l.l_orderkey = d.o_orderkey
        |  GROUP BY l.l_orderkey, d.pri)
        |SELECT pri, COUNT(*) AS n_orders, SUM(cents) AS cents,
        |  SUM(n_lines) AS n_lines
        |FROM per_order GROUP BY pri ORDER BY pri""".stripMargin)
  }

  private val x77Sql =
    """WITH dim AS (
      |  SELECT o_orderkey, MAX(o_orderpriority) AS pri
      |  FROM orders GROUP BY o_orderkey),
      |per_order AS (
      |  SELECT l.l_orderkey, d.pri,
      |    SUM(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS cents,
      |    COUNT(*) AS n_lines
      |  FROM lineitem l JOIN dim d ON l.l_orderkey = d.o_orderkey
      |  GROUP BY l.l_orderkey, d.pri)
      |SELECT pri, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS cents,
      |  CAST(SUM(n_lines) AS BIGINT) AS n_lines
      |FROM per_order GROUP BY pri ORDER BY pri""".stripMargin

  // x78_bitemporal — BITEMPORAL point-in-time reads (Snodgrass; SQL:2011
  // application-time + system-time periods), the two-dimensional
  // completion of the single-dimension PIT family (x17 probes
  // effective time only; x61/x7 manage SCD2 system time only): every
  // order carries a VALID period [orderdate, orderdate+90d) and one or
  // two SYSTEM versions — the original (superseded after 30 days for
  // every third order) and its +5% price correction (open-ended). A
  // probe grid of (valid V, known-at T) pairs then asks the canonical
  // bitemporal question — "what did the data say about V, as the
  // system knew it at T" — where T before the correction must read the
  // ORIGINAL price for corrected orders and T after must read the
  // corrected one, while V walks the validity window independently.
  // Exactly one system version per order is visible at any T by
  // construction (half-open tx periods abut), which the n_visible
  // counts pin. Scale shape: the version derivation is one map-side
  // projection + union (no join); the probe grid is a bounded 4-row
  // broadcast ride-along; everything downstream is one partial
  // aggregate per probe.
  def x78(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey").as("okey"),
      col("o_orderdate").cast("date").as("vfrom"),
      date_add(col("o_orderdate").cast("date"), 90).as("vto"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val v0 = base.select(col("okey"), col("vfrom"), col("vto"), col("cents"),
      col("vfrom").as("tfrom"),
      when(col("okey") % 3 === 0, date_add(col("vfrom"), 30))
        .otherwise(lit(null)).cast("date").as("tto"))
    val v1 = base.filter(col("okey") % 3 === 0).select(
      col("okey"), col("vfrom"), col("vto"),
      (col("cents") + expr("cents div 20")).as("cents"),
      date_add(col("vfrom"), 30).as("tfrom"),
      lit(null).cast("date").as("tto"))
    val probes = spark.range(1).select(explode(array(
      struct(lit(1).as("probe_id"), to_date(lit("1996-06-01")).as("v"),
        to_date(lit("1996-06-10")).as("t")),
      struct(lit(2).as("probe_id"), to_date(lit("1996-06-01")).as("v"),
        to_date(lit("1999-01-01")).as("t")),
      struct(lit(3).as("probe_id"), to_date(lit("1998-03-01")).as("v"),
        to_date(lit("1998-03-15")).as("t")),
      struct(lit(4).as("probe_id"), to_date(lit("1998-03-01")).as("v"),
        to_date(lit("2002-01-01")).as("t")))).as("p"))
      .select(col("p.probe_id"), col("p.v"), col("p.t"))
    v0.unionByName(v1)
      .join(broadcast(probes),
        col("tfrom") <= col("t") && (col("tto").isNull || col("tto") > col("t")) &&
          col("vfrom") <= col("v") && col("vto") > col("v"))
      .groupBy(col("probe_id"),
        date_format(col("v"), "yyyy-MM-dd").as("v"),
        date_format(col("t"), "yyyy-MM-dd").as("t"))
      .agg(count(lit(1)).as("n_visible"), sum(col("cents")).as("cents"))
      .orderBy(col("probe_id"))
  }

  private val x78Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS vfrom,
      |    CAST(o_orderdate AS DATE) + 90 AS vto,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |versions AS (
      |  SELECT okey, vfrom, vto, cents, vfrom AS tfrom,
      |    CASE WHEN okey % 3 = 0 THEN vfrom + 30 ELSE NULL END AS tto
      |  FROM base
      |  UNION ALL
      |  SELECT okey, vfrom, vto, cents + cents // 20, vfrom + 30, NULL
      |  FROM base WHERE okey % 3 = 0),
      |probes AS (
      |  SELECT * FROM (VALUES
      |    (1, DATE '1996-06-01', DATE '1996-06-10'),
      |    (2, DATE '1996-06-01', DATE '1999-01-01'),
      |    (3, DATE '1998-03-01', DATE '1998-03-15'),
      |    (4, DATE '1998-03-01', DATE '2002-01-01'))
      |    AS t(probe_id, v, t))
      |SELECT p.probe_id, strftime(p.v, '%Y-%m-%d') AS v,
      |  strftime(p.t, '%Y-%m-%d') AS t, COUNT(*) AS n_visible,
      |  CAST(SUM(x.cents) AS BIGINT) AS cents
      |FROM versions x JOIN probes p
      |  ON x.tfrom <= p.t AND (x.tto IS NULL OR x.tto > p.t)
      | AND x.vfrom <= p.v AND x.vto > p.v
      |GROUP BY 1, 2, 3 ORDER BY probe_id""".stripMargin

  // x79_distinct_elim — REDUNDANT-DISTINCT ELIMINATION driven end to
  // end (the round's optimizer-rule feature, x76/x77's sibling): each
  // user's LAST click as-of-joined backward to their latest preceding
  // purchase, then released through `SELECT DISTINCT`. The distinct is
  // provably redundant — user_id is the left aggregate's grouping key
  // and the NATIVE as-of join is row-preserving, so
  // [[graft.plans.DistinctElimination]] traces the uniqueness THROUGH
  // the custom node (via [[graft.plans.PartitionUniqueness]]'s AsOfJoin
  // case) and collapses the dedup to a Project. Vanilla Spark
  // structurally cannot: `distinctKeys` of an unknown LogicalPlan is
  // empty, so without the rule the plan pays a full exchange plus
  // hash-dedup of the whole result that removes nothing — at 100 TB,
  // the most expensive no-op a query can run. Plan pinned by
  // DistinctEliminationSpec + PlanRegressionSpec (exactly TWO
  // aggregates: the two input rollups; none above the as-of). The
  // oracle executes the DISTINCT literally over DuckDB's native ASOF —
  // elimination must be result-invisible.
  def x79(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
    val lastClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(max(col("tsu")).as("tsu"))
    val buys = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("tsu").as("rtsu"))
      .agg(max(col("value")).as("v"))
    AsOf.joinBackward(lastClick, buys, Seq("user_id"), "tsu", "rtsu")
      .select(col("user_id"), col("tsu"),
        coalesce(floor(col("v") * 100).cast("long"), lit(-1L))
          .as("last_cents"))
      .distinct()
      .orderBy(col("user_id"))
  }

  private val x79Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS tsu
      |  FROM events),
      |l AS (SELECT user_id, MAX(tsu) AS tsu FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |r AS (SELECT user_id, tsu AS rtsu, MAX(value) AS v
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT DISTINCT l.user_id, l.tsu,
      |  COALESCE(CAST(floor(r.v * 100) AS BIGINT), -1) AS last_cents
      |FROM l ASOF LEFT JOIN r
      |  ON l.user_id = r.user_id AND l.tsu >= r.rtsu
      |ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x79_distinct_elim" -> (x79 _),
    "x78_bitemporal" -> (x78 _),
    "x77_eager_agg" -> (x77 _),
    "x76_selfjoin_elim" -> (x76 _),
    "x75_match_recognize" -> (x75 _),
    "x74_rrf_fusion" -> (x74 _),
    "x69_strict_ts_sql" -> (x69 _),
    "x68_asof_sql" -> (x68 _),
    "x70_asof_maxby_sql" -> (x70 _),
    "x71_asof_strict_sql" -> (x71 _),
    "x73_asof_rtfilter" -> (x73 _),
    "x72_asof_tolerance_sql" -> (x72 _),
    "x67_strict_attr_sql" -> (x67 _),
    "x66_band_sql" -> (x66 _),
    "x64_twap" -> (x64 _),
    "x63_interval_sql" -> (x63 _),
    "x62_window_funnel" -> (x62 _),
    "x61_scd2_effectivity" -> (x61 _),
    "x60_interval_native" -> (x60 _),
    "x50_price_volume_mix" -> (x50 _),
    "x39_vwap" -> (x39 _),
    "x38_holt_forecast" -> (x38 _),
    "x37_weighted_median" -> (x37 _),
    "x36_cusum" -> (x36 _),
    "x34_locf" -> (x34 _),
    "x35_grid_join" -> (x35 _),
    "x27_event_pathing" -> (x27 _),
    "x26_ab_lift" -> (x26 _),
    "x24_hierarchy_rollup" -> (x24 _),
    "x25_revenue_recognition" -> (x25 _),
    "x21_fifo_allocation" -> (x21 _),
    "x22_streaks" -> (x22 _),
    "x23_ewma" -> (x23 _),
    "x20_stock_rollforward" -> (x20 _),
    "q36_asof_nearest" -> (q36 _),
    "x19_multitouch" -> (x19 _),
    "x18_cohort_retention" -> (x18 _),
    "x17_pit_audit" -> (x17 _),
    "x16_skew_salted_join" -> (x16 _),
    "x15_interval_merge" -> (x15 _),
    "x14_snapshot_diff" -> (x14 _),
    "x13_zorder_layout" -> (x13 _),
    "x12_cogroup_reconcile" -> (x12 _),
    "x11_gapfill" -> (x11 _),
    "x10_overlap_join" -> (x10 _),
    "x1_docs_embeddings" -> (x1 _),
    "x2_funnel" -> (x2 _),
    "x3_intersect" -> (x3 _),
    "x4_skyline" -> (x4 _),
    "x5_asof_attribution" -> (x5 _),
    "x54_asof_native" -> (x54 _),
    "x55_asof_forward" -> (x55 _),
    "x57_cohort_ltv" -> (x57 _),
    "x6_range_join" -> (x6 _),
    "x7_scd2_history" -> (x7 _),
    "x8_bloom_join" -> (x8 _),
    "x9_scd2_merge" -> (x9 _))

  val oracleSql: Map[String, String] = Map(
    "x79_distinct_elim" -> x79Sql,
    "x78_bitemporal" -> x78Sql,
    "x77_eager_agg" -> x77Sql,
    "x76_selfjoin_elim" -> x76Sql,
    "x75_match_recognize" -> x75Sql,
    "x74_rrf_fusion" -> x74Sql,
    "x57_cohort_ltv" -> x57Sql,
    "x55_asof_forward" -> x55Sql,
    "x54_asof_native" -> x54Sql,
    "x50_price_volume_mix" -> x50Sql,
    "x39_vwap" -> x39Sql,
    "x38_holt_forecast" -> x38Sql,
    "x37_weighted_median" -> x37Sql,
    "x36_cusum" -> x36Sql,
    "x34_locf" -> x34Sql,
    "x35_grid_join" -> x35Sql,
    "x27_event_pathing" -> x27Sql,
    "x26_ab_lift" -> x26Sql,
    "x24_hierarchy_rollup" -> x24Sql,
    "x25_revenue_recognition" -> x25Sql,
    "x21_fifo_allocation" -> x21Sql,
    "x22_streaks" -> x22Sql,
    "x23_ewma" -> x23Sql,
    "x18_cohort_retention" -> x18Sql,
    "x19_multitouch" -> x19Sql,
    "x20_stock_rollforward" -> x20Sql,
    "q36_asof_nearest" -> q36Sql,
    "x17_pit_audit" -> x17Sql,
    "x16_skew_salted_join" -> x16Sql,
    "x15_interval_merge" -> x15Sql,
    "x14_snapshot_diff" -> x14Sql,
    "x13_zorder_layout" -> x13Sql,
    "x12_cogroup_reconcile" -> x12Sql,
    "x11_gapfill" -> x11Sql,
    "x10_overlap_join" -> x10Sql,
    "x1_docs_embeddings" -> x1Sql,
    "x2_funnel" -> x2Sql,
    "x3_intersect" -> x3Sql,
    "x4_skyline" -> x4Sql,
    "x5_asof_attribution" -> x5Sql,
    "x69_strict_ts_sql" -> x69Sql,
    "x68_asof_sql" -> x68Sql,
    // two idioms, one oracle: the aggregate spelling must reproduce the
    // window spelling's ASOF LEFT JOIN result exactly
    "x70_asof_maxby_sql" -> x68Sql,
    "x71_asof_strict_sql" -> x71Sql,
    "x73_asof_rtfilter" -> x73Sql,
    "x72_asof_tolerance_sql" -> x72Sql,
    "x67_strict_attr_sql" -> x67Sql,
    "x66_band_sql" -> x66Sql,
    "x64_twap" -> x64Sql,
    "x63_interval_sql" -> x63Sql,
    "x62_window_funnel" -> x62Sql,
    "x61_scd2_effectivity" -> x61Sql,
    "x60_interval_native" -> x60Sql,
    "x6_range_join" -> x6Sql,
    "x7_scd2_history" -> x7Sql,
    "x8_bloom_join" -> x8Sql,
    // the incremental merge must reproduce the full rebuild bit-for-bit,
    // so its oracle IS x7's full-history SQL
    "x9_scd2_merge" -> x7Sql)
}
