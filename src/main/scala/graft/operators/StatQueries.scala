package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Nonparametric / robust statistics over the warehouse tables — the
  * measurement layer a data-quality platform runs NEXT TO the pipelines
  * the reference implements (its validation library,
  * /root/reference/src/price_zone/validate.py, checks per-ROW facts;
  * these check per-DISTRIBUTION facts: monotone trend, rank
  * association, two-sample shift, survival). House conventions
  * throughout: money as integer cents, ratios as exact integer ppm
  * with truncating division (Scala `/` and DuckDB `//` both truncate
  * toward zero — measured, x38's lesson), no floats anywhere near a
  * gate output.
  *
  * Scale shapes: every operator first collapses the fact table to a
  * BOUNDED-cardinality frame (per-day, per-distinct-value, per-user →
  * per-lifetime-day) with a map-side-combined aggregate; the O(k²)
  * pair enumerations and sequential recurrences then run over that
  * bounded frame (x36's argument: the volume was absorbed by the
  * aggregate, so a typed fold over ~thousands of rows is the honest
  * plan at ANY corpus scale, not a compromise). The one exception is
  * x44, whose rank machinery is fully distributed (globalPrefixSum
  * over value-distinct partials) because value cardinality grows with
  * the data.
  */
object StatQueries {

  /** Daily revenue series as (epoch_day, cents) — the shared input of
    * x42/x43. Integer epoch-day key (x20's lesson: no per-row string
    * formatting in the group key). */
  private def dailyOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")).cast("long").as("eday"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))

  // ---------------------------------------------------------------------
  // x42_theil_sen — the Theil–Sen robust trend estimator over the daily
  // revenue series: the MEDIAN of all pairwise slopes, immune to the
  // outlier days that drag an OLS fit (q47) around. Slopes are exact
  // integer milli-cents/day ((Δcents·1000) div Δdays — the ×1000 bound:
  // |Δcents| must stay under ~9.2e15, i.e. daily revenue under ~92
  // trillion cents, comfortably past a 100 TB warehouse's daily
  // volume); the median is the exact lower/upper pair over the sorted
  // slope multiset (value-at-position is deterministic under ties).
  // Pair enumeration is O(days²) over the bounded day-cardinality
  // series — a typed fold, not a self-join, so no quadratic shuffle
  // exists in the plan at any scale.
  def x42(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val folded = dailyOrders(spark, dir)
      .select(col("eday"), col("cents")).as[(Long, Long)]
      .groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val pts = it.toArray.sortBy(_._1)
        val n = pts.length
        if (n < 2) Iterator.single((n.toLong, 0L, Option.empty[Long], Option.empty[Long]))
        else {
          val slopes = new scala.collection.mutable.ArrayBuffer[Long](n * (n - 1) / 2)
          var i = 0
          while (i < n) {
            var j = i + 1
            while (j < n) {
              slopes += (pts(j)._2 - pts(i)._2) * 1000L / (pts(j)._1 - pts(i)._1)
              j += 1
            }
            i += 1
          }
          val s = slopes.toArray.sorted
          val m = s.length
          Iterator.single((n.toLong, m.toLong,
            Some(s((m + 1) / 2 - 1)), Some(s(m / 2))))
        }
      }.toDF("n_days", "n_pairs", "slope_lo_milli", "slope_hi_milli")
    // Empty-input shape parity (x38's lesson): the oracle's ungrouped
    // aggregate emits one row with COUNTs 0 and NULL value-picks.
    val nullRow = spark.range(1).select(
      lit(0L).as("n_days"), lit(0L).as("n_pairs"),
      lit(null).cast("long").as("slope_lo_milli"),
      lit(null).cast("long").as("slope_hi_milli"))
    folded.unionByName(nullRow.join(folded, lit(true), "left_anti"))
  }

  private val x42Sql =
    """WITH d AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS eday,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT (b.cents - a.cents) * 1000 // (b.eday - a.eday) AS slope
      |  FROM d a JOIN d b ON b.eday > a.eday),
      |r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM p),
      |m AS (SELECT COUNT(*) AS np FROM p)
      |SELECT (SELECT COUNT(*) FROM d) AS n_days,
      |  CAST(COALESCE(MAX(np), 0) AS BIGINT) AS n_pairs,
      |  CAST(MIN(CASE WHEN rn = (np + 1) // 2 THEN slope END) AS BIGINT)
      |    AS slope_lo_milli,
      |  CAST(MIN(CASE WHEN rn = np // 2 + 1 THEN slope END) AS BIGINT)
      |    AS slope_hi_milli
      |FROM r CROSS JOIN m""".stripMargin

  // ---------------------------------------------------------------------
  // x43_kendall_tau — Kendall rank correlation between daily revenue and
  // daily order COUNT (does more orders actually mean more money, in
  // rank terms?): concordant/discordant/tied pair tallies over the day
  // series, and tau-a in exact ppm ((nc−nd)·1e6 div pairs; tau-b needs
  // a square root, which has no exact integer form — the tallies let a
  // caller compute it at whatever precision they choose). Same bounded
  // typed-fold shape as x42; |nc−nd| ≤ pairs ≈ days²/2, so the ×1e6
  // never nears the Long edge.
  def x43(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val folded = dailyOrders(spark, dir)
      .select(col("eday"), col("cents"), col("n_orders"))
      .as[(Long, Long, Long)]
      .groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val pts = it.toArray.sortBy(_._1)
        val n = pts.length
        var nc, nd, tx, ty, txy = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val dx = java.lang.Long.compare(pts(i)._2, pts(j)._2)
            val dy = java.lang.Long.compare(pts(i)._3, pts(j)._3)
            if (dx == 0 && dy == 0) txy += 1
            else if (dx == 0) tx += 1
            else if (dy == 0) ty += 1
            else if (dx == dy) nc += 1
            else nd += 1
            j += 1
          }
          i += 1
        }
        val pairs = n.toLong * (n - 1) / 2
        if (n < 2) Iterator.single((n.toLong, 0L, 0L, 0L, 0L, 0L, 0L, Option.empty[Long]))
        else Iterator.single((n.toLong, pairs, nc, nd, tx, ty, txy,
          Some((nc - nd) * 1000000L / pairs)))
      }.toDF("n_days", "n_pairs", "concordant", "discordant",
        "ties_rev", "ties_cnt", "ties_both", "tau_a_ppm")
    val nullRow = spark.range(1).select(
      lit(0L).as("n_days"), lit(0L).as("n_pairs"),
      lit(0L).as("concordant"), lit(0L).as("discordant"),
      lit(0L).as("ties_rev"), lit(0L).as("ties_cnt"), lit(0L).as("ties_both"),
      lit(null).cast("long").as("tau_a_ppm"))
    folded.unionByName(nullRow.join(folded, lit(true), "left_anti"))
  }

  private val x43Sql =
    """WITH d AS (
      |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      AS eday,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT
      |    CASE WHEN (a.cents - b.cents) * (a.n_orders - b.n_orders) > 0
      |      THEN 1 ELSE 0 END AS c,
      |    CASE WHEN (a.cents - b.cents) * (a.n_orders - b.n_orders) < 0
      |      THEN 1 ELSE 0 END AS dd,
      |    CASE WHEN a.cents = b.cents AND a.n_orders <> b.n_orders
      |      THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN a.cents <> b.cents AND a.n_orders = b.n_orders
      |      THEN 1 ELSE 0 END AS ty,
      |    CASE WHEN a.cents = b.cents AND a.n_orders = b.n_orders
      |      THEN 1 ELSE 0 END AS txy
      |  FROM d a JOIN d b ON b.eday > a.eday)
      |SELECT (SELECT COUNT(*) FROM d) AS n_days,
      |  COUNT(*) AS n_pairs,
      |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS concordant,
      |  CAST(COALESCE(SUM(dd), 0) AS BIGINT) AS discordant,
      |  CAST(COALESCE(SUM(tx), 0) AS BIGINT) AS ties_rev,
      |  CAST(COALESCE(SUM(ty), 0) AS BIGINT) AS ties_cnt,
      |  CAST(COALESCE(SUM(txy), 0) AS BIGINT) AS ties_both,
      |  CAST(CASE WHEN COUNT(*) > 0
      |    THEN (SUM(c) - SUM(dd)) * 1000000 // COUNT(*) END AS BIGINT)
      |    AS tau_a_ppm
      |FROM p""".stripMargin

  // ---------------------------------------------------------------------
  // x44_mann_whitney — the Mann–Whitney U rank-sum statistic comparing
  // order VALUE between urgent-priority and normal-priority orders (the
  // exact nonparametric "did the distribution shift?" test v19's DQ
  // suite would call). Everything rides DOUBLED midranks so ties stay
  // integer: ranks for a value occupying sorted positions [c+1, c+cnt]
  // have doubled midrank 2c+cnt+1, so the doubled rank sum for the
  // urgent group is Σ n1(v)·(2·cum(v) − cnt(v) + 1) over DISTINCT
  // values — one grouped aggregate to value cardinality, one
  // distributed prefix sum over the value-ordered partials
  // (globalPrefixSum — no single-partition window; value cardinality
  // GROWS with data), one 1-row reduce. U follows arithmetically:
  // U1·2 = R1·2 − n1(n1+1), U2·2 = 2n1n2 − U1·2. Long bound: n ≲ 3e9
  // rows before n1·n2 nears 2^63 — beyond that the output columns (not
  // the per-partition partials) would need DECIMAL(38,0) carriage.
  def x44(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L).as("hi"))
    val g = v.groupBy(col("cents"))
      .agg(count(lit(1)).as("cnt"), sum(col("hi")).as("n1c"))
    val cum = RelationalQueries.globalPrefixSum(
      g, Seq(col("cents")), col("cnt"), "cum")
    cum.agg(
        sum(col("n1c")).as("n_high"),
        sum(col("cnt") - col("n1c")).as("n_low"),
        sum(col("n1c") * (col("cum") * 2 - col("cnt") + 1)).as("r1_x2"))
      .select(col("n_high"), col("n_low"), col("r1_x2"),
        (col("r1_x2") - col("n_high") * (col("n_high") + 1)).as("u1_x2"),
        (col("n_high") * col("n_low") * 2 -
          (col("r1_x2") - col("n_high") * (col("n_high") + 1))).as("u2_x2"))
  }

  private val x44Sql =
    """WITH v AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS hi
      |  FROM orders),
      |g AS (SELECT cents, COUNT(*) AS cnt, CAST(SUM(hi) AS BIGINT) AS n1c
      |      FROM v GROUP BY 1),
      |c AS (SELECT cnt, n1c,
      |    CAST(SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum
      |  FROM g),
      |a AS (SELECT CAST(SUM(n1c) AS BIGINT) AS n_high,
      |    CAST(SUM(cnt - n1c) AS BIGINT) AS n_low,
      |    CAST(SUM(n1c * (cum * 2 - cnt + 1)) AS BIGINT) AS r1_x2
      |  FROM c)
      |SELECT n_high, n_low, r1_x2,
      |  r1_x2 - n_high * (n_high + 1) AS u1_x2,
      |  n_high * n_low * 2 - (r1_x2 - n_high * (n_high + 1)) AS u2_x2
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // x45_kaplan_meier — the Kaplan–Meier survival curve over SESSION
  // durations in the event stream (house 30-min-gap sessionization, the
  // st2 convention): sessions whose last event touches the final 30
  // minutes of the observation window may still be OPEN, so they're
  // CENSORED at their observed length — dropping them, the naive
  // mistake, biases the curve toward short sessions. S(t) multiplies
  // (n_at_risk − d)/n_at_risk at each completion time — an inherently
  // sequential product, carried in ppm with per-step truncating
  // division applied IDENTICALLY in both engines (the recursive-CTE
  // oracle mirrors the fold step for step, so the ≤1-ppm-per-step
  // truncation is bit-reproduced, not approximated). Scale shape:
  // sessionization is a per-user window (user-partitioned, fully
  // distributed), sessions collapse to duration-MINUTE cardinality
  // (bounded by the observation window) with one map-side-combined
  // aggregate, and the recursion folds over that bounded frame. Long
  // bound: S·n_at_risk ≤ 1e6·sessions — safe to ~9e12 sessions.
  def x45(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1800000000L // 30 min, the house sessionization gap
    val usMin = 60000000L
    val tsu = graft.streaming.Streaming.tsMicros(col("ts"))
    val ev = Tables.events(spark, dir).select(col("user_id"), tsu.as("tsu"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
    val sess = ev
      .withColumn("new_s",
        when(col("tsu") - lag(col("tsu"), 1).over(w) > gapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("tsu")).as("first_us"), max(col("tsu")).as("last_us"))
    val end = ev.agg(max(col("tsu")).as("end_us"))
    sess.crossJoin(broadcast(end)) // 1-row observation-edge ride-along
      .select(
        expr(s"(last_us - first_us) div $usMin").as("t"),
        when(col("last_us") < col("end_us") - lit(gapUs), 1L)
          .otherwise(0L).as("ch"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), sum(col("ch")).as("d"))
      .as[(Long, Long, Long)]
      .groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(_._1)
        var atRisk = rows.iterator.map(_._2).sum
        var s = 1000000L
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        rows.foreach { case (t, cnt, d) =>
          if (d > 0) {
            s = s * (atRisk - d) / atRisk
            out += ((t, atRisk, d, s))
          }
          atRisk -= cnt
        }
        out.iterator
      }.toDF("t_days", "n_risk", "d_churn", "surv_ppm")
      .orderBy(col("t_days"))
  }

  private val x45Sql =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |s AS (
      |  SELECT user_id, tsu,
      |    CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
      |      > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM ev),
      |s2 AS (
      |  SELECT user_id, tsu,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s),
      |per AS (
      |  SELECT user_id, sid, min(tsu) AS f, max(tsu) AS l
      |  FROM s2 GROUP BY 1, 2),
      |e AS (SELECT max(tsu) AS endus FROM ev),
      |life AS (
      |  SELECT (l - f) // 60000000 AS t,
      |    CASE WHEN l < endus - 1800000000 THEN 1 ELSE 0 END AS ch
      |  FROM per CROSS JOIN e),
      |g AS (SELECT t, COUNT(*) AS cnt, CAST(SUM(ch) AS BIGINT) AS d
      |      FROM life GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
      |o AS (SELECT t, cnt, d, ROW_NUMBER() OVER (ORDER BY t) AS rn,
      |    CAST(n - COALESCE(SUM(cnt) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS atrisk
      |  FROM g CROSS JOIN tot),
      |r(rn, t, d, atrisk, s) AS (
      |  SELECT rn, t, d, atrisk,
      |    CASE WHEN d > 0 THEN 1000000 * (atrisk - d) // atrisk
      |      ELSE 1000000 END
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.t, o.d, o.atrisk,
      |    CASE WHEN o.d > 0 THEN r.s * (o.atrisk - o.d) // o.atrisk
      |      ELSE r.s END
      |  FROM r JOIN o ON o.rn = r.rn + 1)
      |SELECT t AS t_days, atrisk AS n_risk, d AS d_churn,
      |  CAST(s AS BIGINT) AS surv_ppm
      |FROM r WHERE d > 0 ORDER BY t""".stripMargin

  // ---------------------------------------------------------------------
  // x46_ks_test — the two-sample Kolmogorov–Smirnov statistic comparing
  // order-value DISTRIBUTIONS between urgent/high-priority and normal
  // orders: D = max over pooled values of |F_hi(v) − F_lo(v)|. Where
  // x44 (Mann–Whitney) detects a location shift, KS detects ANY
  // distributional difference — the pair is the standard drift test
  // battery. Exact integer by cross-multiplication: at each distinct
  // value, |c_hi(v)·n_lo − c_lo(v)·n_hi| over the shared denominator
  // n_hi·n_lo (never divided; d_ppm additionally reported with
  // truncating division). Scale shape: orders collapse to distinct-
  // value cardinality with one map-side-combined aggregate; the two
  // cumulative counts are globalPrefixSum (range partitions + offsets,
  // no single-reducer window — value cardinality grows with data); the
  // scalar totals ride a 1-row broadcast. Long bounds: the cross
  // products stay exact to n_hi·n_lo < 2^63 (~3e9 rows per side);
  // d_ppm's ×1e6 needs n_hi·n_lo ≲ 9.2e12 — beyond that, consume
  // d_num/den instead (both emitted).
  def x46(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L).as("hi"))
    val g = v.groupBy(col("cents"))
      .agg(sum(col("hi")).as("c_hi"), sum(lit(1L) - col("hi")).as("c_lo"))
    // both cumulative counts in ONE range-sort pass (globalPrefixSums)
    val cum = RelationalQueries.globalPrefixSums(
      g, Seq(col("cents")),
      Seq((col("c_hi"), "cum_hi"), (col("c_lo"), "cum_lo")))
    val tot = cum.agg(max(col("cum_hi")).as("n_hi"),
      max(col("cum_lo")).as("n_lo"))
    cum.crossJoin(broadcast(tot)) // 1-row totals ride-along
      .select(col("n_hi"), col("n_lo"),
        abs(col("cum_hi") * col("n_lo") - col("cum_lo") * col("n_hi"))
          .as("dnum"))
      .agg(max(col("n_hi")).as("n_hi"), max(col("n_lo")).as("n_lo"),
        max(col("dnum")).as("d_num"),
        max(col("n_hi") * col("n_lo")).as("den"),
        expr("max(dnum) * 1000000L div max(n_hi * n_lo)").as("d_ppm"))
  }

  private val x46Sql =
    """WITH v AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS hi
      |  FROM orders),
      |g AS (SELECT cents, CAST(SUM(hi) AS BIGINT) AS c_hi,
      |    CAST(SUM(1 - hi) AS BIGINT) AS c_lo
      |  FROM v GROUP BY 1),
      |c AS (SELECT
      |    CAST(SUM(c_hi) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_hi,
      |    CAST(SUM(c_lo) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_lo
      |  FROM g),
      |t AS (SELECT MAX(cum_hi) AS n_hi, MAX(cum_lo) AS n_lo FROM c)
      |SELECT MAX(t.n_hi) AS n_hi, MAX(t.n_lo) AS n_lo,
      |  CAST(MAX(abs(cum_hi * t.n_lo - cum_lo * t.n_hi)) AS BIGINT)
      |    AS d_num,
      |  CAST(MAX(t.n_hi * t.n_lo) AS BIGINT) AS den,
      |  CAST(MAX(abs(cum_hi * t.n_lo - cum_lo * t.n_hi)) * 1000000
      |    // MAX(t.n_hi * t.n_lo) AS BIGINT) AS d_ppm
      |FROM c CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // x47_changepoint — single changepoint LOCATION in the daily-revenue
  // series via the CUSUM argmax estimator: t* = argmax_t |n·S_t − t·S|
  // (the scaled deviation of the prefix sum from its linear
  // interpolation — the classical consistent estimator of a mean-shift
  // point), reported with both segment means. Complements x36 (the
  // sequential one-sided CUSUM ALARM: "is there drift?") with the
  // batch "WHERE did the level shift?" answer. Exact integer: the
  // score needs no division at all — |n·S_t − t·S| is a monotone
  // transform of the per-split between-group contrast at fixed n — so
  // unlike a variance-ratio statistic there is no overflow-prone g²
  // anywhere; the argmax is a TakeOrdered(1) on (score DESC, t ASC).
  // Scale shape: the volume is absorbed by the per-day aggregate — the
  // scored series is day-cardinality bounded at ANY corpus size; the
  // prefix sum and rank come from globalPrefixSum/globalRank (range
  // partitions + offsets), totals ride a 1-row broadcast. Long bounds:
  // the score is exact while n·S < 2^63 through the DECIMAL(38,0)
  // total (wrap-safe); S_t stays a raw Long (wraps past ~9.2e18 total
  // cents — beyond that, drop granularity to whole dollars; the
  // estimator is scale-invariant).
  def x47(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val cum = RelationalQueries.globalPrefixSum(
      daily, Seq(col("day")), col("cents"), "s_t")
    val rk = RelationalQueries.globalRank(cum, Seq(col("day")), "t")
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("cents").cast("decimal(38,0)")).as("s"))
    rk.crossJoin(broadcast(tot)) // 1-row totals ride-along
      .filter(col("t") < col("n"))
      .select(col("day"), col("t"), col("n"), col("s_t"), col("s"),
        expr("abs(cast(n AS DECIMAL(38,0)) * s_t - cast(t AS DECIMAL(38,0)) * s)")
          .as("score"))
      .orderBy(col("score").desc, col("t").asc).limit(1)
      .select(col("day"), col("n").as("n_days"), col("t"),
        expr("s_t div t").as("mean_before_cents"),
        expr("(s - s_t) div (n - t)").as("mean_after_cents"),
        (expr("(s - s_t) div (n - t)") - expr("s_t div t")).as("delta_cents"))
  }

  private val x47Sql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |o AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS t,
      |    CAST(SUM(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS HUGEINT) AS s_t
      |  FROM d),
      |tt AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS HUGEINT) AS s FROM d),
      |g AS (SELECT day, t, n, s_t, s, abs(n * s_t - t * s) AS score
      |  FROM o CROSS JOIN tt WHERE t < n)
      |SELECT day, CAST(n AS BIGINT) AS n_days, CAST(t AS BIGINT) AS t,
      |  CAST(s_t // t AS BIGINT) AS mean_before_cents,
      |  CAST((s - s_t) // (n - t) AS BIGINT) AS mean_after_cents,
      |  CAST((s - s_t) // (n - t) - s_t // t AS BIGINT) AS delta_cents
      |FROM g ORDER BY score DESC, t LIMIT 1""".stripMargin

  // ---------------------------------------------------------------------
  // x48_runs_test — the Wald–Wolfowitz runs test on the daily-revenue
  // up/down sequence: is the direction of day-over-day movement random,
  // or does it trend/oscillate? Completes the drift battery (x44
  // location, x46 distribution, x47 changepoint) with a RANDOMNESS
  // test. Counts: n1 up-days, n2 down-days (zero diffs dropped, the
  // standard tie convention), R runs; the reference moments
  // E[R] = 1 + 2·n1·n2/n and Var[R] = 2n1n2(2n1n2−n) / (n²(n−1)) are
  // emitted as exact ppm (the Var numerator routes through
  // DECIMAL(38,0)/HUGEINT — at day-cardinality 2500 the ×10^6 product
  // crosses 2^63). Scale shape: volume is absorbed by the per-day
  // aggregate; consecutive-day diffs and run transitions are rank
  // self-joins over the day-cardinality series (globalRank twice — the
  // second because dropping ties re-indexes adjacency), totals ride a
  // 1-row broadcast-free aggregate. No unpartitioned data window
  // anywhere.
  def x48(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val rk = RelationalQueries.globalRank(daily, Seq(col("day")), "t")
      .select(col("t"), col("cents"))
      .transform(graft.Pins.pinForFanout(_)) // day-cardinality; reused 2× (x40 pattern)
    val signs = rk.join(rk.select((col("t") + 1L).as("t2"),
        col("cents").as("prev")), col("t") === col("t2"))
      .filter(col("cents") =!= col("prev"))
      .select(col("t"), when(col("cents") > col("prev"), 1L).otherwise(0L)
        .as("s"))
    val seq2 = RelationalQueries.globalRank(signs, Seq(col("t")), "u")
      .select(col("u"), col("s"))
      .transform(graft.Pins.pinForFanout(_)) // reused 3× (transitions + totals)
    val trans = seq2.join(seq2.select((col("u") + 1L).as("u2"),
        col("s").as("sp")), col("u") === col("u2"))
      .agg(sum(when(col("s") =!= col("sp"), 1L).otherwise(0L)).as("chg"))
    seq2.agg(sum(col("s")).as("n1"), sum(lit(1L) - col("s")).as("n2"),
        count(lit(1)).as("n"))
      .crossJoin(broadcast(trans)) // 1-row transition count ride-along
      .select(col("n1"), col("n2"),
        when(col("n") > 0L, coalesce(col("chg"), lit(0L)) + 1L).otherwise(0L)
          .as("runs"), // coalesce: a 1-sign series has no transition rows
        when(col("n") > 0L,
          lit(1000000L) + expr("(2000000 * n1 * n2) div n")).otherwise(0L)
          .as("e_runs_ppm"),
        when(col("n") > 1L, expr(
          """cast((cast(2 AS DECIMAL(38,0)) * n1 * n2
            |  * (cast(2 AS DECIMAL(38,0)) * n1 * n2 - n) * 1000000)
            |  div (cast(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)"""
            .stripMargin)).otherwise(0L).as("var_runs_ppm"))
  }

  private val x48Sql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |o AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS t FROM d),
      |df AS (SELECT t, cents - lag(cents) OVER (ORDER BY t) AS diff FROM o),
      |sg AS (SELECT t, CASE WHEN diff > 0 THEN 1 ELSE 0 END AS s
      |  FROM df WHERE diff IS NOT NULL AND diff <> 0),
      |sq AS (SELECT s, ROW_NUMBER() OVER (ORDER BY t) AS u FROM sg),
      |ch AS (SELECT CAST(COALESCE(SUM(CASE WHEN s <> lag_s THEN 1 ELSE 0 END),
      |    0) AS BIGINT) AS chg
      |  FROM (SELECT s, lag(s) OVER (ORDER BY u) AS lag_s FROM sq)
      |  WHERE lag_s IS NOT NULL),
      |ns AS (SELECT CAST(SUM(s) AS BIGINT) AS n1,
      |    CAST(SUM(1 - s) AS BIGINT) AS n2, COUNT(*) AS n FROM sq)
      |SELECT n1, n2,
      |  CAST(CASE WHEN n > 0 THEN chg + 1 ELSE 0 END AS BIGINT) AS runs,
      |  CAST(CASE WHEN n > 0
      |    THEN 1000000 + (2000000 * n1 * n2) // n ELSE 0 END AS BIGINT)
      |    AS e_runs_ppm,
      |  CAST(CASE WHEN n > 1
      |    THEN (CAST(2 AS HUGEINT) * n1 * n2
      |      * (CAST(2 AS HUGEINT) * n1 * n2 - n) * 1000000)
      |      // (CAST(n AS HUGEINT) * n * (n - 1)) ELSE 0 END AS BIGINT)
      |    AS var_runs_ppm
      |FROM ns CROSS JOIN ch""".stripMargin

  // ---------------------------------------------------------------------
  // x51_anova — one-way ANOVA: does mean order value differ across
  // customer market segments? F = MSB/MSW over integer whole-dollar
  // amounts, computed entirely from per-segment partials (n_g, Σx_g,
  // Σx²_g) — one map-side-combined aggregate after the orders⋈customer
  // key join, so the statistic costs one fact-table pass at any scale.
  // Sums ride DECIMAL(38,0)/HUGEINT; the sum-of-squares identities use
  // one agreed truncating division each (SSW_g = Σx²_g − Σx_g² div n_g;
  // SSB = Σ(Σx_g² div n_g) − (Σx)² div N; MSB/MSW once more) so the
  // ppm is bit-identical cross-engine. Magnitude bound: Spark's `div`
  // yields BIGINT, so every quotient must fit 2^63 — in dollars
  // (x ≤ 6e5) s²/n ≈ n·x̄² stays < 9.2e18 up to n ≈ 4e8 orders
  // (~sf400); the MSB×1e6 product is kept in DECIMAL so only the
  // final small f_ppm lands in BIGINT. (Cents blew the bound at
  // sf0.1 — the measured lesson behind the unit choice.)
  def x51(spark: SparkSession, dir: String): DataFrame = {
    val seg = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("usd"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("usd").cast("decimal(38,0)")).as("s_g"),
        sum((col("usd") * col("usd")).cast("decimal(38,0)")).as("q_g"))
    seg.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"),
        sum(expr("q_g - (s_g * s_g) div n_g")).as("ssw"),
        sum(expr("(s_g * s_g) div n_g")).as("bsum"))
      .select(col("k"), col("n").cast("long").as("n_orders"),
        expr("""cast(cast((bsum - (s * s) div n) div (k - 1) AS DECIMAL(38,0))
               |  * 1000000 div (ssw div (n - k)) AS BIGINT)""".stripMargin)
          .as("f_ppm"))
  }

  private val x51Sql =
    """WITH g AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_g,
      |    CAST(SUM(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |      AS HUGEINT)) AS HUGEINT) AS s_g,
      |    CAST(SUM(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |        AS HUGEINT)
      |      * CAST(floor(o_totalprice) AS BIGINT)) AS HUGEINT) AS q_g
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |a AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(n_g) AS HUGEINT) AS n,
      |    CAST(SUM(s_g) AS HUGEINT) AS s,
      |    CAST(SUM(q_g - (s_g * s_g) // n_g) AS HUGEINT) AS ssw,
      |    CAST(SUM((s_g * s_g) // n_g) AS HUGEINT) AS bsum
      |  FROM g)
      |SELECT k, CAST(n AS BIGINT) AS n_orders,
      |  CAST(((bsum - (s * s) // n) // (k - 1)) * 1000000
      |    // (ssw // (n - k)) AS BIGINT) AS f_ppm
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // x52_markov — the stationary distribution of the per-user event-type
  // Markov chain, by 20 steps of exact integer power iteration in ppm.
  // Transitions are consecutive events per user (one user-partitioned
  // window — x27's exchange, without the session split); the chain is
  // restricted to types that have outgoing transitions (so it stays
  // stochastic) and row-normalized to ppm with truncating division.
  // Scale shape: the events table shuffles ONCE (on user_id for the
  // lag); everything after is the types²-bounded transition table, so
  // the 20-step iteration is a typed fold over ≤ ~100 rows — the
  // volume was absorbed by the aggregate (x42's argument). Mass decays
  // ≤ #states ppm per step from truncation; both engines truncate
  // identically (measured div/`//` parity), so v20 is bit-exact.
  def x52(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    trans.select(col("from_type"), col("to_type"), col("n"))
      .as[(String, String, Long)]
      .groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val rows = it.toArray
        val states = rows.map(_._1).distinct.sorted
        val idx = states.zipWithIndex.toMap
        // keep only edges into states that themselves have outflow
        val kept = rows.filter(r => idx.contains(r._2))
        val tot = kept.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
        val p = kept.map { case (f, t, n) =>
          (idx(f), idx(t), n * 1000000L / tot(f))
        }
        val k = states.length
        var v = Array.fill(k)(if (k > 0) 1000000L / k else 0L)
        for (_ <- 1 to 20) {
          val nv = Array.fill(k)(0L)
          p.foreach { case (i, j, pij) => nv(j) += v(i) * pij }
          v = nv.map(_ / 1000000L)
        }
        val outDeg = kept.groupBy(_._1).map { case (f, rs) => f -> rs.length.toLong }
        states.iterator.zipWithIndex.map { case (s, i) =>
          (s, outDeg.getOrElse(s, 0L), v(i))
        }
      }.toDF("state", "out_deg", "v_ppm")
      .orderBy(col("state"))
  }

  private val x52Sql =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
      |  FROM events WHERE user_id IS NOT NULL),
      |tr0 AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM e),
      |tr AS (
      |  SELECT from_type, to_type, COUNT(*) AS n FROM tr0
      |  WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |idx AS (
      |  SELECT from_type AS state,
      |    ROW_NUMBER() OVER (ORDER BY from_type) - 1 AS i
      |  FROM (SELECT DISTINCT from_type FROM tr)),
      |kept AS (
      |  SELECT * FROM tr WHERE to_type IN (SELECT state FROM idx)),
      |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      |  FROM kept GROUP BY 1),
      |cells AS (
      |  SELECT fi.i AS fi, ti.i AS ti,
      |    k.n * 1000000 // t.tot AS p_ppm
      |  FROM kept k JOIN tot t ON k.from_type = t.from_type
      |    JOIN idx fi ON k.from_type = fi.state
      |    JOIN idx ti ON k.to_type = ti.state),
      |dense AS (
      |  SELECT f.i AS fi, t.i AS ti, COALESCE(c.p_ppm, 0) AS p
      |  FROM idx f CROSS JOIN idx t
      |    LEFT JOIN cells c ON c.fi = f.i AND c.ti = t.i),
      |prow AS (SELECT fi, list(p ORDER BY ti) AS pr FROM dense GROUP BY fi),
      |m AS (SELECT list(pr ORDER BY fi) AS pm,
      |  (SELECT COUNT(*) FROM idx) AS k FROM prow),
      |it AS (
      |  SELECT 0 AS step, [1000000 // k for j IN range(k)] AS v FROM m
      |  UNION ALL
      |  SELECT step + 1,
      |    [CAST(list_sum([v[i + 1] * pm[i + 1][j + 1] for i IN range(k)])
      |        // 1000000 AS BIGINT) for j IN range(k)]
      |  FROM it, m WHERE step < 20),
      |od AS (SELECT from_type, COUNT(*) AS out_deg FROM kept GROUP BY 1)
      |SELECT x.state, CAST(COALESCE(od.out_deg, 0) AS BIGINT) AS out_deg,
      |  CAST(it.v[x.i + 1] AS BIGINT) AS v_ppm
      |FROM idx x LEFT JOIN od ON od.from_type = x.state
      |  CROSS JOIN it WHERE it.step = 20
      |ORDER BY x.state""".stripMargin

  // ---------------------------------------------------------------------
  // x53_kruskal_wallis — the k-group rank ANOVA (Kruskal–Wallis H) over
  // order value by market segment: x44's doubled-midrank machinery
  // extended to k groups, with the tie-corrected statistic in exact
  // ppm. H = 3e6·Σ_g(S_g²/4? no — S_g is the DOUBLED rank sum, so
  // Σ R_g²/n_g = Σ S_g²/(4n_g) and H·1e6 = (3e6·Σ S_g² div (4n_g))
  // div (N(N+1)) − 3(N+1)·1e6; the tie correction multiplies by
  // (N³−N)/(N³−N−Σ(t³−t)). Scale shape: per-(value, seg) counts and
  // per-value totals are both map-side-combined aggregates; the rank
  // cum is a distributed globalPrefixSum (value cardinality grows with
  // data, x44's argument); the k-row per-group frame then folds in one
  // bounded mapGroups where Scala BigInt carries S_g² EXACTLY — the
  // partials ride DECIMAL(38,0) through the shuffle (S_g ≤ 2n_gN
  // overflows 2^63 past N ≈ 2e9 rows) and cross the encoder as
  // strings. The DuckDB mirror computes the same fold in HUGEINT
  // (int128 bounds it at N ≈ 2.5e9 — the oracle's limit, not the
  // engine's; BigInt is unbounded).
  def x53(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("cents"), col("c_mktsegment").as("seg"))
    // per-value row carries its ≤k-entry segment breakdown as a struct
    // list, so the midrank join back onto the N-scale value table never
    // happens — the prefix-sum row explodes map-side into ≤k rows and
    // aggregates straight to the k-row group frame (x44 runs one
    // N-scale pass; this runs two, for k groups instead of two).
    val gv = v.groupBy(col("cents"), col("seg"))
      .agg(count(lit(1)).as("n_gc"))
      .groupBy(col("cents"))
      .agg(sum(col("n_gc")).as("cnt"),
        collect_list(struct(col("seg"), col("n_gc"))).as("segs"))
    val cum = RelationalQueries.globalPrefixSum(
      gv, Seq(col("cents")), col("cnt"), "cum")
    // the tie term Σ(cnt³−cnt) rides the SAME pass as a pseudo-segment
    // row appended to each value's explode — no second N-scale subtree,
    // no 1-row crossJoin (the first cut re-ran the whole two-level
    // aggregate for one scalar)
    val perGroup = cum
      .select(col("cnt"), col("cum"),
        explode(concat(col("segs"), array(
          struct(lit("__ties").as("seg"), lit(0L).as("n_gc"))))).as("e"))
      .groupBy(col("e.seg").as("seg"))
      .agg(sum(col("e.n_gc")).as("n_g"),
        sum(when(col("e.seg") === "__ties",
          col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt") -
            col("cnt"))
          .otherwise(col("e.n_gc").cast("decimal(38,0)") *
            (col("cum") * 2 - col("cnt") + 1))).as("s_g"))
    perGroup
      .select(col("seg"), col("n_g"), col("s_g").cast("string").as("s_g_s"))
      .as[(String, Long, String)]
      .groupByKey(_ => 0).mapGroups { (_, it) =>
        val (tieRows, rows) = it.toArray.partition(_._1 == "__ties")
        val n = rows.map(_._2).sum
        val bigN = BigInt(n)
        // Σ S_g²/(4 n_g), one agreed truncating division per group
        val q = rows.map { case (_, ng, sg) =>
          val s = BigInt(sg); s * s / (4 * BigInt(ng))
        }.sum
        val hPpm = BigInt(3000000) * q / (bigN * (bigN + 1)) -
          3 * (bigN + 1) * 1000000
        val t = BigInt(tieRows.head._3)
        val cube = bigN * bigN * bigN - bigN
        val hAdjPpm = hPpm * cube / (cube - t)
        (rows.length.toLong, n, hPpm.toLong, hAdjPpm.toLong)
      }.toDF("k", "n_orders", "h_ppm", "h_adj_ppm")
  }

  private val x53Sql =
    """WITH v AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    c_mktsegment AS seg
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |gv AS (SELECT cents, seg, COUNT(*) AS n_gc FROM v GROUP BY 1, 2),
      |tot AS (SELECT cents, CAST(SUM(n_gc) AS BIGINT) AS cnt
      |        FROM gv GROUP BY 1),
      |c AS (SELECT cents, cnt,
      |    CAST(SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum
      |  FROM tot),
      |pg AS (
      |  SELECT seg, CAST(SUM(n_gc) AS BIGINT) AS n_g,
      |    CAST(SUM(n_gc::HUGEINT * (cum * 2 - cnt + 1)) AS HUGEINT) AS s_g
      |  FROM gv JOIN c USING (cents) GROUP BY 1),
      |t AS (SELECT CAST(SUM(cnt::HUGEINT * cnt * cnt - cnt) AS HUGEINT)
      |        AS tie_cubes FROM c),
      |a AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(n_g) AS HUGEINT) AS n,
      |    CAST(SUM((s_g * s_g) // (4 * n_g)) AS HUGEINT) AS q
      |  FROM pg)
      |SELECT k, CAST(n AS BIGINT) AS n_orders,
      |  CAST(3000000 * q // (n * (n + 1)) - 3 * (n + 1) * 1000000
      |    AS BIGINT) AS h_ppm,
      |  CAST((3000000 * q // (n * (n + 1)) - 3 * (n + 1) * 1000000)
      |    * (n * n * n - n) // (n * n * n - n - tie_cubes)
      |    AS BIGINT) AS h_adj_ppm
      |FROM a CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // x56_robust_mean — exact trimmed (P5–P95) and winsorized means of
  // order value in integer cents: the robust location estimates a DQ
  // dashboard shows next to the outlier-dragged plain mean. Rank
  // cutoffs are exact (lo = 5%·n, hi = 95%·n, truncating); each
  // DISTINCT value contributes overlap(occupied-rank-interval, (lo,hi])
  // occurrences to the trimmed sum — set arithmetic over the
  // value-ordered cumulative counts, so NO row-level sort or
  // percentile pass exists: one value-cardinality aggregate, one
  // distributed prefix sum (x44's globalPrefixSum — value cardinality
  // grows with data), one reduce. Winsorizing adds lo copies of the
  // (lo+1)-th value and (n−hi) copies of the hi-th. Sums ride
  // DECIMAL(38,0)/HUGEINT; only BIGINT quotients exit.
  def x56(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val cum = RelationalQueries.globalPrefixSum(
      g, Seq(col("cents")), col("cnt"), "cum")
    val tot = broadcast(g.agg(sum(col("cnt")).as("n")))
    cum.crossJoin(tot)
      .select(col("cents"), col("cnt"), col("cum"), col("n"),
        expr("(n * 5) div 100").as("lo"), expr("(n * 95) div 100").as("hi"))
      .agg(
        max(col("n")).as("n_orders"),
        max(col("lo")).as("lo_rank"),
        max(col("hi")).as("hi_rank"),
        sum(expr("""cast(cents AS DECIMAL(38,0)) *
                   |greatest(0L, least(cum, hi) - greatest(cum - cnt, lo))"""
          .stripMargin)).as("tsum"),
        min(when(col("cum") > col("lo"), col("cents"))).as("p5v"),
        min(when(col("cum") >= col("hi"), col("cents"))).as("p95v"))
      .select(col("n_orders"), col("lo_rank"), col("hi_rank"),
        expr("cast(tsum div (hi_rank - lo_rank) AS BIGINT)")
          .as("trimmed_mean_cents"),
        expr("""cast((tsum + cast(lo_rank AS DECIMAL(38,0)) * p5v
               |  + cast(n_orders - hi_rank AS DECIMAL(38,0)) * p95v)
               |  div n_orders AS BIGINT)""".stripMargin)
          .as("winsorized_mean_cents"))
  }

  private val x56Sql =
    """WITH g AS (
      |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    COUNT(*) AS cnt
      |  FROM orders GROUP BY 1),
      |c AS (SELECT cents, cnt,
      |    CAST(SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum
      |  FROM g),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
      |m AS (
      |  SELECT n, (n * 5) // 100 AS lo, (n * 95) // 100 AS hi FROM t),
      |a AS (
      |  SELECT MAX(n) AS n_orders, MAX(lo) AS lo_rank, MAX(hi) AS hi_rank,
      |    CAST(SUM(cents::HUGEINT *
      |      GREATEST(0, LEAST(cum, hi) - GREATEST(cum - cnt, lo)))
      |      AS HUGEINT) AS tsum,
      |    MIN(CASE WHEN cum > lo THEN cents END) AS p5v,
      |    MIN(CASE WHEN cum >= hi THEN cents END) AS p95v
      |  FROM c CROSS JOIN m)
      |SELECT n_orders, lo_rank, hi_rank,
      |  CAST(tsum // (hi_rank - lo_rank) AS BIGINT) AS trimmed_mean_cents,
      |  CAST((tsum + lo_rank::HUGEINT * p5v
      |    + (n_orders - hi_rank)::HUGEINT * p95v) // n_orders AS BIGINT)
      |    AS winsorized_mean_cents
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // x58_hhi — supplier concentration per nation as the exact
  // Herfindahl–Hirschman index: HHI = Σ share² over each nation's
  // suppliers, where share is the supplier's fraction of national
  // account balance, in ppm with agreed truncation (share_ppm =
  // (s_i·1e6) div S, hhi_ppm = Σ share_ppm² div 1e6 — both engines
  // truncate identically, so the ≤1-ppm-per-term loss reproduces
  // bit-for-bit). 10000-supplier monopoly → 1e6 ppm; uniform k
  // suppliers → ~1e6/k. Scale shape: one supplier-table aggregate to
  // (nation, supplier) — already unique — then nation totals via a
  // nation-bounded aggregate joined back broadcast, one more nation
  // aggregate. Balances shift to nonneg cents (acctbal can be
  // negative; shares of a signed total are meaningless, so the audit
  // uses balance − min over the table, a documented convention).
  def x58(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .select(col("s_nationkey"), col("s_suppkey"),
        (floor(col("s_acctbal") * 100).cast("long") + 100000L).as("cents"))
    val nat = broadcast(sup.groupBy(col("s_nationkey"))
      .agg(sum(col("cents")).as("total"), count(lit(1)).as("n_sup")))
    sup.join(nat, Seq("s_nationkey"))
      .select(col("s_nationkey"), col("n_sup"),
        expr("(cents * 1000000) div total").as("share_ppm"))
      .groupBy(col("s_nationkey"))
      .agg(max(col("n_sup")).as("n_suppliers"),
        expr("cast(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)")
          .as("hhi_ppm"))
      .orderBy(col("s_nationkey"))
  }

  private val x58Sql =
    """WITH sup AS (
      |  SELECT s_nationkey, s_suppkey,
      |    CAST(floor(s_acctbal * 100) AS BIGINT) + 100000 AS cents
      |  FROM supplier),
      |nat AS (SELECT s_nationkey, CAST(SUM(cents) AS BIGINT) AS total,
      |        COUNT(*) AS n_sup FROM sup GROUP BY 1),
      |sh AS (
      |  SELECT sup.s_nationkey, nat.n_sup,
      |    (cents * 1000000) // total AS share_ppm
      |  FROM sup JOIN nat USING (s_nationkey))
      |SELECT s_nationkey, MAX(n_sup) AS n_suppliers,
      |  CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
      |FROM sh GROUP BY 1 ORDER BY s_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // x59_rate_limit — per-key GCRA admission (the "leaky bucket as
  // meter" RFC-2697 shape): each user's event stream is rate-limited
  // to one event per 30s with a 60s burst allowance, the politeness
  // budget a crawl/ingest pipeline enforces per domain. The recurrence
  // tat' = max(ts, tat) + T on admit is a genuine non-linear fold — it
  // is NOT prefix-sum decomposable (max ∘ +) — so the shape is ONE
  // shuffle on user_id with a SECONDARY SORT: sortWithinPartitions
  // puts each key's events in event-time order, and a mapPartitions
  // fold with key-change detection streams through them holding O(1)
  // state and ZERO buffering — unlike a groupByKey+sort, a hot key
  // never materializes in memory at all (the sort spills in the
  // exchange machinery, where Spark is built to spill). First event
  // seeds tat = ts + T (tat starts at 0 — epoch µs are positive, so
  // the first test always admits; the oracle's recursive CTE seeds the
  // identical row). st26 runs the SAME recurrence as an always-on
  // transformWithState stream and emits the per-event decisions.
  def x59(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val T = 30000000L // period: 1 event / 30s (µs)
    val burst = 2 * T // 60s burst allowance
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        graft.streaming.Streaming.tsMicros(col("ts")).as("tsu"),
        col("event_id"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tsu"), col("event_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long)] {
          private var cur = Long.MinValue
          private var tat = 0L; private var adm = 0L; private var rej = 0L
          private var pending: Option[(Long, Long, Long)] = None
          private def roll(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (uid, tsu, _) = it.next()
              if (uid != cur) {
                if (cur != Long.MinValue) pending = Some((cur, adm, rej))
                cur = uid; tat = 0L; adm = 0L; rej = 0L
              }
              if (tsu >= tat - burst) { adm += 1; tat = math.max(tsu, tat) + T }
              else rej += 1
            }
            if (pending.isEmpty && !it.hasNext && cur != Long.MinValue) {
              pending = Some((cur, adm, rej))
              cur = Long.MinValue
            }
          }
          override def hasNext: Boolean = { roll(); pending.nonEmpty }
          override def next(): (Long, Long, Long) = {
            roll(); val r = pending.get; pending = None; r
          }
        }
      }
      .toDF("user_id", "admitted", "rejected")
      .orderBy(col("user_id"))
  }

  private val x59Sql =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
      |  FROM events WHERE user_id IS NOT NULL),
      |sim AS (
      |  SELECT user_id, rn, cnt, tsu + 30000000 AS tat,
      |    CAST(1 AS BIGINT) AS adm, CAST(0 AS BIGINT) AS rej
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.cnt,
      |    CASE WHEN e.tsu >= s.tat - 60000000
      |      THEN GREATEST(e.tsu, s.tat) + 30000000 ELSE s.tat END,
      |    s.adm + CASE WHEN e.tsu >= s.tat - 60000000 THEN 1 ELSE 0 END,
      |    s.rej + CASE WHEN e.tsu >= s.tat - 60000000 THEN 0 ELSE 1 END
      |  FROM sim s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
      |SELECT user_id, adm AS admitted, rej AS rejected
      |FROM sim WHERE rn = cnt ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x59_rate_limit" -> (x59 _),
    "x58_hhi" -> (x58 _),
    "x56_robust_mean" -> (x56 _),
    "x53_kruskal_wallis" -> (x53 _),
    "x51_anova" -> (x51 _),
    "x52_markov" -> (x52 _),
    "x48_runs_test" -> (x48 _),
    "x47_changepoint" -> (x47 _),
    "x42_theil_sen" -> (x42 _),
    "x43_kendall_tau" -> (x43 _),
    "x44_mann_whitney" -> (x44 _),
    "x45_kaplan_meier" -> (x45 _),
    "x46_ks_test" -> (x46 _))

  val oracleSql: Map[String, String] = Map(
    "x59_rate_limit" -> x59Sql,
    "x58_hhi" -> x58Sql,
    "x56_robust_mean" -> x56Sql,
    "x53_kruskal_wallis" -> x53Sql,
    "x51_anova" -> x51Sql,
    "x52_markov" -> x52Sql,
    "x48_runs_test" -> x48Sql,
    "x47_changepoint" -> x47Sql,
    "x42_theil_sen" -> x42Sql,
    "x43_kendall_tau" -> x43Sql,
    "x44_mann_whitney" -> x44Sql,
    "x45_kaplan_meier" -> x45Sql,
    "x46_ks_test" -> x46Sql)
}
