package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Classic decision-support shapes (the TPC-H Q3/Q4/Q8/Q14/Q16/Q17/
  * Q18/Q19/Q21/Q22 patterns), adapted to the TESTDATA schema — the
  * query family a warehouse user migrating off the reference stack
  * (/root/reference/src/price_zone/transform_spark_job.py's
  * filter-join-aggregate pipelines, generalized) runs daily. Each is
  * a pure declarative plan: filters reach the parquet scans,
  * dimension joins are explicit `broadcast()`, aggregation happens
  * BEFORE fact-side joins wherever the group key allows it, and
  * every top-k is an ORDER BY + LIMIT that Spark executes as
  * TakeOrderedAndProject (no global sort).
  *
  * Oracle-parity conventions (see RelationalQueries): exact revenue
  * sums ride DECIMAL(18,4); ratios are exact integer ppm with the
  * wide intermediate on DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
  * where `div` and `//` both truncate toward zero (measured; holds
  * for negative numerators — x38's lesson); dates surface as
  * yyyy-MM-dd strings; DuckDB's HUGEINT aggregates are CAST back to
  * BIGINT so the driver's no-cast hash sees identical
  * representations.
  */
object TpchQueries {
  import RelationalQueries.dsum

  private val D184 = DecimalType(18, 4)

  // ---------------------------------------------------------------------
  // q50_shipping_priority — TPC-H Q3: unshipped-revenue top-10 for one
  // market segment. Scale shape: lineitem pre-aggregates per ORDER
  // (map-side combined, the fact exchange carries order-cardinality
  // partials, never line items), the segment-filtered customer dim
  // broadcasts into orders, and the final top-10 is
  // TakeOrderedAndProject on the exact DECIMAL revenue (custkey-free
  // deterministic tie-break on orderkey).
  def q50(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(D184).as("rev"))
      .groupBy(col("l_orderkey")).agg(sum(col("rev")).as("rev_exact"))
    rev.join(ord, col("l_orderkey") === col("o_orderkey"))
      .orderBy(col("rev_exact").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey").as("orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority").as("priority"),
        col("rev_exact").cast(DoubleType).as("revenue"))
  }

  private val q50Sql =
    """WITH rev AS (
      |  SELECT l_orderkey AS orderkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
      |      AS rev_exact
      |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01' GROUP BY 1)
      |SELECT orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  o_orderpriority AS priority, CAST(rev_exact AS DOUBLE) AS revenue
      |FROM rev JOIN orders ON orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderdate < TIMESTAMP '1998-06-01'
      |  AND c_mktsegment = 'BUILDING'
      |ORDER BY rev_exact DESC, orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q51_late_priority — TPC-H Q4: order-priority tally of one quarter's
  // orders that had at least one line shipped >30 days after order
  // date. The EXISTS decorrelates to a LEFT SEMI join with the
  // non-equi lateness predicate in the join condition — one pass over
  // each side, no count-then-filter, duplicates never materialize.
  // Output is priority-cardinality (5 rows at any scale).
  def q51(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q51Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q52_promo_share — TPC-H Q14: promo-type parts' share of one
  // month's revenue, in exact ppm. Revenue sums ride DECIMAL(18,4)
  // (exact, order-independent); the share multiplies the e4-scaled
  // integer through DECIMAL(38,0)/HUGEINT before the truncating
  // divide, so the ppm is bit-identical cross-engine (a double ratio
  // would not be). The part dim broadcasts; one aggregate, 1-row out.
  def q52(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(D184).as("rev"))
      .join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast(D184))).as("promo"),
        sum(col("rev")).as("total"))
      .select(col("n_lines"),
        expr("cast(promo * 10000 AS BIGINT)").as("promo_e4"),
        expr("cast(total * 10000 AS BIGINT)").as("total_e4"),
        expr("""cast((cast(promo * 10000 AS DECIMAL(38,0)) * 1000000)
               |  div cast(total * 10000 AS DECIMAL(38,0)) AS BIGINT)"""
          .stripMargin).as("promo_ppm"))
  }

  private val q52Sql =
    """WITH j AS (
      |  SELECT p_type,
      |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |    AND l_shipdate < TIMESTAMP '1997-10-01'),
      |s AS (SELECT COUNT(*) AS n_lines,
      |  SUM(CASE WHEN p_type = 'PROMO' THEN rev
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
      |  SUM(rev) AS total FROM j)
      |SELECT n_lines, CAST(promo * 10000 AS BIGINT) AS promo_e4,
      |  CAST(total * 10000 AS BIGINT) AS total_e4,
      |  CAST((CAST(promo * 10000 AS HUGEINT) * 1000000)
      |    // CAST(total * 10000 AS HUGEINT) AS BIGINT) AS promo_ppm
      |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // q53_market_share — TPC-H Q8: per order-year, the revenue share
  // (ppm) of one supplier NATION within one customer REGION's orders.
  // Dims chain region→nation→customer entirely broadcast-side; the
  // fact path is lineitem ⋈ (orders semi-filtered to the region's
  // customers) with supplier's nation broadcast onto lines. One
  // (year)-grouped aggregate computes both the total and the
  // nation's slice — no second pass, shares via exact e4-integer ppm.
  def q53(spark: SparkSession, dir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 2).select(col("n_nationkey"))
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(D184).as("rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("yr"))
      .agg(sum(when(col("s_nationkey") === 7, col("rev"))
          .otherwise(lit(0).cast(D184))).as("nat"),
        sum(col("rev")).as("total"))
      .select(col("yr"),
        expr("cast(nat * 10000 AS BIGINT)").as("nation_e4"),
        expr("cast(total * 10000 AS BIGINT)").as("total_e4"),
        expr("""cast((cast(nat * 10000 AS DECIMAL(38,0)) * 1000000)
               |  div cast(total * 10000 AS DECIMAL(38,0)) AS BIGINT)"""
          .stripMargin).as("share_ppm"))
      .orderBy(col("yr"))
  }

  private val q53Sql =
    """WITH j AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, s_nationkey,
      |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE o_custkey IN (
      |    SELECT c_custkey FROM customer
      |    JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 2)),
      |s AS (SELECT yr,
      |  SUM(CASE WHEN s_nationkey = 7 THEN rev
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat,
      |  SUM(rev) AS total FROM j GROUP BY 1)
      |SELECT yr, CAST(nat * 10000 AS BIGINT) AS nation_e4,
      |  CAST(total * 10000 AS BIGINT) AS total_e4,
      |  CAST((CAST(nat * 10000 AS HUGEINT) * 1000000)
      |    // CAST(total * 10000 AS HUGEINT) AS BIGINT) AS share_ppm
      |FROM s ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------------
  // q54_parts_supplier — TPC-H Q16: distinct-supplier counts per part
  // (brand, type, size) bucket, excluding complained-about suppliers.
  // The NOT IN (guaranteed-non-null probe side) is a LEFT ANTI join
  // against the tiny bad-supplier set (broadcast); the part dim
  // broadcasts with brand/size filters pushed to its scan; the
  // distinct-count shuffles (partkey,suppkey)-deduped partials, not
  // raw lines.
  def q54(spark: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val pt = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 5, 9, 13))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val q54Sql =
    """SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
      |  AND l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ---------------------------------------------------------------------
  // q55_small_qty_revenue — TPC-H Q17: revenue locked in "small"
  // orders of one brand's parts, where small means quantity below 20%
  // of that part's average order quantity. The correlated average
  // decorrelates to a per-part aggregate joined back on partkey;
  // 0.2·avg = sum/(5·cnt) compares EXACTLY by cross-multiplication
  // (qty·5·cnt < sum) — quantities are integral, so no float
  // tolerance anywhere. Brand filter broadcasts off the part dim and
  // prunes the fact scan before any shuffle.
  def q55(spark: SparkSession, dir: String): DataFrame = {
    val brand = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
    val per = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cnt"))
    li.join(per, col("l_partkey") === col("pk"))
      .filter(col("qty") * 5 * col("cnt") < col("sq"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
  }

  private val q55Sql =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#13'),
      |per AS (SELECT l_partkey AS pk, SUM(qty) AS sq, COUNT(*) AS cnt
      |        FROM li GROUP BY 1)
      |SELECT COUNT(*) AS n_lines, CAST(SUM(cents) AS BIGINT) AS revenue_cents
      |FROM li JOIN per ON l_partkey = pk
      |WHERE qty * 5 * cnt < sq""".stripMargin

  // ---------------------------------------------------------------------
  // q56_large_orders — TPC-H Q18: top-20 largest-quantity orders. The
  // HAVING sum(qty) > 300 runs as the lineitem pre-aggregate (map-side
  // combined, order-cardinality partials) and its survivors — a tiny
  // fraction — join orders; the exact-cents sort key makes the top-20
  // deterministic (TakeOrderedAndProject, no global sort).
  def q56(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        floor(col("o_totalprice") * 100).cast("long").as("total_cents"),
        col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q56Sql =
    """WITH big AS (
      |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |    AS sum_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
      |SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents, sum_qty
      |FROM big JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY total_cents DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q57_disjunctive — TPC-H Q19: revenue under an OR-of-ANDs predicate
  // spanning both the fact and the dim (brand × size-range ×
  // quantity-range triples). The disjunction can't prune the fact scan
  // (quantity ranges overlap), but every brand/size conjunct prunes
  // the broadcast part dim, and the whole filter evaluates inside one
  // whole-stage-codegen'd join-project — no per-branch passes, no
  // union of three scans.
  def q57(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.part(spark, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(D184).as("rev"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(16, 30) &&
          col("l_quantity").between(15, 35)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(31, 50) &&
          col("l_quantity").between(30, 50)))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("rev")).as("revenue"))
  }

  private val q57Sql =
    """SELECT COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
      |        AND l_quantity BETWEEN 15 AND 35)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
      |        AND l_quantity BETWEEN 30 AND 50)""".stripMargin

  // ---------------------------------------------------------------------
  // q58_blocking_supplier — TPC-H Q21: suppliers who were the SOLE
  // late shipper in multi-supplier orders (shipped >60 days after
  // order date while every co-supplier shipped on time). Classic
  // aggregate rewrite of the EXISTS/NOT-EXISTS pair: ONE pass over
  // lineitem⋈orders folds lines to (order, supplier, is_late), a
  // second per-order aggregate counts suppliers / late suppliers and
  // carries the sole late supplier (well-defined exactly when
  // n_late = 1), and the filter `n_late = 1 AND n_supp > 1` replaces
  // both correlated quantifiers. Key algebraic step: a pair is late
  // iff its LATEST line is late (all lines of an order share one
  // o_orderdate), so lineitem pre-aggregates max(l_shipdate) per
  // (order, supplier) BEFORE touching orders — the join input is
  // pair-cardinality, not line-cardinality. Scale shape: three hash
  // exchanges (pair keys → orderkey → suppkey), all map-side
  // combined, NO fact-derived broadcast build — the r6 plan broadcast
  // the distinct pair set (fact-cardinality, grows with data); here
  // per-order state is two counters, the only AQE-eligible broadcast
  // is the 2-column orders projection (runtime-size-guarded, demotes
  // to SMJ at scale), and the oracle stays the independent EXISTS
  // form.
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max(col("l_shipdate")).as("max_ship"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val isLate =
      col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAY")
    pairs
      .join(ord, col("ok") === col("o_orderkey"))
      .groupBy(col("ok"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(isLate, 1).otherwise(0)).as("n_late"),
        max(when(isLate, col("sk"))).as("late_sk"))
      .filter(col("n_late") === 1 && col("n_supp") > 1)
      .groupBy(col("late_sk").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(10)
  }

  private val q58Sql =
    """WITH late AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
      |pairs AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
      |          FROM lineitem)
      |SELECT l.sk AS s_suppkey, COUNT(*) AS numwait
      |FROM late l
      |WHERE EXISTS (SELECT 1 FROM pairs p
      |              WHERE p.ok = l.ok AND p.sk <> l.sk)
      |  AND NOT EXISTS (SELECT 1 FROM late o
      |                  WHERE o.ok = l.ok AND o.sk <> l.sk)
      |GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q59_idle_rich — TPC-H Q22: per nation, customers with
  // above-average (among positive balances) account balance and NO
  // recent orders. The scalar average rides a 1-row broadcast and the
  // comparison cross-multiplies (cents·cnt > sum_cents — exact, no
  // division); the NOT EXISTS is a LEFT ANTI against the
  // date-pruned orders projection. Balance cents via floor(x·100):
  // both engines evaluate the identical IEEE double ops on the same
  // parquet values, so the integer is deterministic cross-engine.
  def q59(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"))
    val pos = cust.filter(col("cents") > 0)
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("c"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(pos)) // 1-row scalar ride-along
      .filter(col("cents") * col("c") > col("s"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("bal_cents"))
      .orderBy(col("c_nationkey"))
  }

  private val q59Sql =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |pos AS (SELECT CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS c
      |        FROM cust WHERE cents > 0)
      |SELECT c_nationkey, COUNT(*) AS n_cust,
      |  CAST(SUM(cents) AS BIGINT) AS bal_cents
      |FROM cust CROSS JOIN pos
      |WHERE cents * c > s
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // x40_acf — autocorrelation of the daily-revenue series at lags
  // 1/2/3/7/30 in exact ppm (the seasonality detector behind x28's
  // day-of-week index: lag-7 ≫ lag-1 ⇒ weekly cycle). Mean-centering
  // is EXACT by scaling through n: with S = Σx, dev_t = n·x_t − S is
  // an integer, and acf_k = Σ dev_t·dev_{t+k} / Σ dev_t² — the n²
  // factors cancel. Products ride DECIMAL(38,0)/HUGEINT (dev ≲
  // n·max_day ≈ 2.5e3·1e15 at 100 TB → dev² ≈ 6e36, inside both
  // engines' 38-digit ceiling for the SUM only because days are
  // bounded — the comment-pinned bound, not an accident); `div`//`//`
  // truncate identically for the possibly-negative numerator. Scale
  // shape: the volume collapses in the per-day aggregate (x36's
  // argument); the lag joins are rn+k equi-joins over the bounded
  // day-cardinality series, localCheckpointed once and reused by all
  // five lags.
  def x40(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    val rn = RelationalQueries.globalRank(daily, Seq(col("day")), "rn")
    val tot = daily.agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    val base = rn.crossJoin(broadcast(tot)) // 1-row scalar ride-along
      .select(col("rn"),
        expr("cast(n AS DECIMAL(38,0)) * cents - s").as("dev"))
      .transform(graft.Pins.pinForFanout(_)) // day-cardinality; reused 11×
    val den = base.agg(sum(expr("dev * dev")).as("den"))
    Seq(1, 2, 3, 7, 30).map { k =>
      base.select(col("rn"), col("dev"))
        .join(base.select((col("rn") - k).as("rn2"), col("dev").as("dev2")),
          col("rn") === col("rn2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("dev * dev2")).as("num"))
        .crossJoin(broadcast(den))
        .select(lit(k.toLong).as("lag"), col("n_pairs"),
          expr("cast((num * 1000000) div den AS BIGINT)").as("acf_ppm"))
    }.reduce(_ unionAll _).orderBy(col("lag"))
  }

  private val x40Sql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |o AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
      |t AS (SELECT CAST(SUM(cents) AS HUGEINT) AS s, COUNT(*) AS n FROM d),
      |b AS (SELECT rn, CAST(n AS HUGEINT) * cents - s AS dev
      |      FROM o CROSS JOIN t),
      |den AS (SELECT SUM(dev * dev) AS den FROM b),
      |lags AS (SELECT * FROM (VALUES (1), (2), (3), (7), (30)) v(k)),
      |num AS (SELECT k, COUNT(*) AS n_pairs, SUM(a.dev * c.dev) AS num
      |        FROM lags JOIN b a ON TRUE JOIN b c ON c.rn = a.rn + k
      |        GROUP BY k)
      |SELECT CAST(k AS BIGINT) AS lag, n_pairs,
      |  CAST((num * 1000000) // den AS BIGINT) AS acf_ppm
      |FROM num CROSS JOIN den ORDER BY lag""".stripMargin

  // ---------------------------------------------------------------------
  // q61_custdist — TPC-H Q13: the count-of-counts histogram (how many
  // customers placed exactly k non-urgent orders), INCLUDING the
  // zero-order customers — which forces the LEFT join with the order
  // filter inside the join (a WHERE would silently turn it inner and
  // drop the zero bucket, the classic Q13 bug). Two aggregates, both
  // map-side combined; the first is customer-cardinality, the second
  // k-cardinality.
  def q61(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q61Sql =
    """WITH per AS (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM per GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------------
  // q62_top_supplier — TPC-H Q15: the supplier(s) with the maximum
  // quarterly revenue. The scalar-max subquery becomes an EQUI-join on
  // the revenue value itself (rev ⋈ max-rev) — no nested-loop, no
  // second scan of lineitem, tie rows surface naturally. Revenue
  // compares as the exact e4 integer (a double max would make "equal
  // to the max" ill-defined).
  def q62(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(D184)).as("r"))
      .select(col("l_suppkey"), expr("cast(r * 10000 AS BIGINT)").as("rev_e4"))
    val mx = rev.agg(max(col("rev_e4")).as("mx"))
    rev.join(broadcast(mx), col("rev_e4") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_e4"))
      .orderBy(col("s_suppkey"))
  }

  private val q62Sql =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, rev_e4
      |FROM rev JOIN (SELECT MAX(rev_e4) AS mx FROM rev) m ON rev_e4 = mx
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // q63_volume_shipping — TPC-H Q7: bilateral trade volume between two
  // nations by year — supplier nation on the lineitem side, customer
  // nation through orders, keeping both directions as separate rows.
  // Both nation attachments are broadcast dims; the (supp_nation,
  // cust_nation) pair filter prunes at the joins, not after; revenue
  // is the exact e4 integer.
  def q63(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey").isin(3, 7))
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(3, 7))
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val ord = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(D184).as("rev"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(rev) * 10000 AS BIGINT)").as("rev_e4"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val q63Sql =
    """SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE s_nationkey IN (3, 7) AND c_nationkey IN (3, 7)
      |  AND s_nationkey <> c_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q64_product_profit — TPC-H Q9 shape: profit per supplier nation per
  // year for one product family, with part retail price standing in
  // for the missing supplycost dim. The measure stays a SINGLE integer
  // unit end to end (cent·percent: revenue = cents·(100−disc_pct),
  // cost = 80·qty·retail_cents) so the subtraction is exact — mixed
  // units under a decimal sum is the classic Q9 drift bug. Part and
  // supplier dims broadcast; one grouped aggregate.
  def q64(spark: SparkSession, dir: String): DataFrame = {
    val pt = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100).cast("long").as("retail_cents"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_discount") * 100).cast("long").as("dpct"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("amount_cp", expr(
        "cast(cents AS DECIMAL(38,0)) * (100 - dpct) - 80 * qty * retail_cents"))
      .groupBy(col("nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(amount_cp) AS BIGINT)").as("profit_cp"))
      .orderBy(col("nation"), col("l_year"))
  }

  private val q64Sql =
    """SELECT CAST(s_nationkey AS BIGINT) AS nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(CAST(floor(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
      |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |    - 80 * CAST(l_quantity AS BIGINT)
      |      * CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS profit_cp
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_type = 'STANDARD'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q65_promo_suppliers — TPC-H Q20 shape: suppliers whose 1997 PROMO
  // shipments exceed 1.2× the per-supplier average volume — the nested
  // IN-subquery-with-scalar-threshold pattern, with a SCALE-FREE
  // threshold (a fixed global-share cut like "2% of total" empties as
  // the supplier population grows; comparing to the population average
  // selects the same tail at any scale). The per-supplier aggregate
  // joins the 1-row (total, n) scalar (cross-multiplied compare:
  // qty·n·5 > total·6 — no division), and the survivor set attaches
  // the supplier dim broadcast-side.
  def q65(spark: SparkSession, dir: String): DataFrame = {
    val promoLines = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_type") === "PROMO").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("qty"))
    val per = promoLines.groupBy(col("l_suppkey"))
      .agg(sum(col("qty")).as("supp_qty"))
    val tot = per.agg(sum(col("supp_qty")).as("total_qty"),
      count(lit(1)).as("n_supp"))
    per.crossJoin(broadcast(tot)) // 1-row scalar ride-along
      .filter(col("supp_qty") * col("n_supp") * 5 > col("total_qty") * 6)
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("supp_qty"),
        col("total_qty"))
      .orderBy(col("s_suppkey"))
  }

  private val q65Sql =
    """WITH pl AS (
      |  SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'PROMO' AND year(l_shipdate) = 1997),
      |per AS (SELECT l_suppkey, CAST(SUM(qty) AS BIGINT) AS supp_qty
      |        FROM pl GROUP BY 1),
      |tot AS (SELECT CAST(SUM(supp_qty) AS BIGINT) AS total_qty,
      |        COUNT(*) AS n_supp FROM per)
      |SELECT s_suppkey, s_name, supp_qty, total_qty
      |FROM per CROSS JOIN tot
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE supp_qty * n_supp * 5 > total_qty * 6
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------------
  // x41_stl — STL-style decomposition of the daily-revenue series into
  // trend + weekly seasonal + residual, entirely in integers: trend is
  // the centered 7-day moving average (full windows only — edges stay
  // NULL rather than fabricating a shorter-window trend), the seasonal
  // term is the per-ISO-weekday mean of the detrended series, and the
  // residual is what x36's CUSUM or v16's MAD should alarm on AFTER
  // calendar structure is removed. Truncating-division parity holds for
  // the possibly-negative detrended sums (x38's measured fact). Scale
  // shape: the volume collapses in the per-day aggregate (x36's
  // argument); the centered window runs over the bounded day-cardinality
  // series (single ordered pass), and the 7-row seasonal dim broadcasts
  // back.
  def x41(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    // bounded day-cardinality series — the single-partition window is
    // the honest plan here, not a compromise (x36's argument)
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val t = daily
      .withColumn("wsum", sum(col("cents")).over(w))
      .withColumn("wcnt", count(lit(1)).over(w))
      .withColumn("trend", when(col("wcnt") === 7, expr("wsum div 7")))
      .withColumn("dow", (weekday(to_date(col("day"))) + 1).cast("long"))
    val seas = t.filter(col("trend").isNotNull)
      .groupBy(col("dow"))
      .agg(expr("sum(cents - trend) div count(1)").as("seasonal"))
    t.join(broadcast(seas), Seq("dow"))
      .select(col("day"), col("cents"), col("trend"), col("seasonal"),
        (col("cents") - col("trend") - col("seasonal")).as("resid"))
      .orderBy(col("day"))
  }

  private val x41Sql =
    """WITH d AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT day, cents,
      |    CAST(SUM(cents) OVER w AS BIGINT) AS wsum,
      |    COUNT(*) OVER w AS wcnt,
      |    CAST(isodow(CAST(day AS DATE)) AS BIGINT) AS dow
      |  FROM d
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT day, cents, dow,
      |    CASE WHEN wcnt = 7 THEN wsum // 7 END AS trend FROM t),
      |s AS (SELECT dow,
      |    CAST(SUM(cents - trend) // COUNT(*) AS BIGINT) AS seasonal
      |  FROM t2 WHERE trend IS NOT NULL GROUP BY 1)
      |SELECT day, cents, CAST(trend AS BIGINT) AS trend, seasonal,
      |  CAST(cents - trend - seasonal AS BIGINT) AS resid
      |FROM t2 JOIN s USING (dow) ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q66_mincost_supplier — TPC-H Q2: for each part in a size class, the
  // cheapest supplier(s) within one region. The reference schema has no
  // partsupp, so unit cost derives from trade history: per (part,
  // supplier) pair, cost_milli = total cents shipped ×1000 div total
  // units (exact integer millicents/unit; both engines' integer
  // division truncates — positive operands here). The correlated
  // scalar-min subquery decorrelates the q62 way: min-per-part is an
  // aggregate joined back on the EXACT cost value, so ties surface
  // naturally and the fact side is scanned once. Scale shape: lineitem
  // collapses to (part,supplier)-cardinality partials before any join;
  // the region-filtered supplier dim broadcasts; final top-20 is
  // TakeOrderedAndProject.
  def q66(spark: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(regionNations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        floor(col("s_acctbal") * 100).cast("long").as("acctbal_cents"))
    val pt = Tables.part(spark, dir)
      .filter(col("p_size") % 10 === 5)
      .select(col("p_partkey"), col("p_name"))
    val cost = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("cents")).as("tc"), sum(col("qty")).as("tq"))
      .withColumn("cost_milli", expr("tc * 1000 div tq"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("cost_milli"),
        col("s_name"), col("n_name"), col("acctbal_cents"), col("p_name"))
      // fan-out pin: the min-joined-back decorrelation consumes this
      // (part,supplier)-cardinality frame twice (min aggregate + the
      // tie join) and re-ran the whole 5-table pipeline per consumer
      // (20 scans in the executed plan; r9 finding)
      .transform(graft.Pins.pinForFanout(_))
    val minCost = cost.groupBy(col("l_partkey").as("mk"))
      .agg(min(col("cost_milli")).as("mc"))
    cost.join(minCost, col("l_partkey") === col("mk") &&
        col("cost_milli") === col("mc"))
      .orderBy(col("acctbal_cents").desc, col("s_name"), col("l_partkey"))
      .limit(20)
      .select(col("acctbal_cents"), col("s_name"), col("n_name"),
        col("l_partkey").as("partkey"), col("p_name"), col("cost_milli"))
  }

  private val q66Sql =
    """WITH supp AS (
      |  SELECT s_suppkey, s_name, n_name,
      |    CAST(floor(s_acctbal * 100) AS BIGINT) AS acctbal_cents
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
      |cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      * 1000 // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
      |      AS BIGINT) AS cost_milli
      |  FROM lineitem GROUP BY 1, 2),
      |j AS (
      |  SELECT l_partkey, cost_milli, s_name, n_name, acctbal_cents, p_name
      |  FROM cost
      |  JOIN supp ON l_suppkey = s_suppkey
      |  JOIN part ON l_partkey = p_partkey AND p_size % 10 = 5),
      |mc AS (SELECT l_partkey AS mk, MIN(cost_milli) AS m FROM j GROUP BY 1)
      |SELECT acctbal_cents, s_name, n_name, l_partkey AS partkey, p_name,
      |  cost_milli
      |FROM j JOIN mc ON l_partkey = mk AND cost_milli = m
      |ORDER BY acctbal_cents DESC, s_name, l_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q67_important_parts — TPC-H Q11: parts whose traded value through
  // one region's suppliers exceeds a GLOBAL-share threshold (value ×
  // 2000 > regional total, i.e. >0.05% — share thresholds stay
  // scale-free where absolute cuts empty or saturate as data grows).
  // The scalar-total subquery is a 1-row aggregate of the SAME per-part
  // frame riding along broadcast-side, compared by cross-multiplication
  // (no division, no floats). Lineitem pre-aggregates to part
  // cardinality behind the broadcast supplier semi-join.
  def q67(spark: SparkSession, dir: String): DataFrame = {
    val regionSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
              .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
        .as("value_cents"))
    val tot = perPart.agg(sum(col("value_cents")).as("total_cents"))
    perPart.crossJoin(broadcast(tot)) // 1-row scalar ride-along
      .filter(col("value_cents") * 2000 > col("total_cents"))
      .select(col("l_partkey").as("partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("partkey"))
  }

  private val q67Sql =
    """WITH rs AS (
      |  SELECT s_suppkey FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |pp AS (
      |  SELECT l_partkey AS partkey,
      |    CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS value_cents
      |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM rs)
      |  GROUP BY 1),
      |t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM pp)
      |SELECT partkey, value_cents FROM pp CROSS JOIN t
      |WHERE value_cents * 2000 > total_cents
      |ORDER BY value_cents DESC, partkey""".stripMargin

  // ---------------------------------------------------------------------
  // q68_priority_shipmode — TPC-H Q12: per ship-mode tally of late
  // lines split by order priority class, the two-way CASE pivot. The
  // schema carries no shipmode, so the mode is a deterministic
  // derivation both engines compute identically (l_linenumber mod 3);
  // "late" is shipped >60 days after order date — a join-side
  // predicate, not a post-aggregation filter, so the shuffle carries
  // only late 1997 lines. One orderkey-equi shuffle join (both sides
  // fact-sized), one grouped CASE aggregate, 3 rows out at any scale.
  def q68(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_orderkey"), col("l_shipdate"),
        when(col("l_linenumber") % 3 === 0, "MAIL")
          .when(col("l_linenumber") % 3 === 1, "SHIP")
          .otherwise("RAIL").as("shipmode"))
      .join(ord, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .groupBy(col("shipmode"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy(col("shipmode"))
  }

  private val q68Sql =
    """SELECT CASE l_linenumber % 3 WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
      |    ELSE 'RAIL' END AS shipmode,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE year(l_shipdate) = 1997
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q72_forecast_revenue — TPC-H Q6: the pure scan-filter-aggregate
  // revenue-change forecast, and the predicate-pushdown showcase. All
  // four predicates (ship-year range, discount band, quantity cap) are
  // scan-level parquet filters — `.explain` shows them in
  // PushedFilters with a 2-column ReadSchema — and the plan moves NO
  // data across the wire: map-side partial sums reduce to one row.
  // At 100 TB this is the query whose cost is min/max-pruned I/O and
  // nothing else; any shuffle in its plan would be a bug. Exact
  // revenue through the DECIMAL(18,4) convention.
  def q72(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
        col("l_quantity") < lit(24.0))
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))

  private val q72Sql =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
      |    AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24.0""".stripMargin

  // ---------------------------------------------------------------------
  // q73_division — RELATIONAL DIVISION (Codd's ÷, the "for all"
  // operator): customers whose orders span EVERY order priority in the
  // corpus, tallied per market segment. Two formulations, one answer:
  // Spark computes division the DISTRIBUTIVE way — distinct
  // (custkey, priority) pairs, per-customer distinct count equals the
  // corpus-wide divisor cardinality (a 1-row broadcast scalar
  // ride-along, not a correlated probe) — while the oracle states the
  // TEXTBOOK double negation (NOT EXISTS a priority with NOT EXISTS a
  // matching order), so the gate pins the set-theoretic rewrite
  // against another engine's literal ∀-as-¬∃¬ evaluation. Scale
  // shape: one exchange on (custkey, priority) for the distinct, one
  // on custkey for the count; the divisor is an aggregate scalar;
  // customers who never ordered fall out of the division (empty
  // dividend ÷ nonempty divisor = ∅) via the left join's null branch.
  def q73(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val divisor = orders.agg(
      countDistinct(col("o_orderpriority")).as("ndiv"))
    val omni = orders.select(col("o_custkey"), col("o_orderpriority")).distinct()
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("nm"))
      .crossJoin(broadcast(divisor)) // 1-row scalar ride-along
      .filter(col("nm") === col("ndiv"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(omni.withColumn("omni", lit(1L)),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(coalesce(col("omni"), lit(0L))).as("n_omni"),
        min(when(col("omni").isNotNull, col("c_custkey"))).as("min_omni"))
      .orderBy(col("c_mktsegment"))
  }

  private val q73Sql =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CASE WHEN NOT EXISTS (
      |      SELECT 1 FROM (SELECT DISTINCT o_orderpriority AS m FROM orders) p
      |      WHERE NOT EXISTS (
      |        SELECT 1 FROM orders o
      |        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = p.m))
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_omni,
      |  CAST(MIN(CASE WHEN NOT EXISTS (
      |      SELECT 1 FROM (SELECT DISTINCT o_orderpriority AS m FROM orders) p
      |      WHERE NOT EXISTS (
      |        SELECT 1 FROM orders o
      |        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = p.m))
      |    THEN c_custkey END) AS BIGINT) AS min_omni
      |FROM customer c
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // q74_recursive_bom — BOM EXPLOSION (the recursive-CTE workload class:
  // bill-of-materials / org-chart / account-hierarchy rollups). The
  // hierarchy is derived deterministically from `part` so both engines
  // see the identical edge set: parent(c) = c div 10 (a radix tree over
  // the key space, depth = digits(maxkey) − 1), per-edge quantity
  // (p_size % 5) + 1. The closure carries the MULTIPLICATIVE path
  // quantity (qty of the child within each transitive assembly — the
  // part a recursive join gets wrong if it sums instead of multiplies).
  // Spark has no recursive CTE, and the Spark-first answer is NOT a
  // driver loop over collect(): it is an O(depth) sequence of equi-join
  // rounds — frontier ⋈ edges, each round one shuffle bounded by the
  // closure slice, lineage truncated by a lazy localCheckpoint exactly
  // like the label-prop/BFS fixpoints (s12/s16); the driver sees one
  // emptiness boolean per round. The oracle states the same closure as
  // DuckDB's literal WITH RECURSIVE — two recursion engines, one
  // fixpoint. Rounds are bounded by construction (≤ ⌈log10(maxkey)⌉,
  // 4 at sf0.01) and path quantities by 5^depth, so the LONG products
  // never near overflow.
  def q74(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.part(spark, dir)
      .select(col("p_partkey").as("child"),
        expr("p_partkey div 10").as("parent"),
        expr("CAST((p_size % 5) + 1 AS BIGINT)").as("qty"))
      .filter(col("child") >= 1 && col("parent") >= 1)
      .transform(graft.Pins.pinForFanout(_)) // reused every round — truncate lineage once
    var frontier = edges.select(col("child"), col("parent").as("anc"),
      col("qty").as("pq"), lit(1L).as("depth"))
    val slices = scala.collection.mutable.ArrayBuffer(frontier)
    val up = edges.select(col("child").as("jc"), col("parent").as("jp"),
      col("qty").as("jq"))
    var open = true
    // not on graft.Fixpoint: every closure slice feeds the final union,
    // so no round is freed, and `isEmpty` may read only some partitions
    while (open) {
      val next = frontier.join(up, frontier("anc") === col("jc"))
        .select(col("child"), col("jp").as("anc"),
          (col("pq") * col("jq")).as("pq"), (col("depth") + 1L).as("depth"))
        .transform(graft.Pins.pinIterative(_, eager = true)) // materializes the round, truncates lineage
      if (next.isEmpty) open = false
      else { slices += next; frontier = next }
    }
    slices.reduce(_ unionByName _)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("pq")).as("sum_pq"),
        countDistinct(col("anc")).as("n_anc"),
        countDistinct(col("child")).as("n_children"),
        max(col("pq")).as("max_pq"))
      .orderBy(col("depth"))
  }

  private val q74Sql =
    """WITH RECURSIVE e AS (
      |  SELECT p_partkey AS child, p_partkey // 10 AS parent,
      |    CAST((p_size % 5) + 1 AS BIGINT) AS qty
      |  FROM part WHERE p_partkey >= 1 AND p_partkey // 10 >= 1),
      |cl AS (
      |  SELECT child, parent AS anc, qty AS pq, CAST(1 AS BIGINT) AS depth FROM e
      |  UNION ALL
      |  SELECT cl.child, e.parent, cl.pq * e.qty, cl.depth + 1
      |  FROM cl JOIN e ON e.child = cl.anc)
      |SELECT depth, COUNT(*) AS n_pairs, CAST(SUM(pq) AS BIGINT) AS sum_pq,
      |  COUNT(DISTINCT anc) AS n_anc, COUNT(DISTINCT child) AS n_children,
      |  CAST(MAX(pq) AS BIGINT) AS max_pq
      |FROM cl GROUP BY depth ORDER BY depth""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q74_recursive_bom" -> (q74 _),
    "q73_division" -> (q73 _),
    "q72_forecast_revenue" -> (q72 _),
    "q66_mincost_supplier" -> (q66 _),
    "q67_important_parts" -> (q67 _),
    "q68_priority_shipmode" -> (q68 _),
    "q61_custdist" -> (q61 _),
    "q62_top_supplier" -> (q62 _),
    "q63_volume_shipping" -> (q63 _),
    "q64_product_profit" -> (q64 _),
    "q65_promo_suppliers" -> (q65 _),
    "x41_stl" -> (x41 _),
    "q50_shipping_priority" -> (q50 _),
    "q51_late_priority" -> (q51 _),
    "q52_promo_share" -> (q52 _),
    "q53_market_share" -> (q53 _),
    "q54_parts_supplier" -> (q54 _),
    "q55_small_qty_revenue" -> (q55 _),
    "q56_large_orders" -> (q56 _),
    "q57_disjunctive" -> (q57 _),
    "q58_blocking_supplier" -> (q58 _),
    "q59_idle_rich" -> (q59 _),
    "x40_acf" -> (x40 _))

  val oracleSql: Map[String, String] = Map(
    "q74_recursive_bom" -> q74Sql,
    "q73_division" -> q73Sql,
    "q72_forecast_revenue" -> q72Sql,
    "q66_mincost_supplier" -> q66Sql,
    "q67_important_parts" -> q67Sql,
    "q68_priority_shipmode" -> q68Sql,
    "q61_custdist" -> q61Sql,
    "q62_top_supplier" -> q62Sql,
    "q63_volume_shipping" -> q63Sql,
    "q64_product_profit" -> q64Sql,
    "q65_promo_suppliers" -> q65Sql,
    "x41_stl" -> x41Sql,
    "q50_shipping_priority" -> q50Sql,
    "q51_late_priority" -> q51Sql,
    "q52_promo_share" -> q52Sql,
    "q53_market_share" -> q53Sql,
    "q54_parts_supplier" -> q54Sql,
    "q55_small_qty_revenue" -> q55Sql,
    "q56_large_orders" -> q56Sql,
    "q57_disjunctive" -> q57Sql,
    "q58_blocking_supplier" -> q58Sql,
    "q59_idle_rich" -> q59Sql,
    "x40_acf" -> x40Sql)
}
