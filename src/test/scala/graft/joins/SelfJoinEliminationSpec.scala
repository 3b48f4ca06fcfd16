package graft.joins

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.SelfJoinElimination]]: an inner self-join of the
  * same deterministic relation on a provably-unique key collapses to a
  * single copy. Contract surfaces: the join disappears from the
  * optimized plan AND the result matches the plain (rule-off) plan
  * row-for-row — including null-key drop semantics and substituted
  * cross-side residuals; every non-matching shape (non-unique key,
  * nondeterministic input, genuinely different sides, kill-switch)
  * falls back to the untouched join.
  */
class SelfJoinEliminationSpec extends SparkSpec {

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  /** per-key metric view with a NULL group key row mixed in */
  private def metricView(): Unit = {
    val ss = spark; import ss.implicits._
    Seq((Some(1L), 10L, 3L), (Some(1L), 20L, 4L), (Some(2L), 5L, 1L),
      (Some(3L), 40L, 2L), (None, 7L, 9L))
      .toDF("k", "v", "w")
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"), max($"w").as("mw"))
      .createOrReplaceTempView("graft_sje_m")
  }

  private def parity(make: => DataFrame, eliminated: Boolean): Unit = {
    Graft.install(spark)
    val on = make
    assert((joins(on) == 0) == eliminated,
      s"expected eliminated=$eliminated:\n${on.queryExecution.optimizedPlan}")
    val a = on.collect().map(_.toSeq).sortBy(_.mkString("|"))
    spark.conf.set("spark.graft.selfJoin.eliminate", "false")
    val b = try {
      val off = make
      assert(joins(off) > 0, "plain plan should keep the join")
      off.collect().map(_.toSeq).sortBy(_.mkString("|"))
    } finally spark.conf.unset("spark.graft.selfJoin.eliminate")
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("aggregate view self-joined on its grouping key eliminates " +
      "(and drops the null-key row, like the join)") {
    metricView()
    parity(spark.sql(
      """SELECT a.k, a.n + b.n AS n2, a.sv + b.sv AS sv2, a.mw, b.mw AS mw2
        |FROM graft_sje_m a JOIN graft_sje_m b ON a.k = b.k""".stripMargin),
      eliminated = true)
  }

  test("cross-side residual conjuncts substitute onto the single copy") {
    metricView()
    parity(spark.sql(
      """SELECT a.k, a.sv, b.n
        |FROM graft_sje_m a JOIN graft_sje_m b
        |  ON a.k = b.k AND a.sv >= b.n AND b.sv >= a.n""".stripMargin),
      eliminated = true)
  }

  test("different-column equi conjunct beyond the key becomes a filter") {
    metricView()
    // n = mw only holds for k=2 (n=1, mw=1); the join matches self
    // only where the two columns agree, so the filter must survive.
    // The conjuncts are SYMMETRIC (each side references {k, n, mw}) so
    // column pruning and constraint inference specialize both sides
    // identically — the scope the rule documents. An asymmetric
    // spelling (only a.n = b.mw) prunes the two aggregates to
    // different column sets and correctly falls back.
    parity(spark.sql(
      """SELECT a.k, a.n, b.mw
        |FROM graft_sje_m a JOIN graft_sje_m b
        |  ON a.k = b.k AND a.n = b.mw AND a.mw = b.n""".stripMargin),
      eliminated = true)
  }

  test("attribute-only projections over the same core peel and eliminate") {
    metricView()
    parity(spark.sql(
      """SELECT l.k, l.n, r.n2
        |FROM (SELECT k, n, sv, mw FROM graft_sje_m) l
        |JOIN (SELECT k, n AS n2, sv AS s2, mw AS m2 FROM graft_sje_m) r
        |  ON l.k = r.k AND l.sv = r.s2 AND l.mw = r.m2""".stripMargin),
      eliminated = true)
  }

  test("non-unique key falls back to the plain join") {
    val ss = spark; import ss.implicits._
    Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "v")
      .createOrReplaceTempView("graft_sje_dup")
    Graft.install(spark)
    val df = spark.sql(
      """SELECT a.k, a.v, b.v AS v2
        |FROM graft_sje_dup a JOIN graft_sje_dup b ON a.k = b.k""".stripMargin)
    assert(joins(df) > 0)
    // the duplicate key genuinely fans out: 2×2 + 1 rows
    assert(df.count() == 5)
  }

  test("nondeterministic input falls back") {
    // Range-backed, NOT a local Seq: ConvertToLocalRelation eagerly
    // materializes evaluable projections over a LocalRelation — even
    // nondeterministic ones — which turns rand() into fixed data
    // before this rule ever runs (and elimination of THAT is sound).
    // Over Range the rand survives as an expression and the impure()
    // guard must refuse: two executions of the same nondeterministic
    // plan need not produce the same rows.
    spark.range(3).toDF("k")
      .withColumn("r", rand(7))
      .createOrReplaceTempView("graft_sje_rand")
    Graft.install(spark)
    val df = spark.sql(
      """SELECT a.k, a.r, b.r AS r2 FROM
        |  (SELECT k, max(r) AS r FROM graft_sje_rand GROUP BY k) a
        |JOIN
        |  (SELECT k, max(r) AS r FROM graft_sje_rand GROUP BY k) b
        |ON a.k = b.k""".stripMargin)
    assert(joins(df) > 0, df.queryExecution.optimizedPlan.toString)
  }

  test("genuinely different sides fall back") {
    metricView()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT a.k, a.n, b.n AS n2
        |FROM graft_sje_m a
        |JOIN (SELECT k, n FROM graft_sje_m WHERE n > 1) b ON a.k = b.k"""
        .stripMargin)
    assert(joins(df) > 0)
  }

  test("kill-switch leaves the join untouched") {
    metricView()
    Graft.install(spark)
    spark.conf.set("spark.graft.selfJoin.eliminate", "false")
    try {
      val df = spark.sql(
        """SELECT a.k, a.n, b.n AS n2
          |FROM graft_sje_m a JOIN graft_sje_m b ON a.k = b.k""".stripMargin)
      assert(joins(df) > 0)
    } finally spark.conf.unset("spark.graft.selfJoin.eliminate")
  }

  test("order-dependent cores (LIMIT / TABLESAMPLE) fall back") {
    // Every EXPRESSION here is deterministic, so impure() alone would
    // accept these cores — but an unordered LIMIT's (and Sample's)
    // output ROW SET is execution-order dependent: two executions of
    // the same canonical plan can return different rows, and the
    // uniqueness tracer sees through GlobalLimit/LocalLimit/Sample.
    // Collapsing would pick one possible world; the unrewritten join
    // may produce another (exchange reuse does not dedup the sides).
    // The node-level orderDependent() guard must refuse both shapes
    // (ADVICE r8).
    metricView()
    Graft.install(spark)
    val limited = spark.sql(
      """SELECT a.k, a.n, b.n AS n2 FROM
        |  (SELECT k, n FROM graft_sje_m LIMIT 3) a
        |JOIN
        |  (SELECT k, n FROM graft_sje_m LIMIT 3) b
        |ON a.k = b.k""".stripMargin)
    assert(joins(limited) > 0,
      limited.queryExecution.optimizedPlan.toString)
    val sampled = spark.sql(
      """SELECT a.k, a.n, b.n AS n2 FROM
        |  (SELECT k, n FROM graft_sje_m TABLESAMPLE (50 PERCENT)) a
        |JOIN
        |  (SELECT k, n FROM graft_sje_m TABLESAMPLE (50 PERCENT)) b
        |ON a.k = b.k""".stripMargin)
    assert(joins(sampled) > 0,
      sampled.queryExecution.optimizedPlan.toString)
  }

  test("outer self-joins are not touched") {
    metricView()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT a.k, a.n, b.n AS n2
        |FROM graft_sje_m a LEFT JOIN graft_sje_m b ON a.k = b.k"""
        .stripMargin)
    assert(joins(df) > 0)
  }
}
