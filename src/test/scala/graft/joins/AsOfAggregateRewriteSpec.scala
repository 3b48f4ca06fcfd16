package graft.joins

import graft.{Graft, SparkSpec}
import graft.plans.{AsOfJoinExec, BroadcastAsOfJoinExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.AsOfAggregateRewrite]]: the AGGREGATE spelling of
  * the SQL as-of idiom — `max_by`/`min_by` over the equi + time-bound
  * join, grouped by a provably-unique left key — re-planned onto the
  * native node. Same contract surfaces as the window-idiom spec:
  * rewrite fires and matches Spark's plain plan row-for-row
  * (backward/forward, inner/left-outer, nulls in every role), and
  * every non-matching shape falls back untouched.
  */
class AsOfAggregateRewriteSpec extends SparkSpec {

  private def hasAsOfExec(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case e: AsOfJoinExec => e
      case e: BroadcastAsOfJoinExec => e
    }.nonEmpty

  /** Left built through an Aggregate: lid structurally unique; null
    * key and null time rows included. */
  private def leftView(): Unit = {
    val ss = spark; import ss.implicits._
    (Seq((1L, Some(10L), Some(100L)), (2L, Some(10L), Some(200L)),
      (3L, Some(20L), Some(150L)), (4L, None, Some(100L)),
      (5L, Some(10L), None), (6L, Some(30L), Some(500L)))
      ).toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .createOrReplaceTempView("graft_asofagg_l")
  }

  /** Right with duplicate times (tie), a null key, and a null time. */
  private def rightView(): Unit = {
    val ss = spark; import ss.implicits._
    (Seq((Some(10L), Some(50L), 11L), (Some(10L), Some(150L), 12L),
      (Some(10L), Some(150L), 18L),
      (Some(10L), Some(250L), 13L), (Some(20L), Some(150L), 14L),
      (None, Some(100L), 15L), (Some(10L), None, 16L))
      ).toDF("k", "rt", "rid").repartition(2)
      .createOrReplaceTempView("graft_asofagg_r")
  }

  private def parity(make: => DataFrame): Unit = {
    Graft.install(spark)
    val rewritten = make
    assert(hasAsOfExec(rewritten), rewritten.queryExecution.sparkPlan.toString)
    val a = rewritten.collect().map(_.toSeq).sortBy(_.mkString("|"))
    spark.conf.set("spark.graft.asOfJoin.autoRewrite", "false")
    val b = try {
      val plain = make
      assert(!hasAsOfExec(plain))
      plain.collect().map(_.toSeq).sortBy(_.mkString("|"))
    } finally spark.conf.unset("spark.graft.asOfJoin.autoRewrite")
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  private def noRewrite(make: => DataFrame): Unit = {
    Graft.install(spark)
    assert(!hasAsOfExec(make))
  }

  // the matched TIME is tie-deterministic (rid is not); payloads below
  // stick to rt so parity can compare exact rows
  test("backward max_by (INNER) rewrites and matches Spark") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t
        |GROUP BY l.lid""".stripMargin))
  }

  test("backward max_by (LEFT OUTER) keeps matchless groups as nulls") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT l.lid, l.t, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l LEFT JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t
        |GROUP BY l.lid, l.t""".stripMargin))
  }

  test("forward min_by pairs with the >= bound") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT l.lid, min_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt >= l.t
        |GROUP BY l.lid""".stripMargin))
  }

  test("payload expressions over right columns restore under the null guard") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT l.lid, max_by(coalesce(r.rt, 0L) * 2, r.rt) AS mv
        |FROM graft_asofagg_l l LEFT JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t
        |GROUP BY l.lid""".stripMargin))
  }

  test("non-matching shapes fall back untouched") {
    leftView(); rightView()
    // direction mismatch: min_by with a backward bound picks the
    // OLDEST match — not an as-of
    noRewrite(spark.sql(
      """SELECT l.lid, min_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin))
    // an extra aggregate function is not expressible on the node
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt, COUNT(*) AS n
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin))
    // max_by ordered by something other than the join's time bound
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rid) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin))
    // payload referencing the elided right equi key
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(r.k, r.rt) AS mk
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin))
    // DISTINCT changes nothing semantically here but is not matched
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(DISTINCT r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin))
  }

  test("tolerance pair (r.rt <= l.t AND r.rt >= l.t - c) maps to toleranceMicros") {
    leftView(); rightView()
    // backward within 100: lid=2 (t=200) must match rt=150 (gap 50),
    // lid=6 (t=500) must NOT match rt=250 (gap 250 > 100) → null
    parity(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l LEFT JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t AND r.rt >= l.t - 100
        |GROUP BY l.lid""".stripMargin))
    // forward within 100, INNER. This shape is ALSO a band interval
    // join (`rt BETWEEN t AND t+100`), and in a session where the
    // interval-family rules registered first (any shared session that
    // ran an interval gate) IntervalJoinAutoRewrite claims the INNER
    // join before this rule sees the Aggregate above it — the
    // aggregate then runs over the native interval join, which is the
    // same result through a different native operator. Either native
    // node is acceptable; what must never survive is the quadratic
    // SMJ+aggregate, so assert native-or-native and value parity.
    // Install every rule explicitly so the interaction is exercised
    // deterministically, not only when suite order happens to have run
    // a gate first in the shared session.
    Graft.install(spark)
    def fwd = spark.sql(
      """SELECT l.lid, min_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt >= l.t AND r.rt <= l.t + 100
        |GROUP BY l.lid""".stripMargin)
    val nativeNodes = fwd.queryExecution.sparkPlan.collect {
      case e: AsOfJoinExec => e.nodeName
      case e: BroadcastAsOfJoinExec => e.nodeName
      case e if e.nodeName.contains("IntervalJoin") => e.nodeName
    }
    assert(nativeNodes.nonEmpty, fwd.queryExecution.sparkPlan.toString)
    val a = fwd.collect().map(_.toSeq).sortBy(_.mkString("|"))
    spark.conf.set("spark.graft.asOfJoin.autoRewrite", "false")
    spark.conf.set("spark.graft.intervalJoin.autoRewrite", "false")
    val b = try fwd.collect().map(_.toSeq).sortBy(_.mkString("|"))
    finally {
      spark.conf.unset("spark.graft.asOfJoin.autoRewrite")
      spark.conf.unset("spark.graft.intervalJoin.autoRewrite")
    }
    assert(a.toSeq == b.toSeq)
    // a NON-constant secondary offset is not expressible on the node
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t AND r.rt >= l.t - l.lid
        |GROUP BY l.lid""".stripMargin))
    // two bounds in the SAME direction are a range, not a tolerance
    noRewrite(spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_l l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t AND r.rt <= l.t - 100
        |GROUP BY l.lid""".stripMargin))
  }

  test("unprovable grouping uniqueness: no rewrite by default, conf opts in") {
    val ss = spark; import ss.implicits._
    // raw view: lid unique in the DATA but not provably so
    (Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L)))
      .toDF("lid", "k", "t").createOrReplaceTempView("graft_asofagg_raw")
    rightView()
    def make = spark.sql(
      """SELECT l.lid, max_by(r.rt, r.rt) AS mrt
        |FROM graft_asofagg_raw l JOIN graft_asofagg_r r
        |  ON l.k = r.k AND r.rt <= l.t GROUP BY l.lid""".stripMargin)
    noRewrite(make)
    spark.conf.set(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition", "true")
    try parity(make)
    finally spark.conf.unset(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition")
  }
}
