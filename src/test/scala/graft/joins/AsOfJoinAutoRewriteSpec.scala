package graft.joins

import graft.{Graft, SparkSpec}
import graft.plans.{AsOfJoinExec, BroadcastAsOfJoinExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.AsOfJoinAutoRewrite]]: the optimizer rule that
  * re-plans the standard SQL as-of idiom (equi + time-bound join topped
  * by `row_number() = 1` per left row) onto the native [[graft.plans
  * .AsOfJoin]]. Contract surfaces: (1) the rewrite fires for provably
  * unique partitions and matches Spark's own plan row-for-row —
  * backward/forward, inner/left-outer, strict LONG bounds, null
  * keys/times, residual filter conjuncts; (2) non-matching shapes fall
  * back untouched (other outer joins, two time bounds, direction
  * mismatch, unprovable partition, residual JOIN conjuncts, rank != 1,
  * extra window expressions, null-safe equality); (3) the uniqueness
  * proof traces through Project/Filter and accepts
  * monotonically_increasing_id; (4) both confs work (kill switch +
  * assume-unique opt-in).
  */
class AsOfJoinAutoRewriteSpec extends SparkSpec {

  private def hasAsOfExec(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case e: AsOfJoinExec => e
      case e: BroadcastAsOfJoinExec => e
    }.nonEmpty

  /** Left side built through an Aggregate so the partition key (lid)
    * is STRUCTURALLY unique — the shape the uniqueness proof accepts.
    * Carries a null key and a null time row. */
  private def leftView(): Unit = {
    val ss = spark; import ss.implicits._
    (Seq((1L, Some(10L), Some(100L)), (2L, Some(10L), Some(200L)),
      (3L, Some(20L), Some(150L)), (4L, None, Some(100L)),
      (5L, Some(10L), None), (6L, Some(30L), Some(500L)))
      ).toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .createOrReplaceTempView("graft_asof_l")
  }

  /** Right side with duplicate times, a null key, and a null time. */
  private def rightView(): Unit = {
    val ss = spark; import ss.implicits._
    (Seq((Some(10L), Some(50L), 11L), (Some(10L), Some(150L), 12L),
      (Some(10L), Some(150L), 18L), // duplicate time: any tied row is valid
      (Some(10L), Some(250L), 13L), (Some(20L), Some(150L), 14L),
      (None, Some(100L), 15L), (Some(10L), None, 16L))
      ).toDF("k", "rt", "rid").repartition(2)
      .createOrReplaceTempView("graft_asof_r")
  }

  /** Runs `make` with the rewrite on (must fire) and off (must not),
    * and compares row-for-row. `tieCols` projects away columns that
    * are legitimately tie-dependent before comparing. */
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

  // tie-free projection: rt (the matched time) is deterministic even
  // when several right rows share it; rid is not
  test("backward idiom (INNER) rewrites to the native as-of and matches Spark") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("backward idiom (LEFT OUTER) keeps unmatched left rows as nulls") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l LEFT JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("forward idiom (ORDER BY rt ASC, r.rt >= l.t) rewrites") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt ASC) rn
        |  FROM graft_asof_l l LEFT JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt >= l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("flipped written order (l.t >= r.rt) classifies the same") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND l.t >= r.rt)
        |WHERE rn = 1""".stripMargin))
  }

  test("strict LONG bound (r.rt < l.t) normalizes to t-1 and rewrites") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt < l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("strict TIMESTAMP bound normalizes through the micros view (r8)") {
    // timestamp-typed times on BOTH sides: `r.rt < l.t` must
    // reinterpret as epoch-micros longs (MicrosView), apply the -1,
    // and compare both sides on the LONG view — pre-r8 this shape
    // fell back to the quadratic plan
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    Seq((1L, 10L, 100L), (2L, 10L, 150L), (3L, 20L, 150L), (4L, 10L, 151L))
      .toDF("lid", "k", "tu")
      .groupBy($"lid").agg(max($"k").as("k"),
        expr("timestamp_micros(max(tu))").as("t"))
      .createOrReplaceTempView("graft_asof_lts")
    Seq((10L, 50L, 21L), (10L, 150L, 22L), (20L, 150L, 23L), (10L, 151L, 24L))
      .toDF("k", "rtu", "rid")
      .select($"k", expr("timestamp_micros(rtu)").as("rt"), $"rid")
      .createOrReplaceTempView("graft_asof_rts")
    def make = spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lts l LEFT JOIN graft_asof_rts r
        |    ON l.k = r.k AND r.rt < l.t)
        |WHERE rn = 1""".stripMargin)
    parity(make)
    // strictness on the boundary: lid=2 (t=150) must match rt=50, not
    // the equal-instant rt=150; lid=4 (t=151) matches rt=150
    val byLid = make.collect().map(r => r.getLong(0) ->
      Option(r.get(3)).map(_.toString)).toMap
    assert(byLid(2L).exists(_.contains("00:00:00.00005")))
    assert(byLid(4L).exists(_.contains("00:00:00.00015")))
  }

  test("tolerance pair rewrites in the window idiom too (shared classifier)") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l LEFT JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t AND r.rt >= l.t - 100)
        |WHERE rn = 1""".stripMargin))
  }

  test("strict MinValue left time cannot wrap (underflow guard)") {
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    Seq((1L, 10L, Long.MinValue), (2L, 10L, 100L))
      .toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .createOrReplaceTempView("graft_asof_lmin")
    Seq((10L, Long.MinValue, 21L), (10L, 50L, 22L))
      .toDF("k", "rt", "rid").createOrReplaceTempView("graft_asof_rmin")
    val df = spark.sql(
      """SELECT lid, rt FROM (
        |  SELECT l.lid, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lmin l JOIN graft_asof_rmin r
        |    ON l.k = r.k AND r.rt < l.t)
        |WHERE rn = 1""".stripMargin)
    assert(hasAsOfExec(df))
    // lid 1 (t = MIN): `rt < MIN` is unsatisfiable — the -1
    // normalization must go to NULL, never wrap to MaxValue-matches-all
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((2L, 50L)))
  }

  test("residual WHERE conjuncts survive above the rewrite") {
    leftView(); rightView()
    parity(spark.sql(
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1 AND rt > 60 AND lid < 100""".stripMargin))
  }

  test("restored right key and rn column carry correct values downstream") {
    Graft.install(spark)
    leftView(); rightView()
    // r.k is ELIDED by the native node and restored by the rewrite's
    // Project under the original exprId (NULL on the null-extended
    // rows); rn is restored as literal 1 — both must aggregate
    // correctly downstream
    val df = spark.sql(
      """SELECT rk, rn, COUNT(*) AS n FROM (
        |  SELECT rk, rn FROM (
        |    SELECT l.lid, r.k AS rk, r.rt,
        |      row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |    FROM graft_asof_l l LEFT JOIN graft_asof_r r
        |      ON l.k = r.k AND r.rt <= l.t)
        |  WHERE rn = 1)
        |GROUP BY rk, rn ORDER BY rk NULLS FIRST""".stripMargin)
    assert(hasAsOfExec(df), df.queryExecution.sparkPlan.toString)
    // lid1(k10,t100)->rt50, lid2(k10,t200)->rt150, lid3(k20,t150)->rt150,
    // lid4(null k)/lid5(null t)/lid6(k30): null-extended
    assert(df.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq === Seq((-1L, 1, 3L), (10L, 1, 2L), (20L, 1, 1L)))
  }

  test("uniqueness proof traces through Project and Filter") {
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L))
      .toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .filter($"t" > 0L)
      .select($"lid".as("id2"), $"k", $"t")
      .createOrReplaceTempView("graft_asof_lproj")
    rightView()
    parity(spark.sql(
      """SELECT id2, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.id2 ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lproj l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("monotonically_increasing_id partition is accepted as unique") {
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    Seq((10L, 100L), (10L, 200L), (20L, 150L), (10L, 200L)) // dup rows OK
      .toDF("k", "t")
      // repartition first: over a LocalRelation the optimizer folds the
      // id-projection into the relation, erasing the structural proof
      .repartition(2)
      .withColumn("uid", monotonically_increasing_id())
      .createOrReplaceTempView("graft_asof_lmid")
    rightView()
    val df = spark.sql(
      """SELECT uid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.uid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lmid l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin)
    assert(hasAsOfExec(df), df.queryExecution.sparkPlan.toString)
    assert(df.count() === 4) // every left row kept exactly once
  }

  test("randomized idiom parity (500×400 rows, nulls in every role)") {
    val ss = spark; import ss.implicits._
    def mix(i: Long, salt: Long): Long =
      ((i * 2654435761L + salt) % 4294967296L).abs
    def opt(v: Long, i: Long, salt: Long): Option[Long] =
      if (mix(i, salt) % 20 == 0) None else Some(v)
    (0L until 500L)
      .map(i => (i, opt(mix(i, 17) % 25, i, 3), opt(mix(i, 31) % 2000, i, 5)))
      .toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .createOrReplaceTempView("graft_asof_rl")
    (0L until 400L)
      .map(i => (opt(mix(i, 7) % 25, i, 11), opt(mix(i, 13) % 2000, i, 19), i))
      .toDF("k", "rt", "rid").repartition(4)
      .createOrReplaceTempView("graft_asof_rr")
    // project rt only (tie-deterministic); both directions
    parity(spark.sql(
      """SELECT lid, t, rt FROM (
        |  SELECT l.lid, l.t, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_rl l LEFT JOIN graft_asof_rr r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin))
    parity(spark.sql(
      """SELECT lid, t, rt FROM (
        |  SELECT l.lid, l.t, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt ASC) rn
        |  FROM graft_asof_rl l JOIN graft_asof_rr r
        |    ON l.k = r.k AND r.rt >= l.t)
        |WHERE rn = 1""".stripMargin))
  }

  test("non-matching shapes are left untouched") {
    Graft.install(spark)
    leftView(); rightView()
    def plan(sql: String): DataFrame = spark.sql(sql)
    // RIGHT OUTER: not row-preserving on the partition side
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT r.*, row_number() OVER (PARTITION BY r.rid ORDER BY l.t DESC) rn
        |  FROM graft_asof_l l RIGHT JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin)))
    // two time-bound candidates: ambiguous, no rewrite
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t AND r.rt <= l.lid)
        |WHERE rn = 1""".stripMargin)))
    // direction mismatch: backward bound ordered ASC picks the
    // EARLIEST preceding row — not an as-of
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l.lid ORDER BY r.rt ASC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin)))
    // residual JOIN conjunct: would change which candidate wins
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t AND r.rid <> l.lid)
        |WHERE rn = 1""".stripMargin)))
    // rank 2: not a top-1 pick
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 2""".stripMargin)))
    // null-safe equality: NULL = NULL would have to match
    assert(!hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_l l JOIN graft_asof_r r
        |    ON l.k <=> r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin)))
    // strict bound on a TIMESTAMP pair: rewrites SINCE r8 (micros-view
    // normalization — see the dedicated strict-TIMESTAMP parity test);
    // kept here inverted so a regression back to the fallback is loud
    val ss = spark; import ss.implicits._
    Seq((1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")))
      .toDF("lid", "k", "t")
      .groupBy($"lid").agg(max($"k").as("k"), max($"t").as("t"))
      .createOrReplaceTempView("graft_asof_lts")
    Seq((10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 1L))
      .toDF("k", "rt", "rid").createOrReplaceTempView("graft_asof_rts")
    assert(hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lts l JOIN graft_asof_rts r
        |    ON l.k = r.k AND r.rt < l.t)
        |WHERE rn = 1""".stripMargin)))
    // …and the inclusive TIMESTAMP form rewrites
    assert(hasAsOfExec(plan(
      """SELECT * FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lts l JOIN graft_asof_rts r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin)))
  }

  test("unprovable partition uniqueness: no rewrite by default, opt-in conf fires") {
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    // plain rows — lid is unique IN THE DATA but nothing structural
    // proves it, so the default must fall back
    Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 150L))
      .toDF("lid", "k", "t").createOrReplaceTempView("graft_asof_lplain")
    rightView()
    val sql =
      """SELECT lid, k, t, rt FROM (
        |  SELECT l.*, r.rt,
        |    row_number() OVER (PARTITION BY l.lid ORDER BY r.rt DESC) rn
        |  FROM graft_asof_lplain l JOIN graft_asof_r r
        |    ON l.k = r.k AND r.rt <= l.t)
        |WHERE rn = 1""".stripMargin
    assert(!hasAsOfExec(spark.sql(sql)))
    spark.conf.set(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition", "true")
    try {
      val df = spark.sql(sql)
      assert(hasAsOfExec(df), df.queryExecution.sparkPlan.toString)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet ===
        Set((1L, 50L), (2L, 150L), (3L, 150L)))
    } finally spark.conf.unset(
      "spark.graft.asOfJoin.autoRewrite.assumeUniquePartition")
  }
}
