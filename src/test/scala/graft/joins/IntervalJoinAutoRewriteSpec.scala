package graft.joins

import graft.{Graft, SparkSpec}
import graft.plans.IntervalJoinExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.IntervalJoinAutoRewrite]]: the optimizer rule
  * that re-plans plain `l.k = r.k AND t BETWEEN lo AND hi` inner joins
  * onto the native sweep. Checks the four contract surfaces: (1) the
  * rewrite fires and the result matches Spark's own join on the same
  * query — including null keys/bounds and duplicate rows; (2) residual
  * conjuncts survive; (3) non-matching shapes (strict bounds, outer
  * joins, null-safe equality, non-micros types) are left untouched;
  * (4) the conf kill-switch works.
  */
class IntervalJoinAutoRewriteSpec extends SparkSpec {

  private def hasIntervalExec(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect {
      case e: IntervalJoinExec => e
      case e: graft.plans.BroadcastIntervalJoinExec => e
    }.nonEmpty

  private def pointsDf: DataFrame = {
    val ss = spark; import ss.implicits._
    (Seq((Some(1L), Some(5L), 1L), (Some(1L), Some(10L), 2L),
      (Some(2L), Some(7L), 3L), (None, Some(5L), 4L), (Some(1L), None, 5L),
      (Some(1L), Some(10L), 6L)) // duplicate (k,t): multiplicity check
      ).toDF("k", "t", "lid").repartition(3)
  }

  private def spansDf: DataFrame = {
    val ss = spark; import ss.implicits._
    (Seq((Some(1L), Some(1L), Some(10L), 11L), (Some(1L), Some(6L), Some(20L), 12L),
      (Some(2L), Some(8L), Some(9L), 13L), (None, Some(1L), Some(10L), 14L),
      (Some(1L), None, Some(10L), 15L), (Some(1L), Some(1L), None, 16L),
      (Some(1L), Some(1L), Some(10L), 17L)) // duplicate span
      ).toDF("k", "lo", "hi", "rid").repartition(2)
  }

  private def parity(make: => DataFrame): Unit = {
    Graft.install(spark)
    val rewritten = make
    assert(hasIntervalExec(rewritten), rewritten.queryExecution.sparkPlan.toString)
    val a = rewritten.collect().map(_.toSeq).sortBy(_.mkString("|"))
    // plan AND run the baseline inside the kill-switch window — the
    // optimizer fires lazily, so forcing must happen before the unset
    spark.conf.set("spark.graft.intervalJoin.autoRewrite", "false")
    val b = try {
      val plain = make
      assert(!hasIntervalExec(plain))
      plain.collect().map(_.toSeq).sortBy(_.mkString("|"))
    } finally spark.conf.unset("spark.graft.intervalJoin.autoRewrite")
    assert(a.length == b.length, s"${a.length} vs ${b.length} rows")
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("SQL BETWEEN join rewrites to IntervalJoinExec and matches Spark's join") {
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    parity(spark.sql(
      """SELECT p.k, p.lid, s.rid, s.k AS sk
        |FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t BETWEEN s.lo AND s.hi""".stripMargin))
  }

  test("DataFrame-API range join rewrites too, written bounds flipped") {
    val p = pointsDf
    val s = spansDf.withColumnRenamed("k", "k2")
    parity(p.join(s, p("k") === s("k2") &&
      s("lo") <= p("t") && s("hi") >= p("t")))
  }

  test("swapped orientation (intervals written as the left table) rewrites too") {
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    parity(spark.sql(
      """SELECT s.rid, p.lid, s.k, p.k AS pk
        |FROM graft_arw_s s JOIN graft_arw_p p
        |  ON s.k = p.k AND p.t BETWEEN s.lo AND s.hi""".stripMargin))
  }

  test("computed bounds rewrite: the plain-SQL band join") {
    // the bounds are EXPRESSIONS over the interval side (`s.lo - 2` /
    // `s.lo + 3`), the shape any user writes for a time-band join —
    // the classifier accepts one-sided deterministic expressions, not
    // just bare columns
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    parity(spark.sql(
      """SELECT p.k, p.lid, s.rid
        |FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t BETWEEN s.lo - 2 AND s.lo + 3""".stripMargin))
  }

  test("computed bounds: null propagation through the bound expression") {
    // s.lo NULL makes both computed bounds NULL — the exec must drop
    // those interval rows exactly as the SQL predicate's UNKNOWN does
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    parity(spark.sql(
      """SELECT p.lid, s.rid
        |FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo - 100 AND p.t <= s.hi + 100""".stripMargin))
  }

  test("randomized band-join parity (expression bounds, 400×300 rows)") {
    val ss = spark; import ss.implicits._
    def mix(i: Long, salt: Long): Long =
      ((i * 2654435761L + salt) % 4294967296L).abs
    // ~1-in-20 null rate in every role, so the parity covers the
    // null-dropping path at volume, not just the hand fixture
    def opt(v: Long, i: Long, salt: Long): Option[Long] =
      if (mix(i, salt) % 20 == 0) None else Some(v)
    (0L until 400L)
      .map(i => (opt(mix(i, 17) % 20, i, 3), opt(mix(i, 31) % 1000, i, 5), i))
      .toDF("k", "t", "lid").repartition(5)
      .createOrReplaceTempView("graft_arw_rp")
    (0L until 300L)
      .map(i => (opt(mix(i, 7) % 20, i, 11), opt(mix(i, 13) % 1000, i, 19), i))
      .toDF("k", "ct", "rid").repartition(4)
      .createOrReplaceTempView("graft_arw_rs")
    parity(spark.sql(
      """SELECT p.lid, s.rid
        |FROM graft_arw_rp p JOIN graft_arw_rs s
        |  ON p.k = s.k AND p.t BETWEEN s.ct - 25 AND s.ct + 25""".stripMargin))
  }

  test("bound expression spanning both sides leaves the join untouched") {
    Graft.install(spark)
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    assert(!hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi + p.lid""".stripMargin)))
  }

  test("residual conjuncts survive as a post-join filter") {
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    parity(spark.sql(
      """SELECT p.lid, s.rid
        |FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi
        | AND p.lid <> s.rid AND p.lid < 100""".stripMargin))
  }

  test("strict bounds on LONG columns normalize and rewrite (all combos)") {
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    // (t > lo, t <= hi), (t >= lo, t < hi), fully strict, and the
    // flipped written order — each must match Spark's own strict join
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t > s.lo AND p.t <= s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t < s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t > s.lo AND p.t < s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND s.lo < p.t AND s.hi > p.t""".stripMargin))
  }

  test("strict bounds on TIMESTAMP columns normalize through the micros view") {
    // `t > lo` on timestamps is t_micros >= lo_micros + 1 — integer
    // succession on the internal representation (the type's full
    // precision), applied via the zero-cost MicrosView reinterpret.
    // Micros-adjacent timestamps pin the boundary exactly.
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    def ts(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(micros / 1000)
      t.setNanos(((micros % 1000000) * 1000).toInt)
      t
    }
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    Seq((1L, Some(ts(base + 5)), 1L), (1L, Some(ts(base + 6)), 2L),
      (1L, None, 3L), (2L, Some(ts(base + 5)), 4L))
      .toDF("k", "t", "lid").repartition(2)
      .createOrReplaceTempView("graft_arw_pts2")
    Seq((Some(1L), Some(ts(base + 5)), Some(ts(base + 9)), 11L),
      (Some(1L), Some(ts(base + 4)), Some(ts(base + 5)), 12L),
      (Some(1L), None, Some(ts(base + 9)), 13L),
      (Some(2L), Some(ts(base)), None, 14L))
      .toDF("k", "lo", "hi", "rid").repartition(2)
      .createOrReplaceTempView("graft_arw_sts2")
    // every strict/inclusive combination must rewrite AND match Spark
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_pts2 p JOIN graft_arw_sts2 s
        |  ON p.k = s.k AND p.t > s.lo AND p.t <= s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_pts2 p JOIN graft_arw_sts2 s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t < s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_pts2 p JOIN graft_arw_sts2 s
        |  ON p.k = s.k AND p.t > s.lo AND p.t < s.hi""".stripMargin))
    parity(spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_pts2 p JOIN graft_arw_sts2 s
        |  ON p.k = s.k AND s.lo < p.t AND s.hi > p.t""".stripMargin))
  }

  test("strict MaxValue/MinValue bounds cannot wrap (overflow guard)") {
    Graft.install(spark)
    val ss = spark; import ss.implicits._
    Seq((1L, 5L, 1L), (1L, Long.MaxValue, 2L))
      .toDF("k", "t", "lid").createOrReplaceTempView("graft_arw_pmax")
    // lo = MaxValue: `t > lo` is unsatisfiable — the +1 normalization
    // must map it to a NULL bound, never wrap to MinValue-matches-all
    Seq((1L, Long.MaxValue, Long.MaxValue, 11L), (1L, 0L, Long.MaxValue, 12L))
      .toDF("k", "lo", "hi", "rid").createOrReplaceTempView("graft_arw_smax")
    val df = spark.sql(
      """SELECT p.lid, s.rid FROM graft_arw_pmax p JOIN graft_arw_smax s
        |  ON p.k = s.k AND p.t > s.lo AND p.t <= s.hi""".stripMargin)
    assert(hasIntervalExec(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 12L), (2L, 12L))) // rid 11 (lo = MAX) matches nothing
  }

  test("non-matching shapes are left untouched") {
    Graft.install(spark)
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    // inclusive timestamp form rewrites (and so does strict — see the
    // dedicated micros-view test)
    val ss = spark; import ss.implicits._
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 1L))
      .toDF("k", "t", "lid").createOrReplaceTempView("graft_arw_pts")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:09"), 2L))
      .toDF("k", "lo", "hi", "rid").createOrReplaceTempView("graft_arw_sts")
    assert(hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_pts p JOIN graft_arw_sts s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi""".stripMargin)))
    // left outer
    assert(!hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_p p LEFT JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi""".stripMargin)))
    // null-safe equality must NOT claim the null-dropping exec
    assert(!hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k <=> s.k AND p.t >= s.lo AND p.t <= s.hi""".stripMargin)))
    // two lower bounds: ambiguous, no rewrite
    assert(!hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi
        | AND p.lid >= s.lo""".stripMargin)))
    // non-micros bound type (double): no rewrite
    Seq((1L, 0.5, 1L)).toDF("k", "t", "lid")
      .createOrReplaceTempView("graft_arw_pd")
    Seq((1L, 0.0, 1.0, 2L)).toDF("k", "lo", "hi", "rid")
      .createOrReplaceTempView("graft_arw_sd")
    assert(!hasIntervalExec(spark.sql(
      """SELECT * FROM graft_arw_pd p JOIN graft_arw_sd s
        |  ON p.k = s.k AND p.t >= s.lo AND p.t <= s.hi""".stripMargin)))
  }

  test("restored right key column carries correct values downstream") {
    Graft.install(spark)
    pointsDf.createOrReplaceTempView("graft_arw_p")
    spansDf.createOrReplaceTempView("graft_arw_s")
    val df = spark.sql(
      """SELECT s.k AS sk, COUNT(*) AS n
        |FROM graft_arw_p p JOIN graft_arw_s s
        |  ON p.k = s.k AND p.t BETWEEN s.lo AND s.hi
        |GROUP BY s.k ORDER BY sk""".stripMargin)
    assert(hasIntervalExec(df))
    // k=1 matches: lid1×(11,17 spans at t=5); lid2,lid6×(11,12,17 at t=10)
    // → 2 + 3 + 3 = 8; k=2: t=7 not in [8,9] → 0 rows
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 8L)))
  }
}
