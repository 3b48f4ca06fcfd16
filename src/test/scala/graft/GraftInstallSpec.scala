package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** [[Graft.install]] is the one registration path: it makes every SQL
  * function callable, puts each rule and strategy on the session exactly
  * once however often and from however many threads it runs, and every
  * gate built through [[SparkEntry.queries]] runs it first. */
class GraftInstallSpec extends SparkSpec {

  private def assertInstalledOnce(s: SparkSession): Unit = {
    val rules = s.experimental.extraOptimizations
    val strategies = s.experimental.extraStrategies
    Graft.rules.foreach(r =>
      assert(rules.count(_ eq r) === 1, s"${r.ruleName} in [${rules.map(_.ruleName).mkString(", ")}]"))
    Graft.strategies.foreach(st =>
      assert(strategies.count(_ eq st) === 1, s"$st in [${strategies.mkString(", ")}]"))
    Graft.functionNames.foreach(f =>
      assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)), f))
  }

  /** Runs `body` on `n` threads released together; fails on any throw. */
  private def fromThreads(n: Int)(body: => Unit): Unit = {
    val start = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]
    val threads = (1 to n).map(_ => new Thread(() =>
      try { start.await(); body } catch { case t: Throwable => errors.add(t); () }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(60000))
    assert(threads.forall(!_.isAlive) && errors.isEmpty, errors)
  }

  test("the declared set: 12 functions, 12 rules, 2 strategies, no duplicates") {
    assert(Graft.functionNames.distinct.size === 12)
    assert(Graft.rules.distinct.size === 12)
    assert(Graft.strategies.distinct.size === 2)
  }

  test("Graft.install registers every SQL function for plain SQL") {
    Graft.install(spark)
    val d = spark.sql(
      "SELECT float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .head().getDouble(0)
    assert(d === 11.0)
    // registered with documentation
    val desc = spark.sql("DESCRIBE FUNCTION float_dot").collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("float_dot"))
    val sig = spark.sql(
      "SELECT minhash_sig(split('a b c d', ' '), 3, 8) AS s")
      .head().getSeq[String](0)
    assert(sig.length === 8 && sig.forall(_.length == 4))
    val sh = spark.sql("SELECT simhash_sig(split('a b c', ' ')) AS s").head().getLong(0)
    assert(sh >= 0L)
    assert(spark.sql("SELECT long_dot(array(2L, 3L), array(5L, 7L)) AS d")
      .head().getLong(0) === 31L)
    val ts = spark.sql(
      "SELECT top_shingle_stats(split('a b a b', ' '), 2) AS t").head().getStruct(0)
    assert(ts.getLong(0) === 2L && ts.getLong(1) === 3L)
    val wf = spark.sql(
      "SELECT winnow_fps(split('a b c d e f g h i', ' '), 5, 4) AS w").head().getSeq[String](0)
    assert(wf.nonEmpty && wf.forall(_.length == 32))
    assert(spark.sql("SELECT has_non_digit('12a') AS x").head().getBoolean(0))
    assert(spark.sql("SELECT date_format_matches('2020-08-06 00:00:00') AS x")
      .head().getBoolean(0))
    assert(!spark.sql("SELECT parseable_timestamp('2020-02-30 10:00:00') AS x")
      .head().getBoolean(0))
    assert(spark.sql("SELECT lang_id('the cat and the dog') AS l")
      .head().getString(0) === "en")
    assert(spark.sql("SELECT lang_id(CAST(NULL AS STRING)) AS l")
      .head().getString(0) === "und")
    // cdc_boundaries: positions are in-range window ends; short
    // inputs yield the empty array (not null)
    val cb = spark.sql(
      "SELECT cdc_boundaries('the quick brown fox jumps over the lazy dog', 16) AS b")
      .head().getSeq[Int](0)
    assert(cb.forall(p => p >= 16 && p <= 43))
    assert(spark.sql("SELECT cdc_boundaries('tiny', 16) AS b")
      .head().getSeq[Int](0).isEmpty)
    // a non-literal integer argument is rejected by name
    val err = intercept[IllegalArgumentException](
      spark.sql("SELECT shingle_hashes(split('a b', ' '), length('ab')) AS h").collect())
    assert(err.getMessage.contains("shingle_hashes: n must be an integer literal"))
  }

  test("the Levenshtein guard rule is in the optimized plan, once, and keeps the rows") {
    Graft.install(spark)
    // LevenshteinGuardRule: the optimized filter carries the
    // length-difference guard, runs once (idempotent under the
    // fixed-point batch), and never changes results
    import spark.implicits._
    // parquet-backed (a LocalRelation would be constant-folded before
    // the filter survives into the optimized plan)
    withTempDir("lev_guard") { lvDir =>
      Seq(
        ("short", "short"), ("short", "shrt"), ("short", "a much longer string"),
        ("abcdef", "abcxef"), (null: String, "x"), ("y", null: String))
        .toDF("a", "b").write.mode("overwrite").parquet(lvDir)
      val q = spark.read.parquet(lvDir).filter(org.apache.spark.sql.functions
        .levenshtein($"a", $"b") <= 2)
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("abs(") && opt.contains("length("),
        s"guard missing from optimized plan:\n$opt")
      assert(opt.sliding("levenshtein".length).count(_ == "levenshtein") <= 2,
        s"rule must not stack guards:\n$opt")
      val got = q.select($"a", $"b").collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.toSet === Set(("short", "short"), ("short", "shrt"), ("abcdef", "abcxef")))
    }
  }

  test("repeat and concurrent installs leave each rule and strategy exactly once") {
    val s = spark.newSession()
    Graft.install(s)
    Graft.install(s)
    assertInstalledOnce(s)
    assert(s.experimental.extraOptimizations === Graft.rules)
    fromThreads(8)(Graft.install(s))
    assertInstalledOnce(s)
    // concurrent first installs on a session that has none yet
    val fresh = spark.newSession()
    fromThreads(8)(Graft.install(fresh))
    assertInstalledOnce(fresh)
  }

  test("install keeps rules a session already carries and adds only the missing ones") {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(graft.plans.SelfJoinElimination)
    Graft.install(s)
    assertInstalledOnce(s)
    assert(s.experimental.extraOptimizations.last eq graft.plans.SelfJoinElimination)
  }

  test("a gate built on a fresh session is planned with the full set") {
    val s = spark.newSession()
    assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty)
    withTempDir("graft_install_gate") { dir =>
      import s.implicits._
      Seq(("A", "F", 1.0, 10.0, 0.1), ("A", "F", 2.0, 20.0, 0.0))
        .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
        .write.parquet(s"$dir/lineitem.parquet")
      val rows = SparkEntry.queries("q1_agg")(s, dir).collect()
      assert(rows.length === 1 && rows.head.getAs[Long]("count_order") === 2L)
    }
    assertInstalledOnce(s)
  }
}
