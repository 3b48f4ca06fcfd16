package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions.expressions.{CdcBoundaries, DateFormatMatches, FloatDotProduct,
  HasNonDigit, LangId, LongDotProduct, MinHashSig, ParseableTimestamp, ShingleHashes,
  SimHashSig, TopShingleStats, WinnowFps}
import graft.plans.{AggregatePushThroughJoin, AsOfAggregateRewrite, AsOfJoinAutoRewrite,
  AsOfJoinColumnPruning, AsOfJoinFilterPushdown, AsOfJoinStrategy, DistinctElimination,
  IntervalJoinAutoRewrite, IntervalJoinColumnPruning, IntervalJoinFilterPushdown,
  IntervalJoinStrategy, LevenshteinGuardRule, NativeJoinRuntimeFilter, SelfJoinElimination}

/** The one registration path for graft's Catalyst additions: every SQL
  * function, optimizer rule and planner strategy is declared here once,
  * and [[install]] puts the whole set on a session.
  *
  * {{{
  * graft.Graft.install(spark)
  * spark.sql("SELECT float_dot(a, b) FROM t")
  * }}}
  *
  * [[SparkEntry.queries]] installs before building each gate, so every
  * runner plans every gate with the same rule set whatever order the
  * gates run in; [[graft.operators.AsOf]] and [[graft.operators.Interval]]
  * install before building a native-join node, so the DataFrame API
  * works on any session. Rules land in `spark.experimental` (Spark's
  * "User Provided Optimizers" batch, a fixed point). Each rewrite keeps
  * its own kill-switch conf (`spark.graft.selfJoin.eliminate` and the
  * others; see each rule's doc).
  */
object Graft {

  private final case class Fn(name: String, cls: Class[_], usage: String,
      build: Seq[Expression] => Expression)

  /** The integer-literal argument `arg` of SQL function `fn`. */
  private def intArg(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private val functions: Seq[Fn] = Seq(
    Fn("float_dot", classOf[FloatDotProduct],
      "float_dot(a, b) - dot product of two array<float> vectors (codegen)",
      c => FloatDotProduct(c(0), c(1))),
    Fn("long_dot", classOf[LongDotProduct],
      "long_dot(a, b) - exact dot product of two array<bigint> vectors (codegen)",
      c => LongDotProduct(c(0), c(1))),
    Fn("minhash_sig", classOf[MinHashSig],
      "minhash_sig(tokens, shingleN, k) - per-row MinHash signature over word shingles",
      c => MinHashSig(c(0), intArg("minhash_sig", "shingleN", c(1)),
        intArg("minhash_sig", "k", c(2)))),
    Fn("simhash_sig", classOf[SimHashSig],
      "simhash_sig(tokens) - per-row 63-bit packed SimHash signature (codegen)",
      c => SimHashSig(c(0))),
    Fn("top_shingle_stats", classOf[TopShingleStats],
      "top_shingle_stats(tokens, n) - struct(maxc, total) n-gram frequency stats (codegen)",
      c => TopShingleStats(c(0), intArg("top_shingle_stats", "n", c(1)))),
    Fn("shingle_hashes", classOf[ShingleHashes],
      "shingle_hashes(tokens, n) - distinct word n-gram 64-bit hashes (codegen)",
      c => ShingleHashes(c(0), intArg("shingle_hashes", "n", c(1)))),
    Fn("winnow_fps", classOf[WinnowFps],
      "winnow_fps(tokens, k, w) - distinct winnowing fingerprints (md5 window minima, codegen)",
      c => WinnowFps(c(0), intArg("winnow_fps", "k", c(1)), intArg("winnow_fps", "w", c(2)))),
    Fn("cdc_boundaries", classOf[CdcBoundaries],
      "cdc_boundaries(text, w) - content-defined chunk boundary positions " +
        "(md5 window, 1/8 condition, codegen)",
      c => CdcBoundaries(c(0), intArg("cdc_boundaries", "w", c(1)))),
    Fn("has_non_digit", classOf[HasNonDigit],
      "has_non_digit(s) - true iff any char is not an ASCII digit (rlike '[^0-9]')",
      c => HasNonDigit(c(0))),
    Fn("date_format_matches", classOf[DateFormatMatches],
      "date_format_matches(s) - reference date-format regex as a byte walk",
      c => DateFormatMatches(c(0))),
    Fn("parseable_timestamp", classOf[ParseableTimestamp],
      "parseable_timestamp(s) - strict yyyy-MM-dd HH:mm:ss calendar-validity check",
      c => ParseableTimestamp(c(0))),
    Fn("lang_id", classOf[LangId],
      "lang_id(s) - stopword/CJK language-ID heuristic (zh/en/de/es/fr/und)",
      c => LangId(c(0))))

  /** SQL function names, in declaration order. */
  val functionNames: Seq[String] = functions.map(_.name)

  /** Optimizer rules, in batch order (the batch runs to a fixed point). */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    // relational rewrites, each conf-gated (see the rule's doc)
    DistinctElimination,
    AggregatePushThroughJoin,
    SelfJoinElimination,
    // SQL idioms re-planned onto the native as-of and interval joins
    AsOfJoinAutoRewrite,
    AsOfAggregateRewrite,
    IntervalJoinAutoRewrite,
    // pushdown and pruning through the native nodes: Catalyst's own
    // rules only know Join
    AsOfJoinFilterPushdown,
    AsOfJoinColumnPruning,
    IntervalJoinFilterPushdown,
    IntervalJoinColumnPruning,
    // runtime Bloom filters for both native joins (InjectRuntimeFilter
    // never sees the custom nodes)
    NativeJoinRuntimeFilter,
    // length-difference guard in front of thresholded levenshtein filters
    LevenshteinGuardRule)

  /** Planner strategies for the native join nodes. */
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy, IntervalJoinStrategy)

  /** Puts every function, rule and strategy on `spark`. Idempotent: an
    * entry already present is left where it is, missing rules and
    * strategies are prepended, and a function name the session already
    * resolves is not replaced. `experimental` is session-global mutable
    * state, so the check-then-set runs under one lock. */
  def install(spark: SparkSession): Unit = synchronized {
    val x = spark.experimental
    val missingRules = rules.filterNot(x.extraOptimizations.contains)
    if (missingRules.nonEmpty) x.extraOptimizations = missingRules ++ x.extraOptimizations
    val missingStrategies = strategies.filterNot(x.extraStrategies.contains)
    if (missingStrategies.nonEmpty) x.extraStrategies = missingStrategies ++ x.extraStrategies
    val registry = spark.sessionState.functionRegistry
    functions.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!registry.functionExists(id))
        registry.registerFunction(id,
          new ExpressionInfo(f.cls.getName, null, f.name, f.usage, ""), f.build)
    }
  }
}
