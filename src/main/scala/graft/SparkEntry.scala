package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.RelationalQueries.q1(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * runs [[Graft.install]] on its session first, so every gate is
    * planned with the full rule set whatever ran on the session before. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = (
    graft.operators.RelationalQueries.queries ++
      graft.operators.ValidationQueries.queries ++
      graft.operators.TextQueries.queries ++
      graft.operators.DedupQueries.queries ++
      graft.operators.SimilarityQueries.queries ++
      graft.operators.MultimodalQueries.queries ++
      graft.operators.StreamingQueries.queries ++
      graft.operators.CrossQueries.queries ++
      graft.operators.SketchQueries.queries ++
      graft.operators.AnalyticsQueries.queries ++
      graft.operators.TpchQueries.queries ++
      graft.operators.StatQueries.queries
  ).map { case (name, fn) =>
    name -> { (spark: SparkSession, dir: String) => Graft.install(spark); fn(spark, dir) }
  }
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    graft.operators.RelationalQueries.oracleSql ++
      graft.operators.ValidationQueries.oracleSql ++
      graft.operators.TextQueries.oracleSql ++
      graft.operators.DedupQueries.oracleSql ++
      graft.operators.SimilarityQueries.oracleSql ++
      graft.operators.MultimodalQueries.oracleSql ++
      graft.operators.StreamingQueries.oracleSql ++
      graft.operators.CrossQueries.oracleSql ++
      graft.operators.SketchQueries.oracleSql ++
      graft.operators.AnalyticsQueries.oracleSql ++
      graft.operators.TpchQueries.oracleSql ++
      graft.operators.StatQueries.oracleSql
}
