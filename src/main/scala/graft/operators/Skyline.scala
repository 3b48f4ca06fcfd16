package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skyline (Pareto-dominance) operator — a maximize-all-dimensions
  * skyline: keep rows no other row dominates (≥ on every dim, > on at
  * least one). Spark has no native skyline (cf. "Integration of Skyline
  * Queries into Spark SQL", EDBT 2023, in PAPERS.md). [[antiJoin]] is
  * declarative: a non-equi LEFT ANTI self-join
  * (BroadcastNestedLoopJoin). O(n²) predicate work: right for
  * dimension-sized inputs (aggregated stats), oracle-expressible as
  * NOT EXISTS.
  */
object Skyline {

  private def dominates(a: String, b: String, dims: Seq[String]): Column = {
    val geAll = dims.map(d => col(s"$a.$d") >= col(s"$b.$d")).reduce(_ && _)
    val gtAny = dims.map(d => col(s"$a.$d") > col(s"$b.$d")).reduce(_ || _)
    geAll && gtAny
  }

  /** Anti-join skyline: rows not dominated by any other row. */
  def antiJoin(df: DataFrame, dims: Seq[String]): DataFrame =
    df.alias("x").join(df.alias("y"), dominates("y", "x", dims), "left_anti")
}
