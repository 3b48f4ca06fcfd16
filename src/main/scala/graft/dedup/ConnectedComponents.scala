package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair/edge table — the cluster
  * step that turns near-duplicate CANDIDATE PAIRS (MinHash/SimHash/LSH
  * output, [[Dedup.minhashCandidatePairs]]) into duplicate CLUSTERS, so a
  * pipeline can keep one representative per cluster.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * round is two shuffles (a per-node min aggregate + an equi-join back)
  * and converges in O(log² n) rounds — in practice a handful — versus
  * O(diameter) for naive label propagation. No driver-side state: node
  * ids never leave the cluster; the driver sees only a per-round
  * (count, checksum) pair for the convergence test.
  *
  * Scale notes:
  *  - no `collect_set` neighborhoods: per-node minima are computed with
  *    a map-side-combining `min` aggregate, so a skewed high-degree node
  *    costs one hot reduce key, not one giant in-memory array;
  *  - the rounds run on [[graft.Fixpoint]]: each round is pinned,
  *    which truncates lineage (iterative plans otherwise grow until
  *    planning dominates), and the round it replaces is released once
  *    the convergence aggregate has read the new one;
  *  - ids are any orderable type (string doc_ids included); the
  *    component label is the component's minimum id.
  *
  * The reference has no graph operator; this generalizes its
  * duplicate-group bookkeeping (`load_job.py` REPLACE semantics dedupe
  * by primary key only) to transitive content duplicates.
  */
object ConnectedComponents {

  /** Canonicalize to (lo, hi), lo < hi; drops self-loops and nulls. */
  private def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol), col(dstCol)).as("lo"),
        greatest(col(srcCol), col(dstCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()

  /** Large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("_mn"))
      .select(col("u"), least(col("u"), col("_mn")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("lo"), greatest(col("v"), col("m")).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
  }

  /** Small-star: orient edges hi→lo; every smaller neighbor (and hi
    * itself) links to m = min of hi's smaller neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    val withM = e.join(mins, Seq("hi"))
    val neighborEdges = withM.select(col("lo").as("x"), col("m"))
    val hiEdges = mins.select(col("hi").as("x"), col("m"))
    neighborEdges.union(hiEdges)
      .filter(col("x") =!= col("m"))
      .select(col("m").as("lo"), col("x").as("hi")) // m < x by construction
      .distinct()
  }

  /** Connected components of the undirected graph given by an edge
    * DataFrame. Returns one row per node that appears in any non-self
    * edge: (`id`, `component`) with `component` = min id in the node's
    * component (roots label themselves). Isolated nodes never enter the
    * edge table and are trivially their own component — callers add them
    * back with a left join + coalesce if needed.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = graft.Pins.scoped {
    // a stable (count, checksum) of the edge set means the star
    // transforms are at their fixpoint
    val (cur, _) = graft.Fixpoint.untilStable(canonical(edges, srcCol, dstCol), maxIter)(
      graft.Fixpoint.signature("lo", "hi"))(e => smallStar(largeStar(e)))
    // fixpoint edge set is a star forest: (component-min, member)
    val members = cur.select(col("hi").as("id"), col("lo").as("component"))
    val roots = cur.select(col("lo")).distinct()
      .select(col("lo").as("id"), col("lo").as("component"))
    members.union(roots).distinct()
  }
}
