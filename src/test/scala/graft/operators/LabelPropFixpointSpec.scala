package graft.operators

import graft.SparkSpec

/** Pins s12's convergence behavior on fixtures whose dynamics are known
  * by hand (the gate data oscillates and exercises only the cap):
  * early stop at the fixpoint, round count driven by graph diameter,
  * isolated nodes stable via their self-vote, and the cap on a 2-cycle.
  */
class LabelPropFixpointSpec extends SparkSpec {
  import spark.implicits._

  private def run(labels: Seq[(Long, String)], edges: Seq[(Long, Long)], cap: Int = 10) =
    SimilarityQueries.propagateToFixpoint(
      labels.toDF("vec_id", "label"),
      edges.toDF("vec_id", "nbr_id"), cap)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))

  test("path graph: the label front advances one hop per round, converges at diameter+1") {
    // 1-2-3-4 path, 'a' seeded on the left half. Ties break to the
    // smaller label, so 'a' wins each frontier: round 1 flips node 3,
    // round 2 flips node 4, round 3 flips nothing → n_rounds = 3.
    val out = run(
      labels = Seq(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"),
      edges = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 3L -> 4L, 4L -> 3L))
    assert(out.forall(_._4 == 3), s"expected convergence in 3 rounds: ${out.toSeq}")
    assert(out.map(v => v._1 -> v._3).toMap ===
      Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "a"))
  }

  test("isolated node keeps its label through the self-vote and converges immediately") {
    val out = run(
      labels = Seq(1L -> "a", 2L -> "a", 7L -> "z"),
      edges = Seq(1L -> 2L, 2L -> 1L))
    // already at fixpoint: round 1 flips nothing
    assert(out.forall(_._4 == 1))
    assert(out.find(_._1 == 7L).map(_._3) === Some("z"))
  }

  test("2-cycle oscillation is bounded by the round cap") {
    // two nodes voting only for each other swap labels every round —
    // the synchronous-dynamics worst case; the cap must bite
    val out = run(
      labels = Seq(1L -> "a", 2L -> "b"),
      edges = Seq(1L -> 2L, 2L -> 1L),
      cap = 4)
    assert(out.forall(_._4 == 4))
    // after an even number of rounds the swap is back to the start
    assert(out.map(v => v._1 -> v._3).toMap === Map(1L -> "a", 2L -> "b"))
  }

  test("majority beats the tie-break: a 2-vote label wins over a smaller 1-vote label") {
    // node 4 hears {a:1, b:2} → 'b' despite 'a' < 'b'
    val out = run(
      labels = Seq(1L -> "a", 2L -> "b", 3L -> "b", 4L -> "z"),
      edges = Seq(4L -> 1L, 4L -> 2L, 4L -> 3L,
        1L -> 1L, 2L -> 2L, 3L -> 3L)) // self-loops pin the voters
    assert(out.find(_._1 == 4L).map(_._3) === Some("b"))
  }

  // ------------------------------------------------------------------
  // Integer labels take the r10 PACKED-LONG majority (two codegen hash
  // aggregates, no window) — the path the real gate (int32 embedding
  // labels) runs. Same fixtures, winners must be identical.
  private def runInt(labels: Seq[(Long, Int)], edges: Seq[(Long, Long)],
      cap: Int = 10) =
    SimilarityQueries.propagateToFixpoint(
      labels.toDF("vec_id", "label"),
      edges.toDF("vec_id", "nbr_id"), cap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))

  test("packed majority: path graph converges at diameter+1 (int labels)") {
    val out = runInt(
      labels = Seq(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2),
      edges = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 3L -> 4L, 4L -> 3L))
    assert(out.forall(_._4 == 3), s"expected convergence in 3 rounds: ${out.toSeq}")
    assert(out.map(v => v._1 -> v._3).toMap ===
      Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("packed majority: count beats tie-break, ties go to the SMALLEST int label") {
    // node 4 hears {1:1, 2:2} → 2 despite 1 < 2
    val maj = runInt(
      labels = Seq(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 9),
      edges = Seq(4L -> 1L, 4L -> 2L, 4L -> 3L,
        1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(maj.find(_._1 == 4L).map(_._3) === Some(2))
    // node 4 hears {1:1, 3:1, 2:1} → tie of three, smallest label 1 wins
    val tie = runInt(
      labels = Seq(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 9),
      edges = Seq(4L -> 1L, 4L -> 2L, 4L -> 3L,
        1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(tie.find(_._1 == 4L).map(_._3) === Some(1))
    // negative labels survive the 2³¹−1 offset encoding
    val neg = runInt(
      labels = Seq(1L -> -5, 2L -> -5, 3L -> 7),
      edges = Seq(3L -> 1L, 3L -> 2L, 1L -> 1L, 2L -> 2L))
    assert(neg.find(_._1 == 3L).map(_._3) === Some(-5))
  }

  test("packed majority only while the edge count bounds every vote count below 2^31") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    assert(SimilarityQueries.packedMajority(IntegerType, (1L << 31) - 1))
    assert(!SimilarityQueries.packedMajority(IntegerType, 1L << 31))
    assert(!SimilarityQueries.packedMajority(StringType,
      fail("a string label must not count the edges")))
  }

  test("packed majority plan has no window — two hash aggregates only (s11)") {
    val plan = SimilarityQueries
      .s11(spark, "/root/testdata/sf0.001").queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"expected the majority pick to stay on the hash-agg path:\n$plan")
  }
}
