package graft.operators

import graft.SparkSpec

class SkylineSpec extends SparkSpec {
  import spark.implicits._

  private val pts = Seq(
    (1L, 5.0, 5.0),  // skyline
    (2L, 5.0, 5.0),  // duplicate of 1 — neither dominates the other; both stay
    (3L, 4.0, 6.0),  // skyline
    (4L, 4.0, 5.0),  // dominated by 1
    (5L, 6.0, 1.0),  // skyline
    (6L, 3.0, 3.0))  // dominated by everything above-left
    .toDF("id", "a", "b")

  test("anti-join skyline keeps exactly the Pareto frontier (ties both kept)") {
    val got = Skyline.antiJoin(pts, Seq("a", "b"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L, 5L))
  }
}
