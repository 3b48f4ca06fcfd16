package graft.similarity

import org.apache.spark.sql.functions._
import graft.{Graft, SparkSpec}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
    (2L, Array(1.0f, 1.0f, 0.0f)),
    (3L, Array(0.5f, 0.25f, -0.125f)))
    .toDF("vec_id", "embedding")

  test("FloatDotProduct matches hand-computed values") {
    val a = vecs.filter($"vec_id" === 2L).select($"embedding".as("a"))
    val b = vecs.filter($"vec_id" === 3L).select($"embedding".as("b"))
    val d = a.crossJoin(b).select(Similarity.dotF($"a", $"b")).head().getDouble(0)
    assert(d === 0.5 * 1 + 0.25 * 1 + 0.0)
  }

  test("codegen path agrees with exact integer-scaled path on real data") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    val a = e.select($"vec_id".as("ia"), $"embedding".as("va"))
    val b = e.select($"vec_id".as("ib"), $"embedding".as("vb"))
    val both = a.crossJoin(b).filter($"ia" < $"ib")
      .select(
        Similarity.cosineF($"va", $"vb").as("fast"),
        Similarity.cosineExact(Similarity.scaled($"va"), Similarity.scaled($"vb")).as("exact"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-4,
        s"fast=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }

  test("float_dot registers as a SQL function") {
    Graft.install(spark)
    vecs.createOrReplaceTempView("vecs_tmp")
    val d = spark.sql(
      "SELECT float_dot(a.embedding, b.embedding) FROM vecs_tmp a JOIN vecs_tmp b ON a.vec_id = 0 AND b.vec_id = 2")
      .head().getDouble(0)
    assert(d === 1.0)
  }

  test("FloatDotProduct stays inside whole-stage codegen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = e.select(Similarity.dotF($"embedding", $"embedding").as("d"))
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark operators fused into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("float_dot") && l.trim.startsWith("*(")), plan)
  }

  test("signBucket splits by leading component signs") {
    val got = vecs.select($"vec_id", Similarity.signBucket($"embedding", 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) === 4)  // +,0,0 → 100
    assert(got(1L) === 2)  // 0,+,0 → 010
    assert(got(2L) === 6)  // +,+,0 → 110
    assert(got(3L) === 6)  // +,+,- → 110
  }

  test("topKBrute ranks by cosine with id tie-break and excludes self") {
    val top = Similarity.topKBrute(vecs, "vec_id", "embedding",
      vecs.filter($"vec_id" === 0L), "vec_id", "embedding", k = 3)
      .orderBy($"rank").collect()
    assert(top.length === 3)
    assert(top.map(_.getLong(2)).toSeq === Seq(3L, 2L, 1L)) // cos: .919, .707, 0
    assert(top.forall(_.getLong(2) != 0L))
  }
}
