package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, ShortType}
import graft.Tables
import graft.similarity.Similarity

/** Similarity-search operators over the embeddings table. Gate queries
  * use the exact integer-scaled path (see [[Similarity]]) so DuckDB can
  * hash-match; the codegen float path is exercised by specs + bench.
  */
object SimilarityQueries {

  private def scaledCte =
    """v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv,
      |    (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END)
      |    + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
      |    + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, sv, bucket,
      |        list_aggregate(list_transform(sv, x -> x * x), 'sum') AS nrm
      |      FROM v)""".stripMargin

  private val dotSql =
    "list_aggregate(list_transform(range(1, len(a.sv) + 1), i -> a.sv[i] * b.sv[i]), 'sum')"
  private def cosSql(dot: String, na: String, nb: String) =
    s"round(CAST($dot AS DOUBLE) / (sqrt(CAST($na AS DOUBLE)) * sqrt(CAST($nb AS DOUBLE))), 6)"

  /** ADAPTIVE sign-LSH width for the all-pairs operators (s3/s8): with a
    * fixed bucket count, doubling the data doubles every bucket and
    * QUADRUPLES the within-bucket self-join — measured 35× runtime at
    * 10× data on the scaling probe. Growing bits with n pins expected
    * bucket occupancy at ~250 vectors, so candidate work stays ~linear.
    * The width is derived with pure integer arithmetic (no log2 — IEEE
    * rounding at exact powers of two could disagree across engines):
    * smallest b with n <= 250·2^b, i.e. bitlength(ceil(n/250) − 1),
    * clamped to [3, 24]. At every gate sf (≤ 2000 vectors) this stays 3,
    * so gate results are identical to the fixed-width formulation.
    * Memoized per dir — one metadata-only parquet rowcount. */
  private val bitsCache = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def adaptiveBits(spark: SparkSession, dir: String): Int =
    bitsCache.getOrElseUpdate(dir, {
      val n = Tables.embeddings(spark, dir).count()
      val k = (n + 249L) / 250L
      val b = if (k <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(k - 1L)
      math.max(3, math.min(24, b))
    })

  /** `scaledCte` with the bucket recomputed at [[adaptiveBits]] width —
    * the oracle restates the same integer bit-length derivation. */
  private def scaledCteAdaptive =
    """bits AS (
      |  SELECT GREATEST(3, LEAST(24,
      |    CASE WHEN k <= 1 THEN 0 ELSE length(bin(k - 1)) END)) AS b
      |  FROM (SELECT (COUNT(*) + 249) // 250 AS k FROM embeddings)),
      |v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv,
      |    CAST(list_aggregate(
      |      [CASE WHEN embedding[i + 1] > 0 THEN 1 << (b - 1 - i) ELSE 0 END
      |       for i in range(b)], 'sum') AS INTEGER) AS bucket
      |  FROM embeddings, bits),
      |n AS (SELECT vec_id, label, sv, bucket,
      |        list_aggregate(list_transform(sv, x -> x * x), 'sum') AS nrm
      |      FROM v)""".stripMargin

  // ---------------------------------------------------------------------
  // s1_topk_brute — brute-force cosine top-10 for query vectors vec_id<5.
  def s1(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topKBrute(
      e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  private val s1Sql =
    s"""WITH $scaledCte,
       |pairs AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON b.vec_id < 5 AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, cand_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos FROM r
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // s2_topk_bucketed — sign-LSH(3 bits) pruned top-10, same query set:
  // the IVF-style scale path (probes ~1/8 of candidates).
  def s2(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topKBucketed(
      e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10, bits = 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  private val s2Sql =
    s"""WITH $scaledCte,
       |pairs AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON b.vec_id < 5 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, cand_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos FROM r
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // s3_neardup_pairs — embedding-cosine near-dup detection with sign-LSH
  // blocking (the d5 of the dedup family): same-bucket pairs, cos >= 0.4.
  // The groupBy(vec_a, vec_b) barrier keeps the threshold filter from
  // pushing below the projection and recomputing the per-pair dot
  // product twice (the d4 pushdown trap); pairs are unique per bucket
  // join, so it aggregates nothing and shuffles (long, long, double).
  /** Sign-LSH-blocked cosine near-dup pairs (cos >= 0.4) — the shared
    * pair pipeline behind s3 (the pairs) and s8 (components over them).
    * One definition so a threshold/rounding/blocking change can never
    * desynchronize the two gates. */
  /** All same-bucket ORDERED candidate pairs (a ≠ b) with their rounded
    * cosine — the one definition of "LSH candidate + scored pair" behind
    * the near-dup gates (s3/s8, via the `<` half) and the k-NN gates
    * (s10/s11, via the full ordered set). A bucketing or rounding change
    * lands in every consumer or in none. */
  private def candidateCosines(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val v = e.select(col("vec_id"),
      Similarity.scaled(col("embedding")).as("sv"),
      Similarity.signBucket(col("embedding"), adaptiveBits(spark, dir)).as("bucket"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
    val a = v.select(col("vec_id").as("vec_a"), col("sv").as("sa"),
      col("nrm").as("na"), col("bucket"))
    val b = v.select(col("vec_id").as("vec_b"), col("sv").as("sb"),
      col("nrm").as("nb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") =!= col("vec_b"))
      .select(col("vec_a"), col("vec_b"), round(Similarity.cosineWithNorms(
        Similarity.dotScaled(col("sa"), col("sb")), col("na"), col("nb")), 6).as("cos"))
  }

  private def neardupPairs(spark: SparkSession, dir: String): DataFrame =
    candidateCosines(spark, dir)
      .filter(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b")).agg(max(col("cos")).as("cos"))
      .filter(col("cos") >= 0.4)

  def s3(spark: SparkSession, dir: String): DataFrame =
    neardupPairs(spark, dir).orderBy(col("vec_a"), col("vec_b"))

  private val s3Sql =
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------------
  // s8_embed_clusters — embedding near-duplicate CLUSTERS: connected
  // components (the same large-star/small-star engine as d5) over s3's
  // cosine near-dup pairs, summarized per component — the "keep one
  // representative per semantic duplicate group" step of embedding-
  // level dedup. The survivor (min id = the component label) and the
  // member count come straight off the component table; no driver-side
  // graph state.
  def s8(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.ConnectedComponents
      .connectedComponents(neardupPairs(spark, dir), "vec_a", "vec_b")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("component"))

  private val s8Sql =
    s"""WITH RECURSIVE $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosSql(dotSql, "a.nrm", "b.nrm")} >= 0.4),
       |sym AS (SELECT vec_a AS va, vec_b AS vb FROM pairs
       |        UNION SELECT vec_b, vec_a FROM pairs),
       |reach AS (
       |  SELECT va, vb FROM sym
       |  UNION
       |  SELECT r.va, s.vb FROM reach r JOIN sym s ON r.vb = s.va),
       |comp AS (SELECT va AS id, least(va, min(vb)) AS component FROM reach GROUP BY va)
       |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members, MAX(id) AS max_member
       |FROM comp GROUP BY component ORDER BY component""".stripMargin

  // ---------------------------------------------------------------------
  // s4_label_stats — per-label vector stats in exact long arithmetic.
  def s4(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    e.select(col("label"),
      Similarity.dotScaled(Similarity.scaled(col("embedding")), Similarity.scaled(col("embedding"))).as("nrm"),
      Similarity.signBucket(col("embedding"), 3).as("bucket"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("nrm")).as("sum_nrm"),
        min(col("nrm")).as("min_nrm"),
        max(col("nrm")).as("max_nrm"),
        countDistinct(col("bucket")).as("n_buckets"))
      .orderBy(col("label"))
  }

  private val s4Sql =
    s"""WITH $scaledCte
       |SELECT label, COUNT(*) AS n,
       |  CAST(SUM(nrm) AS BIGINT) AS sum_nrm,
       |  CAST(MIN(nrm) AS BIGINT) AS min_nrm,
       |  CAST(MAX(nrm) AS BIGINT) AS max_nrm,
       |  COUNT(DISTINCT bucket) AS n_buckets
       |FROM n GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------
  // s5_centroids — the IVF training step: per-partition (label) centroid
  // components in exact integer arithmetic. posexplode → per-(label,dim)
  // partial sums: the standard distributed centroid plan (shuffle
  // carries |labels|×dims partial sums, not vectors). With computed
  // centroids, `topKBucketed` upgrades from static sign-planes to true
  // nearest-centroid IVF.
  def s5(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(Similarity.scaled(col("embedding"))).as(Seq("pos", "v")))
      .filter(col("pos") < 8) // first 8 components keep the gate result compact
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_scaled"))
      .orderBy(col("label"), col("dim"))

  private val s5Sql =
    """WITH v AS (
      |  SELECT label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
      |  FROM embeddings)
      |SELECT label, CAST(i AS INTEGER) AS dim, COUNT(*) AS n,
      |  CAST(SUM(sv[i]) AS BIGINT) AS sum_scaled
      |FROM v, range(1, 9) t(i)
      |GROUP BY label, i ORDER BY label, dim""".stripMargin

  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // s6_quantize — symmetric int8 quantization of the embedding column
  // (per-vector absmax scale, the standard vector-store compression),
  // with per-label quantized stats and a floor-scaled reconstruction-
  // error sum. Every arithmetic step is IEEE double (float→double cast,
  // one multiply/divide chain, floor) so both engines produce identical
  // longs — the quantized components and the error are exact across
  // engines even though the op is "lossy". Map-side per component +
  // one partial aggregate: no shuffle carries a vector.
  def s6(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val v = Tables.embeddings(spark, dir).select(
      col("label"),
      col("embedding"),
      array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))).as("maxabs"))
    val comp = v.select(col("label"), col("maxabs"),
        explode(col("embedding")).as("x"))
      .select(col("label"), col("maxabs"), col("x").cast(DoubleType).as("xd"))
      .select(col("label"), col("maxabs"), col("xd"),
        when(col("maxabs") === 0.0, lit(0L))
          .otherwise(floor(col("xd") * lit(127.0) / col("maxabs")).cast(LongType)).as("q"))
      .select(col("label"), col("q"),
        when(col("maxabs") === 0.0, floor(abs(col("xd")) * lit(1000000000.0)).cast(LongType))
          .otherwise(floor(abs(col("xd") - col("q").cast(DoubleType) * col("maxabs") / lit(127.0))
            * lit(1000000000.0)).cast(LongType)).as("err9"))
    comp.groupBy(col("label"))
      .agg(count(lit(1)).as("n_comps"),
        sum(col("q")).as("sum_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        sum(col("err9")).as("sum_err_scaled"))
      .orderBy(col("label"))
  }

  private val s6Sql =
    """WITH v AS (
      |  SELECT label, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |  FROM embeddings),
      |c AS (
      |  SELECT label, maxabs, CAST(unnest(embedding) AS DOUBLE) AS xd
      |  FROM v),
      |qz AS (
      |  SELECT label, maxabs, xd,
      |    CASE WHEN maxabs = 0 THEN 0
      |         ELSE CAST(floor(xd * 127.0 / maxabs) AS BIGINT) END AS q
      |  FROM c),
      |e AS (
      |  SELECT label, q,
      |    CASE WHEN maxabs = 0 THEN CAST(floor(abs(xd) * 1000000000.0) AS BIGINT)
      |         ELSE CAST(floor(abs(xd - CAST(q AS DOUBLE) * maxabs / 127.0)
      |                * 1000000000.0) AS BIGINT) END AS err9
      |  FROM qz)
      |SELECT label, COUNT(*) AS n_comps,
      |  CAST(SUM(q) AS BIGINT) AS sum_q, MIN(q) AS min_q, MAX(q) AS max_q,
      |  CAST(SUM(err9) AS BIGINT) AS sum_err_scaled
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // s7_topk_ivf — IVF ANN with TRAINED centroids + nprobe=2 probing:
  // train (truncated-mean centroids from the sign-LSH seeding) → map-
  // side assignment against centroid literals → per-query top-nprobe
  // cells → exact rerank. The multi-cell probe is the recall knob the
  // static-bucket s2 lacks; everything stays integer-exact so DuckDB
  // restates the whole index build + search and hash-matches.
  def s7(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.topKIvf(
      e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding",
      k = 10, bits = 3, nprobe = 2)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("query_id"), col("rnk"))
  }

  /** 64 literal in `range(1, 65)`: the embeddings table is fixed-dim by
    * contract (TESTDATA.md); the engine side reads the true array
    * length per row. */
  /** s7's oracle, parameterized on the probe width so the s36 sweep
    * reuses the IDENTICAL train/assign/probe SQL at every nprobe — one
    * IVF definition across both gates. */
  private def ivfSql(nprobe: Int): String = {
    def centDot(vec: String) =
      s"list_aggregate(list_transform(range(1, len($vec) + 1), i -> $vec[i] * c.cent[i]), 'sum')"
    s"""WITH $scaledCte,
       |comp AS (
       |  SELECT bucket AS icell, i AS pos, CAST(SUM(sv[i]) AS BIGINT) AS s, COUNT(*) AS cnt
       |  FROM v, range(1, 65) t(i)
       |  GROUP BY bucket, i),
       |cent AS (
       |  SELECT icell,
       |    list(CASE WHEN s < 0 THEN -((-s) // cnt) ELSE s // cnt END ORDER BY pos) AS cent
       |  FROM comp GROUP BY icell),
       |cw AS (SELECT icell, cent,
       |         list_aggregate(list_transform(cent, x -> x * x), 'sum') AS cn2 FROM cent),
       |assign AS (
       |  SELECT vec_id, sv, nrm, cell FROM (
       |    SELECT a.vec_id, a.sv, a.nrm, c.icell AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${cosSql(centDot("a.sv"), "a.nrm", "c.cn2")} DESC, c.icell) AS rc
       |    FROM n a CROSS JOIN cw c) WHERE rc = 1),
       |probe AS (
       |  SELECT query_id, qv, qn, cell FROM (
       |    SELECT b.vec_id AS query_id, b.sv AS qv, b.nrm AS qn, c.icell AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql(centDot("b.sv"), "b.nrm", "c.cn2")} DESC, c.icell) AS rc
       |    FROM n b CROSS JOIN cw c WHERE b.vec_id < 5) WHERE rc <= $nprobe),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS cand_id,
       |    ${cosSql(
            "list_aggregate(list_transform(range(1, len(a.sv) + 1), i -> a.sv[i] * p.qv[i]), 'sum')",
            "a.nrm", "p.qn")} AS cos
       |  FROM assign a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |r AS (SELECT query_id, cand_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, cos FROM r
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }

  private val s7Sql = ivfSql(2)

  // ---------------------------------------------------------------------
  // s9_pq_codes — product quantization (the vector-store compression
  // behind IVF-PQ indexes): each 64-dim vector becomes 4 codebook ids
  // (one per 16-dim subspace, 4 centroids each from the s7-style
  // sign-seeded truncated-mean trainer) plus the exact integer
  // reconstruction error. Training is one tiny aggregate (≤16 centroid
  // rows, collected broadcast-sized); encoding is ONE map-side
  // projection against centroid literals — vectors are never shuffled,
  // the 100 TB-safe shape. Everything stays in scaled-long arithmetic
  // so DuckDB restates the full train+assign and hash-matches.
  def s9(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding",
      m = 4, subDim = 16)

  private val s9Sql = {
    def dot(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, 17), i -> $a[i] * $b[i]), 'sum')"
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id, s AS sub, sv[s*16+1 : s*16+16] AS subv,
       |    (CASE WHEN sv[s*16+1] >= 0 THEN 2 ELSE 0 END +
       |     CASE WHEN sv[s*16+2] >= 0 THEN 1 ELSE 0 END) AS cell
       |  FROM v, (SELECT unnest([0, 1, 2, 3]) AS s) t),
       |comp AS (
       |  SELECT sub, cell, i AS pos, CAST(SUM(subv[i]) AS BIGINT) AS sm, COUNT(*) AS cnt
       |  FROM subs, range(1, 17) t(i)
       |  GROUP BY 1, 2, 3),
       |cent AS (
       |  SELECT sub, cell,
       |    list(CASE WHEN sm < 0 THEN -((-sm) // cnt) ELSE sm // cnt END ORDER BY pos) AS cent
       |  FROM comp GROUP BY 1, 2),
       |cw AS (SELECT sub, cell, cent,
       |         list_aggregate(list_transform(cent, x -> x * x), 'sum') AS cc FROM cent),
       |d AS (
       |  SELECT s.vec_id, s.sub, c.cell,
       |    ${dot("s.subv", "s.subv")} - 2 * ${dot("s.subv", "c.cent")} + c.cc AS dist
       |  FROM subs s JOIN cw c ON s.sub = c.sub),
       |a AS (
       |  SELECT vec_id, sub, cell AS code, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rk
       |  FROM d)
       |SELECT vec_id,
       |  CAST(MAX(CASE WHEN sub = 0 THEN code END) AS INTEGER) AS code0,
       |  CAST(MAX(CASE WHEN sub = 1 THEN code END) AS INTEGER) AS code1,
       |  CAST(MAX(CASE WHEN sub = 2 THEN code END) AS INTEGER) AS code2,
       |  CAST(MAX(CASE WHEN sub = 3 THEN code END) AS INTEGER) AS code3,
       |  CAST(SUM(dist) AS BIGINT) AS err_sq
       |FROM a WHERE rk = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s10_knn_graph — k-nearest-neighbor GRAPH construction (the index
  // behind graph-based dedup, label propagation, and diversity
  // sampling): every vector's top-3 neighbors among its sign-LSH bucket
  // mates. Two scale decisions: candidates come from the ADAPTIVE-width
  // bucket join (occupancy pinned ~250, so candidate work stays linear
  // in n), and the per-vector top-k runs through the typed
  // [[graft.functions.TopKAggregator]] — the partial aggregate keeps a
  // k-bounded buffer per vector per map task, so the exchange carries at
  // most k (score, id) pairs per vector instead of every candidate pair
  // (the window-rank form would shuffle the full candidate set; at ~250
  // candidates/vector that is an 80× heavier exchange for k = 3).
  /** The k-NN edge list behind s10 (the graph itself) and s11 (label
    * propagation over it) — one definition so the graph the two gates
    * see can never diverge. */
  private def knnEdges(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator.TopK(k))
    candidateCosines(spark, dir)
      .groupBy(col("vec_a"))
      .agg(topk(col("cos"), col("vec_b")).as("nbrs"))
      .select(col("vec_a").as("vec_id"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("nbr.id").as("nbr_id"), col("nbr.score").as("cos"))
  }

  /** [[knnEdges]] pinned by a lazy localCheckpoint — for the graph
    * gates that consume the edge list 2–4× (symmetrize = union of two
    * reads, the isolated-node anti-join, degree tables, wedge joins):
    * broadcast builds reuse no exchange, so without the pin the
    * LSH-bucketed cosine self-join re-ran per consumer (s21's executed
    * plan: embeddings scanned 16×; r9 finding). s10 itself stays on the
    * un-pinned form so its partial_topk plan shape remains visible to
    * PlanAuditSpec. */
  private def knnEdgesShared(spark: SparkSession, dir: String, k: Int): DataFrame =
    knnEdges(spark, dir, k).transform(graft.Pins.pinForFanout(_))

  def s10(spark: SparkSession, dir: String): DataFrame =
    knnEdges(spark, dir, k = 3).orderBy(col("vec_id"), col("rnk"))

  // ---------------------------------------------------------------------
  // s21_neighbor_jaccard — STRUCTURAL node similarity over the k-NN
  // graph: Jaccard of neighbor sets, the link-prediction/entity-match
  // signal that needs no vector math once the graph exists. Shares
  // s10's edge construction; the undirected edge list symmetrizes via
  // union+distinct, and common-neighbor counting is the wedge join
  // (edges joined on the SHARED NEIGHBOR) — per-wedge fan-out is
  // bounded by the symmetrized degree ≤ 2k, so the exchange carries
  // wedges, never a node×node grid. Degrees attach by two
  // node-key equi-joins (degree table is node-cardinality; never
  // collected). |A∪B| = da+db−common, jac in exact ppm.
  def s21(spark: SparkSession, dir: String): DataFrame = {
    val e = knnEdgesShared(spark, dir, k = 3)
      .select(col("vec_id").as("a"), col("nbr_id").as("b"))
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b"))).distinct()
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val com = und.select(col("a"), col("b").as("n"))
      .join(und.select(col("a").as("a2"), col("b").as("n")), "n")
      .filter(col("a") < col("a2"))
      .groupBy(col("a").as("node_a"), col("a2").as("node_b"))
      .agg(count(lit(1)).as("common"))
    com
      .join(deg.select(col("node").as("node_a"), col("d").as("da")), "node_a")
      .join(deg.select(col("node").as("node_b"), col("d").as("db")), "node_b")
      .withColumn("jac_ppm", expr("(common * 1000000) div (da + db - common)"))
      .filter(col("jac_ppm") >= 400000)
      .select(col("node_a"), col("node_b"), col("common"), col("jac_ppm"))
      .orderBy(col("node_a"), col("node_b"))
  }

  private val s21Sql =
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, cand_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs),
       |e AS (SELECT vec_id AS a, cand_id AS b FROM r WHERE rnk <= 3),
       |und AS (SELECT DISTINCT a, b FROM
       |        (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e)),
       |deg AS (SELECT a AS node, COUNT(*) AS d FROM und GROUP BY 1),
       |com AS (SELECT x.a AS node_a, y.a AS node_b, COUNT(*) AS common
       |        FROM und x JOIN und y ON x.b = y.b AND x.a < y.a GROUP BY 1, 2)
       |SELECT node_a, node_b, common,
       |  (common * 1000000) // (da.d + db.d - common) AS jac_ppm
       |FROM com JOIN deg da ON da.node = node_a JOIN deg db ON db.node = node_b
       |WHERE (common * 1000000) // (da.d + db.d - common) >= 400000
       |ORDER BY node_a, node_b""".stripMargin

  private val s10Sql =
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, cand_id, cos,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs)
       |SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, cand_id AS nbr_id, cos FROM r
       |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // s11_label_prop — one synchronous round of LABEL PROPAGATION over the
  // s10 k-NN graph (the semi-supervised labeling / label-denoising step
  // a curation pipeline runs once embeddings carry noisy labels): each
  // vector's proposed label is the MAJORITY among its ≤k neighbors'
  // labels, ties to the smallest label, isolated vectors keep their own.
  // Scale shape: the graph is the k-bounded edge list (≤ k rows per
  // vector), the vote is one (vec, label) partial-agg + a k-bounded rank
  // window — labels shuffle, never vectors. Iterating the round is a
  // loop over this same plan (as with d5's CC rounds); the gate pins one
  // round exactly.
  def s11(spark: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val g = knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id"))
    val nb = g.join(
      lbl.select(col("vec_id").as("nbr_id"), col("label").as("nl")), Seq("nbr_id"))
    // packed-long majority (s12's r10 form): max(c·2³² + (2³¹−1 − nl))
    // = max count then min label, decoded back to (nl, c) — two codegen
    // hash aggregates, no WindowExec sort; labels are int32
    val maj = nb.groupBy(col("vec_id"), col("nl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("vec_id"))
      .agg(max(col("c") * lit(4294967296L) +
        (lit(2147483647L) - col("nl").cast("long"))).as("pk"))
      .select(col("vec_id"),
        (lit(2147483647L) - (col("pk") % lit(4294967296L)))
          .cast(lbl.schema("label").dataType).as("nl"),
        expr("pk div 4294967296").as("c"))
    lbl.join(maj, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label").as("old_label"),
        coalesce(col("nl"), col("label")).as("new_label"),
        coalesce(col("c"), lit(0L)).as("n_votes"))
      .orderBy(col("vec_id"))
  }

  private val s11Sql =
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs),
       |nb AS (
       |  SELECT r.vec_id, e.label AS nl FROM r
       |  JOIN n e ON r.cand_id = e.vec_id WHERE r.rnk <= 3),
       |cnt AS (SELECT vec_id, nl, COUNT(*) AS c FROM nb GROUP BY 1, 2),
       |maj AS (
       |  SELECT vec_id, nl, c,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, nl) AS rn
       |  FROM cnt)
       |SELECT v.vec_id, v.label AS old_label,
       |  COALESCE(m.nl, v.label) AS new_label,
       |  CAST(COALESCE(m.c, 0) AS BIGINT) AS n_votes
       |FROM n v LEFT JOIN (SELECT vec_id, nl, c FROM maj WHERE rn = 1) m
       |  ON v.vec_id = m.vec_id
       |ORDER BY v.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s12_label_prop_fixpoint — s11's propagation round ITERATED TO
  // CONVERGENCE (the actual semi-supervised labeling loop): synchronous
  // majority updates over the fixed k-NN graph until a round flips no
  // label, capped at 10 rounds (synchronous majority dynamics can
  // 2-cycle; the cap bounds the oscillating case). Coverage trick:
  // isolated vectors get a SELF-edge — one self-vote reproduces
  // "isolated keeps its own label" inside the same majority aggregate,
  // no per-round left-join fallback. Iteration discipline is d5's CC
  // pattern: the edge list checkpoints once (vectors never shuffle
  // after that — per round only (vec_id, label) pairs move), the rounds
  // run on graft.Fixpoint (each round's state a lazy iterative pin, the
  // round it replaces released once the next one is tested), and the
  // driver sees ONE scalar pair per round (the CC-style (count,
  // checksum) fixpoint test — no flip-count join against the previous
  // state) plus the edge count that picks the majority. Output pins
  // the whole trajectory: per-vector initial + fixpoint label and the
  // converged round count.
  /** The propagation loop behind s12, reusable on any (labels, edges)
    * pair — specs drive it on fixtures with known diameter. `labels` =
    * (vec_id, label); `edges` = directed (vec_id, nbr_id). Returns
    * (vec_id, init_label, final_label, n_rounds) where n_rounds is the
    * first round that flipped nothing (= fixpoint), or `maxRounds` if
    * the dynamics still oscillate at the cap. */
  def propagateToFixpoint(
      labels: DataFrame, knn: DataFrame, maxRounds: Int): DataFrame = graft.Pins.scoped {
    import org.apache.spark.sql.expressions.Window
    val lbl = labels.select(col("vec_id"), col("label"))
    val iso = lbl.select(col("vec_id"))
      .join(knn.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec_id").as("nbr_id"))
    val edges = knn.select(col("vec_id"), col("nbr_id")).unionAll(iso)
      .transform(graft.Pins.pinForFanout(_))
    // r10 (verdict item 4): for INTEGER labels (the gate — embeddings
    // .label is int32) the per-round majority is two codegen hash
    // aggregates over a packed LONG key instead of a window sort:
    // max(c·2³² + (2³¹−1 − label)) picks max count then min label —
    // identical winner, no WindowExec, no sort. r9 had measured
    // `min_by(nl, struct(-c, nl))` SLOWER (struct ordering keys fall
    // off the codegen hash-agg fast path); the packed key is
    // fixed-width, so it stays on it. Non-integral labels (spec
    // fixtures propagate strings) keep the window form — both paths
    // are fixture-pinned in LabelPropFixpointSpec. Counting the edge
    // pin materializes it, which round 1 would do anyway.
    val labelType = lbl.schema("label").dataType
    val packed = packedMajority(labelType, edges.count())
    def majority(votes: DataFrame): DataFrame =
      if (packed)
        votes
          .groupBy(col("vec_id"))
          .agg(max(col("c") * lit(4294967296L) +
            (lit(2147483647L) - col("nl").cast("long"))).as("pk"))
          .select(col("vec_id"),
            (lit(2147483647L) - (col("pk") % lit(4294967296L)))
              .cast(labelType).as("label"))
      else {
        val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("nl"))
        votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("nl").as("label"))
      }
    // r10: convergence via the CC discipline — stable (count,
    // order-insensitive checksum) ⇔ zero flips (every vec_id labels
    // every round: iso self-edges guarantee it, so the multiset of
    // (vec_id, label) rows is equal iff no label moved). One aggregate
    // over node-cardinality rows replaces a per-round next⋈state
    // flip-count join; same n_rounds by construction.
    val (state, rounds) = graft.Fixpoint.untilStable(lbl, maxRounds)(
      graft.Fixpoint.signature("vec_id", "label")) { state =>
      majority(edges
        .join(state.select(col("vec_id").as("nbr_id"), col("label").as("nl")),
          Seq("nbr_id"))
        .groupBy(col("vec_id"), col("nl")).agg(count(lit(1)).as("c")))
    }
    lbl.select(col("vec_id"), col("label").as("init_label"))
      .join(state.select(col("vec_id"), col("label").as("final_label")), Seq("vec_id"))
      .withColumn("n_rounds", lit(rounds))
      .orderBy(col("vec_id"))
  }

  /** Whether the label-propagation majority may use the packed-long
    * key c·2³² + (2³¹−1 − label). That key is exact for labels of at
    * most 32 bits and vote counts c below 2³¹; a (vec_id, label) vote
    * count never exceeds the edge frame's row count `edgeRows`, which is
    * evaluated only for a packable label type. */
  private[operators] def packedMajority(labelType: DataType, edgeRows: => Long): Boolean =
    labelType match {
      case IntegerType | ShortType | ByteType => edgeRows < (1L << 31)
      case _ => false
    }

  def s12(spark: SparkSession, dir: String): DataFrame =
    propagateToFixpoint(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label")),
      knnEdgesShared(spark, dir, k = 3),
      maxRounds = 10)

  /** s12 oracle: the same iteration as a bounded recursive CTE. The
    * majority-with-tie-break rides a single `arg_min` whose key encodes
    * (count desc, label asc) as a padded string — valid because the
    * vote count is bounded by k+1 ≤ 10. Convergence round = first round
    * whose state equals its predecessor (0 flips), capped like the
    * engine's loop. */
  private val s12Sql =
    s"""WITH RECURSIVE $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |e2 AS (SELECT * FROM knn UNION ALL
       |       SELECT vec_id, vec_id FROM n
       |       WHERE vec_id NOT IN (SELECT vec_id FROM knn)),
       |it(round, vec_id, label) AS (
       |  SELECT 0, vec_id, label FROM n
       |  UNION ALL
       |  SELECT round + 1, vec_id,
       |    arg_min(nl, lpad(CAST(10 - c AS VARCHAR), 2, '0') || '|' || nl)
       |  FROM (
       |    SELECT it.round AS round, e.vec_id AS vec_id, it.label AS nl, COUNT(*) AS c
       |    FROM e2 e JOIN it ON e.nbr = it.vec_id
       |    GROUP BY 1, 2, 3) t
       |  WHERE round < 10
       |  GROUP BY round, vec_id),
       |flips AS (
       |  SELECT a.round AS r, SUM(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END) AS f
       |  FROM it a JOIN it b ON a.vec_id = b.vec_id AND b.round = a.round - 1
       |  GROUP BY 1),
       |conv AS (SELECT CAST(COALESCE(MIN(r), 10) AS INTEGER) AS rstar
       |         FROM flips WHERE f = 0)
       |SELECT it.vec_id, v.label AS init_label, it.label AS final_label,
       |  c.rstar AS n_rounds
       |FROM it JOIN conv c ON it.round = c.rstar
       |JOIN n v ON v.vec_id = it.vec_id
       |ORDER BY it.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s13_pagerank — PageRank over the s10 k-NN graph (the graph-centrality
  // score a curation pipeline uses to pick representative documents from
  // a similarity graph, and the classic iterate-on-a-fixed-graph workload
  // alongside d5's connected components). Cross-engine determinism comes
  // from FIXED-POINT INTEGER arithmetic (t16's PMI trick applied to an
  // iterative algorithm): ranks live in BIGINT units of 1e-12 of total
  // mass, each per-edge contribution is an integer floor-division
  // `rank div deg`, and the damped update is
  // (15*S) div (100*N) + (85*sum_in) div 100 — floor division on
  // nonnegative values is identical in both engines, so 5 iterations
  // stay bit-exact with zero float drift. Sinks cannot occur: isolated
  // vectors get a SELF-edge (the s12 trick), so every node has >= 1
  // out-edge and no dangling-mass correction is needed.
  // Scale shape: the k-bounded edge list is built ONCE (with its
  // out-degree riding along) and localCheckpointed; each round shuffles
  // only (vec_id, rank) pairs — vectors never move after the kNN build,
  // and the driver sees no per-round data at all (fixed iteration count,
  // unlike s12 there is no convergence scalar to collect).
  /** The fixed-point PageRank loop behind s13, reusable on any
    * (nodes, edges) pair — specs drive it on fixtures with known
    * structure. `nodes` = (vec_id); `edges` = directed (vec_id,
    * nbr_id); isolated nodes are self-edged internally. Returns
    * (vec_id, rank_scaled) in BIGINT units of 1e-12 of total mass. */
  def pageRank(nodes: DataFrame, knn: DataFrame, iters: Int): DataFrame = {
    val S = 1000000000000L
    val nodeIds = nodes.select(col("vec_id"))
    val nv = nodeIds.count()
    val iso = nodeIds
      .join(knn.select(col("vec_id")).distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec_id").as("nbr_id"))
    val edges = knn.select(col("vec_id"), col("nbr_id")).unionAll(iso)
    val deg = edges.groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, Seq("vec_id")).transform(graft.Pins.pinForFanout(_))
    val base = 15L * S / (100L * nv)
    val rank = graft.Fixpoint.iterate(
        nodeIds.select(col("vec_id"), lit(S / nv).as("rank")), iters) { rank =>
      val contrib = ed.join(rank, Seq("vec_id"))
        .select(col("nbr_id").as("vec_id"), expr("rank div deg").as("c"))
        .groupBy(col("vec_id")).agg(sum(col("c")).as("m"))
      nodeIds
        .join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(base) + expr("(85 * coalesce(m, 0)) div 100")).as("rank"))
    }
    rank.select(col("vec_id"), col("rank").as("rank_scaled"))
  }

  def s13(spark: SparkSession, dir: String): DataFrame =
    pageRank(
      Tables.embeddings(spark, dir).select(col("vec_id")),
      knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id")),
      iters = 5)
      .orderBy(col("vec_id"))

  /** One unrolled oracle PageRank round: every node LEFT-joins its
    * in-edges' previous ranks; floor-division arithmetic mirrors the
    * engine exactly. CAST back to BIGINT per round because DuckDB's
    * SUM promotes to HUGEINT. */
  private def prRoundSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT v.vec_id,
       |    CAST((15 * 1000000000000 // (100 * nn))
       |      + (85 * COALESCE(SUM(p.rank // d.deg), 0)) // 100 AS BIGINT) AS rank
       |  FROM n v CROSS JOIN c0
       |  LEFT JOIN e2 e ON e.nbr = v.vec_id
       |  LEFT JOIN $prev p ON p.vec_id = e.vec_id
       |  LEFT JOIN dg d ON d.vec_id = e.vec_id
       |  GROUP BY v.vec_id, nn)""".stripMargin

  private val s13Sql =
    s"""WITH $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |e2 AS (SELECT * FROM knn UNION ALL
       |       SELECT vec_id, vec_id FROM n
       |       WHERE vec_id NOT IN (SELECT vec_id FROM knn)),
       |dg AS (SELECT vec_id, COUNT(*) AS deg FROM e2 GROUP BY 1),
       |c0 AS (SELECT COUNT(*) AS nn FROM n),
       |r0 AS (SELECT vec_id, 1000000000000 // nn AS rank FROM n, c0),
       |${prRoundSql("r0", "r1")},
       |${prRoundSql("r1", "r2")},
       |${prRoundSql("r2", "r3")},
       |${prRoundSql("r3", "r4")},
       |${prRoundSql("r4", "r5")}
       |SELECT vec_id, rank AS rank_scaled FROM r5 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s14_triangle_count — per-node triangle counts on the (undirected)
  // k-NN graph: the local-clustering signal that separates tight
  // near-duplicate communities from chains, and the classic
  // wedge-explosion stress test for distributed graph ops. The scale
  // trick is DEGREE ORIENTATION: canonicalize each edge to (min, max),
  // then orient every edge from its (degree, id)-smaller endpoint to
  // the larger one. The oriented out-degree is O(sqrt(m)) regardless of
  // hubs, so enumerating wedges as pairs of OUT-neighbors of one apex
  // never explodes around a high-degree node (the naive neighbor-pair
  // join does exactly that) — and each triangle is generated EXACTLY
  // once, at its unique apex, so no /3 dedup pass is needed. The wedge
  // list then semi-joins the canonical edge set (equi-join on the two
  // endpoints) and the surviving triangles explode to their 3 member
  // nodes for the per-node count. Joins shuffle (node, node) pairs
  // only; vectors never move after the kNN build.
  def s14(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnEdgesShared(spark, dir, k = 3)
    // canonical undirected edges (dedups the two directions)
    val ecan = knn
      .select(least(col("vec_id"), col("nbr_id")).as("u"),
        greatest(col("vec_id"), col("nbr_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(graft.Pins.pinForFanout(_))
    val deg = ecan.select(col("u").as("x")).unionAll(ecan.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): apex -> other
    val o = ecan
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val tris = wedges.join(ecan,
      least(col("b"), col("c")) === col("u") &&
        greatest(col("b"), col("c")) === col("v"), "left_semi")
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("vec_id"))
  }

  private val s14Sql =
    s"""WITH $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |ecan AS (
       |  SELECT DISTINCT LEAST(vec_id, nbr) AS u, GREATEST(vec_id, nbr) AS v
       |  FROM knn WHERE vec_id <> nbr),
       |dg AS (
       |  SELECT x, COUNT(*) AS d FROM (
       |    SELECT u AS x FROM ecan UNION ALL SELECT v AS x FROM ecan)
       |  GROUP BY x),
       |o AS (
       |  SELECT
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS src,
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS dst
       |  FROM ecan
       |  JOIN dg du ON du.x = u
       |  JOIN dg dv ON dv.x = v),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |  WHERE EXISTS (SELECT 1 FROM ecan
       |                WHERE u = LEAST(e1.dst, e2.dst)
       |                  AND v = GREATEST(e1.dst, e2.dst)))
       |SELECT vec_id, COUNT(*) AS n_tri FROM (
       |  SELECT a AS vec_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s15_ann_recall — recall@10 evaluation of the IVF path against the
  // brute-force ground truth: the acceptance metric every approximate
  // similarity index ships with (is the 1/nlist-cost scan still finding
  // what the exact scan finds?). Left-join exact top-10 (s1) against
  // IVF top-10 (s7) per query, count overlap, report per-query recall.
  // Both sides are the engine's OWN operators; the oracle recomputes
  // BOTH pipelines in SQL (s1's and s7's oracle restatements nested as
  // derived tables) and joins them the same way — so the gate pins the
  // evaluation harness, not just the two inputs. At 100 TB this runs on
  // a sampled query set; the shape (two top-k pipelines → key join →
  // small per-query agg) is unchanged.
  def s15(spark: SparkSession, dir: String): DataFrame = {
    val exact = s1(spark, dir).select(col("query_id"), col("cand_id"))
    val ann = s7(spark, dir).select(col("query_id"), col("cand_id"))
      .withColumn("hit", lit(1))
    exact.join(ann, Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("recall", col("n_overlap").cast("double") / col("n_exact"))
      .orderBy(col("query_id"))
  }

  private val s15Sql =
    s"""WITH exact AS (SELECT query_id, cand_id FROM ($s1Sql)),
       |ann AS (SELECT query_id, cand_id FROM ($s7Sql))
       |SELECT e.query_id, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overlap,
       |  CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS recall
       |FROM exact e LEFT JOIN ann a
       |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  // ---------------------------------------------------------------------
  // s16_bfs_hops — multi-source BFS hop distance over the (symmetrized)
  // s10 k-NN graph, capped at 6 hops: the "how far is every vector from
  // a seed set" primitive behind diversity sampling (distance from
  // already-kept examples), influence/contamination radius, and
  // graph-distance features. Iteration shape is s13's, not s12's: a
  // FIXED round count with NO per-round driver action — six
  // min-propagation rounds chain lazily (each localCheckpointed so
  // lineage stays linear) and the whole frontier expansion runs as one
  // job. Per round only (vec_id, dist) pairs shuffle — vectors never
  // move after the edge list checkpoints (d5's discipline). Unreached
  // vectors report −1. The propagation computes min-over-walks ≤ 6,
  // which equals min-over-paths (BFS distance) because walks only add
  // length — the same argument the oracle's round-counter recursion
  // encodes (d == round on every derivation, so MIN(d) is the BFS
  // distance, identically capped).
  /** The capped multi-source BFS behind s16, reusable on any
    * (nodes, directed edges, seed predicate) triple — specs drive it on
    * fixtures with known geometry. Returns (vec_id, dist) with dist = −1
    * for vectors unreached within `rounds` hops. */
  def bfsHops(nodes: DataFrame, edges: DataFrame,
      seed: org.apache.spark.sql.Column, rounds: Int): DataFrame = {
    val sym = edges.select(col("vec_id"), col("nbr_id"))
      .unionAll(edges.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      .distinct()
      .transform(graft.Pins.pinForFanout(_))
    val state = graft.Fixpoint.iterate(
        nodes.filter(seed).select(col("vec_id"), lit(0L).as("dist")), rounds) { state =>
      sym
        .join(state.select(col("vec_id"), col("dist")), Seq("vec_id"))
        .select(col("nbr_id").as("vec_id"), (col("dist") + 1L).as("dist"))
        .unionAll(state)
        .groupBy(col("vec_id")).agg(min(col("dist")).as("dist"))
    }
    nodes.select(col("vec_id"))
      .join(state, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("vec_id"))
  }

  def s16(spark: SparkSession, dir: String): DataFrame =
    bfsHops(
      Tables.embeddings(spark, dir).select(col("vec_id")),
      knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id")),
      col("vec_id") % 97 === 0,
      rounds = 6)

  private val s16Sql =
    s"""WITH RECURSIVE $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |sym AS (SELECT vec_id AS a, nbr AS b FROM knn
       |        UNION SELECT nbr, vec_id FROM knn),
       |it(round, vec_id, d) AS (
       |  SELECT 0, vec_id, 0 FROM n WHERE vec_id % 97 = 0
       |  UNION
       |  SELECT round + 1, e.b, d + 1
       |  FROM it JOIN sym e ON e.a = it.vec_id
       |  WHERE round < 6),
       |m AS (SELECT vec_id, MIN(d) AS dist FROM it GROUP BY 1)
       |SELECT n.vec_id, CAST(COALESCE(m.dist, -1) AS BIGINT) AS dist
       |FROM n LEFT JOIN m USING (vec_id)
       |ORDER BY n.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s17_weighted_paths — single-source-set WEIGHTED shortest paths
  // (bounded Bellman-Ford) over the s10 k-NN graph: 6 relaxation rounds
  // from the same seed set as s16, edge weights a deterministic integer
  // in [1,9] derived from the endpoint pair (symmetric: keyed on
  // (least, greatest) so both directions carry one weight — the shared
  // Knuth multiplicative constant both engines evaluate in plain BIGINT
  // arithmetic). Same scale shape as BFS: per round ONE edge-state join
  // + min-aggregate; state is (node, dist) scalars — distances shuffle,
  // vectors never — and the driver sees nothing. Positive weights make
  // the per-node running min a valid Bellman-Ford relaxation, so round
  // r holds the exact min over ≤r-edge paths; the oracle enumerates the
  // same bounded paths recursively and takes the same min.
  def s17(spark: SparkSession, dir: String): DataFrame = {
    val base = knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id"))
    val sym = base
      .unionAll(base.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      .distinct()
      .withColumn("w", lit(1L) + pmod( // pre-mod: keeps products < 2^58
        (least(col("vec_id"), col("nbr_id")) % 67108864) * lit(2654435761L) +
          (greatest(col("vec_id"), col("nbr_id")) % 67108864) * lit(40503L),
        lit(9L)))
      .transform(graft.Pins.pinForFanout(_))
    val seeds = Tables.embeddings(spark, dir)
      .select(col("vec_id")).filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"), lit(0L).as("dist"))
    val state = graft.Fixpoint.iterate(seeds, 6) { state =>
      sym
        .join(state.select(col("vec_id"), col("dist")), Seq("vec_id"))
        .select(col("nbr_id").as("vec_id"), (col("dist") + col("w")).as("dist"))
        .unionAll(state)
        .groupBy(col("vec_id")).agg(min(col("dist")).as("dist"))
    }
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(state, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("vec_id"))
  }

  private val s17Sql =
    s"""WITH RECURSIVE $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |sym AS (SELECT vec_id AS a, nbr AS b FROM knn
       |        UNION SELECT nbr, vec_id FROM knn),
       |symw AS (SELECT a, b,
       |    1 + ((least(a, b) % 67108864) * 2654435761
       |         + (greatest(a, b) % 67108864) * 40503) % 9 AS w
       |  FROM sym),
       |it(round, vec_id, d) AS (
       |  SELECT 0, vec_id, 0 FROM n WHERE vec_id % 97 = 0
       |  UNION
       |  SELECT round + 1, e.b, d + e.w
       |  FROM it JOIN symw e ON e.a = it.vec_id
       |  WHERE round < 6),
       |m AS (SELECT vec_id, MIN(d) AS dist FROM it GROUP BY 1)
       |SELECT n.vec_id, CAST(COALESCE(m.dist, -1) AS BIGINT) AS dist
       |FROM n LEFT JOIN m USING (vec_id)
       |ORDER BY n.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s18_ppr — PERSONALIZED PageRank (random walk with restart) from the
  // s16 seed set over the symmetrized k-NN graph: the "relevance to a
  // trusted set" score behind seed-expansion curation (grow a curated
  // corpus from exemplars) and graph-based contamination scoring — where
  // s13 ranks globally, s18 ranks relative to the seeds. Four rounds of
  // mass_{t+1}(u) = [u∈S]·250000 + Σ_{v→u} (mass_t(v)·3) div (4·deg v),
  // all in exact integer ppm (div truncation is part of the pinned
  // semantics). Scale shape matches s16: the degree-annotated edge list
  // checkpoints once; per round ONE edge⋈state join + sum-aggregate, and
  // only (node, mass) scalars shuffle. State stays SPARSE — zero-mass
  // nodes are dropped each round (HAVING > 0), so early rounds touch
  // only the seeds' neighborhoods, exactly how a 100×-scale PPR behaves
  // when the seed set is small.
  def s18(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id"))
    val symd = base
      .unionAll(base.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      .distinct()
      .withColumn("d", count(lit(1)).over(Window.partitionBy(col("vec_id"))))
      .transform(graft.Pins.pinForFanout(_))
    val nodes = Tables.embeddings(spark, dir).select(col("vec_id"))
    val seeds = nodes.filter(col("vec_id") % 97 === 0)
    val state = graft.Fixpoint.iterate(
        seeds.select(col("vec_id"), lit(1000000L).as("mass")), 4) { state =>
      val spread = symd.join(state, Seq("vec_id"))
        .select(col("nbr_id").as("vec_id"),
          expr("(mass * 3) div (4 * d)").as("m"))
      spread
        .unionAll(seeds.select(col("vec_id"), lit(250000L).as("m")))
        .groupBy(col("vec_id")).agg(sum(col("m")).as("mass"))
        .filter(col("mass") > 0)
    }
    nodes.join(state, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("mass"), lit(0L)).as("mass_ppm"))
      .orderBy(col("vec_id"))
  }

  /** One unrolled PPR round: spread 3/4 of each node's mass equally over
    * its out-edges (integer div), re-inject 250000 ppm at every seed,
    * keep only positive masses. CAST per round — DuckDB SUM promotes to
    * HUGEINT. */
  private def pprRoundSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT vec_id, CAST(SUM(m) AS BIGINT) AS mass FROM (
       |    SELECT e.b AS vec_id, (p.mass * 3) // (4 * e.d) AS m
       |    FROM $prev p JOIN symd e ON e.a = p.vec_id
       |    UNION ALL
       |    SELECT vec_id, 250000 FROM n WHERE vec_id % 97 = 0) t
       |  GROUP BY 1 HAVING SUM(m) > 0)""".stripMargin

  private val s18Sql =
    s"""WITH $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |sym AS (SELECT vec_id AS a, nbr AS b FROM knn
       |        UNION SELECT nbr, vec_id FROM knn),
       |symd AS (SELECT a, b, COUNT(*) OVER (PARTITION BY a) AS d FROM sym),
       |m0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS mass
       |       FROM n WHERE vec_id % 97 = 0),
       |${pprRoundSql("m0", "m1")},
       |${pprRoundSql("m1", "m2")},
       |${pprRoundSql("m2", "m3")},
       |${pprRoundSql("m3", "m4")}
       |SELECT n.vec_id, CAST(COALESCE(m4.mass, 0) AS BIGINT) AS mass_ppm
       |FROM n LEFT JOIN m4 USING (vec_id)
       |ORDER BY n.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s19_kmeans — three Lloyd iterations of k-means (k = 8) over the
  // first-16-dim PQ subspace of the scaled embeddings: the actual
  // clustering TRAINING loop (s5 is one centroid step; s8 assigns to
  // fixed LSH cells). Exactness contract: distances are integer sums of
  // squared scaled diffs; centroid updates are floor-division means made
  // sign-safe by an offset ((sum + n·OFF) div n − OFF with OFF ≥ any
  // |component|, so the numerator is positive and Spark's `div` and
  // DuckDB's `//` agree); ties in assignment go to the smallest
  // centroid id via min-struct. Scale shape per iteration: assignment is
  // a BROADCAST of the k-row centroid table against the vectors (no
  // vector ever shuffles for assignment) + a min-struct partial agg;
  // the update posexplodes assigned vectors to (cid, dim, comp) partials
  // — 16 rows per vector map-side, k·16 rows after combine. The driver
  // never sees data; rounds chain lazily like s16/s17. Inertia stays in
  // long range to ~10⁵ vectors at this scaling — beyond that, rescale.
  def s19(spark: SparkSession, dir: String): DataFrame = {
    val dims = 16
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        slice(Similarity.scaled(col("embedding")), 1, dims).as("sv"))
      .transform(graft.Pins.pinForFanout(_))
    val off = 10000000L
    def assign(c: DataFrame): DataFrame = vecs
      .crossJoin(broadcast(c))
      .withColumn("dist", aggregate(
        zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .groupBy(col("vec_id"), col("sv"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("sv"),
        col("best.dist").as("dist"), col("best.cid").as("cid"))
    def update(a: DataFrame): DataFrame = a
      .select(col("cid"), posexplode(col("sv")).as(Seq("dim", "comp")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("comp")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("comp", expr(s"(s + cnt * ${off}L) div cnt - ${off}L"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("comp")))).as("a"))
      .select(col("cid"), transform(col("a"), s => s.getField("comp")).as("cv"))
    // the rounds carry the assignment; a round's centroids are derived
    // from it and read once, by the next assignment's broadcast
    val assigned = graft.Fixpoint.iterate(assign(vecs.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long").as("cid"), col("sv").as("cv"))), 2)(
      a => assign(update(a)))
    assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
      .join(update(assigned).select(col("cid"),
        aggregate(col("cv"), lit(0L), (acc, x) => acc + x).as("comp_sum")),
        Seq("cid"))
      .orderBy(col("cid"))
  }

  /** One unrolled Lloyd round: `asg` = nearest-centroid assignment under
    * `prevC`, `curC` = offset-floor-division centroid recompute. */
  private def lloydSql(prevC: String, asg: String, curC: String): String =
    s"""$asg AS (
       |  SELECT vec_id, sv, dist, cid FROM (
       |    SELECT v.vec_id, v.sv16 AS sv, c.cid,
       |      list_aggregate(list_transform(range(1, 17),
       |        i -> (v.sv16[i] - c.cv[i]) * (v.sv16[i] - c.cv[i])), 'sum') AS dist,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_aggregate(list_transform(range(1, 17),
       |          i -> (v.sv16[i] - c.cv[i]) * (v.sv16[i] - c.cv[i])), 'sum'),
       |        c.cid) AS rn
       |    FROM n16 v CROSS JOIN $prevC c) t WHERE rn = 1),
       |${curC}_comps AS (
       |  SELECT cid, j,
       |    CAST((SUM(sv[j]) + COUNT(*) * 10000000) // COUNT(*) - 10000000
       |      AS BIGINT) AS comp
       |  FROM $asg, range(1, 17) t(j) GROUP BY cid, j),
       |$curC AS (
       |  SELECT cid, list(comp ORDER BY j) AS cv FROM ${curC}_comps GROUP BY cid)""".stripMargin

  private val s19Sql =
    s"""WITH $scaledCteAdaptive,
       |n16 AS (SELECT vec_id, sv[1:16] AS sv16 FROM n),
       |c0 AS (SELECT vec_id AS cid, sv16 AS cv FROM n16 WHERE vec_id < 8),
       |${lloydSql("c0", "a1", "c1")},
       |${lloydSql("c1", "a2", "c2")},
       |${lloydSql("c2", "a3", "c3")}
       |SELECT a.cid, COUNT(*) AS n_members,
       |  CAST(SUM(a.dist) AS BIGINT) AS inertia,
       |  CAST(ANY_VALUE(cs.comp_sum) AS BIGINT) AS comp_sum
       |FROM a3 a JOIN (
       |  SELECT cid, list_aggregate(cv, 'sum') AS comp_sum FROM c3) cs
       |  USING (cid)
       |GROUP BY a.cid ORDER BY a.cid""".stripMargin

  // ---------------------------------------------------------------------
  // s20_modularity — community-quality MODULARITY of the label partition
  // over the undirected k-NN graph, per community in exact ppm:
  // Q_c = e_c/m − (deg_c/2m)², the evaluation metric for every
  // clustering/community step (s8, s11/s12, d14). All integer: the two
  // terms are computed by cross-multiplied integer division, so the gate
  // is engine-exact with no floats. Shapes: the undirected edge list is
  // the (least, greatest)-deduped knn output; per-community edge counts
  // need the two endpoint labels — two label equi-joins against the
  // vec-cardinality label table — then everything aggregates to
  // #labels rows. Only (edge, label) scalars shuffle; m rides in on a
  // 1-row broadcast. deg_c² · 1e6 stays in long range to ~10⁷ edges at
  // this graph's degree cap.
  def s20(spark: SparkSession, dir: String): DataFrame = {
    val knn = knnEdgesShared(spark, dir, k = 3).select(col("vec_id"), col("nbr_id"))
    val und = knn.select(
      least(col("vec_id"), col("nbr_id")).as("a"),
      greatest(col("vec_id"), col("nbr_id")).as("b"))
      .distinct()
      .transform(graft.Pins.pinForFanout(_))
    val lbl = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val m = und.agg(count(lit(1)).as("m"))
    val lab = und
      .join(lbl.select(col("vec_id").as("a"), col("label").as("la")), Seq("a"))
      .join(lbl.select(col("vec_id").as("b"), col("label").as("lb")), Seq("b"))
    val eIn = lab.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(explode(array(col("a"), col("b"))).as("vec_id"))
      .join(lbl, Seq("vec_id"))
      .groupBy(col("label")).agg(count(lit(1)).as("deg_sum"))
    val nodes = lbl.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    nodes
      .join(deg, Seq("label"), "left")
      .join(eIn, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        (expr("(coalesce(e_in, 0L) * 1000000L) div m") -
          expr("(coalesce(deg_sum, 0L) * coalesce(deg_sum, 0L) * 1000000L) div (4L * m * m)"))
          .as("q_ppm"))
      .orderBy(col("label"))
  }

  private val s20Sql =
    s"""WITH $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |knn AS (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |und AS (SELECT DISTINCT least(vec_id, nbr) AS a, greatest(vec_id, nbr) AS b
       |        FROM knn),
       |mm AS (SELECT COUNT(*) AS m FROM und),
       |lab AS (
       |  SELECT u.a, u.b, na.label AS la, nb.label AS lb
       |  FROM und u JOIN n na ON u.a = na.vec_id JOIN n nb ON u.b = nb.vec_id),
       |ein AS (SELECT la AS label, COUNT(*) AS e_in FROM lab
       |        WHERE la = lb GROUP BY 1),
       |dg AS (
       |  SELECT label, COUNT(*) AS deg_sum FROM (
       |    SELECT na.label FROM und u JOIN n na ON u.a = na.vec_id
       |    UNION ALL
       |    SELECT nb.label FROM und u JOIN n nb ON u.b = nb.vec_id) t
       |  GROUP BY 1),
       |nd AS (SELECT label, COUNT(*) AS n_nodes FROM n GROUP BY 1)
       |SELECT nd.label, nd.n_nodes,
       |  COALESCE(dg.deg_sum, 0) AS deg_sum,
       |  COALESCE(ein.e_in, 0) AS e_in,
       |  (COALESCE(ein.e_in, 0) * 1000000) // m
       |    - (COALESCE(dg.deg_sum, 0) * COALESCE(dg.deg_sum, 0) * 1000000)
       |      // (4 * m * m) AS q_ppm
       |FROM nd LEFT JOIN dg USING (label) LEFT JOIN ein USING (label)
       |CROSS JOIN mm
       |ORDER BY nd.label""".stripMargin

  // ---------------------------------------------------------------------
  // s22_kcore — k-CORE decomposition (k=3) of the symmetrized k-NN
  // graph: iteratively peel nodes whose surviving degree is < k until
  // fixpoint — the dense-region extractor that separates well-connected
  // cluster cores from stragglers before community analysis. Peeling is
  // MONOTONE (survivor sets only shrink), so an early-stopped engine
  // loop and a cap-unrolled oracle are identical: post-fixpoint rounds
  // are no-ops. Engine loop = one degree aggregate + one filter per
  // round over the k-bounded edge list (edges checkpoint ONCE, node
  // sets are the only per-round state — vec-cardinality scalars, never
  // vectors), convergence = an unchanged survivor count (graft.Fixpoint
  // frees each replaced round once that count has read its successor),
  // round cap 8.
  // At 100 TB the per-round cost is O(edges) with the k-bounded fanout,
  // and the cap bounds total work at 8 passes.
  def s22(spark: SparkSession, dir: String): DataFrame = {
    val e = knnEdgesShared(spark, dir, k = 3)
      .select(col("vec_id").as("a"), col("nbr_id").as("b"))
    kcoreOf(Tables.embeddings(spark, dir).select(col("vec_id")), e,
      kCore = 3, maxRounds = 8)
  }

  /** The peel loop over a DIRECTED edge list (symmetrized here) —
    * factored so specs can drive constructed graphs with real peeling
    * cascades (the gate data is k-NN-regular enough that the 3-core
    * keeps everything; cascade behavior still needs pinning). */
  private[operators] def kcoreOf(nodes: DataFrame, e: DataFrame,
      kCore: Int, maxRounds: Int): DataFrame = graft.Pins.scoped {
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b"))).distinct()
      .transform(graft.Pins.pinForFanout(_))
    // peeling only shrinks the survivor set, so an unchanged survivor
    // count is the fixpoint: 1 driver scalar per round
    val (surv, _) = graft.Fixpoint.untilStable(
        und.select(col("a").as("node")).distinct(), maxRounds)(_.count()) { surv =>
      und
        .join(surv.select(col("node").as("a")), Seq("a"))
        .join(surv.select(col("node").as("b")), Seq("b"))
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= kCore).select(col("node"))
    }
    val coreDeg = und
      .join(surv.select(col("node").as("a")), Seq("a"))
      .join(surv.select(col("node").as("b")), Seq("b"))
      .groupBy(col("a").as("vec_id")).agg(count(lit(1)).as("core_deg"))
    nodes
      .join(coreDeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("core_deg").isNotNull, 1L).otherwise(0L).as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy(col("vec_id"))
  }

  /** One unrolled oracle peeling round: degrees over edges whose BOTH
    * endpoints survive, keep nodes with degree >= k. MATERIALIZED is
    * load-bearing: each round references its predecessor twice (both
    * endpoints), so inlined CTEs would double the plan per round —
    * 2^8 copies of the candidate-cosine join OOMs DuckDB at sf0.1. */
  private def kcoreRoundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT x.a AS node FROM und x
       |  JOIN $prev pa ON pa.node = x.a JOIN $prev pb ON pb.node = x.b
       |  GROUP BY 1 HAVING COUNT(*) >= 3)""".stripMargin

  private val s22Sql = {
    val rounds = (0 until 8).map(i => kcoreRoundSql(s"s$i", s"s${i + 1}"))
      .mkString(",\n")
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs),
       |e AS (SELECT vec_id AS a, cand_id AS b FROM r WHERE rnk <= 3),
       |und AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |        (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e)),
       |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
       |$rounds,
       |cd AS (SELECT x.a AS vec_id, COUNT(*) AS core_deg FROM und x
       |       JOIN s8 pa ON pa.node = x.a JOIN s8 pb ON pb.node = x.b
       |       GROUP BY 1)
       |SELECT v.vec_id,
       |  CAST(CASE WHEN cd.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_core,
       |  CAST(COALESCE(cd.core_deg, 0) AS BIGINT) AS core_deg
       |FROM n v LEFT JOIN cd ON cd.vec_id = v.vec_id
       |ORDER BY v.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s23_hits — HITS hubs & authorities over the DIRECTED k-NN graph
  // (s13's PageRank sibling: PageRank scores global reachability, HITS
  // separates "points at good content" from "is good content" — on a
  // k-NN graph, high authority = vectors many others choose as
  // neighbors, the medoid signal). Cross-engine determinism via s13's
  // fixed-point discipline: scores are BIGINT units of 1e-12, each
  // round's L1 normalization is ONE cross-multiplied floor division
  // (raw·1e12 div Σraw, product on DECIMAL(38,0) — Σraw ≤ k·1e12
  // overflows BIGINT when ×1e12). 3 rounds, alternating auth←Σ_in hub,
  // hub←Σ_out auth. Scale shape: scores shuffle on node keys (vectors
  // never move), each normalization total rides a 1-row broadcast,
  // per-round state is node-cardinality scalars with lazy
  // localCheckpoint lineage cuts.
  def s23(spark: SparkSession, dir: String): DataFrame =
    hitsOf(
      Tables.embeddings(spark, dir).select(col("vec_id")),
      knnEdgesShared(spark, dir, k = 3)
        .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
      rounds = 3)

  /** The HITS iteration over an arbitrary (src, dst) edge list —
    * factored so specs can pin closed-form graphs (star → the center
    * takes ALL authority and zero hub). */
  private[operators] def hitsOf(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.transform(graft.Pins.pinForFanout(_))
    val renorm = "cast((raw * cast(1000000000000 AS DECIMAL(38,0))) div s AS BIGINT)"
    // r10: each (vec_id, raw) sum feeds TWO consumers — the node
    // left-join AND the 1-row renorm aggregate, which rides a
    // BroadcastExchange and so reuses no stage: unpinned, the edge-scale
    // join + groupBy ran twice per side per round (the r9 recompute
    // disease, 12 extra subtree runs over 3 rounds). Node-cardinality
    // rows — cheap to pin.
    def normalized(raw: DataFrame): DataFrame = {
      val r = raw.transform(graft.Pins.pinForFanout(_))
      nodes.join(r, Seq("vec_id"), "left")
        .crossJoin(broadcast(r.agg(sum(col("raw")).as("s"))))
        .select(col("vec_id"), coalesce(expr(renorm), lit(0L)).as("w"))
    }
    def authOf(hub: DataFrame): DataFrame = normalized(
      e.join(hub.select(col("vec_id").as("src"), col("w")), Seq("src"))
        .groupBy(col("dst").as("vec_id")).agg(sum(col("w")).as("raw")))
    // read once, by the next round's authority sums, yet pinned: inlined
    // there, AQE broadcast the edge list into that join, and s23's task
    // time rose from about 1.5 s to 1.9–2.5 s (sf0.1, 4 cores)
    def hubOf(auth: DataFrame): DataFrame = normalized(
      e.join(auth.select(col("vec_id").as("dst"), col("w").as("aw")), Seq("dst"))
        .groupBy(col("src").as("vec_id")).agg(sum(col("aw")).as("raw")))
      .transform(graft.Pins.pinForFanout(_))
    val hub0 = nodes
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("nn"))))
      .select(col("vec_id"), expr("1000000000000 div nn").as("w"))
    // the rounds carry the authorities; a round's hubs are derived from them
    val auth = graft.Fixpoint.iterate(authOf(hub0), rounds - 1)(a => authOf(hubOf(a)))
    hubOf(auth).select(col("vec_id"), col("w").as("hub_scaled"))
      .join(auth.select(col("vec_id"), col("w").as("auth_scaled")), Seq("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** One unrolled HITS oracle round (auth then hub, each L1-renormalized
    * to 1e12 by the same cross-multiplied floor division the engine
    * uses). MATERIALIZED keeps DuckDB from re-inlining the
    * candidate-cosine pipeline once per downstream reference. */
  private def hitsRoundSql(i: Int, hprev: String): String =
    s"""a${i}r AS (SELECT e.nbr AS vec_id, SUM(h.w) AS raw
       |  FROM eh e JOIN $hprev h ON h.vec_id = e.vec_id GROUP BY 1),
       |a${i}s AS (SELECT SUM(raw) AS s FROM a${i}r),
       |a$i AS MATERIALIZED (SELECT v.vec_id,
       |    COALESCE(CAST((r.raw * CAST(1000000000000 AS HUGEINT)) // t.s
       |      AS BIGINT), 0) AS w
       |  FROM n v LEFT JOIN a${i}r r ON r.vec_id = v.vec_id CROSS JOIN a${i}s t),
       |h${i}r AS (SELECT e.vec_id AS vec_id, SUM(a.w) AS raw
       |  FROM eh e JOIN a$i a ON a.vec_id = e.nbr GROUP BY 1),
       |h${i}s AS (SELECT SUM(raw) AS s FROM h${i}r),
       |h$i AS MATERIALIZED (SELECT v.vec_id,
       |    COALESCE(CAST((r.raw * CAST(1000000000000 AS HUGEINT)) // t.s
       |      AS BIGINT), 0) AS w
       |  FROM n v LEFT JOIN h${i}r r ON r.vec_id = v.vec_id CROSS JOIN h${i}s t)"""
      .stripMargin

  private val s23Sql = {
    val rounds = (1 to 3).map(i => hitsRoundSql(i, if (i == 1) "h0" else s"h${i - 1}"))
      .mkString(",\n")
    s"""WITH $scaledCteAdaptive,
       |prs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |rk AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM prs),
       |eh AS MATERIALIZED (SELECT vec_id, cand_id AS nbr FROM rk WHERE rnk <= 3),
       |c0 AS (SELECT COUNT(*) AS nn FROM n),
       |h0 AS (SELECT vec_id, 1000000000000 // nn AS w FROM n, c0),
       |$rounds
       |SELECT h3.vec_id, h3.w AS hub_scaled, a3.w AS auth_scaled
       |FROM h3 JOIN a3 ON a3.vec_id = h3.vec_id
       |ORDER BY h3.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s24_degree_histogram — degree distribution of the symmetrized k-NN
  // graph (d20's diagnostic, graph edition): out-degree is fixed at ≤k
  // by construction, so the SYMMETRIZED degree distribution is the
  // in-degree story — a heavy tail means hub vectors (near-duplicates
  // or mode collapse in the embedding space) that will skew every
  // downstream graph operator; the histogram is the number that says
  // whether s14's degree-orientation and the LSH salting actually have
  // work to do. Two aggregates over the k-bounded edge list; ≤max-deg
  // rows out.
  def s24(spark: SparkSession, dir: String): DataFrame = {
    val e = knnEdgesShared(spark, dir, k = 3)
      .select(col("vec_id").as("a"), col("nbr_id").as("b"))
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b"))).distinct()
    und.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("deg"))
  }

  private val s24Sql =
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |r AS (SELECT vec_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs),
       |e AS (SELECT vec_id AS a, cand_id AS b FROM r WHERE rnk <= 3),
       |und AS (SELECT DISTINCT a, b FROM
       |        (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e)),
       |dg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY 1)
       |SELECT deg, COUNT(*) AS n_nodes FROM dg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // s25_negative_pairs — contrastive negative sampling (the mining step
  // of embedding training: every anchor needs k deterministic
  // pseudo-random negatives, reproducible across reruns and engines).
  // Scale shape — the trap is "pick k random docs per anchor", which
  // naively is an anchors × corpus shuffle. Instead: (1) hash every doc
  // into 64 ring buckets; (2) keep a BOUNDED candidate pool — the 8
  // lowest-mix docs per bucket, a per-bucket window rank, ≤512 rows at
  // ANY corpus size; (3) broadcast the pool and fan each anchor out to
  // its 2 neighbor buckets map-side; (4) per (anchor, slot), keep the
  // candidate with the max anchor⊗candidate mix — so negatives vary
  // per anchor (not one shared rep per bucket) while the join stays
  // broadcast-shaped. Mix arithmetic pre-mods both ids (% 2^26, the
  // d19/t32 overflow lesson: products stay < 2^63 where Spark wraps
  // silently but DuckDB raises). Self-pairing is impossible by
  // construction: an anchor's own bucket is never among its +1/+2
  // neighbors.
  def s25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = "(((doc_id % 67108864) * 2654435761L) % 4294967296L) % 64"
    val poolMix = "((((doc_id % 67108864) * 31 + 1) * 2654435761L) % 4294967296L)"
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val pool = docs
      .withColumn("bucket", expr(bucket))
      .withColumn("pm", expr(poolMix))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("pm"), col("doc_id"))))
      .filter(col("rn") <= 8)
      .select(col("bucket"), col("doc_id").as("neg_id"),
        (col("doc_id") % 67108864).as("nk"))
    val anchors = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("anchor_id"), expr(s"$bucket").as("ab"))
      .select(col("anchor_id"), explode(sequence(lit(1L), lit(2L))).as("slot"),
        col("ab"))
      .withColumn("cand_bucket", (col("ab") + col("slot")) % 64)
    anchors
      .join(broadcast(pool), col("cand_bucket") === col("bucket"))
      .withColumn("score",
        expr("(((anchor_id % 67108864) * 31 + nk) * 2654435761L) % 4294967296L"))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("anchor_id"), col("slot"))
          .orderBy(col("score").desc, col("neg_id"))))
      .filter(col("pick") === 1)
      .select(col("anchor_id"), col("slot"), col("neg_id"), col("score"))
      .orderBy(col("anchor_id"), col("slot"))
  }

  private val s25Sql =
    """WITH b AS (
      |  SELECT doc_id,
      |    (((doc_id % 67108864) * 2654435761) % 4294967296) % 64 AS bucket,
      |    (((doc_id % 67108864) * 31 + 1) * 2654435761) % 4294967296 AS pm
      |  FROM documents),
      |pool AS (
      |  SELECT bucket, doc_id AS neg_id, doc_id % 67108864 AS nk
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
      |          ORDER BY pm, doc_id) AS rn FROM b)
      |  WHERE rn <= 8),
      |a AS (
      |  SELECT doc_id AS anchor_id, t.slot,
      |    (bucket + t.slot) % 64 AS cand_bucket
      |  FROM b CROSS JOIN (SELECT unnest([1, 2]) AS slot) t
      |  WHERE doc_id % 10 = 0),
      |c AS (
      |  SELECT anchor_id, slot, neg_id,
      |    (((anchor_id % 67108864) * 31 + nk) * 2654435761) % 4294967296
      |      AS score
      |  FROM a JOIN pool ON cand_bucket = bucket),
      |p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id, slot
      |        ORDER BY score DESC, neg_id) AS pick FROM c)
      |SELECT anchor_id, CAST(slot AS BIGINT) AS slot, neg_id,
      |  CAST(score AS BIGINT) AS score
      |FROM p WHERE pick = 1 ORDER BY anchor_id, slot""".stripMargin

  // ---------------------------------------------------------------------
  // s26_pq_adc — asymmetric-distance (ADC) search, the scan mode that
  // makes PQ indexes fast in production (FAISS's IVFPQ inner loop):
  // instead of exact distances against raw vectors, each query
  // precomputes a LOOKUP TABLE of per-(subspace, centroid) distance
  // terms (m·K = 16 entries per query), and scoring a candidate is m=4
  // table lookups keyed by its PQ codes — the 64-dim vector never
  // participates. The top-R=20 ADC shortlist is then reranked EXACTLY
  // (integer L2² over scaled longs) to yield top-5. Scale shape: codes
  // come from s9's map-side encoder (vectors never shuffle to be
  // scored); the LUT is nq·16 rows and BROADCASTS into the code
  // stream; the only per-candidate exchange carries (query, cand,
  // 4 partial terms) partials into a sum — and the exact rerank
  // touches R rows per query, not the corpus. Everything is scaled-
  // long arithmetic, so DuckDB restates train→encode→LUT→ADC→rerank
  // and the final ranking hash-matches (ADC rank-20 boundary ties
  // broken by cand_id on both engines).
  def s26(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
    val m = 4; val subDim = 16
    val trained = Similarity.pqTrain(e, "embedding", m, subDim)
    val candSub = Similarity
      .pqCodesWith(e, "vec_id", "embedding", m, subDim, trained)
      .select(col("vec_id").as("cand_id"), explode(expr(
        """array(named_struct('sub', 0, 'cell', code0),
          |  named_struct('sub', 1, 'cell', code1),
          |  named_struct('sub', 2, 'cell', code2),
          |  named_struct('sub', 3, 'cell', code3))""".stripMargin)).as("e"))
      .select(col("cand_id"), col("e.sub").as("sub"), col("e.cell").as("cell"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), Similarity.scaled(col("embedding")).as("qv"))
    val terms = trained.map { case (s, c, cent, cn2) =>
      val subv = expr(s"slice(qv, ${s * subDim + 1}, $subDim)")
      struct(lit(s).as("sub"), lit(c).as("cell"),
        (Similarity.dotScaled(subv, subv)
          - lit(2L) * Similarity.dotScaled(subv, typedlit(cent)) + lit(cn2))
          .as("term"))
    }
    val lut = q.select(col("query_id"), explode(array(terms: _*)).as("t"))
      .select(col("query_id"), col("t.sub").as("sub"), col("t.cell").as("cell"),
        col("t.term").as("term"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("cand_id"))
    val shortlist = candSub.join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("term")).as("adc_dist"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= 20)
    val cv = e.select(col("vec_id").as("cand_id"),
      Similarity.scaled(col("embedding")).as("cv"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_sq").asc, col("cand_id"))
    shortlist.join(cv, Seq("cand_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("l2_sq", Similarity.dotScaled(col("cv"), col("cv"))
        - lit(2L) * Similarity.dotScaled(col("cv"), col("qv"))
        + Similarity.dotScaled(col("qv"), col("qv")))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("l2_sq"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val s26Sql = {
    def dot16(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, 17), i -> $a[i] * $b[i]), 'sum')"
    def dot64(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, 65), i -> $a[i] * $b[i]), 'sum')"
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
       |  FROM embeddings),
       |subs AS (
       |  SELECT vec_id, s AS sub, sv[s*16+1 : s*16+16] AS subv,
       |    (CASE WHEN sv[s*16+1] >= 0 THEN 2 ELSE 0 END +
       |     CASE WHEN sv[s*16+2] >= 0 THEN 1 ELSE 0 END) AS cell
       |  FROM v, (SELECT unnest([0, 1, 2, 3]) AS s) t),
       |comp AS (
       |  SELECT sub, cell, i AS pos, CAST(SUM(subv[i]) AS BIGINT) AS sm, COUNT(*) AS cnt
       |  FROM subs, range(1, 17) t(i)
       |  GROUP BY 1, 2, 3),
       |cent AS (
       |  SELECT sub, cell,
       |    list(CASE WHEN sm < 0 THEN -((-sm) // cnt) ELSE sm // cnt END ORDER BY pos) AS cent
       |  FROM comp GROUP BY 1, 2),
       |cw AS (SELECT sub, cell, cent,
       |         list_aggregate(list_transform(cent, x -> x * x), 'sum') AS cc FROM cent),
       |d AS (
       |  SELECT s.vec_id, s.sub, c.cell,
       |    ${dot16("s.subv", "s.subv")} - 2 * ${dot16("s.subv", "c.cent")} + c.cc AS dist
       |  FROM subs s JOIN cw c ON s.sub = c.sub),
       |codes AS (
       |  SELECT vec_id AS cand_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rk
       |    FROM d) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, sv AS qv FROM v WHERE vec_id < 5),
       |lut AS (
       |  SELECT q.query_id, c.sub, c.cell,
       |    ${dot16("q.qv[c.sub*16+1 : c.sub*16+16]", "q.qv[c.sub*16+1 : c.sub*16+16]")}
       |      - 2 * ${dot16("q.qv[c.sub*16+1 : c.sub*16+16]", "c.cent")} + c.cc AS term
       |  FROM q CROSS JOIN cw c),
       |adc AS (
       |  SELECT l.query_id, k.cand_id, CAST(SUM(l.term) AS BIGINT) AS adc_dist
       |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.cell = l.cell
       |  WHERE l.query_id <> k.cand_id
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, cand_id, adc_dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, cand_id) AS ark FROM adc) WHERE ark <= 20),
       |ex AS (
       |  SELECT s.query_id, s.cand_id, s.adc_dist,
       |    CAST(${dot64("cv.sv", "cv.sv")} - 2 * ${dot64("cv.sv", "q.qv")}
       |      + ${dot64("q.qv", "q.qv")} AS BIGINT) AS l2_sq
       |  FROM short s JOIN v cv ON cv.vec_id = s.cand_id
       |  JOIN q ON q.query_id = s.query_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, l2_sq, adc_dist
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY l2_sq, cand_id) AS rnk FROM ex)
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s27_mmr — Maximal Marginal Relevance diversified retrieval
  // ([[Similarity.mmrTopK]]): relevance shortlist (top-12, the s1 brute
  // shape) → bounded shortlist² pairwise sims → greedy λ-tradeoff
  // selection of 5 (λ = 0.7), all similarities in exact integer ppm so
  // the greedy argmax compares Longs and both engines pick identical
  // sets. The oracle restates the greedy loop as a recursive CTE
  // carrying the picked-list as LIST state. The diversification is
  // visible in the result: later picks have LOWER rel than skipped
  // near-duplicates of earlier picks.
  def s27(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    Similarity.mmrTopK(
      e, "vec_id", "embedding",
      e.filter(col("vec_id") < 3), "vec_id", "embedding",
      shortlist = 12, k = 5, lambdaNum = 7L)
      .orderBy(col("query_id"), col("sel_rank"))
  }

  private val s27Sql =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
      |  FROM embeddings),
      |n AS (SELECT vec_id, sv,
      |        list_aggregate(list_transform(sv, x -> x * x), 'sum') AS nrm
      |      FROM v),
      |rel AS (
      |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id,
      |    CAST(round(CAST(list_aggregate(list_transform(
      |        range(1, len(a.sv) + 1), i -> a.sv[i] * b.sv[i]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS rel_ppm
      |  FROM n a JOIN n b ON b.vec_id < 3 AND a.vec_id <> b.vec_id),
      |short AS (
      |  SELECT query_id, cand_id, rel_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY rel_ppm DESC, cand_id) AS rn
      |  FROM rel),
      |cand AS (SELECT query_id, cand_id, rel_ppm FROM short WHERE rn <= 12),
      |sims AS (
      |  SELECT c1.query_id, c1.cand_id AS a_id, c2.cand_id AS b_id,
      |    CAST(round(CAST(list_aggregate(list_transform(
      |        range(1, len(na.sv) + 1), i -> na.sv[i] * nb.sv[i]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS sim_ppm
      |  FROM cand c1 JOIN cand c2
      |    ON c1.query_id = c2.query_id AND c1.cand_id <> c2.cand_id
      |  JOIN n na ON na.vec_id = c1.cand_id
      |  JOIN n nb ON nb.vec_id = c2.cand_id),
      |sel AS (
      |  SELECT query_id, 1 AS k,
      |    [(SELECT c.cand_id FROM cand c WHERE c.query_id = q.query_id
      |      ORDER BY c.rel_ppm DESC, c.cand_id LIMIT 1)] AS picks
      |  FROM (SELECT DISTINCT query_id FROM cand) q
      |  UNION ALL
      |  SELECT query_id, k + 1, list_append(picks,
      |    (SELECT c.cand_id FROM cand c
      |     WHERE c.query_id = sel.query_id
      |       AND NOT list_contains(sel.picks, c.cand_id)
      |     ORDER BY 7 * c.rel_ppm - 3 * (SELECT MAX(s.sim_ppm) FROM sims s
      |        WHERE s.query_id = sel.query_id AND s.a_id = c.cand_id
      |          AND list_contains(sel.picks, s.b_id)) DESC, c.cand_id
      |     LIMIT 1))
      |  FROM sel WHERE k < 5),
      |fin AS (SELECT query_id, picks FROM sel WHERE k = 5),
      |ranks AS (SELECT query_id, g.i AS sel_rank, picks[g.i] AS cand_id
      |          FROM fin, (SELECT unnest(range(1, 6)) AS i) g)
      |SELECT r.query_id, CAST(r.sel_rank AS BIGINT) AS sel_rank,
      |  r.cand_id, c.rel_ppm
      |FROM ranks r JOIN cand c
      |  ON c.query_id = r.query_id AND c.cand_id = r.cand_id
      |ORDER BY r.query_id, sel_rank""".stripMargin

  // ---------------------------------------------------------------------
  // s28_semdedup — SemDeDup-style SEMANTIC deduplication (Abbas et al.
  // 2023): within each sign-LSH cluster, a vector is dropped iff a
  // LOWER-id vector in the same cluster is more similar than τ = 7/20.
  // Unlike s3 (rounded-double cosine), the threshold test here is
  // EXACT INTEGER: cos ≥ τ ⟺ dot > 0 ∧ 400·dot² ≥ 49·na·nb, evaluated
  // by cross-multiplication in 128-bit arithmetic (Spark DECIMAL(38,0)
  // internal — never output — mirrored by DuckDB HUGEINT), so no float
  // rounding can flip a borderline pair in either engine. The
  // "dominated by an earlier kept doc" rule is deliberately
  // EXISTS-shaped (any lower id, kept or not) — unlike the sequential
  // greedy scan it is embarrassingly parallel, and because domination
  // by a dropped doc implies a chain to some kept doc at τ-transitive
  // distance, it is the standard distributed SemDeDup relaxation.
  // Scale shape: per-row bucket + scaled vector map-side; the only
  // join is bucket-blocked (adaptive bits pin expected occupancy at
  // ~250, so candidate work stays ~linear in n); the min-dominator
  // aggregate shuffles (id, id) longs only.
  def s28(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val v = e.select(col("vec_id"),
        Similarity.scaled(col("embedding")).as("sv"),
        Similarity.signBucket(col("embedding"), adaptiveBits(spark, dir))
          .as("bucket"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
    val a = v.select(col("vec_id").as("dom_id"), col("sv").as("sa"),
      col("nrm").as("na"), col("bucket"))
    val b = v.select(col("vec_id"), col("sv").as("sb"),
      col("nrm").as("nb"), col("bucket"))
    val dec = "decimal(20,0)"
    val dot = Similarity.dotScaled(col("sa"), col("sb"))
    val dominated = a.join(b, Seq("bucket"))
      .filter(col("dom_id") < col("vec_id"))
      .withColumn("dot", dot)
      .filter(col("dot") > 0L &&
        col("dot").cast(dec) * col("dot").cast(dec) * lit(400) >=
          col("na").cast(dec) * col("nb").cast(dec) * lit(49))
      .groupBy(col("vec_id"))
      .agg(min(col("dom_id")).as("dom_id"))
    v.select(col("vec_id"))
      .join(dominated, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        col("dom_id").isNull.as("kept"),
        col("dom_id"))
      .orderBy(col("vec_id"))
  }

  private val s28Sql =
    s"""WITH $scaledCteAdaptive,
       |dom AS (
       |  SELECT b.vec_id, MIN(a.vec_id) AS dom_id
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE $dotSql > 0
       |    AND CAST($dotSql AS HUGEINT) * ($dotSql) * 400
       |        >= CAST(a.nrm AS HUGEINT) * b.nrm * 49
       |  GROUP BY b.vec_id)
       |SELECT n.vec_id, dom.dom_id IS NULL AS kept, dom.dom_id
       |FROM n LEFT JOIN dom ON dom.vec_id = n.vec_id
       |ORDER BY n.vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // s29_mrr — retrieval-quality evaluation as MEAN-RECIPROCAL-RANK
  // components: for each query (vec_id < 5), rank every other vector
  // by exact integer-scaled cosine (the s1 ranking, rounded to 6 dp
  // with id tie-break) and report the rank of the first SAME-LABEL
  // candidate plus its reciprocal in exact ppm (1e6 div rank — integer
  // division, no float). This is the eval harness an embedding-model
  // training loop runs per checkpoint. Scale shape: queries broadcast,
  // candidates stream map-side (the s1 argument); the only window is
  // per-query over the candidate stream, and the output is one row per
  // query.
  def s29(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val v = e.select(col("vec_id"), col("label"),
        Similarity.scaled(col("embedding")).as("sv"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
    val q = broadcast(v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("sv").as("qv"), col("nrm").as("qn")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    v.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(Similarity.cosineWithNorms(
        Similarity.dotScaled(col("sv"), col("qv")), col("nrm"), col("qn")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("label") === col("q_label"))
      .groupBy(col("query_id"))
      .agg(min(col("rnk")).as("first_rank"))
      .select(col("query_id"), col("first_rank"),
        expr("CAST(1000000 AS BIGINT) div first_rank").as("rr_ppm"))
      .orderBy(col("query_id"))
  }

  private val s29Sql =
    s"""WITH $scaledCte,
       |pairs AS (
       |  SELECT b.vec_id AS query_id, b.label AS q_label,
       |    a.vec_id AS cand_id, a.label,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON b.vec_id < 5 AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, q_label, label,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, cand_id) AS rnk
       |      FROM pairs),
       |f AS (SELECT query_id, CAST(MIN(rnk) AS BIGINT) AS first_rank
       |      FROM r WHERE label = q_label GROUP BY query_id)
       |SELECT query_id, first_rank,
       |  CAST(1000000 // first_rank AS BIGINT) AS rr_ppm
       |FROM f ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------------
  // s30_pca_power — the top principal component of the embedding cloud
  // by EXACT INTEGER power iteration, the "is this embedding space
  // collapsing?" diagnostic a training pipeline runs per checkpoint
  // (anisotropy / dominant-direction drift). One pass builds the full
  // Gram matrix and the mean sums with a per-partition BLAS-syrk-style
  // accumulation — mapPartitions is the DOCUMENTED last-resort tier,
  // taken here because this is genuinely imperative per-partition
  // work: d² multiply-adds per row into ONE reusable long buffer, zero
  // per-row allocation (the declarative formulation — flatten a
  // d²-product array per row, posexplode, partial hash agg — measured
  // 4.4s warm at sf0.1 vs 0.5s for this; the explode's 4161-element
  // array per row is pure allocator load the aggregate then re-sums).
  // Each partition emits one d²+d+1 partial; overflow is handled by
  // EPOCHED spill — the long fast path folds into a BigInt shadow
  // every 4M rows (|products| ≤ 1e12, so 4e6·1e12 < 2^63 between
  // spills), making the accumulation exact at ANY corpus size, and
  // partials cross the exchange as decimal strings (x53's carriage).
  // The centered covariance C = n·G − s·sᵀ and 15 fixed rounds of
  // v ← (C·v)·1e6 / max|C·v| then run in Scala BigInt inside ONE
  // dim²-bounded mapGroups (no driver collect); DuckDB mirrors the
  // identical arithmetic with a recursive CTE over HUGEINT LIST
  // matrices (x52's precedent), so the eigenvector is bit-exact
  // cross-engine — a FIXED iteration count, not a convergence test,
  // which is what makes it deterministic. ev_ppm = Rayleigh-over-trace
  // staged as ((vᵀCv // vᵀv)·1e6) // tr(C): the staged form keeps the
  // oracle inside int128 (the single-expression product reaches ~1e39
  // at gate scale); BigInt has no bound, the HUGEINT carriage caps the
  // ORACLE at ~100× embeddings.
  def s30(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = 64 // embedding dim (TESTDATA.md); oracle hard-codes the same
    val partials = Tables.embeddings(spark, dir)
      .select(col("embedding"))
      .as[Array[Float]]
      .mapPartitions { it =>
        val k = d * d + d + 1
        val accL = new Array[Long](k)
        val accB = Array.fill(k)(BigInt(0))
        val sv = new Array[Long](d)
        var rows = 0
        var any = false
        def spill(): Unit = {
          var p = 0
          while (p < k) { accB(p) += accL(p); accL(p) = 0L; p += 1 }
          rows = 0
        }
        it.foreach { emb =>
          any = true
          var i = 0
          // same scaling as Similarity.scaled: floor(double(x) · 1e6)
          while (i < d) { sv(i) = math.floor(emb(i).toDouble * 1e6).toLong; i += 1 }
          i = 0
          while (i < d) {
            val xi = sv(i)
            val base = i * d
            var j = 0
            while (j < d) { accL(base + j) += xi * sv(j); j += 1 }
            accL(d * d + i) += xi
            i += 1
          }
          accL(d * d + d) += 1L
          rows += 1
          if (rows == 4000000) spill()
        }
        spill()
        if (any) Iterator.single(accB.map(_.toString)) else Iterator.empty
      }
    partials
      .groupByKey(_ => 0)
      .flatMapGroups { (_, it) =>
        val parts = it.toArray // ≤ #partitions rows, each d²+d+1 strings
        val k = d * d + d + 1
        val tot = Array.fill(k)(BigInt(0))
        parts.foreach { p =>
          var i = 0
          while (i < k) { tot(i) += BigInt(p(i)); i += 1 }
        }
        def g(i: Int) = tot(i)
        val n = g(d * d + d)
        val sums = Array.tabulate(d)(j => g(d * d + j))
        val c = Array.tabulate(d, d)((i, j) => n * g(i * d + j) - sums(i) * sums(j))
        var v = Array.fill(d)(BigInt(1000000))
        for (_ <- 1 to 15) {
          val nv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
          val mx = nv.map(_.abs).max.max(BigInt(1))
          v = nv.map(x => x * 1000000 / mx)
        }
        val num = (0 until d).map(i =>
          v(i) * (0 until d).map(j => c(i)(j) * v(j)).sum).sum
        val den = v.map(x => x * x).sum
        val tr = (0 until d).map(i => c(i)(i)).sum
        val ev = if (den == 0 || tr == 0) BigInt(0) else num / den * 1000000 / tr
        (0 until d).iterator.map(i => (i.toLong, v(i).toLong, ev.toLong))
      }
      .toDF("dim_idx", "comp_ppm", "ev_ppm")
      .orderBy(col("dim_idx"))
  }

  private val s30Sql =
    """WITH RECURSIVE v AS (
      |  SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
      |  FROM embeddings),
      |dims AS (SELECT unnest(range(64)) AS i),
      |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM v),
      |s AS (SELECT d.i AS i, CAST(SUM(sv[d.i + 1]) AS HUGEINT) AS s
      |      FROM v, dims d GROUP BY 1),
      |g AS (SELECT di.i AS i, dj.i AS j,
      |        CAST(SUM(sv[di.i + 1] * sv[dj.i + 1]) AS HUGEINT) AS g
      |      FROM v, dims di, dims dj GROUP BY 1, 2),
      |c AS (SELECT g.i, g.j, nn.n * g.g - si.s * sj.s AS c
      |      FROM g, nn JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j),
      |crow AS (SELECT i, list(c ORDER BY j) AS cr FROM c GROUP BY i),
      |m AS (SELECT list(cr ORDER BY i) AS cm FROM crow),
      |it AS (
      |  SELECT 0 AS step, [CAST(1000000 AS HUGEINT) for j IN range(64)] AS vv
      |  FROM m
      |  UNION ALL
      |  SELECT step + 1,
      |    [x * 1000000 // GREATEST(list_max([abs(y) for y IN nv]),
      |       CAST(1 AS HUGEINT)) for x IN nv]
      |  FROM (SELECT step,
      |          [list_sum([cm[i + 1][j + 1] * vv[j + 1] for j IN range(64)])
      |           for i IN range(64)] AS nv
      |        FROM it, m WHERE step < 15)),
      |fin AS (SELECT vv FROM it WHERE step = 15),
      |ray AS (SELECT
      |    list_sum([vv[i + 1] *
      |      list_sum([cm[i + 1][j + 1] * vv[j + 1] for j IN range(64)])
      |      for i IN range(64)]) AS num,
      |    list_sum([x * x for x IN vv]) AS den,
      |    list_sum([cm[i + 1][i + 1] for i IN range(64)]) AS tr
      |  FROM fin, m)
      |SELECT CAST(d.i AS BIGINT) AS dim_idx,
      |  CAST(f.vv[d.i + 1] AS BIGINT) AS comp_ppm,
      |  CAST(CASE WHEN r.den = 0 OR r.tr = 0 THEN 0
      |    ELSE ((r.num // r.den) * 1000000) // r.tr END AS BIGINT) AS ev_ppm
      |FROM fin f, ray r, dims d
      |ORDER BY dim_idx""".stripMargin

  // ---------------------------------------------------------------------
  // s31_jl_neighbors — Johnson–Lindenstrauss sign random projection
  // (64 → 16 dims) with a NEIGHBOR-PRESERVATION eval: each vector is
  // projected through a deterministic ±1 matrix (sign of a Knuth
  // multiplicative hash of the cell index — no stored matrix, both
  // engines re-derive it; the multiplier's operand is ≤ 1041 so the
  // product is nowhere near 2^63, the t32 pre-mod lesson doesn't
  // apply), and for each query (vec_id < 5) the gate reports how many
  // of the exact-cosine top-10 survive in the projected-cosine top-10,
  // plus where the true nearest neighbor lands in projected rank.
  // This is the "can we shard ANN on a 4× cheaper vector?" measurement.
  // Scale shape: the projection is map-only (16 fused dot products per
  // row); the eval is s1's broadcast-queries shape — candidates stream,
  // nothing but per-query top ranks survive the window.
  def s31(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val v = e.select(col("vec_id"), Similarity.scaled(col("embedding")).as("sv"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
      // sign_project codegen kernel — the equivalent transform/aggregate
      // HOF is CodegenFallback and measured 17s warm at the 100× probe
      .withColumn("pv", Similarity.signProject(col("sv"), 16))
      .withColumn("pnrm", Similarity.dotScaled(col("pv"), col("pv")))
    val q = broadcast(v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("sv").as("qv"),
        col("nrm").as("qn"), col("pv").as("qpv"), col("pnrm").as("qpn")))
    val we = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_e").desc, col("vec_id"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_p").desc, col("vec_id"))
    v.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_e", round(Similarity.cosineWithNorms(
        Similarity.dotScaled(col("sv"), col("qv")), col("nrm"), col("qn")), 6))
      .withColumn("cos_p", round(Similarity.cosineWithNorms(
        Similarity.dotScaled(col("pv"), col("qpv")), col("pnrm"), col("qpn")), 6))
      .withColumn("rnk_e", row_number().over(we).cast("long"))
      .withColumn("rnk_p", row_number().over(wp).cast("long"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("rnk_e") <= 10 && col("rnk_p") <= 10, 1L)
          .otherwise(0L)).as("overlap10"),
        max(when(col("rnk_e") === 1, col("rnk_p"))).as("nn_proj_rank"))
      .orderBy(col("query_id"))
  }

  private val s31Sql =
    s"""WITH v0 AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, sv,
       |    list_aggregate(list_transform(sv, x -> x * x), 'sum') AS nrm,
       |    [list_sum([CASE WHEN ((j * 16 + t + 1) * 2654435761) % 4294967296
       |                        < 2147483648
       |                    THEN sv[j + 1] ELSE -sv[j + 1] END
       |               for j IN range(64)])
       |     for t IN range(16)] AS pv
       |  FROM v0),
       |n AS (SELECT vec_id, sv, nrm, pv,
       |        list_aggregate(list_transform(pv, x -> x * x), 'sum') AS pnrm
       |      FROM v),
       |pairs AS (
       |  SELECT b.vec_id AS query_id, a.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos_e,
       |    ${cosSql(
            "list_aggregate(list_transform(range(1, 17), i -> a.pv[i] * b.pv[i]), 'sum')",
            "a.pnrm", "b.pnrm")} AS cos_p
       |  FROM n a JOIN n b ON b.vec_id < 5 AND a.vec_id <> b.vec_id),
       |r AS (SELECT query_id, cand_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos_e DESC, cand_id) AS rnk_e,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos_p DESC, cand_id) AS rnk_p
       |      FROM pairs)
       |SELECT query_id,
       |  CAST(SUM(CASE WHEN rnk_e <= 10 AND rnk_p <= 10 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS overlap10,
       |  MAX(CASE WHEN rnk_e = 1 THEN rnk_p END) AS nn_proj_rank
       |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------------
  // s32_ivfpq — the COMPOSED production ANN index (FAISS's IVFPQ): the
  // coarse IVF quantizer routes each query to its nprobe=2 nearest
  // cells (s7's trained truncated-mean centroids), ADC scores ONLY the
  // routed candidates through their PQ codes (s26's lookup-table scan
  // — 4 table probes per candidate, the raw vector never participates),
  // and the top-R=20 shortlist is reranked EXACTLY (integer L2² over
  // scaled longs). s7 and s26 gate the two halves in isolation; this
  // gate pins their COMPOSITION — cell routing must not disturb code
  // assignment, and the ADC boundary ties must resolve identically
  // after the candidate set shrinks. Scale shape: both codebooks are
  // bounded collects (≤2^bits coarse + m·4 PQ rows — broadcast-class,
  // not data collects); assignment and encoding are map-side against
  // literals; the only per-candidate exchange carries (query, cand,
  // term) partials from the routed subset — nprobe/2^bits of the
  // corpus, the IVF selectivity that makes the scan sublinear.
  def s32(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val m = 4; val subDim = 16; val bits = 3; val nprobe = 2
    // coarse quantizer: s7's trainer (truncated-mean centroid per
    // sign-LSH seed cell; bounded 2^bits-row collect)
    val cand0 = e.select(col("vec_id").as("cand_id"),
      Similarity.scaled(col("embedding")).as("cv"),
      Similarity.signBucket(col("embedding"), bits).as("icell"))
    val coarse: Seq[(Int, Seq[Long], Long)] = cand0
      .select(col("icell"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy(col("icell"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("icell"), col("pos"), expr("s div n").as("c"))
      .groupBy(col("icell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("icell"), expr("transform(pc, e -> e.c)").as("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1),
        r.getSeq[Long](1).map(x => x * x).sum))
      .sortBy(_._1).toSeq
    val cellScores = coarse.map { case (cell, cvec, cn2) =>
      struct(
        round(Similarity.cosineWithNorms(
          Similarity.dotScaled(col("cv"), typedlit(cvec)), col("cn"), lit(cn2)), 6)
          .as("cos"),
        lit(-cell).as("negcell"))
    }
    val assigned = cand0
      .withColumn("cn", Similarity.dotScaled(col("cv"), col("cv")))
      .withColumn("best", array_max(array(cellScores: _*)))
      .select(col("cand_id"), (-col("best.negcell")).as("cell"))
    val centDf = coarse.toDF("cell", "cent", "centn")
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("cell"))
    val q0 = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        Similarity.scaled(col("embedding")).as("qv"))
      .withColumn("qn", Similarity.dotScaled(col("qv"), col("qv")))
    val probed = q0.crossJoin(broadcast(centDf))
      .withColumn("qcos", round(Similarity.cosineWithNorms(
        Similarity.dotScaled(col("qv"), col("cent")), col("qn"), col("centn")), 6))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= nprobe)
      .select(col("query_id"), col("cell"))
    // PQ codebooks + per-vector codes (s26's trainer/encoder)
    val trained = Similarity.pqTrain(e, "embedding", m, subDim)
    val candSub = Similarity
      .pqCodesWith(e, "vec_id", "embedding", m, subDim, trained)
      .select(col("vec_id").as("cand_id"), explode(expr(
        """array(named_struct('sub', 0, 'cell', code0),
          |  named_struct('sub', 1, 'cell', code1),
          |  named_struct('sub', 2, 'cell', code2),
          |  named_struct('sub', 3, 'cell', code3))""".stripMargin)).as("e"))
      .select(col("cand_id"), col("e.sub").as("sub"), col("e.cell").as("pcell"))
    val terms = trained.map { case (s, c, cent, cn2) =>
      val subv = expr(s"slice(qv, ${s * subDim + 1}, $subDim)")
      struct(lit(s).as("sub"), lit(c).as("pcell"),
        (Similarity.dotScaled(subv, subv)
          - lit(2L) * Similarity.dotScaled(subv, typedlit(cent)) + lit(cn2))
          .as("term"))
    }
    val lut = q0.select(col("query_id"), explode(array(terms: _*)).as("t"))
      .select(col("query_id"), col("t.sub").as("sub"),
        col("t.pcell").as("pcell"), col("t.term").as("term"))
    // IVF routing: the ADC scan sees only the probed cells' candidates
    val routed = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("cand_id"))
    val shortlist = routed.join(candSub, Seq("cand_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "pcell"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("term")).as("adc_dist"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= 20)
    val cv = e.select(col("vec_id").as("cand_id"),
      Similarity.scaled(col("embedding")).as("cv"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_sq").asc, col("cand_id"))
    shortlist.join(cv, Seq("cand_id")).join(broadcast(q0), Seq("query_id"))
      .withColumn("l2_sq", Similarity.dotScaled(col("cv"), col("cv"))
        - lit(2L) * Similarity.dotScaled(col("cv"), col("qv"))
        + Similarity.dotScaled(col("qv"), col("qv")))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("l2_sq"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val s32Sql = {
    def centDot(vec: String) =
      s"list_aggregate(list_transform(range(1, len($vec) + 1), i -> $vec[i] * c.cent[i]), 'sum')"
    def dot16(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, 17), i -> $a[i] * $b[i]), 'sum')"
    def dot64(a: String, b: String) =
      s"list_aggregate(list_transform(range(1, 65), i -> $a[i] * $b[i]), 'sum')"
    val qs = "q.qv[c.sub*16+1 : c.sub*16+16]"
    s"""WITH $scaledCte,
       |gcomp AS (
       |  SELECT bucket AS icell, i AS pos, CAST(SUM(sv[i]) AS BIGINT) AS s,
       |    COUNT(*) AS cnt
       |  FROM v, range(1, 65) t(i) GROUP BY 1, 2),
       |gcent AS (
       |  SELECT icell,
       |    list(CASE WHEN s < 0 THEN -((-s) // cnt) ELSE s // cnt END
       |      ORDER BY pos) AS cent
       |  FROM gcomp GROUP BY icell),
       |gcw AS (SELECT icell, cent,
       |  list_aggregate(list_transform(cent, x -> x * x), 'sum') AS cn2
       |  FROM gcent),
       |gassign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT a.vec_id, c.icell AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${cosSql(centDot("a.sv"), "a.nrm", "c.cn2")} DESC, c.icell) AS rc
       |    FROM n a CROSS JOIN gcw c) WHERE rc = 1),
       |gprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT b.vec_id AS query_id, c.icell AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |        ${cosSql(centDot("b.sv"), "b.nrm", "c.cn2")} DESC, c.icell) AS rc
       |    FROM n b CROSS JOIN gcw c WHERE b.vec_id < 5) WHERE rc <= 2),
       |subs AS (
       |  SELECT vec_id, s AS sub, sv[s*16+1 : s*16+16] AS subv,
       |    (CASE WHEN sv[s*16+1] >= 0 THEN 2 ELSE 0 END +
       |     CASE WHEN sv[s*16+2] >= 0 THEN 1 ELSE 0 END) AS cell
       |  FROM v, (SELECT unnest([0, 1, 2, 3]) AS s) t),
       |pcomp AS (
       |  SELECT sub, cell, i AS pos, CAST(SUM(subv[i]) AS BIGINT) AS sm,
       |    COUNT(*) AS cnt
       |  FROM subs, range(1, 17) t(i) GROUP BY 1, 2, 3),
       |pcent AS (
       |  SELECT sub, cell,
       |    list(CASE WHEN sm < 0 THEN -((-sm) // cnt) ELSE sm // cnt END
       |      ORDER BY pos) AS cent
       |  FROM pcomp GROUP BY 1, 2),
       |pcw AS (SELECT sub, cell, cent,
       |  list_aggregate(list_transform(cent, x -> x * x), 'sum') AS cc
       |  FROM pcent),
       |pd AS (
       |  SELECT s.vec_id, s.sub, c.cell,
       |    ${dot16("s.subv", "s.subv")} - 2 * ${dot16("s.subv", "c.cent")}
       |      + c.cc AS dist
       |  FROM subs s JOIN pcw c ON s.sub = c.sub),
       |codes AS (
       |  SELECT vec_id AS cand_id, sub, cell FROM (
       |    SELECT vec_id, sub, cell, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cell) AS rk
       |    FROM pd) WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, sv AS qv FROM v WHERE vec_id < 5),
       |lut AS (
       |  SELECT q.query_id, c.sub, c.cell,
       |    ${dot16(qs, qs)} - 2 * ${dot16(qs, "c.cent")} + c.cc AS term
       |  FROM q CROSS JOIN pcw c),
       |routed AS (
       |  SELECT p.query_id, a.vec_id AS cand_id
       |  FROM gassign a JOIN gprobe p ON a.cell = p.cell
       |    AND a.vec_id <> p.query_id),
       |adc AS (
       |  SELECT r.query_id, r.cand_id, CAST(SUM(l.term) AS BIGINT) AS adc_dist
       |  FROM routed r JOIN codes k ON k.cand_id = r.cand_id
       |  JOIN lut l ON l.query_id = r.query_id AND l.sub = k.sub
       |    AND l.cell = k.cell
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, cand_id, adc_dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, cand_id) AS ark FROM adc) WHERE ark <= 20),
       |ex AS (
       |  SELECT s.query_id, s.cand_id, s.adc_dist,
       |    CAST(${dot64("cv.sv", "cv.sv")} - 2 * ${dot64("cv.sv", "q.qv")}
       |      + ${dot64("q.qv", "q.qv")} AS BIGINT) AS l2_sq
       |  FROM short s JOIN v cv ON cv.vec_id = s.cand_id
       |  JOIN q ON q.query_id = s.query_id)
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, l2_sq, adc_dist
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY l2_sq, cand_id) AS rnk FROM ex)
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s33_sq8 — scalar-quantized (SQ8) search, the THIRD compression
  // lane next to PQ (s26/s32) and raw exact (s1), and the one FAISS
  // picks when recall matters more than the last 4× of memory: each
  // dimension is independently quantized to an 8-bit code against the
  // corpus per-dimension [min, max] range, scoring runs against the
  // dequantized codes, and the top-20 SQ shortlist reranks exactly for
  // top-5. Scale shape: the 64-dim range stats are ONE map-side
  // aggregate (128 agg buffers, 1-row result broadcast back);
  // quantization is map-side per row (no shuffle); scoring scans the
  // CODE representation — in production an array<tinyint> 8× smaller
  // than the float vectors, the entire point of SQ — and only the
  // 20-row shortlists touch raw vectors again. Gate arithmetic stays
  // scaled-long (quantize and dequantize are integer div with
  // non-negative operands, so Spark's truncate == DuckDB's floor) so
  // the oracle restates train→quantize→score→rerank exactly.
  def s33(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = 64
    val sv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.scaled(col("embedding")).as("v"))
    val statAggs = (0 until dim).map(i =>
      min(element_at(col("v"), i + 1)).as(s"mn$i")) ++
      (0 until dim).map(i => max(element_at(col("v"), i + 1)).as(s"mx$i"))
    val stats = sv.agg(statAggs.head, statAggs.tail: _*)
      .select(
        array((0 until dim).map(i => col(s"mn$i")): _*).as("mn"),
        array((0 until dim).map(i => col(s"mx$i")): _*).as("mx"))
    // dequantized code value: mn + ((x-mn)*255 div rng) * rng div 255
    // (rng >= 0 and x >= mn, so truncating div == floor div)
    val dqExpr = expr(
      """transform(v, (x, i) ->
        |  element_at(mn, i + 1) +
        |  ((x - element_at(mn, i + 1)) * 255L div
        |     greatest(element_at(mx, i + 1) - element_at(mn, i + 1), 1L))
        |  * (element_at(mx, i + 1) - element_at(mn, i + 1)) div 255L)"""
        .stripMargin)
    val codes = sv.crossJoin(broadcast(stats)) // 1-row stats ride-along
      .select(col("vec_id").as("cand_id"), dqExpr.as("dq"))
    val q = sv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .withColumn("qq", Similarity.dotScaled(col("qv"), col("qv")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("cand_id"))
    val shortlist = codes
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (Similarity.dotScaled(col("dq"), col("dq"))
          - lit(2L) * Similarity.dotScaled(col("dq"), col("qv"))
          + col("qq")).as("sq_dist"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= 20)
      .select(col("query_id"), col("cand_id"), col("sq_dist"))
    val cv = sv.select(col("vec_id").as("cand_id"), col("v").as("cv"))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_sq").asc, col("cand_id"))
    shortlist.join(cv, Seq("cand_id")).join(broadcast(q), Seq("query_id"))
      .withColumn("l2_sq", Similarity.dotScaled(col("cv"), col("cv"))
        - lit(2L) * Similarity.dotScaled(col("cv"), col("qv"))
        + col("qq"))
      .withColumn("rnk", row_number().over(wE).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("l2_sq"),
        col("sq_dist"))
      .orderBy(col("query_id"), col("rnk"))
  }

  private val s33Sql =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, unnest(range(1, len(sv) + 1)) AS i, unnest(sv) AS x
      |  FROM v),
      |stats AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i),
      |dq AS (
      |  SELECT c.vec_id AS cand_id, c.i,
      |    s.mn + ((c.x - s.mn) * 255 // greatest(s.mx - s.mn, 1))
      |      * (s.mx - s.mn) // 255 AS d
      |  FROM comp c JOIN stats s USING (i)),
      |qc AS (SELECT vec_id AS query_id, i, x FROM comp WHERE vec_id < 5),
      |sq AS (
      |  SELECT q.query_id, c.cand_id,
      |    CAST(SUM((q.x - c.d) * (q.x - c.d)) AS BIGINT) AS sq_dist
      |  FROM qc q JOIN dq c ON c.i = q.i AND c.cand_id <> q.query_id
      |  GROUP BY 1, 2),
      |short AS (
      |  SELECT query_id, cand_id, sq_dist FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sq_dist, cand_id) AS ark FROM sq) WHERE ark <= 20),
      |ex AS (
      |  SELECT s.query_id, s.cand_id, s.sq_dist,
      |    CAST(SUM((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS l2_sq
      |  FROM short s
      |  JOIN comp c ON c.vec_id = s.cand_id
      |  JOIN qc q ON q.query_id = s.query_id AND q.i = c.i
      |  GROUP BY 1, 2, 3)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, cand_id, l2_sq, sq_dist
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY l2_sq, cand_id) AS rnk FROM ex)
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // s35_graph_beam — GRAPH-BASED ANN (the NSW/HNSW-layer-0 search rule,
  // Malkov & Yashunin 2016), the one ANN family the flat/IVF/PQ/SQ gates
  // don't cover: greedy BEAM SEARCH over the s10 k-NN graph instead of
  // scanning any bucket. The graph's edges come from same-LSH-bucket
  // candidates, so its components are bucket-local by construction — a
  // single entry point could never cross into the query's component;
  // the searcher is therefore MULTI-ENTRY (min vec_id per bucket, the
  // standard NSW answer to a fragmented graph). Three rounds of
  // { candidates = beam ∪ neighbors(beam); beam = top-8 }, scored
  // against the vec_id=0 query vector by the same INTEGER-EXACT
  // surrogate key as x74 (no float cosine anywhere in the ranking
  // path). The output beam carries an `exact_hit` flag vs the true
  // top-8 under the identical key — recall@8 of the traversal,
  // engine-checked (4/8 at sf0.01: the beam reaches the optimum's
  // component and takes its head; the misses are real NSW behavior —
  // greedy routing past low-degree nodes on a k=3 graph).
  // Graph topology is knnEdges, shared with s10/s11/s21 (one edge
  // definition, four gates). Scale shape: the beam is ≤8 ids, so each
  // round is one broadcast-hash probe of the k-bounded edge list
  // (frontier side broadcast, edges never move) plus one id-key join
  // against the scored-nodes table; entries are one row per bucket
  // (the s2 pruning geometry); rounds are a FIXED constant (3) — no
  // data-dependent fixpoint, no collect. The oracle unrolls the
  // identical three rounds as CTEs — a recursion-free restatement
  // DuckDB evaluates literally.
  def s35(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = knnEdgesShared(spark, dir, k = 3)
      .select(col("vec_id").as("a"), col("nbr_id").as("b"))
    // one materialization each for the two tables every round re-joins
    // (VERDICT r8 item 4): without the eager localCheckpoints the 3
    // rounds + final + exact-truth joins would recompute the k-NN-graph
    // build and the corpus-×-query scoring projection ~5× — linear not
    // quadratic, but 4 wasted corpus passes at any scale. Checkpointed
    // width is 2 ints (edges) / int+long (scores): the s12 discipline.
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b"))).distinct()
      .transform(graft.Pins.pinForFanout(_, eager = true))
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.scaled(col("embedding")).as("sv"),
        Similarity.signBucket(col("embedding"), adaptiveBits(spark, dir)).as("bucket"))
      .withColumn("nrm", Similarity.dotScaled(col("sv"), col("sv")))
    val qv = v.filter(col("vec_id") === 0).select(col("sv").as("qsv"))
    val scored = v.crossJoin(broadcast(qv)) // 1-row scalar ride-along: the query
      .withColumn("dot", Similarity.dotScaled(col("sv"), col("qsv")))
      .withColumn("skey", Similarity.surrogateCosKey("dot", "nrm"))
      .select(col("vec_id"), col("skey"))
      .transform(graft.Pins.pinForFanout(_, eager = true))
    // multi-entry: one seed per LSH bucket (components are bucket-local).
    // r10: the beam itself must pin per round (the s12 discipline the
    // r9 comment above applied to und/scored but missed here) — each
    // round consumes `beam` twice, once through a BroadcastExchange,
    // which reuses no stage, so the unpinned seed subtree (embeddings
    // scan + bucket aggregate) re-executed once per consumer per round:
    // 8 duplicate parquet scans in the executed plan. Beam width ≤
    // max(#buckets, 8) rows — the cheapest pin in the engine.
    val beam = graft.Fixpoint.iterate(
        v.groupBy(col("bucket")).agg(min(col("vec_id")).as("id")).select(col("id")), 3) { beam =>
      val cand = beam
        .unionAll(und.join(broadcast(beam), col("a") === col("id"))
          .select(col("b").as("id")))
        .distinct()
      cand.filter(col("id") =!= 0)
        .join(scored, col("id") === col("vec_id"))
        .orderBy(col("skey").desc, col("id")).limit(8)
        .select(col("id"))
    }
    val fin = beam.join(scored, col("id") === col("vec_id"))
      .select(col("id"), col("skey"))
      .orderBy(col("skey").desc, col("id")).limit(8)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("skey").desc, col("id"))).cast("long"))
    val exact = scored.filter(col("vec_id") =!= 0)
      .orderBy(col("skey").desc, col("vec_id")).limit(8)
      .select(col("vec_id").as("xid"), lit(1L).as("hit"))
    fin.join(broadcast(exact), col("id") === col("xid"), "left")
      .select(col("rnk"), col("id").as("vec_id"), col("skey"),
        coalesce(col("hit"), lit(0L)).as("exact_hit"))
      .orderBy(col("rnk"))
  }

  private val s35Sql = {
    val skeySql =
      """CASE WHEN dot >= 0
        |  THEN ((abs(dot) // 1000000) * (abs(dot) // 1000000))
        |         // greatest(nrm // 1000000, 1)
        |  ELSE -(((abs(dot) // 1000000) * (abs(dot) // 1000000))
        |         // greatest(nrm // 1000000, 1)) END""".stripMargin
    def round(i: Int): String =
      s"""c$i AS (SELECT id FROM b${i - 1}
         |  UNION SELECT und.b FROM und JOIN b${i - 1} ON und.a = b${i - 1}.id),
         |b$i AS (SELECT id FROM (
         |  SELECT c$i.id AS id, ROW_NUMBER() OVER
         |    (ORDER BY sc2.skey DESC, c$i.id) AS rn
         |  FROM c$i JOIN sc2 ON sc2.vec_id = c$i.id WHERE c$i.id <> 0)
         |  WHERE rn <= 8)""".stripMargin
    s"""WITH $scaledCteAdaptive,
       |pairs AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS cand_id,
       |    ${cosSql(dotSql, "a.nrm", "b.nrm")} AS cos
       |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |knn AS (SELECT vec_id, cand_id FROM (
       |  SELECT vec_id, cand_id,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cand_id) AS rnk
       |  FROM pairs) WHERE rnk <= 3),
       |und AS (SELECT vec_id AS a, cand_id AS b FROM knn
       |        UNION SELECT cand_id, vec_id FROM knn),
       |qs AS (SELECT sv AS qsv FROM n WHERE vec_id = 0),
       |dots AS (
       |  SELECT a.vec_id,
       |    CAST(list_aggregate(list_transform(range(1, len(a.sv) + 1),
       |      i -> a.sv[i] * qs.qsv[i]), 'sum') AS BIGINT) AS dot,
       |    CAST(a.nrm AS BIGINT) AS nrm
       |  FROM n a CROSS JOIN qs),
       |sc2 AS (SELECT vec_id, $skeySql AS skey FROM dots),
       |b0 AS (SELECT MIN(vec_id) AS id FROM n GROUP BY bucket),
       |${round(1)},
       |${round(2)},
       |${round(3)},
       |fin AS (SELECT id, skey, rnk FROM (
       |  SELECT b3.id AS id, sc2.skey AS skey, CAST(ROW_NUMBER() OVER
       |    (ORDER BY sc2.skey DESC, b3.id) AS BIGINT) AS rnk
       |  FROM b3 JOIN sc2 ON sc2.vec_id = b3.id) WHERE rnk <= 8),
       |ex AS (SELECT vec_id FROM (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY skey DESC, vec_id) AS rn
       |  FROM sc2 WHERE vec_id <> 0) WHERE rn <= 8)
       |SELECT rnk, id AS vec_id, CAST(skey AS BIGINT) AS skey,
       |  CAST(CASE WHEN id IN (SELECT vec_id FROM ex) THEN 1 ELSE 0 END AS BIGINT)
       |    AS exact_hit
       |FROM fin ORDER BY rnk""".stripMargin
  }

  // ---------------------------------------------------------------------
  // s36_nprobe_sweep — the IVF TUNING CURVE: recall@10 vs nprobe ∈
  // {1, 2, 4} against the s1 brute-force truth, the measurement an ANN
  // deployment runs before picking its probe width (recall rises toward
  // 1.0 as probes approach the full cell count — the cost/recall
  // trade-off made visible in one 3-row table). One IVF definition
  // everywhere: the Spark arm calls the same `Similarity.topKIvf` as s7
  // at three widths; the oracle instantiates the same parameterized
  // `ivfSql` (s7's SQL, probe width substituted) three times. Scale
  // shape: each arm is s7's (trained centroid literals, map-side
  // assign, probed-cell candidate join, top-10 per query); the sweep
  // unions three 50-row frames and the recall join is against a 50-row
  // broadcast — the sweep costs 3 probe passes, never 3 corpus scans
  // of anything wider than the probed cells.
  def s36(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val exact = s1(spark, dir).select(col("query_id"), col("cand_id"))
    val anns = Seq(1, 2, 4).map { np =>
      Similarity.topKIvf(
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, bits = 3, nprobe = np)
        .select(lit(np.toLong).as("np"), col("query_id"), col("cand_id"))
    }.reduce(_ unionByName _).withColumn("hit", lit(1L))
    val nps = Seq(1L, 2L, 4L).toDF("np")
    exact.crossJoin(broadcast(nps)) // 3-row sweep axis ride-along
      .join(anns, Seq("np", "query_id", "cand_id"), "left")
      .groupBy(col("np"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000 div n_exact"))
      .orderBy(col("np"))
  }

  private val s36Sql =
    s"""WITH exact AS (SELECT query_id, cand_id FROM ($s1Sql)),
       |a1 AS (SELECT query_id, cand_id FROM (${ivfSql(1)})),
       |a2 AS (SELECT query_id, cand_id FROM (${ivfSql(2)})),
       |a4 AS (SELECT query_id, cand_id FROM (${ivfSql(4)})),
       |u AS (
       |  SELECT CAST(1 AS BIGINT) AS np, query_id, cand_id FROM a1
       |  UNION ALL SELECT CAST(2 AS BIGINT), query_id, cand_id FROM a2
       |  UNION ALL SELECT CAST(4 AS BIGINT), query_id, cand_id FROM a4),
       |nps(np) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
       |                   (CAST(4 AS BIGINT)))
       |SELECT n.np, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN u.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS hits,
       |  CAST(SUM(CASE WHEN u.cand_id IS NOT NULL THEN 1 ELSE 0 END)
       |       * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact e CROSS JOIN nps n
       |LEFT JOIN u ON u.np = n.np AND u.query_id = e.query_id
       |            AND u.cand_id = e.cand_id
       |GROUP BY n.np ORDER BY n.np""".stripMargin

  // s37_pointer_doubling — POINTER JUMPING / list ranking (Wyllie
  // 1979), the parallel-algorithms primitive the fixpoint family
  // (s12/s16/q74: O(depth) frontier rounds) cannot express when the
  // structure is a FUNCTIONAL GRAPH with Θ(n)-long paths: each node
  // has exactly one out-edge f(v) = (v² + 7) mod n + 1 over the
  // customer key space 1..n (the +1 keeps the image INSIDE the node
  // set — without it f(v)=0 would have no join partner and the
  // doubling equi-join would silently drop that node while the
  // arithmetic oracle kept walking; ADVICE r8) —
  // Pollard's rho map, genuinely non-invertible, so the
  // graph is tails flowing into cycles. Computing each node's terminal
  // CYCLE (its rho's attractor) by walking f would take Θ(n) rounds;
  // pointer doubling squares the jump length instead — state
  // (v, f^(2^k)(v), min of the path so far), each round ONE equi-join
  // of the state with itself — reaching f^(2^R)(v) with path-min in
  // R = ⌈log₂ n⌉ rounds. With 2^R ≥ n every walk has entered its
  // cycle AND lapped it, so: the image of f^(2^R) is EXACTLY the
  // cycle-node set, the path-min at a cycle node is its cycle's min
  // id (the canonical cycle label), and one more equi-join through
  // F(v) labels every node's basin. Output: per cycle, its label,
  // length, and basin size. The oracle walks the SAME n steps
  // sequentially in DuckDB's recursive CTE — two encodings of f^n,
  // one answer. Scale shape: O(log n) rounds × one n-row shuffle,
  // lineage cut by an eager per-round iterative pin (the s12
  // discipline); the driver sees only the two bounded scalars (n, R).
  def s37(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.customer(spark, dir).select(col("c_custkey").as("v"))
    val n = nodes.count() // driver scalar: node count (bounded by design)
    val rounds = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
    def f(c: org.apache.spark.sql.Column) = (c * c + lit(7L)) % lit(n) + lit(1L)
    // eager pins: each round materializes before the next joins it
    // with itself, so the round it replaces is freed at once
    val st = graft.Fixpoint.iterate(
        nodes.select(col("v"), f(col("v")).as("next"), f(col("v")).as("mn")),
        rounds, eager = true) { st =>
      val b = st.select(col("v").as("bv"), col("next").as("bnext"),
        col("mn").as("bmn"))
      st.join(b, col("next") === col("bv"))
        .select(col("v"), col("bnext").as("next"),
          least(col("mn"), col("bmn")).as("mn"))
    }
    // cycle nodes = image of f^(2^R); each carries its cycle min as mn
    val cyc = st.join(
        st.select(col("next").as("img")).distinct(), col("v") === col("img"))
      .select(col("v").as("c"), col("mn").as("cid"))
    val basins = st.select(col("v"), col("next"))
      .join(cyc, col("next") === col("c"))
      .groupBy(col("cid")).agg(count(lit(1)).as("basin_size"))
    cyc.groupBy(col("cid")).agg(count(lit(1)).as("cycle_len"))
      .join(basins, "cid")
      .orderBy(col("cid"))
  }

  private val s37Sql =
    """WITH RECURSIVE nodes AS (SELECT c_custkey AS v FROM customer),
      |p AS (SELECT COUNT(*) AS n FROM nodes),
      |walk(start, step, cur, mn, n) AS (
      |  SELECT v, CAST(1 AS BIGINT), (v * v + 7) % n + 1, (v * v + 7) % n + 1, n
      |  FROM nodes, p
      |  UNION ALL
      |  SELECT start, step + 1, (cur * cur + 7) % n + 1,
      |    least(mn, (cur * cur + 7) % n + 1), n
      |  FROM walk WHERE step < n),
      |fin AS (SELECT start, cur AS f, mn AS m FROM walk, p
      |        WHERE step = p.n),
      |cyc AS (
      |  SELECT fin.start AS c, fin.m AS cid
      |  FROM fin JOIN (SELECT DISTINCT f FROM fin) i ON fin.start = i.f),
      |basins AS (
      |  SELECT cyc.cid, COUNT(*) AS basin_size
      |  FROM fin JOIN cyc ON fin.f = cyc.c GROUP BY 1)
      |SELECT cyc.cid AS cid, COUNT(*) AS cycle_len,
      |  MIN(basins.basin_size) AS basin_size
      |FROM cyc JOIN basins ON cyc.cid = basins.cid
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s37_pointer_doubling" -> (s37 _),
    "s36_nprobe_sweep" -> (s36 _),
    "s35_graph_beam" -> (s35 _),
    "s32_ivfpq" -> (s32 _),
    "s33_sq8" -> (s33 _),
    "s31_jl_neighbors" -> (s31 _),
    "s30_pca_power" -> (s30 _),
    "s29_mrr" -> (s29 _),
    "s28_semdedup" -> (s28 _),
    "s27_mmr" -> (s27 _),
    "s26_pq_adc" -> (s26 _),
    "s25_negative_pairs" -> (s25 _),
    "s24_degree_histogram" -> (s24 _),
    "s23_hits" -> (s23 _),
    "s22_kcore" -> (s22 _),
    "s20_modularity" -> (s20 _),
    "s18_ppr" -> (s18 _),
    "s19_kmeans" -> (s19 _),
    "s17_weighted_paths" -> (s17 _),
    "s16_bfs_hops" -> (s16 _),
    "s15_ann_recall" -> (s15 _),
    "s14_triangle_count" -> (s14 _),
    "s13_pagerank" -> (s13 _),
    "s12_label_prop_fixpoint" -> (s12 _),
    "s10_knn_graph" -> (s10 _),
    "s21_neighbor_jaccard" -> (s21 _),
    "s11_label_prop" -> (s11 _),
    "s1_topk_brute" -> (s1 _),
    "s2_topk_bucketed" -> (s2 _),
    "s3_neardup_pairs" -> (s3 _),
    "s4_label_stats" -> (s4 _),
    "s5_centroids" -> (s5 _),
    "s6_quantize" -> (s6 _),
    "s7_topk_ivf" -> (s7 _),
    "s8_embed_clusters" -> (s8 _),
    "s9_pq_codes" -> (s9 _))

  val oracleSql: Map[String, String] = Map(
    "s37_pointer_doubling" -> s37Sql,
    "s36_nprobe_sweep" -> s36Sql,
    "s35_graph_beam" -> s35Sql,
    "s32_ivfpq" -> s32Sql,
    "s33_sq8" -> s33Sql,
    "s31_jl_neighbors" -> s31Sql,
    "s30_pca_power" -> s30Sql,
    "s29_mrr" -> s29Sql,
    "s28_semdedup" -> s28Sql,
    "s27_mmr" -> s27Sql,
    "s26_pq_adc" -> s26Sql,
    "s25_negative_pairs" -> s25Sql,
    "s24_degree_histogram" -> s24Sql,
    "s23_hits" -> s23Sql,
    "s22_kcore" -> s22Sql,
    "s20_modularity" -> s20Sql,
    "s18_ppr" -> s18Sql,
    "s19_kmeans" -> s19Sql,
    "s17_weighted_paths" -> s17Sql,
    "s16_bfs_hops" -> s16Sql,
    "s15_ann_recall" -> s15Sql,
    "s14_triangle_count" -> s14Sql,
    "s13_pagerank" -> s13Sql,
    "s12_label_prop_fixpoint" -> s12Sql,
    "s10_knn_graph" -> s10Sql,
    "s21_neighbor_jaccard" -> s21Sql,
    "s11_label_prop" -> s11Sql,
    "s1_topk_brute" -> s1Sql,
    "s2_topk_bucketed" -> s2Sql,
    "s3_neardup_pairs" -> s3Sql,
    "s4_label_stats" -> s4Sql,
    "s5_centroids" -> s5Sql,
    "s6_quantize" -> s6Sql,
    "s7_topk_ivf" -> s7Sql,
    "s8_embed_clusters" -> s8Sql,
    "s9_pq_codes" -> s9Sql)
}
