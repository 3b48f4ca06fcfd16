package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.functions.expressions.FloatDotProduct

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two arithmetic paths:
  *  - `cosineF` — the production path: custom codegen expression
  *    ([[FloatDotProduct]]), single fused loop, no allocation. Used by
  *    the bench harness and any real workload.
  *  - `scaled`/`dotScaled`/`cosineExact` — the oracle path: elements are
  *    floor-scaled to 1e-6-resolution longs, so dot products are EXACT
  *    integer arithmetic and every engine agrees bit-for-bit. Float
  *    summation order is engine-specific; exact longs are not. Gate
  *    queries use this so DuckDB can hash-match.
  *
  * Scale design: queries are broadcast (a query set is small by
  * definition); candidates stream. Brute force is one map-side pass +
  * top-k per query (TakeOrdered-style window on rank<=k). The bucketed
  * variant (sign-LSH) prunes candidates ~2^bits-fold with zero extra
  * shuffle — bucket ids are computed per-row on both sides and become
  * part of the join key.
  */
object Similarity {

  /** Production dot / cosine via the codegen expression. */
  def dotF(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      FloatDotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }
  def cosineF(a: Column, b: Column): Column =
    dotF(a, b) / (sqrt(dotF(a, a)) * sqrt(dotF(b, b)))

  /** Oracle path: exact integer-scaled vectors (floor(x * 1e6)). */
  def scaled(c: Column): Column =
    transform(c, x => floor(x.cast(DoubleType) * lit(1000000.0)).cast(LongType))

  /** Exact long dot product of two pre-scaled vectors, via the
    * [[graft.functions.expressions.LongDotProduct]] codegen kernel —
    * identical index-order long arithmetic to
    * `aggregate(zip_with(a, b, _*_), 0, _+_)` on well-formed vectors,
    * in one fused in-place loop instead of an interpreted HOF with a
    * per-row intermediate array. On MALFORMED vectors the semantics
    * deliberately differ: length mismatch / null elements raise
    * (fail-fast, same contract as [[FloatDotProduct]] per the round-1
    * review) where the HOF formulation yielded a silent NULL dot. The
    * per-PAIR primitive of every oracle-path similarity join. */
  def dotScaled(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.LongDotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** JL ±1 sign projection of a scaled vector to `k` dims via the
    * [[graft.functions.expressions.SignProject]] codegen kernel (the
    * HOF formulation is CodegenFallback — interpreted per row). */
  def signProject(c: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.SignProject(
      GraftColumnBridge.expression(c), k))
  }

  /** Deterministic cosine from scaled vectors (long dots, double sqrt). */
  def cosineExact(a: Column, b: Column): Column =
    dotScaled(a, b).cast(DoubleType) /
      (sqrt(dotScaled(a, a).cast(DoubleType)) * sqrt(dotScaled(b, b).cast(DoubleType)))

  /** Cosine with PRE-COMPUTED squared norms — the join-side form. Norms
    * are per-vector (O(n·dim)); computing them inside the pair predicate
    * would be O(pairs·dim), which dominates at scale. */
  def cosineWithNorms(dot: Column, normA: Column, normB: Column): Column =
    dot.cast(DoubleType) / (sqrt(normA.cast(DoubleType)) * sqrt(normB.cast(DoubleType)))

  /** INTEGER-EXACT cosine-ranking surrogate for a FIXED query vector:
    * sign(dot) · ⌊⌊|dot|/1e6⌋² / max(⌊nrm/1e6⌋, 1)⌋. For one query q,
    * cos² ∝ dot²/nrm, the square is monotone in |cos| and the sign
    * restores direction, so ordering by this LONG key is ordering by
    * cosine up to the 1e-6 truncation — and ties the truncation creates
    * are broken identically in both engines by the id column. Every
    * operand is non-negative at the div sites, so Spark's
    * truncate-toward-zero `div` and DuckDB's floor `//` agree. Used by
    * the ranking gates that must stay float-free end-to-end (x74, s35);
    * the oracles restate the identical expression literally. */
  def surrogateCosKey(dotCol: String, nrmCol: String): Column =
    expr(s"""CASE WHEN $dotCol >= 0
            |  THEN (abs($dotCol) div 1000000) * (abs($dotCol) div 1000000)
            |         div greatest($nrmCol div 1000000, 1)
            |  ELSE -((abs($dotCol) div 1000000) * (abs($dotCol) div 1000000)
            |         div greatest($nrmCol div 1000000, 1))
            |END""".stripMargin)

  /** Sign-LSH bucket over the first `bits` components: a static
    * hyperplane family that needs no fitting and prunes ~2^bits-fold. */
  def signBucket(c: Column, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(c, i + 1) > lit(0.0f), lit(1 << (bits - 1 - i))).otherwise(lit(0))
    }.reduce(_ + _).cast(IntegerType)

  /** Brute-force top-k: every query (broadcast) against every candidate.
    * `df` must carry (idCol, vecCol). Output: query_id, rank, id, cos. */
  def topKBrute(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    val cand = df.select(col(idCol).as("cand_id"), scaled(col(vecCol)).as("cv"))
      .withColumn("cn", dotScaled(col("cv"), col("cv")))
    val q = broadcast(queries
      .select(col(qIdCol).as("query_id"), scaled(col(qVecCol)).as("qv"))
      .withColumn("qn", dotScaled(col("qv"), col("qv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    cand.crossJoin(q)
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", round(
        cosineWithNorms(dotScaled(col("cv"), col("qv")), col("cn"), col("qn")), 6))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cos"))
  }

  /** MMR (Maximal Marginal Relevance) diversified top-k — the retrieval
    * RERANKER: greedily pick k results maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s), so the result set
    * trades raw relevance for novelty (the dedup-at-retrieval-time
    * operator every RAG / training-data-selection pipeline runs after
    * its ANN stage). λ is the rational lambdaNum/10.
    *
    * Three stages, each at its natural scale:
    *  1. SHORTLIST — relevance top-`shortlist` per query, the s1 brute
    *     shape (broadcast queries, map-side exact integer cosine,
    *     row_number window; swap in the IVF path upstream at scale);
    *  2. PAIRWISE — candidate-candidate similarities via a self-join of
    *     the shortlist: per-query cost is shortlist², BOUNDED BY
    *     CONSTRUCTION regardless of corpus size — the whole point of
    *     reranking a shortlist instead of the corpus;
    *  3. SELECT — the greedy argmax loop, pure Long arithmetic over ≤
    *     shortlist rows per query, in a typed COGROUP of (rel, sims) so
    *     the sequential fold runs once per query ON THE EXECUTORS.
    * Every similarity is rounded to integer ppm by the SAME DataFrame
    * `round` on both rel and sims, so selection compares exact Longs —
    * no float ordering ambiguity can diverge across engines.
    * Output: query_id, sel_rank (1..k), cand_id, rel_ppm. */
  def mmrTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      shortlist: Int, k: Int, lambdaNum: Long = 7L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cand = df.select(col(idCol).as("cand_id"), scaled(col(vecCol)).as("cv"))
      .withColumn("cn", dotScaled(col("cv"), col("cv")))
    val q = broadcast(queries
      .select(col(qIdCol).as("query_id"), scaled(col(qVecCol)).as("qv"))
      .withColumn("qn", dotScaled(col("qv"), col("qv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel_ppm").desc, col("cand_id"))
    val short = cand.crossJoin(q)
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("rel_ppm", round(
        cosineWithNorms(dotScaled(col("cv"), col("qv")), col("cn"), col("qn"))
          * lit(1000000.0), 0).cast(LongType))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col("query_id"), col("cand_id"), col("rel_ppm"),
        col("cv"), col("cn"))
      .transform(graft.Pins.pinForFanout(_)) // reused by the self-join below
    val sims = short.as("a").join(short.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.cand_id").as("a_id"), col("b.cand_id").as("b_id"),
        round(cosineWithNorms(
          dotScaled(col("a.cv"), col("b.cv")), col("a.cn"), col("b.cn"))
          * lit(1000000.0), 0).cast(LongType).as("sim_ppm"))
    val rg = short.select(col("query_id"), col("cand_id"), col("rel_ppm"))
      .as[(Long, Long, Long)].groupByKey(_._1)
    val sg = sims.as[(Long, Long, Long, Long)].groupByKey(_._1)
    rg.cogroup(sg) { (qid, relIt, simIt) =>
      val rels = relIt.map(r => (r._2, r._3)).toArray.sortBy(r => (-r._2, r._1))
      val sim = simIt.map(s => ((s._2, s._3), s._4)).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val pickedIds = scala.collection.mutable.Set.empty[Long]
      while (picked.size < math.min(k, rels.length)) {
        var best: (Long, Long, Long) = null // (score, cand_id, rel_ppm)
        rels.foreach { case (cid, rel) =>
          if (!pickedIds.contains(cid)) {
            val red =
              if (pickedIds.isEmpty) 0L
              else pickedIds.iterator.map(s => sim((cid, s))).max
            val score = lambdaNum * rel - (10L - lambdaNum) * red
            if (best == null || score > best._1 ||
              (score == best._1 && cid < best._2)) best = (score, cid, rel)
          }
        }
        picked += ((best._2, best._3)); pickedIds += best._2
      }
      picked.iterator.zipWithIndex.map { case ((cid, rel), i) =>
        (qid, (i + 1).toLong, cid, rel)
      }
    }.toDF("query_id", "sel_rank", "cand_id", "rel_ppm")
  }

  /** IVF top-k with TRAINED centroids and multi-cell probing — the full
    * inverted-file ANN path (train → assign → probe → exact rerank),
    * one refinement step up from [[topKBucketed]]'s static hyperplanes:
    *
    *  1. TRAIN: centroids = per-component truncated mean of the scaled
    *     vectors in each sign-LSH init cell (one k-means step from the
    *     LSH seeding; integer division keeps every downstream distance
    *     integer-exact across engines). The driver materializes at most
    *     2^bits centroid rows — bounded by construction, like a
    *     broadcast variable, NOT a data collect.
    *  2. ASSIGN: each vector goes to its nearest centroid by rounded
    *     cosine (ties → lowest cell) — computed per row against the
    *     centroid LITERALS through the long-dot kernel: zero shuffle,
    *     zero join; the map-side shape that holds at 100 TB.
    *  3. PROBE: each query ranks the centroids and takes its `nprobe`
    *     nearest cells — recall recovery at cell boundaries, the knob
    *     [[topKBucketed]] doesn't have.
    *  4. RERANK: exact cosine over the probed cells' candidates,
    *     row_number top-k.
    */
  def topKIvf(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, bits: Int = 3, nprobe: Int = 2): DataFrame = {
    import df.sparkSession.implicits._
    val cand0 = df.select(col(idCol).as("cand_id"), scaled(col(vecCol)).as("cv"),
      signBucket(col(vecCol), bits).as("icell"))
    // train: per-cell, per-component truncated mean (Spark `div` and
    // the oracle's sign(s)*(|s| // n) agree on negatives; plain `//`
    // would floor and disagree)
    val centroids: Seq[(Int, Seq[Long], Long)] = cand0
      .select(col("icell"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy(col("icell"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("icell"), col("pos"), expr("s div n").as("c"))
      .groupBy(col("icell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("icell"), expr("transform(pc, e -> e.c)").as("cent"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](1).map(x => x * x).sum))
      .sortBy(_._1).toSeq
    // assign: argmax over centroid literals via lexicographic struct max
    // (rounded cos desc, then lowest cell) — each cosine evaluated once
    val cellScores = centroids.map { case (cell, cvec, cn2) =>
      struct(
        round(cosineWithNorms(dotScaled(col("cv"), typedlit(cvec)), col("cn"), lit(cn2)), 6).as("cos"),
        lit(-cell).as("negcell"))
    }
    val assigned = cand0
      .withColumn("cn", dotScaled(col("cv"), col("cv")))
      .withColumn("best", array_max(array(cellScores: _*)))
      .select(col("cand_id"), col("cv"), col("cn"), (-col("best.negcell")).as("cell"))
    // probe: each query ranks the 2^bits centroids, keeps nprobe cells
    val centDf = centroids.toDF("cell", "cent", "centn")
    val wq = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("cell"))
    val probed = queries
      .select(col(qIdCol).as("query_id"), scaled(col(qVecCol)).as("qv"))
      .withColumn("qn", dotScaled(col("qv"), col("qv")))
      .crossJoin(broadcast(centDf))
      .withColumn("qcos", round(
        cosineWithNorms(dotScaled(col("qv"), col("cent")), col("qn"), col("centn")), 6))
      .withColumn("prnk", row_number().over(wq))
      .filter(col("prnk") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    // exact rerank over the probed cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", round(
        cosineWithNorms(dotScaled(col("cv"), col("qv")), col("cn"), col("qn")), 6))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cos"))
  }

  /** Bucketed (sign-LSH) top-k: candidates restricted to the query's
    * bucket — the IVF-style scale path (probe 1/2^bits of the data). */
  def topKBucketed(
      df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, bits: Int = 3): DataFrame = {
    val cand = df.select(col(idCol).as("cand_id"), scaled(col(vecCol)).as("cv"),
      signBucket(col(vecCol), bits).as("bucket"))
      .withColumn("cn", dotScaled(col("cv"), col("cv")))
    val q = broadcast(queries
      .select(col(qIdCol).as("query_id"), scaled(col(qVecCol)).as("qv"),
        signBucket(col(qVecCol), bits).as("bucket"))
      .withColumn("qn", dotScaled(col("qv"), col("qv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    cand.join(q, Seq("bucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos", round(
        cosineWithNorms(dotScaled(col("cv"), col("qv")), col("cn"), col("qn")), 6))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cos"))
  }

  /** Product-quantization codebook training: split each scaled vector
    * into `m` contiguous `subDim`-wide subvectors, seed 4 cells per
    * subspace from the sign bits of the subspace's first two components
    * (the s7 static-hyperplane family), and take the truncated-mean
    * centroid of every non-empty cell — exactly reproducible integer
    * arithmetic, like the IVF trainer. Returns (sub, cell, centroid,
    * |centroid|²) rows; at most m·4 of them (broadcast-sized collect).
    */
  def pqTrain(df: DataFrame, vecCol: String, m: Int, subDim: Int): Seq[(Int, Int, Seq[Long], Long)] =
    df.select(scaled(col(vecCol)).as("sv"))
      .select(explode(expr(
        s"""transform(sequence(0, ${m - 1}), s -> struct(
           |  s AS sub,
           |  slice(sv, s * $subDim + 1, $subDim) AS subv,
           |  (CASE WHEN sv[s * $subDim] >= 0L THEN 2 ELSE 0 END +
           |   CASE WHEN sv[s * $subDim + 1] >= 0L THEN 1 ELSE 0 END) AS cell))""".stripMargin)).as("e"))
      .select(col("e.sub").as("sub"), col("e.cell").as("cell"),
        posexplode(col("e.subv")).as(Seq("pos", "x")))
      .groupBy(col("sub"), col("cell"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("sub"), col("cell"), col("pos"), expr("s div n").as("c"))
      .groupBy(col("sub"), col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("sub"), col("cell"), expr("transform(pc, e -> e.c)").as("cent"))
      .collect()
      .map { r =>
        val cent = r.getSeq[Long](2)
        (r.getInt(0), r.getInt(1), cent, cent.map(x => x * x).sum)
      }
      .sortBy(t => (t._1, t._2)).toSeq

  /** Product-quantization encoding: per subspace, the nearest trained
    * centroid by exact squared L2 distance over scaled longs
    * (dist = |x|² − 2·x·c + |c|², lowest-cell tiebreak), plus the total
    * reconstruction error. Assignment is ONE map-side projection
    * against centroid literals — after the (tiny) training aggregate,
    * no shuffle touches the vectors at any scale. Output:
    * (id, code0..code{m−1}, err_sq) sorted by id.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, subDim: Int = 16): DataFrame =
    pqCodesWith(df, idCol, vecCol, m, subDim, pqTrain(df, vecCol, m, subDim))

  /** [[pqCodes]] against an ALREADY-trained codebook — callers that
    * also need the codebook for their own literals (the s26 ADC lookup
    * table) train once instead of paying the corpus-pass aggregate
    * twice. */
  def pqCodesWith(df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int,
      trained: Seq[(Int, Int, Seq[Long], Long)]): DataFrame = {
    val bySub = trained.groupBy(_._1)
    val v = df.select(col(idCol).as("vec_id"), scaled(col(vecCol)).as("sv"))
    val withBest = (0 until m).foldLeft(v) { (acc, s) =>
      val subv = expr(s"slice(sv, ${s * subDim + 1}, $subDim)")
      val cands = bySub(s).map { case (_, cell, cent, cn2) =>
        struct(
          (dotScaled(subv, subv) - lit(2L) * dotScaled(subv, typedlit(cent)) + lit(cn2)).as("dist"),
          lit(cell).as("cell"))
      }
      acc.withColumn(s"best$s", array_min(array(cands: _*)))
    }
    withBest.select(
      col("vec_id") +:
        (0 until m).map(s => col(s"best$s.cell").as(s"code$s")) :+
        (0 until m).map(s => col(s"best$s.dist")).reduce(_ + _).as("err_sq"): _*)
      .orderBy(col("vec_id"))
  }
}
