package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the documents table (the training-data
  * pipeline surface): token stats, quality buckets, language-ID
  * confusion, fingerprint dup-groups. Every expression is a codegen'd
  * built-in — these run map-side + one partial aggregate at any scale.
  */
object TextQueries {

  // ---------------------------------------------------------------------
  // t1_token_stats — token counting (whitespace + BPE-ish regex proxy).
  def t1(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("sum_tokens"),
        sum(bpeishTokenCount(col("text"))).as("sum_bpeish"),
        max(tokenCount(col("text"))).as("max_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))

  private val t1Sql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS BIGINT) AS sum_bpeish,
      |  CAST(MAX(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t2_quality_buckets — composite quality score histogram. Per-row
  // double arithmetic is engine-deterministic; only min/max aggregates
  // (order-free) touch the doubles.
  def t2(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("q", qualityScore(col("text")))
      .groupBy(floor(col("q") * 10).cast(IntegerType).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("q")).as("min_q"), max(col("q")).as("max_q"))
      .orderBy(col("bucket"))

  private val t2Sql =
    """WITH scored AS (
      |  SELECT
      |    least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      |       / CAST(greatest(len(string_split(text,' ')), 1) AS DOUBLE)) * 0.4
      |    + (1.0 - least((CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
      |                    / CAST(greatest(length(text),1) AS DOUBLE)) * 10.0, 1.0)) * 0.2 AS q
      |  FROM documents)
      |SELECT CAST(floor(q * 10) AS INTEGER) AS bucket, COUNT(*) AS n,
      |  MIN(q) AS min_q, MAX(q) AS max_q
      |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // t3_langid_confusion — stopword/CJK language-ID vs the labeled lang.
  def t3(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pred", languageId(col("text")))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))

  private def scoreSql(words: Seq[String]): String =
    words.map(w => s"(CASE WHEN contains(' ' || text || ' ', '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")

  private val t3Sql = {
    val en = scoreSql(Seq(" the ", " and ", " of ", " to ", " in "))
    val de = scoreSql(Seq(" der ", " und ", " die ", " nicht ", " ist "))
    val es = scoreSql(Seq(" el ", " que ", " los ", " una ", " por "))
    val fr = scoreSql(Seq(" le ", " et ", " les ", " des ", " une "))
    s"""WITH s AS (
       |  SELECT lang,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS zh,
       |    $en AS s_en, $de AS s_de, $es AS s_es, $fr AS s_fr
       |  FROM documents),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN zh THEN 'zh'
       |         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |         WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       |         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |         WHEN s_fr > 0 THEN 'fr'
       |         ELSE 'und' END AS pred
       |  FROM s)
       |SELECT lang, pred, COUNT(*) AS n FROM p
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t4_fingerprint_groups — md5 content fingerprint + 8-token prefix
  // blocking key; emits prefix groups with >1 member (near-dup
  // candidates) — the blocking pass of a dedup pipeline.
  def t4(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), prefixFingerprint(col("text"), 8).as("pfp"))
      .groupBy(col("pfp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n") > 1)
      .orderBy(col("pfp"))

  private val t4Sql =
    """SELECT md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')) AS pfp,
      |  COUNT(*) AS n, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY pfp""".stripMargin

  // ---------------------------------------------------------------------
  // t5_curation — the composed curation pipeline in one plan: quality
  // gate + language gate + exact-dedup survivor gate, reporting
  // kept/dropped per source with drop reasons. This is the query a
  // training-data curation run actually executes; everything fuses into
  // one scan + one aggregate (dedup adds its survivor semi-join).
  def t5(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fp = fingerprint(col("text"))
    val firstOwner = docs
      .select(col("doc_id"), fp.as("_fp"))
      .groupBy(col("_fp")).agg(min(col("doc_id")).as("_first"))
    val scored = docs
      .withColumn("_fp", fp)
      .join(firstOwner, Seq("_fp"))
      .withColumn("q", qualityScore(col("text")))
      .withColumn("pred", languageId(col("text")))
      .withColumn("is_dup", col("doc_id") =!= col("_first"))
      .withColumn("low_quality", col("q") < 0.5)
      .withColumn("lang_mismatch", col("pred") =!= col("lang"))
    scored.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("is_dup") && !col("low_quality") && !col("lang_mismatch"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(col("is_dup").cast("long")).as("n_dups"),
        sum(col("low_quality").cast("long")).as("n_low_quality"),
        sum(col("lang_mismatch").cast("long")).as("n_lang_mismatch"))
      .orderBy(col("source"))
  }

  private val t5Sql = {
    val en = scoreSql(Seq(" the ", " and ", " of ", " to ", " in "))
    val de = scoreSql(Seq(" der ", " und ", " die ", " nicht ", " ist "))
    val es = scoreSql(Seq(" el ", " que ", " los ", " una ", " por "))
    val fr = scoreSql(Seq(" le ", " et ", " les ", " des ", " une "))
    s"""WITH fp AS (
       |  SELECT *, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS f FROM documents),
       |first_owner AS (SELECT f, min(doc_id) AS first_id FROM fp GROUP BY f),
       |scored AS (
       |  SELECT fp.source,
       |    (fp.doc_id <> fo.first_id) AS is_dup,
       |    (least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
       |     + (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
       |        / CAST(greatest(len(string_split(text,' ')), 1) AS DOUBLE)) * 0.4
       |     + (1.0 - least((CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
       |                     / CAST(greatest(length(text),1) AS DOUBLE)) * 10.0, 1.0)) * 0.2) < 0.5 AS low_quality,
       |    (CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |          WHEN $en >= $de AND $en >= $es AND $en >= $fr AND $en > 0 THEN 'en'
       |          WHEN $de >= $es AND $de >= $fr AND $de > 0 THEN 'de'
       |          WHEN $es >= $fr AND $es > 0 THEN 'es'
       |          WHEN $fr > 0 THEN 'fr' ELSE 'und' END) <> fp.lang AS lang_mismatch
       |  FROM fp JOIN first_owner fo ON fp.f = fo.f)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT is_dup AND NOT low_quality AND NOT lang_mismatch THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       |  CAST(SUM(CASE WHEN low_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |  CAST(SUM(CASE WHEN lang_mismatch THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_mismatch
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t6_split — deterministic train/val/test assignment from a content-
  // stable hash (md5 of the id), the standard reproducible dataset-split
  // op: no sampling state, no shuffle to assign, identical on every
  // engine and at every scale. Hex-prefix boundaries: 'cc' ≈ 79.7%
  // train, 'e6' ≈ +10.2% val, rest test.
  def t6(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(bucket < lit("cc"), lit("train"))
          .when(bucket < lit("e6"), lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("source"), col("split"))
  }

  private val t6Sql =
    """WITH s AS (
      |  SELECT source, doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT source, split, COUNT(*) AS n,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin

  // ---------------------------------------------------------------------
  // t8_mixture_sample — data-mixing by per-source sampling rate (the
  // "how much of each corpus goes into this training run" knob):
  // high-quality tier kept whole, mid tier at 50%, tail at 25%. The
  // keep decision is a pure content-stable hash threshold (md5 of
  // source-salted id, first two hex chars), so it is reproducible,
  // shuffle-free to assign, trivially re-weightable, and identical on
  // every engine and at every scale — per-row filter + one partial
  // aggregate, nothing else.
  def t8(spark: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(concat(col("source"), lit(":"),
      col("doc_id").cast("string"))), 1, 2)
    val tierCut = when(col("source").isin("src0", "src1", "src2", "src3"), lit("zz"))
      .when(col("source").isin("src4", "src5", "src6", "src7", "src8", "src9"), lit("80"))
      .otherwise(lit("40"))
    Tables.documents(spark, dir)
      .withColumn("kept", bucket < tierCut)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("kept"), tokenCount(col("text"))).otherwise(0L)).as("sampled_tokens"))
      .orderBy(col("source"))
  }

  private val t8Sql =
    """WITH s AS (
      |  SELECT source, text,
      |    substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 2) <
      |      (CASE WHEN source IN ('src0','src1','src2','src3') THEN 'zz'
      |            WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN '80'
      |            ELSE '40' END) AS kept
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(SUM(CASE WHEN kept THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
      |    AS sampled_tokens
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t9_redaction — PII-style scrub pass: match a term denylist on word
  // boundaries, count hits, and measure the redacted length. Per-row
  // regexp (compiled once per task, codegen'd) + one partial aggregate;
  // the replace itself is the op a real pipeline would write back out.
  private val RedactPattern = "\\b(customer|account|order)\\b"
  def t9(spark: SparkSession, dir: String): DataFrame = {
    val hits = regexp_count(col("text"), lit(RedactPattern))
    val redacted = regexp_replace(col("text"), RedactPattern, "[REDACTED]")
    Tables.documents(spark, dir)
      .select(col("source"), hits.as("hits"), length(redacted).as("red_len"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("hits").cast("long")).as("total_hits"),
        sum(col("red_len").cast("long")).as("sum_redacted_len"))
      .orderBy(col("source"))
  }

  private val t9Sql =
    """WITH r AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '\b(customer|account|order)\b')) AS hits,
      |    length(regexp_replace(text, '\b(customer|account|order)\b', '[REDACTED]', 'g')) AS red_len
      |  FROM documents)
      |SELECT source,
      |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
      |  CAST(SUM(hits) AS BIGINT) AS total_hits,
      |  CAST(SUM(red_len) AS BIGINT) AS sum_redacted_len
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t10_packing — sequence packing: assign documents to fixed token-
  // budget bins (4096) by running prefix sum WITHIN each source. The
  // per-shard (source) window is the scale-correct shape — a global
  // ORDER BY window funnels everything through one partition; per-shard
  // packing parallelizes across shards exactly as a real pretokenizer
  // run does, at the cost of at most one underfilled final bin per
  // shard. Exclusive prefix (a doc straddling a boundary starts the
  // next bin's count but lands in the bin its prefix reaches).
  def t10(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("toks"))
      .withColumn("prev", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin", expr("prev DIV 4096"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  private val t10Sql =
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT source, toks,
      |    COALESCE(CAST(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev
      |  FROM t)
      |SELECT source, prev // 4096 AS bin, COUNT(*) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS bin_tokens
      |FROM p GROUP BY source, bin ORDER BY source, bin""".stripMargin

  // ---------------------------------------------------------------------
  // t11_source_cap — per-domain quota capping: keep the top 5 documents
  // per source by quality score (doc_id tie-break), the standard "no
  // single domain dominates the mix" curation op. rank-filtered window
  // partitioned BY SOURCE — shards parallelize, k rows survive per
  // shard, nothing global. Quality sums are floor-scaled longs so the
  // oracle hash-matches (double sum order is engine-specific).
  def t11(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q6").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        floor(qualityScore(col("text")) * lit(1000000.0)).cast("long").as("q6"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("q6")).as("sum_q_scaled"),
        max(col("q6")).as("top_q_scaled"),
        min(col("doc_id")).as("min_kept_doc"))
      .orderBy(col("source"))
  }

  private val t11Sql =
    """WITH scored AS (
      |  SELECT source, doc_id,
      |    CAST(floor((
      |      least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |      + (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      |         / CAST(greatest(len(string_split(text,' ')), 1) AS DOUBLE)) * 0.4
      |      + (1.0 - least((CAST(len(regexp_extract_all(text,'[.,!?;:]')) AS DOUBLE)
      |                      / CAST(greatest(length(text),1) AS DOUBLE)) * 10.0, 1.0)) * 0.2
      |    ) * 1000000.0) AS BIGINT) AS q6
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, q6,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY q6 DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT source, COUNT(*) AS n_kept,
      |  CAST(SUM(q6) AS BIGINT) AS sum_q_scaled,
      |  MAX(q6) AS top_q_scaled, MIN(doc_id) AS min_kept_doc
      |FROM r WHERE rn <= 5 GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t7_repetition — Gopher-style repetition quality signals: duplicate-
  // word fraction (1 − distinct/total tokens) and top-bigram fraction
  // (most frequent bigram / all bigrams), histogrammed. The bigram mode
  // comes from the top_shingle_stats codegen kernel — an O(tokens)
  // per-row hash count whose map never leaves the task — replacing the
  // explode → per-bigram aggregate → per-doc aggregate → join shape
  // (three shuffles of every bigram row) with zero shuffles before the
  // final histogram. Same numbers: exact raw n-gram counts.
  def t7(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    import org.apache.spark.sql.GraftColumnBridge
    val docs = Tables.documents(spark, dir)
    val bs = GraftColumnBridge.column(graft.functions.expressions.TopShingleStats(
      GraftColumnBridge.expression(tokens(col("text"))), 2))
    // docs with <2 tokens have no bigrams (null stats) → repf 0.0,
    // exactly the exploded plan's left-join-miss behavior
    val fr = docs.select(
        size(tokens(col("text"))).as("n_tok"),
        size(array_distinct(tokens(col("text")))).as("n_dist"),
        bs.as("bs"))
      .select(
        (lit(1.0) - col("n_dist").cast(DoubleType) /
          greatest(col("n_tok"), lit(1)).cast(DoubleType)).as("dupf"),
        coalesce(col("bs.maxc").cast(DoubleType) /
          col("bs.total").cast(DoubleType), lit(0.0)).as("repf"))
    fr.groupBy(
        floor(col("dupf") * 10).cast(IntegerType).as("dup_bucket"),
        floor(col("repf") * 10).cast(IntegerType).as("rep_bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("dup_bucket"), col("rep_bucket"))
  }

  private val t7Sql =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(string_split(text,' ')) - 1, 0) + 1),
      |    i -> array_to_string(list_slice(string_split(text,' '), i, i + 1), ' '))) AS b
      |  FROM documents),
      |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
      |bs AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS total FROM bc GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id, len(string_split(text,' ')) AS n_tok,
      |    len(list_distinct(string_split(text,' '))) AS n_dist
      |  FROM documents),
      |fr AS (
      |  SELECT
      |    1.0 - CAST(n_dist AS DOUBLE) / CAST(greatest(n_tok, 1) AS DOUBLE) AS dupf,
      |    COALESCE(CAST(maxc AS DOUBLE) / CAST(total AS DOUBLE), 0.0) AS repf
      |  FROM base LEFT JOIN bs ON base.doc_id = bs.doc_id)
      |SELECT CAST(floor(dupf * 10) AS INTEGER) AS dup_bucket,
      |  CAST(floor(repf * 10) AS INTEGER) AS rep_bucket, COUNT(*) AS n
      |FROM fr GROUP BY 1, 2 ORDER BY dup_bucket, rep_bucket""".stripMargin

  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // t12_chunking — fixed-window token chunking with overlap (window 20,
  // stride 15): the standard context-length preparation step before
  // tokenizer packing. Map-only per doc (sequence + slice, no shuffle);
  // chunk identity travels as an md5 so downstream chunk-level dedup
  // can reuse the d1 machinery unchanged.
  def t12(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(col("toks").isNotNull)
      .select(col("doc_id"), col("toks"),
        posexplode(windowStarts(col("toks"), 15)).as(Seq("ci", "start")))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        windowSlice(col("toks"), col("start"), 20).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val t12Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |st AS (
      |  SELECT doc_id, toks,
      |    unnest(range(1, greatest(len(toks), 1) + 1, 15)) AS start
      |  FROM t),
      |c AS (
      |  SELECT doc_id, CAST((start - 1) // 15 AS BIGINT) AS chunk_idx,
      |    list_slice(toks, start, start + 19) AS chunk
      |  FROM st)
      |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(chunk, ' ')) AS chunk_hash
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------------
  // t13_doc_freq — corpus document-frequency stats: top-100 tokens by
  // the number of documents containing them (the DF side of TF-IDF and
  // the stopword-discovery pass of corpus analysis). Per-doc distinct
  // before the aggregate keeps the shuffle one row per (doc, distinct
  // token) with map-side partial counts; the top-k is
  // TakeOrderedAndProject, never a full sort.
  def t13(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(100)

  private val t13Sql =
    """SELECT token, COUNT(*) AS df FROM (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY df DESC, token LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // t14_temperature_mix — temperature-flattened mixture sampling (the
  // T5/Llama mixture recipe at τ = 0.5): each language is kept at rate
  // sqrt(n_min / n_lang), so the smallest language survives whole and
  // big languages are downsampled toward balance. Every arithmetic
  // step is cross-engine-exact: counts are longs, the rate is one IEEE
  // sqrt of one double division (sqrt is correctly rounded — the
  // reason for τ = 0.5 over an arbitrary pow), and the per-doc draw
  // compares a 6-hex-digit md5 prefix against the rate's hex cut
  // rendered by printf('%06x') in both engines. The rate=1 language
  // short-circuits (its cut would be 16^6 — seven digits, which would
  // break the 6-digit string compare).
  def t14(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val mn = counts.agg(min(col("n_docs")).as("mn"))
    val rates = counts.crossJoin(broadcast(mn))
      .withColumn("cut",
        floor(sqrt(col("mn").cast("double") / col("n_docs").cast("double"))
          * lit(16777216.0)).cast("long"))
    val draw = substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6)
    Tables.documents(spark, dir)
      .join(broadcast(rates), Seq("lang"))
      .withColumn("kept",
        when(col("n_docs") === col("mn"), lit(true))
          .otherwise(draw < format_string("%06x", col("cut"))))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("cut")).as("cut"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), tokenCount(col("text"))).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  private val t14Sql =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |m AS (SELECT min(n_docs) AS mn FROM c),
      |r AS (
      |  SELECT lang, n_docs, mn,
      |    CAST(floor(sqrt(CAST(mn AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 16777216.0) AS BIGINT) AS cut
      |  FROM c, m),
      |k AS (
      |  SELECT d.lang, r.n_docs, r.cut, d.text,
      |    CASE WHEN r.n_docs = r.mn THEN TRUE
      |         ELSE substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 6)
      |              < printf('%06x', r.cut) END AS kept
      |  FROM documents d JOIN r ON d.lang = r.lang)
      |SELECT lang, CAST(MAX(n_docs) AS BIGINT) AS n_docs, MAX(cut) AS cut,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN kept THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // t15_fim_spans — fill-in-the-middle span extraction (the FIM/UL2
  // training-target preparation step): docs with ≥ 6 tokens get one
  // deterministic middle span of 4 tokens at
  // start = 2 + (doc_id·2654435761 mod 2^32) mod (n − 5), guaranteeing
  // non-empty prefix and suffix; the three segments travel as md5s.
  // The mod-2^32 multiply is computed via a 16-bit split
  // ((hi·A mod 2^16)·2^16 + lo·A, then mod 2^32) so every intermediate
  // stays below 2^48 — exact BIGINT in both engines for ANY doc_id
  // (a direct doc_id·A overflows Long past doc_id ≈ 3.47e9, where ANSI
  // Spark throws but DuckDB silently promotes to HUGEINT). For
  // doc_id < 2^32 the value is bit-identical to the naive product.
  def t15(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val A = lit(2654435761L)
    val x0 = pmod(col("doc_id"), lit(4294967296L))
    val knuth = pmod(
      pmod(shiftright(x0, 16) * A, lit(65536L)) * lit(65536L) + pmod(x0, lit(65536L)) * A,
      lit(4294967296L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("n"))
      .filter(col("n") >= 6)
      .withColumn("s", (lit(2) + pmod(knuth, col("n") - lit(5))).cast("int"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("s").cast("long").as("span_start"),
        md5(array_join(slice(col("toks"), lit(1), col("s") - lit(1)), " ")).as("prefix_md5"),
        md5(array_join(slice(col("toks"), col("s"), lit(4)), " ")).as("middle_md5"),
        md5(array_join(slice(col("toks"), col("s") + lit(4),
          (col("n") - col("s") - lit(3)).cast("int")), " ")).as("suffix_md5"))
      .orderBy(col("doc_id"))
  }

  private val t15Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT doc_id, toks, n,
      |    2 + (((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536
      |         + ((doc_id % 4294967296) % 65536) * 2654435761)
      |        % 4294967296 % (n - 5) AS s
      |  FROM t WHERE n >= 6)
      |SELECT doc_id, n AS n_tokens, CAST(s AS BIGINT) AS span_start,
      |  md5(array_to_string(list_slice(toks, 1, s - 1), ' ')) AS prefix_md5,
      |  md5(array_to_string(list_slice(toks, s, s + 3), ' ')) AS middle_md5,
      |  md5(array_to_string(list_slice(toks, s + 4, n), ' ')) AS suffix_md5
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t16_pmi_bigrams — PMI collocation mining (the phrase-discovery /
  // tokenizer-merge-candidate pass): adjacent-bigram counts vs unigram
  // counts, top-100 by pointwise mutual information among bigrams seen
  // ≥ 5 times. Bigram extraction is a map-side array transform (no
  // per-token shuffle beyond the two count aggregates); the two
  // unigram lookups are equi-joins on the already-aggregated (small)
  // count tables; the top-k is TakeOrderedAndProject. The PMI ratio
  // c_xy·N_u² / (c_x·c_y·N_b) is kept exact: DECIMAL(38,0) products
  // with a scaled integral divide (ppm) — `div` truncates and DuckDB's
  // `//` floors, identical for these all-positive operands — so the
  // ordering and the hash gate never touch a transcendental log.
  def t16(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(tokens(col("text")).as("toks"))
      .filter(col("toks").isNotNull)
    val bigrams = toks
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgc = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("nu"))
      .crossJoin(bgc.agg(sum(col("c_xy")).as("nb")))
    bgc.filter(col("c_xy") >= 5)
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi_ppm", expr(
        """(CAST(c_xy AS DECIMAL(38,0)) * nu * nu * 1000000)
          | div (CAST(c_x AS DECIMAL(38,0)) * c_y * nb)""".stripMargin))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"), col("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
      .limit(100)
  }

  private val t16Sql =
    """WITH t AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT u.w1, u.w2 FROM (
      |    SELECT unnest([struct_pack(w1 := toks[i], w2 := toks[i + 1])
      |                   for i in range(1, len(toks))], recursive := true)
      |    FROM t WHERE len(toks) >= 2) u(w1, w2)),
      |bgc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
      |uni AS (SELECT w, COUNT(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
      |tot AS (SELECT (SELECT SUM(c) FROM uni) AS nu, (SELECT SUM(c_xy) FROM bgc) AS nb)
      |SELECT b.w1, b.w2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
      |  CAST((b.c_xy::HUGEINT * t.nu * t.nu * 1000000)
      |       // (u1.c::HUGEINT * u2.c * t.nb) AS BIGINT) AS pmi_ppm
      |FROM bgc b CROSS JOIN tot t
      |  JOIN uni u1 ON b.w1 = u1.w
      |  JOIN uni u2 ON b.w2 = u2.w
      |WHERE b.c_xy >= 5
      |ORDER BY pmi_ppm DESC, w1, w2 LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // t17_bpe_pairs — the inner loop of BPE tokenizer training: count
  // adjacent symbol-pair frequencies inside each whitespace token (the
  // statistic a merge round maximizes), reported as the top-50 character
  // pairs. One explode per token position via sequence+transform HOFs
  // (no UDF, stays in codegen), one partial-aggregated groupBy on the
  // 2-char pair key, TakeOrderedAndProject for the top-k — map-side
  // combine means the exchange carries one row per distinct pair per
  // task (vocabulary-bounded, ~1k pairs), not one per occurrence: the
  // same plan shape a full BPE trainer iterates. Tokens shorter than 2
  // chars are filtered BEFORE the sequence HOF — Spark's sequence(1, 0)
  // would generate a DESCENDING sequence, not an empty one (DuckDB's
  // range(1, 1) is empty); the filter keeps the engines aligned.
  def t17(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)

  private val t17Sql =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t
      |  FROM documents WHERE text IS NOT NULL),
      |p AS (
      |  SELECT unnest([substr(t, i, 2) for i in range(1, len(t))]) AS pair
      |  FROM tok WHERE len(t) >= 2)
      |SELECT pair, COUNT(*) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // t18_leakage_split — CLUSTER-AWARE train/val/test split: t6's
  // deterministic hash split leaks near-duplicates across splits (a doc
  // in train and its near-copy in test inflates eval), so the split key
  // here is the near-dup GROUP — the MinHash-LSH connected component
  // (d5's engine), singletons falling back to their own doc_id. Every
  // member of a cluster hashes the same gid, so a cluster lands in
  // exactly one split BY CONSTRUCTION (Round4OperatorsSpec pins it and
  // pins that the naive split actually does leak on this data — the op
  // is not vacuous). Scale shape: the component table is bounded by the
  // dup set; the corpus joins it once (left) on doc_id and everything
  // after is a hash of a scalar — no text ever shuffles.
  def t18(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = graft.dedup.Dedup.minhashCandidatePairs(
      docs, "doc_id", "text", shingleN = 3, k = 8, bands = 4)
    val comp = graft.dedup.ConnectedComponents
      .connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val bucket = substring(md5(concat(lit("grp:"), col("gid").cast("string"))), 1, 2)
    docs.select(col("doc_id")).join(comp, Seq("doc_id"), "left")
      .withColumn("gid", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(bucket < lit("cc"), lit("train"))
          .when(bucket < lit("e6"), lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("gid")).as("n_groups"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))
  }

  private val t18Sql =
    s"""WITH RECURSIVE ${DedupQueries.pairCtes},
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |        UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |comp AS (SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a),
       |g AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS gid
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
       |s AS (
       |  SELECT doc_id, gid,
       |    CASE WHEN substr(md5('grp:' || CAST(gid AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       |         WHEN substr(md5('grp:' || CAST(gid AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM g)
       |SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT gid) AS n_groups,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------------
  // t19_df_score — token-commonness scoring (the statistical-LM half of
  // a Gopher-style quality filter): each document's MEAN corpus document
  // frequency of its tokens, in basis points of the corpus size —
  // boilerplate-heavy docs score high (their tokens are everywhere),
  // unusual docs low — histogrammed at 250 bp per bucket. The score is
  // exact in both engines at ANY scale: the products route through
  // DECIMAL(38,0) (DuckDB promotes SUM to HUGEINT; a plain Long
  // `sum_df * 10000` would wrap past ~1e15 doc·token products) with an
  // integral `div`.
  // Scale shape: the DF table is vocabulary-bounded and BROADCASTS back
  // onto the token stream (the corpus size rides along via a 1-row
  // cross join — no driver collect); per-doc scoring is one
  // partial-agg pass over the exploded tokens.
  def t19(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val dfTab = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(nd)
    toks.join(broadcast(dfTab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("df")).as("sum_df"),
        max(col("n_docs")).as("n_docs"))
      .select(col("doc_id"),
        expr("""(CAST(sum_df AS DECIMAL(38,0)) * 10000)
               | div (CAST(n_toks AS DECIMAL(38,0)) * n_docs)""".stripMargin)
          .as("mean_df_bp"))
      .groupBy(expr("mean_df_bp div 250").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("bucket"))
  }

  private val t19Sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM d),
      |nd AS (SELECT COUNT(*) AS n_docs FROM d),
      |df AS (
      |  SELECT token, COUNT(*) AS df
      |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_toks, SUM(df) AS sum_df
      |  FROM tk JOIN df USING (token) GROUP BY doc_id),
      |bp AS (
      |  SELECT doc_id, (sum_df * 10000) // (n_toks * n_docs) AS mean_df_bp
      |  FROM per, nd)
      |SELECT CAST(mean_df_bp // 250 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM bp GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // t20_bpe_train — the ITERATED BPE trainer loop (t17 counts one
  // round's pairs; this runs the actual merge iteration): 3 rounds of
  // count pairs → pick the max-frequency pair (lexicographic
  // tie-break) → apply the merge corpus-wide → recount. Output is the
  // learned merge table (round, pair, frequency at selection) — what a
  // tokenizer trainer persists.
  //
  // Merge application without a UDF: each token rides as a string of
  // delimiter-wrapped symbols (\u0001 sym \u0002 per symbol), so applying
  // merge (a, b) is ONE literal `replace` of "<1>a<2><1>b<2>"
  // with "<1>ab<2>" (angle brackets = the \u0001/\u0002 wrappers) — string replace scans left-to-right
  // non-overlapping, which IS the BPE in-round merge rule ("aaa" with
  // pair (a,a) → ["aa","a"]), and the wrappers make adjacent matches
  // share no characters (a bare space-joined form drops every second
  // merge: the shared separator is consumed by the previous match).
  // Both engines' replace has identical scan semantics, which is what
  // makes the gate hash-matchable.
  //
  // Scale shape — the weighted-vocabulary trick real BPE trainers use:
  // pair statistics are IDENTICAL whether counted over token
  // occurrences or over DISTINCT tokens weighted by occurrence count
  // (a merge never crosses a token boundary, so every occurrence of
  // the same token contributes the same pairs). So the corpus is
  // scanned ONCE — a map-side-combined groupBy(token) whose exchange
  // carries the vocabulary, not occurrences — and the 3-round merge
  // loop (pair count → argmax → replace) iterates on the pinned
  // vocabulary-bounded table. At 100 TB: one corpus pass total, and
  // each round's pair-explode touches |vocab| strings, not |corpus|.
  // The driver still sees exactly ONE ROW per round (the argmax pair —
  // bounded by construction, the CMS-anchor/IVF-codebook pattern);
  // broadcast back as a literal, the merge stays inside codegen.
  def t20(spark: SparkSession, dir: String): DataFrame = graft.Pins.scoped {
    val x1 = "\u0001"; val x2 = "\u0002"
    val vocab = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("t")).agg(count(lit(1)).as("w"))
      .select(regexp_replace(col("t"), "(.)", s"$x1$$1$x2").as("s"), col("w"))
      .transform(graft.Pins.pinForFanout(_))
    var toks = vocab
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to 3) {
      val top = toks
        .select(split(trim(col("s"), x1 + x2), x2 + x1).as("syms"), col("w"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
            "'a', element_at(syms, i), 'b', element_at(syms, i + 1)))")).as("p"),
          col("w"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("w")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).head()
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((round, a, b, n))
      toks = toks.select(call_function("replace", col("s"),
        lit(x1 + a + x2 + x1 + b + x2), lit(x1 + a + b + x2)).as("s"), col("w"))
    }
    import spark.implicits._
    merges.result().toDF("merge_round", "left_sym", "right_sym", "n")
      .orderBy(col("merge_round"))
  }

  /** One oracle BPE round: pair counts → argmax merge → corpus-wide
    * replace. `carry` prefixes extra columns (e.g. "source, ") through
    * the replace stage for queries that report per-group stats. */
  private def t20Round(
      prev: String, p: String, m: String, s: String, carry: String = ""): String =
    s"""$p AS (
       |  SELECT u.a, u.b, COUNT(*) AS n FROM (
       |    SELECT unnest([struct_pack(a := syms[i], b := syms[i + 1])
       |                   for i in range(1, len(syms))], recursive := true)
       |    FROM (SELECT string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS syms
       |          FROM $prev)
       |    WHERE len(syms) >= 2) u(a, b)
       |  GROUP BY 1, 2),
       |$m AS (SELECT a, b, n FROM $p ORDER BY n DESC, a, b LIMIT 1),
       |$s AS (
       |  SELECT ${carry}replace(s, chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
       |                 chr(1) || m.a || m.b || chr(2)) AS s
       |  FROM $prev CROSS JOIN $m m)""".stripMargin

  private val t20Sql =
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |s0 AS (
       |  SELECT regexp_replace(t, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s
       |  FROM tok WHERE len(t) >= 2),
       |${t20Round("s0", "p1", "m1", "s1")},
       |${t20Round("s1", "p2", "m2", "s2")},
       |${t20Round("s2", "p3", "m3", "s3")}
       |SELECT * FROM (
       |  SELECT 1 AS merge_round, a AS left_sym, b AS right_sym, n FROM m1
       |  UNION ALL SELECT 2, a, b, n FROM m2
       |  UNION ALL SELECT 3, a, b, n FROM m3)
       |ORDER BY merge_round""".stripMargin

  // ---------------------------------------------------------------------
  // t21_bpe_encode — APPLY the trained tokenizer (t20 learns the
  // merges; this encodes the corpus with them): after 3 merge rounds,
  // report per-source token/symbol statistics — the compression a
  // tokenizer actually buys, the number a data-mixture planner needs
  // per source. Encoding is the same map-only replace chain; per-token
  // symbol count = array length of the split, character count =
  // string length minus the two wrapper chars per symbol (exact
  // algebra on the wrapped form, no re-tokenization). sum_syms <
  // sum_chars by exactly the number of merge applications.
  def t21(spark: SparkSession, dir: String): DataFrame = graft.Pins.scoped {
    val x1 = "\u0001"; val x2 = "\u0002"
    // Same weighted-vocabulary shape as t20, keyed (source, token) so
    // the final per-source stats stay exact; merge selection
    // re-aggregates the per-source weights to the global pair count
    // (still vocabulary-bounded). The corpus is scanned once.
    val vocab = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("w"))
      .select(col("source"),
        regexp_replace(col("t"), "(.)", s"$x1$$1$x2").as("s"), col("w"))
      .transform(graft.Pins.pinForFanout(_))
    var toks = vocab
    // not on graft.Fixpoint: the rounds are map-only replaces over the
    // pinned vocabulary and pin nothing
    for (_ <- 1 to 3) {
      val top = toks
        .select(split(trim(col("s"), x1 + x2), x2 + x1).as("syms"), col("w"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
            "'a', element_at(syms, i), 'b', element_at(syms, i + 1)))")).as("p"),
          col("w"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("w")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).head()
      val (a, b) = (top.getString(0), top.getString(1))
      toks = toks.select(col("source"), call_function("replace", col("s"),
        lit(x1 + a + x2 + x1 + b + x2), lit(x1 + a + b + x2)).as("s"), col("w"))
    }
    // The per-source aggregate is bounded by #sources; materialize it
    // before the scope frees the vocabulary pin (the drainToLocal
    // pattern — the lazy plan must not outlive the pin that feeds it).
    val agg = toks
      .withColumn("n_syms",
        size(split(trim(col("s"), x1 + x2), x2 + x1)).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("w")).as("n_toks"),
        sum(col("w") * (length(col("s")) - lit(2) * col("n_syms")))
          .as("sum_chars"),
        sum(col("w") * col("n_syms")).as("sum_syms"))
      .orderBy(col("source"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    spark.createDataFrame(rows, agg.schema)
  }

  private val t21Sql =
    s"""WITH tok AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |s0 AS (
       |  SELECT source, regexp_replace(t, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s
       |  FROM tok WHERE len(t) >= 2),
       |${t20Round("s0", "p1", "m1", "s1", carry = "source, ")},
       |${t20Round("s1", "p2", "m2", "s2", carry = "source, ")},
       |${t20Round("s2", "p3", "m3", "s3", carry = "source, ")},
       |enc AS (
       |  SELECT source,
       |    len(string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1))) AS n_syms,
       |    len(s) AS len_s
       |  FROM s3)
       |SELECT source, COUNT(*) AS n_toks,
       |  CAST(SUM(len_s - 2 * n_syms) AS BIGINT) AS sum_chars,
       |  CAST(SUM(n_syms) AS BIGINT) AS sum_syms
       |FROM enc GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t22_stratified_sample — EXACT-QUOTA stratified sampling (up to 50
  // docs per source), the mixture-construction primitive a data planner
  // runs after fixing per-source token budgets. Two design points:
  //   1. The "random" order is a deterministic multiplicative hash,
  //      ((doc_id % 2^26) * 2654435761) % 2^32 (Knuth's golden-ratio
  //      constant; pre-mod keeps the product < 2^58 — d19's overflow
  //      lesson, since Spark wraps silently where DuckDB raises) — so
  //      BOTH engines compute the identical BIGINT with plain
  //      arithmetic; no engine-hash parity needed, and
  //      the sample is reproducible run over run (what a training-data
  //      freeze requires). Bernoulli `sample()` gives neither exact
  //      quotas nor cross-engine determinism.
  //   2. The per-stratum quota rides the typed TopKAggregator, so each
  //      map task's partial aggregate keeps at most 50 (key, id) pairs
  //      per stratum and the exchange carries the SAMPLE, not the
  //      corpus — the window-rank form would shuffle every row to its
  //      stratum's partition (and skew with the biggest source). The
  //      key is < 2^32 so its Double carrier is exact. Strata smaller
  //      than the quota are taken whole.
  def t22(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator.TopK(50))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        expr("CAST(-(((doc_id % 67108864) * 2654435761L) % 4294967296L) AS DOUBLE)").as("score"))
      .groupBy(col("source"))
      .agg(topk(col("score"), col("doc_id")).as("smp"))
      .select(col("source"), posexplode(col("smp")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("e.id").as("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  private val t22Sql =
    """WITH k AS (
      |  SELECT source, doc_id,
      |    ((doc_id % 67108864) * 2654435761) % 4294967296 AS smpkey
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY smpkey, doc_id) AS rk
      |  FROM k)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 50 ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------------
  // t23_tfidf_topk — top-3 TF-IDF terms per document (the keyword /
  // topic-signal extraction step of a curation pipeline), INTEGER-EXACT:
  // idf rides as (N * 1e6) div df — BIGINT floor division both engines
  // compute identically — and score = tf * idf_scaled, so the ranking
  // needs no transcendental log and no float tolerance (t16's PMI
  // discipline). Scale shape: tf is one map-side-combined (doc, term)
  // aggregate; df aggregates the tf table (vocabulary-bounded exchange);
  // the df join shuffles on the term key; the per-doc top-3 is a window
  // bounded by document length (thousands of terms, not corpus-sized
  // partitions). N is one driver scalar (the CMS-anchor pattern).
  def t23(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val n = docs.count()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("t"))
    tf.join(df, Seq("t"))
      .withColumn("score_scaled", expr(s"tf * ((${n}L * 1000000L) div df)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("t").as("term"), col("score_scaled"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val t23Sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |nn AS (SELECT COUNT(*) AS n FROM d),
      |tf AS (
      |  SELECT doc_id, t, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d) u
      |  WHERE len(t) >= 2 GROUP BY doc_id, t),
      |dfx AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
      |sc AS (
      |  SELECT tf.doc_id, tf.t,
      |    CAST(tf.tf * ((nn.n * 1000000) // dfx.df) AS BIGINT) AS score_scaled
      |  FROM tf JOIN dfx USING (t) CROSS JOIN nn),
      |r AS (
      |  SELECT doc_id, t, score_scaled,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY score_scaled DESC, t) AS rk
      |  FROM sc)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, t AS term, score_scaled
      |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------------
  // t24_fuzzy_pairs — EDIT-DISTANCE near-dup detection (the OCR-noise /
  // typo-variant complement to the hash-family dedups: minhash misses
  // single-character perturbations that shift every shingle). Classic
  // blocked record-linkage shape: candidate block = exact first-10-chars
  // key (map-side, no all-pairs), a cheap |Δn_chars| ≤ 40 length
  // prefilter (a NECESSARY condition for prefix distance ≤ 5 when docs
  // differ by whole-suffix edits — it prunes before the O(L²) DP runs),
  // then `levenshtein` on the 40-char prefix confirms. Both engines
  // implement classic Wagner–Fischer, so distances compare exactly.
  // Scale shape: one equi-join on the block key (hot prefixes would
  // route through SkewJoin.skewSafeEquiJoin exactly as d4 does); the
  // DP only ever sees within-block survivors of the length gate.
  /** t24's candidate pairs without the gate ordering — shared with the
    * d14 entity-resolution gate so the edge set cannot diverge between
    * the pair gate and the clustering built on it (same sharing rule as
    * knnEdges for s10/s11). */
  def fuzzyPairs(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 10).as("blk"),
        substring(col("text"), 1, 40).as("pre"), col("n_chars"))
    val a = p.select(col("doc_id").as("doc_a"), col("blk"),
      col("pre").as("pre_a"), col("n_chars").as("len_a"))
    val b = p.select(col("doc_id").as("doc_b"), col("blk"),
      col("pre").as("pre_b"), col("n_chars").as("len_b"))
    a.join(b, Seq("blk"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(col("len_a") - col("len_b")) <= 40)
      .withColumn("dist", levenshtein(col("pre_a"), col("pre_b")))
      .filter(col("dist") <= 5)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist"))
  }

  def t24(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  private val t24Sql =
    """WITH p AS (
      |  SELECT doc_id, substr(text, 1, 10) AS blk, substr(text, 1, 40) AS pre,
      |    n_chars
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
      |FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE abs(a.n_chars - b.n_chars) <= 40
      |  AND levenshtein(a.pre, b.pre) <= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // t25_outlier_docs — robust (median/MAD) outlier detection per source:
  // the data-quality screen that survives the heavy-tailed length
  // distributions a mean/stddev z-score chokes on. All-integer: med =
  // lower median of n_chars (rank-at-ceil(n/2), q26's exact-median
  // machinery partitioned by source), MAD = lower median of |x − med|,
  // outlier ⇔ |x − med| > 3·MAD. Scale shape: two source-partitioned
  // window passes (each one exchange on the same key — no global sort),
  // a #sources-row broadcast carrying med/MAD back, and a tiny rollup.
  def t25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    def lowerMedian(df: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("source")).orderBy(col(v), col("doc_id"))
      df.withColumn("_rn", row_number().over(w))
        .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
        .filter(col("_rn") === expr("(_cnt + 1) div 2"))
        .select(col("source"), col(v).as(out))
    }
    val med = lowerMedian(docs, "n_chars", "med")
    val withDev = docs.join(broadcast(med), Seq("source"))
      .withColumn("dev", abs(col("n_chars") - col("med")))
    val mad = lowerMedian(
      withDev.select(col("doc_id"), col("source"), col("dev")), "dev", "mad")
    withDev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("dev") > lit(3) * col("mad"), col("doc_id"))).as("min_outlier"),
        min(col("med")).as("med"), min(col("mad")).as("mad"))
      .orderBy(col("source"))
  }

  private val t25Sql =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |r1 AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM d),
      |med AS (SELECT source, n_chars AS med FROM r1 WHERE rn = (cnt + 1) // 2),
      |dev AS (
      |  SELECT d.doc_id, d.source, abs(d.n_chars - med.med) AS dev, med.med
      |  FROM d JOIN med USING (source)),
      |r2 AS (
      |  SELECT source, dev,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY dev, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM dev),
      |mad AS (SELECT source, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  MIN(CASE WHEN dev.dev > 3 * mad.mad THEN dev.doc_id END) AS min_outlier,
      |  MIN(dev.med) AS med, MIN(mad.mad) AS mad
      |FROM dev JOIN mad USING (source)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t26_extract_table — regex extraction to a long table (the
  // PII-scan / entity-mention / link-harvest shape: pull every match of
  // a pattern out of every document into (doc, match) rows, then
  // profile). `regexp_extract_all` runs map-side inside codegen; the
  // explode multiplies rows BEFORE the exchange but only the short
  // match strings shuffle, never the documents. The character-class
  // pattern `[a-z]{6,}` keeps both engines' regex dialects trivially
  // aligned (t9's redaction pins the fancier lookaround-free parity).
  def t26(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z]{6,}"), lit(0))).as("m"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("m"))

  private val t26Sql =
    """SELECT m, COUNT(*) AS n_matches,
      |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
      |FROM (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS m
      |  FROM documents)
      |GROUP BY m ORDER BY m""".stripMargin

  // ---------------------------------------------------------------------
  // t27_lm_score — bigram language-model scoring (the perplexity-style
  // quality filter a pretraining pipeline runs with a cheap n-gram LM:
  // docs whose transitions the corpus has never seen score low): train
  // MLE bigram stats over the whole corpus, then score every doc by its
  // average transition probability, all in ppm fixed-point — the
  // per-bigram score is (c_xy·10⁶) div c_x, the doc score the integer
  // mean of those, so no log/float ever enters the hash. Plan shape:
  // the count tables are VOCABULARY-bounded (map-side combine shrinks
  // the exchange to distinct grams per task, the t16 property); the
  // doc-bigram stream then equi-joins them — at 100 TB the stream
  // shuffles on the gram keys while the heavy text column stays behind
  // (only (doc_id, w1, w2) rows move), and the final per-doc mean is
  // one partial-agg groupBy on doc_id. Docs under 2 tokens have no
  // transitions and drop (both engines).
  def t27(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val docBigrams = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgc = docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_x"))
    docBigrams
      .join(bgc, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select(col("doc_id"), expr("(c_xy * 1000000L) div c_x").as("ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(ppm) div count(1)").as("lm_ppm"))
      .orderBy(col("doc_id"))
  }

  private val t27Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT doc_id, u.w1, u.w2 FROM (
      |    SELECT doc_id,
      |      unnest([struct_pack(w1 := toks[i], w2 := toks[i + 1])
      |              for i in range(1, len(toks))], recursive := true)
      |    FROM t WHERE len(toks) >= 2) u(doc_id, w1, w2)),
      |bgc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
      |uni AS (SELECT w1, COUNT(*) AS c_x
      |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1)
      |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM((c.c_xy * 1000000) // u.c_x) // COUNT(*) AS BIGINT) AS lm_ppm
      |FROM bg JOIN bgc c ON bg.w1 = c.w1 AND bg.w2 = c.w2
      |  JOIN uni u ON bg.w1 = u.w1
      |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t28_inverted_index — the search-index build step: token → document
  // frequency, total term frequency, and a bounded postings list (first
  // 20 doc_ids ascending). Scale shape: ONE corpus explode into
  // (token, doc) partial counts (map-side combine collapses in-doc
  // repeats before the exchange), then a vocabulary-keyed aggregate;
  // the postings array is 20-bounded BEFORE it rides any further
  // operator, and the gate output is capped by TakeOrderedAndProject
  // (top-500 by df), so neither exchange nor result grows with corpus
  // size beyond the vocabulary. This is the batch half of an inverted
  // index; serving-side sharding would bucket by token.
  def t28(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("n"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("n")).as("tf"),
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 20), ",")
          .as("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(500)

  private val t28Sql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT token, doc_id, COUNT(*) AS n FROM t GROUP BY 1, 2)
      |SELECT token, COUNT(*) AS df, CAST(SUM(n) AS BIGINT) AS tf,
      |  array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',')
      |    AS postings
      |FROM g GROUP BY token ORDER BY df DESC, token LIMIT 500""".stripMargin

  // ---------------------------------------------------------------------
  // t29_feature_hash — the hashing-trick featurizer (Weinberger et al.,
  // "Feature Hashing for Large Scale Multitask Learning"): every token
  // maps to one of 64 buckets via the first 8 hex chars of its md5, with
  // a ± sign from the 9th hex digit's parity so collisions cancel in
  // expectation. Gate output is the CORPUS-level profile per bucket
  // (64 rows at any sf): docs touched, signed weight sum, and the L1
  // mass of per-doc weights. Scale shape: bucket+sign are map-side
  // scalar expressions; the only exchanges carry (doc, bucket) partial
  // sums (≤ 64/doc) and the 64-row final aggregate. md5-derived
  // bucketing is engine-portable bit-for-bit (conv ≡ 0x-cast), unlike
  // murmur-based hashes which differ across engines.
  def t29(spark: SparkSession, dir: String): DataFrame = {
    val dims = 64
    val tok = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("h", md5(col("token")))
      .select(col("doc_id"),
        (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % dims).as("bucket"),
        when(conv(substring(col("h"), 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("sign"))
    tok.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("w"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_w"),
        sum(abs(col("w"))).as("l1"))
      .orderBy(col("bucket"))
  }

  private val t29Sql =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT doc_id,
      |    CAST(CAST(concat('0x', substr(md5(token), 1, 8)) AS UBIGINT) % 64
      |      AS BIGINT) AS bucket,
      |    CASE WHEN CAST(concat('0x', substr(md5(token), 9, 1)) AS UBIGINT) % 2 = 0
      |      THEN 1 ELSE -1 END AS sign
      |  FROM t),
      |d AS (SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS w
      |      FROM f GROUP BY 1, 2)
      |SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS sum_w,
      |  CAST(SUM(ABS(w)) AS BIGINT) AS l1
      |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // t30_ngram_novelty — per-document NOVELTY scoring: the fraction of a
  // doc's distinct 3-gram shingles whose FIRST corpus occurrence (by
  // doc_id order) is this doc — the curation signal that separates
  // original content from recombined boilerplate, and the per-doc dual
  // of d13's span scrubbing. Shapes: shingling + dedup + hashing happen
  // entirely MAP-SIDE inside one higher-order projection (text never
  // shuffles — only 60-bit shingle hashes do); global first-owner is a
  // min-combine per hash; the ownership join keys on the same hash, so
  // at 100× both exchanges carry shingle-cardinality scalars. md5-hex
  // hashing is the t29/v14 bit-portable convention.
  def t30(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("ts")) - 3),
          i => conv(substring(md5(concat_ws(" ",
            element_at(col("ts"), i + 1),
            element_at(col("ts"), i + 2),
            element_at(col("ts"), i + 3))), 1, 15), 16, 10).cast("long"))))
          .as("h"))
    // No shingle-cardinality JOIN: both outputs are aggregates of sh —
    // n_shingles is a per-doc count, and n_novel is the per-doc count of
    // the OWNER table itself (a doc's novel shingles are exactly the
    // hashes whose min-doc is that doc). The old ownership join shuffled
    // every (doc, h) pair a second time; this shape's exchanges carry
    // only aggregate partials (measured 2.6 → 1.2s at sf0.1).
    val novel = sh.groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_shingles"))
      .orderBy(col("doc_id"))
  }

  private val t30Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts
      |  FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
      |g AS (
      |  SELECT doc_id,
      |    UNNEST(list_distinct(list_transform(range(0, len(ts) - 2),
      |      i -> CAST(CAST(concat('0x', substr(md5(
      |             concat_ws(' ', ts[i + 1], ts[i + 2], ts[i + 3])), 1, 15))
      |           AS UBIGINT) AS BIGINT)))) AS h
      |  FROM d),
      |o AS (SELECT h, MIN(doc_id) AS owner FROM g GROUP BY 1)
      |SELECT g.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000 // COUNT(*) AS novelty_ppm
      |FROM g JOIN o USING (h)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t32_pps_sample — SYSTEMATIC probability-proportional-to-size
  // sampling of the corpus by document weight (n_chars): lay the docs
  // on a deterministic pseudo-random circle (t22's Knuth-hash order),
  // prefix-sum the weights, and take one hit at every multiple of
  // W/64 — each doc's inclusion count is how many multiples its
  // cumulative interval covers, so Σ multiplicity == 64 EXACTLY and a
  // doc with w ≥ W/64 is ALWAYS sampled (the Horvitz–Thompson property
  // a training-mixture sampler wants; i.i.d. Bernoulli gives neither).
  // Everything is integer: hits in [cum−w, cum) = (cum·64) div W −
  // ((cum−w)·64) div W. Scale shape: the circle order + running sum is
  // [[RelationalQueries.globalPrefixSum]] (range partitions + offset
  // table, no single-reducer window), W rides a 1-row broadcast, and
  // the multiplicity filter is map-side — the exchange carries
  // doc-cardinality scalars, never text. BIGINT bound: cum·64 needs
  // corpus chars < 1.4e17 — beyond 100 TB of text.
  def t32(spark: SparkSession, dir: String): DataFrame = {
    // pre-mod before the Knuth multiply (d19's overflow lesson): a bare
    // doc_id * 2654435761 wraps silently in Spark for doc_id ≳ 3.47e9
    // while DuckDB raises — the pre-mod keeps the product < 2^58 in both.
    val w = Tables.documents(spark, dir)
      .select(col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        expr("((doc_id % 67108864) * 2654435761L) % 4294967296L").as("smpkey"))
    val cum = RelationalQueries.globalPrefixSum(w,
      Seq(col("smpkey"), col("doc_id")), col("w"), "cum")
    val tot = w.agg(sum(col("w")).as("tot_w"))
    cum.crossJoin(broadcast(tot)) // 1-row scalar ride-along
      .withColumn("multiplicity",
        expr("(cum * 64) div tot_w - ((cum - w) * 64) div tot_w"))
      .filter(col("multiplicity") >= 1)
      .select(col("doc_id"), col("w"), col("multiplicity"))
      .orderBy(col("doc_id"))
  }

  private val t32Sql =
    """WITH k AS (
      |  SELECT doc_id, greatest(n_chars, 1) AS w,
      |    ((doc_id % 67108864) * 2654435761) % 4294967296 AS smpkey
      |  FROM documents),
      |c AS (SELECT doc_id, w,
      |  SUM(w) OVER (ORDER BY smpkey, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM k),
      |t AS (SELECT SUM(w) AS tot_w FROM k)
      |SELECT doc_id, w,
      |  CAST((cum * 64) // tot_w - ((cum - w) * 64) // tot_w AS BIGINT)
      |    AS multiplicity
      |FROM c CROSS JOIN t
      |WHERE (cum * 64) // tot_w - ((cum - w) * 64) // tot_w >= 1
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t33_hash_collisions — collision audit for t29's feature-hashing
  // space at several widths (2^6, 2^10, 2^16): distinct token TYPES vs
  // occupied buckets, collisions and load in exact ppm — the number
  // that justifies (or vetoes) a hashing-trick width before a 100 TB
  // featurization run. One pass builds the type table (token explode
  // collapses map-side to vocabulary cardinality); each width is then
  // an aggregate over TYPES (vocabulary-sized, never corpus-sized),
  // and the three width rows union. Same md5-prefix bucket function as
  // t29, so the audit measures exactly the space t29 uses.
  def t33(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(tokens(col("text"))).as("token"))
      .distinct()
      .withColumn("h", conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
    val widths = Seq(64L, 1024L, 65536L)
    widths.map { w =>
      types.select((col("h") % w).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_types"), count(lit(1)).as("n_buckets_used"))
        .select(lit(w).as("width"), col("n_types"), col("n_buckets_used"),
          (col("n_types") - col("n_buckets_used")).as("n_collided"),
          expr("((n_types - n_buckets_used) * 1000000) div n_types")
            .as("collision_ppm"))
    }.reduce(_ unionAll _).orderBy(col("width"))
  }

  private val t33Sql = {
    def one(w: Long): String =
      s"""SELECT CAST($w AS BIGINT) AS width, CAST(SUM(c) AS BIGINT) AS n_types,
         |  COUNT(*) AS n_buckets_used,
         |  CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_collided,
         |  CAST(((SUM(c) - COUNT(*)) * 1000000) // SUM(c) AS BIGINT) AS collision_ppm
         |FROM (
         |  SELECT CAST(CAST(concat('0x', substr(md5(token), 1, 8)) AS UBIGINT) % $w
         |    AS BIGINT) AS bucket, COUNT(*) AS c
         |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS token
         |        FROM documents WHERE text IS NOT NULL)
         |  GROUP BY 1)""".stripMargin
    Seq(64L, 1024L, 65536L).map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY width")
  }

  // ---------------------------------------------------------------------
  // t34_effective_tokens — the number a training-data owner actually
  // budgets with: TOKENS SURVIVING DEDUP, per source. Raw token counts
  // overstate the corpus (duplicates train nothing new); this gate
  // reports per source the raw docs/tokens, the exact-dedup keeper
  // docs/tokens (d1's first-owner convention: min doc_id per
  // whitespace-normalized fingerprint), and the kept ratio in ppm.
  // One pass computes fingerprint AND token count per doc map-side;
  // the keeper election is one fingerprint-key aggregate joined back
  // doc-cardinality. At 100 TB nothing but (doc_id, fp, n_tokens)
  // scalars shuffle — text never leaves the scan.
  def t34(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("f"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
    val keeper = docs.groupBy(col("f")).agg(min(col("doc_id")).as("keep_id"))
    docs.join(keeper, Seq("f"))
      .withColumn("is_keeper", (col("doc_id") === col("keep_id")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("is_keeper")).as("n_kept_docs"),
        sum(col("is_keeper") * col("n_tok")).as("n_kept_tokens"))
      .withColumn("kept_tokens_ppm",
        expr("(n_kept_tokens * 1000000) div n_tokens"))
      .orderBy(col("source"))
  }

  private val t34Sql =
    """WITH fp AS (
      |  SELECT source, doc_id,
      |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS f,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |k AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept_docs,
      |  CAST(SUM(CASE WHEN doc_id = keep_id THEN n_tok ELSE 0 END) AS BIGINT)
      |    AS n_kept_tokens,
      |  CAST((SUM(CASE WHEN doc_id = keep_id THEN n_tok ELSE 0 END) * 1000000)
      |    // SUM(n_tok) AS BIGINT) AS kept_tokens_ppm
      |FROM fp JOIN k USING (f)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t35_concordance — KWIC (keyword-in-context) concordance of the
  // corpus's single most frequent token: the (left, right) neighbor
  // pattern table a corpus linguist (or a tokenizer-debugging pipeline)
  // reads to see HOW a term is used, top-20 patterns by frequency.
  // Sentence edges surface as '^'/'$'. The target token is an argmax
  // with lexicographic tie-break, computed once and broadcast as a
  // 1-row ride-along. Scale shape: context extraction happens entirely
  // MAP-SIDE inside one higher-order projection over the token array
  // (filter indices → struct neighbors — text never shuffles, only
  // (left, right) token pairs do), and the exchange carries the
  // pattern-cardinality aggregate partials.
  def t35(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(tokens(col("text")).as("ts"))
    val target = docs.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(1)
      .select(col("t").as("tgt"))
    docs.crossJoin(broadcast(target)) // 1-row scalar ride-along
      .select(explode(expr(
        """transform(
          |  filter(sequence(1, size(ts)), i -> element_at(ts, i) = tgt),
          |  i -> struct(
          |    IF(i = 1, '^', element_at(ts, i - 1)) AS l,
          |    IF(i = size(ts), '$', element_at(ts, i + 1)) AS r))"""
          .stripMargin)).as("ctx"))
      .select(col("ctx.l").as("l"), col("ctx.r").as("r"))
      .groupBy(col("l"), col("r")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l"), col("r")).limit(20)
  }

  private val t35Sql =
    """WITH d AS (
      |  SELECT string_split(text, ' ') AS ts
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT unnest(ts) AS t FROM d),
      |tg AS (SELECT t AS tgt FROM tok GROUP BY t
      |       ORDER BY COUNT(*) DESC, t LIMIT 1),
      |occ AS (
      |  SELECT CASE WHEN i = 1 THEN '^' ELSE ts[i - 1] END AS l,
      |         CASE WHEN i = len(ts) THEN '$' ELSE ts[i + 1] END AS r
      |  FROM d CROSS JOIN tg
      |  CROSS JOIN UNNEST(range(1, len(ts) + 1)) u(i)
      |  WHERE ts[i] = tgt)
      |SELECT l, r, COUNT(*) AS n FROM occ GROUP BY 1, 2
      |ORDER BY n DESC, l, r LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // t36_zipf_slope — does the corpus obey Zipf's law? The rank-frequency
  // log-log slope (≈ −1 for natural text, flatter for template/spam
  // corpora — a corpus-level quality signal next to t2's per-doc one).
  // Exact integer end to end: floor(log2) is computed as
  // length(bin(x)) − 1 — both engines' bin() renders minimal binary, so
  // the "log" is string-length arithmetic, not float math — and the OLS
  // slope over the (log-rank, log-freq) points uses q47's offset trick
  // (add OFF·den before the truncating division so floor == trunc for
  // the negative slope) through DECIMAL(38,0)/HUGEINT partials. Scale
  // shape: tokens collapse to type cardinality with one map-side-
  // combined count; ranks come from globalRank (range partitions +
  // offsets, no single-reducer window — type cardinality grows with
  // corpus); the five OLS sums are one partial-agg reduce.
  def t36(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val ranked = RelationalQueries.globalRank(
      freq, Seq(col("freq").desc, col("token").asc), "rank")
    val off = "1000000000000" // |slope_micro| << 1e12
    ranked.select(
        (length(bin(col("rank"))) - 1).cast("decimal(38,0)").as("x"),
        (length(bin(col("freq"))) - 1).cast("decimal(38,0)").as("y"))
      .agg(count(lit(1)).as("n_types"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .select(col("n_types"),
        expr(s"""CASE WHEN n_types < 2 OR n_types * sxx - sx * sx = 0
               |  THEN 0 ELSE cast(
               |  ((n_types * sxy - sx * sy) * 1000000
               |    + $off * (n_types * sxx - sx * sx))
               |    div (n_types * sxx - sx * sx) - $off AS BIGINT) END"""
          .stripMargin).as("slope_micro"))
  }

  private val t36Sql =
    """WITH f AS (
      |  SELECT token, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY 1),
      |r AS (SELECT freq,
      |    ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank FROM f),
      |p AS (SELECT CAST(length(bin(rank)) - 1 AS HUGEINT) AS x,
      |    CAST(length(bin(freq)) - 1 AS HUGEINT) AS y FROM r),
      |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(x * y) AS sxy FROM p)
      |SELECT CAST(n AS BIGINT) AS n_types,
      |  CAST(CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN 0 ELSE
      |    ((n * sxy - sx * sy) * 1000000 + 1000000000000 * (n * sxx - sx * sx))
      |      // (n * sxx - sx * sx) - 1000000000000 END AS BIGINT)
      |    AS slope_micro
      |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // t37_code_detection — the code-vs-prose curation filter (pretraining
  // mixes budget code and prose separately; a prose pipeline polluted
  // with JSON/markup skews every downstream token stat): symbol density
  // per kilochar — structural characters {}[]();=<>:" counted via
  // length(translate(...)) subtraction, one codegen projection, no
  // regex engine in the hot path — thresholded at 50‰. Two live
  // populations keep both classes honest: prose documents score ~0,
  // the events.props JSON payloads score far past the threshold, and
  // the gate pins the full per-population profile (count, flagged,
  // exact truncated mean, max). Scale shape: pure map-side projections
  // into one partial-agg reduce per population; the union never
  // materializes text past the two length counters.
  def t37(spark: SparkSession, dir: String): DataFrame = {
    val syms = "{}[]();=<>:\""
    def feats(df: DataFrame, pop: String, textCol: org.apache.spark.sql.Column) =
      df.select(lit(pop).as("population"), textCol.as("t"))
        .select(col("population"), length(col("t")).cast("long").as("len"),
          (length(col("t")) - length(translate(col("t"), syms, "")))
            .cast("long").as("sym"))
        .filter(col("len") > 0L)
        .select(col("population"), expr("sym * 1000 div len").as("spk"))
    feats(Tables.documents(spark, dir), "documents", col("text"))
      .unionAll(feats(Tables.events(spark, dir), "events_props", col("props")))
      .groupBy(col("population"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("spk") >= 50L, 1L).otherwise(0L)).as("n_code"),
        sum(col("spk")).as("ssum"), max(col("spk")).as("max_spk"))
      .select(col("population"), col("n"), col("n_code"),
        expr("ssum div n").as("avg_spk"), col("max_spk"))
      .orderBy(col("population"))
  }

  private val t37Sql =
    """WITH f AS (
      |  SELECT 'documents' AS population, CAST(length(text) AS BIGINT) AS len,
      |    CAST(length(text) - length(translate(text, '{}[]();=<>:"', ''))
      |      AS BIGINT) AS sym
      |  FROM documents WHERE length(text) > 0
      |  UNION ALL
      |  SELECT 'events_props', CAST(length(props) AS BIGINT),
      |    CAST(length(props) - length(translate(props, '{}[]();=<>:"', ''))
      |      AS BIGINT)
      |  FROM events WHERE length(props) > 0),
      |s AS (SELECT population, sym * 1000 // len AS spk FROM f)
      |SELECT population, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN spk >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
      |  CAST(SUM(spk) // COUNT(*) AS BIGINT) AS avg_spk,
      |  CAST(MAX(spk) AS BIGINT) AS max_spk
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // t38_kneser_ney — interpolated Kneser–Ney bigram LM scoring, the
  // real n-gram smoothing (t27 is the unsmoothed MLE baseline): with
  // discount D = 3/4,
  //   P(w2|w1) = max(c_xy − D, 0)/c_x + D·N1(w1•)/c_x · Nend(•w2)/Ntypes
  // where c_x = Σ_y c_xy (the CONTEXT count, so the distribution
  // normalizes), N1(w1•) = distinct continuations of w1, Nend(•w2) =
  // distinct contexts preceding w2 (the continuation probability — the
  // KN insight: "how many contexts has w2 completed", not "how often"),
  // Ntypes = distinct bigram types. Everything is a pure rational over
  // denominator 4·c_x·Ntypes; the numerator rides DECIMAL(38,0)/HUGEINT
  // (c_xy·Ntypes·1e6 ≈ 1e8·1e9·1e6 = 1e23 at warehouse scale — the
  // q41/t16 overflow-proofing) and the div truncation is the measured
  // cross-engine-identical one. Scale shape: all four count tables are
  // VOCABULARY-bounded with map-side combine; the doc-transition stream
  // shuffles on gram keys only (text stays behind); Ntypes rides a
  // 1-row broadcast crossJoin; final per-doc mean is one partial-agg
  // groupBy. Docs under 2 tokens have no transitions and drop (both
  // engines).
  /** KN doc scores over any (doc_id, text) frame — factored so specs
    * can pin parity against a local BigInt reference on a constructed
    * corpus. */
  private[operators] def kneserNeyDocScores(docs: DataFrame): DataFrame = {
    val toks = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // lazy localCheckpoints: the transition stream feeds both the type
    // counts and the final per-doc join, and the type table feeds four
    // consumers (ctx/nend/ntypes/probs) — broadcast builds reuse no
    // exchange, so without the pins the scan+tokenize+explode pipeline
    // executed 5× (r9 plan finding; at scale these are the two
    // persist-before-fanout points).
    val docBigrams = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .transform(graft.Pins.pinForFanout(_))
    val bgc = docBigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .transform(graft.Pins.pinForFanout(_))
    val ctx = bgc.groupBy(col("w1"))
      .agg(sum(col("c_xy")).as("c_x"), count(lit(1)).as("n1x"))
    val nend = bgc.groupBy(col("w2")).agg(count(lit(1)).as("nend"))
    val ntypes = broadcast(bgc.agg(count(lit(1)).as("n_types")))
    // P(w2|w1) depends only on the bigram TYPE, so resolve it over the
    // vocabulary²-bounded type table and join the (much larger) per-doc
    // stream exactly once — the three stat joins never touch doc volume.
    val probs = bgc
      .join(ctx, Seq("w1"))
      .join(nend, Seq("w2"))
      .crossJoin(ntypes)
      .select(col("w1"), col("w2"),
        expr("""cast((greatest(4 * c_xy - 3, 0L) * n_types + 3 * n1x * nend)
               |  AS DECIMAL(38,0)) * 1000000
               |div (cast(4 AS DECIMAL(38,0)) * c_x * n_types)"""
          .stripMargin).cast("long").as("ppm"))
    docBigrams
      .join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(ppm) div count(1)").as("kn_ppm"))
      .orderBy(col("doc_id"))
  }

  def t38(spark: SparkSession, dir: String): DataFrame =
    kneserNeyDocScores(Tables.documents(spark, dir))

  private val t38Sql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |bg AS (
      |  SELECT doc_id, u.w1, u.w2 FROM (
      |    SELECT doc_id,
      |      unnest([struct_pack(w1 := toks[i], w2 := toks[i + 1])
      |              for i in range(1, len(toks))], recursive := true)
      |    FROM t WHERE len(toks) >= 2) u(doc_id, w1, w2)),
      |bgc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x,
      |          COUNT(*) AS n1x FROM bgc GROUP BY 1),
      |ne AS (SELECT w2, COUNT(*) AS nend FROM bgc GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS n_types FROM bgc),
      |p AS (SELECT bg.doc_id,
      |    CAST((GREATEST(4 * c.c_xy - 3, 0) * nt.n_types
      |          + 3 * x.n1x * ne.nend)::HUGEINT * 1000000
      |      // (4::HUGEINT * x.c_x * nt.n_types) AS BIGINT) AS ppm
      |  FROM bg JOIN bgc c ON bg.w1 = c.w1 AND bg.w2 = c.w2
      |    JOIN ctx x ON bg.w1 = x.w1
      |    JOIN ne ON bg.w2 = ne.w2
      |    CROSS JOIN nt)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS kn_ppm
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // t39_good_turing — Good–Turing count-of-counts smoothing over the
  // corpus unigram frequencies: for each raw count c, N_c = how many
  // vocabulary terms occur exactly c times, and the smoothed count
  // c* = (c+1)·N_{c+1}/N_c (Good 1953) in exact ppm — the adjustment
  // an LM applies before trusting raw counts, and the estimator of the
  // UNSEEN mass p0 = N_1/T. Where N_{c+1} = 0 (count gaps at the Zipf
  // tail) the estimate is 0 by convention — kept integer, never NULL,
  // so the gate's column stays BIGINT end to end. Scale shape: the
  // term-count table is vocabulary-bounded with map-side combine; the
  // count-of-counts
  // table is tiny (distinct count VALUES, O(√T) by Zipf); the c+1
  // lookup is a self-join on that tiny table. Nothing after the first
  // aggregate scales with the corpus.
  def t39(spark: SparkSession, dir: String): DataFrame = {
    val termCounts = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val nc = termCounts.groupBy(col("c")).agg(count(lit(1)).as("n_c"))
    nc.as("a")
      .join(nc.as("b"), col("a.c") + 1 === col("b.c"), "left")
      .select(col("a.c").as("c"), col("a.n_c").as("n_c"),
        coalesce(
          expr("""cast((cast(a.c + 1 AS DECIMAL(38,0)) * b.n_c * 1000000)
                 |  div a.n_c AS BIGINT)""".stripMargin),
          lit(0L)).as("c_star_ppm"))
      .orderBy(col("c"))
  }

  private val t39Sql =
    """WITH tc AS (
      |  SELECT u.term, COUNT(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE text IS NOT NULL) u(term)
      |  GROUP BY 1),
      |nc AS (SELECT c, COUNT(*) AS n_c FROM tc GROUP BY 1)
      |SELECT a.c, a.n_c,
      |  COALESCE(CAST(CAST(a.c + 1 AS HUGEINT) * b.n_c * 1000000 // a.n_c
      |    AS BIGINT), 0) AS c_star_ppm
      |FROM nc a LEFT JOIN nc b ON a.c + 1 = b.c
      |ORDER BY a.c""".stripMargin

  // ---------------------------------------------------------------------
  // t40_burstiness — per-term burstiness: the variance-to-mean ratio of
  // the term's per-document count over ALL documents (zeros included),
  // in exact ppm. VMR ≈ 1 marks Poisson "background" words; bursty
  // content terms concentrate in few docs and score ≫ 1 — a classic
  // keyword/stopword separator that needs no stopword list. With
  // N docs, S = Σc, Q = Σc²: VMR = ((N·Q − S²)·1e6) div (N·S) — the
  // zeros contribute nothing to S and Q, so only the (term, doc)
  // incidence table is ever materialized. Scale shape: explode is
  // map-side; (term, doc) then term aggregates are vocab-bounded with
  // partial combine; N rides a 1-row broadcast; N·Q ≈ 1e25 at
  // warehouse scale rides DECIMAL(38,0)/HUGEINT. Top-100 by VMR is a
  // TakeOrdered, never a global sort.
  def t40(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("m_docs"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .filter(col("s") >= 50)
      .crossJoin(nDocs)
      .select(col("term"), col("m_docs"), col("s").as("total"),
        expr("""cast(((cast(n_docs AS DECIMAL(38,0)) * q - cast(s AS DECIMAL(38,0)) * s)
               |  * 1000000) div (cast(n_docs AS DECIMAL(38,0)) * s) AS BIGINT)"""
          .stripMargin).as("vmr_ppm"))
      .orderBy(col("vmr_ppm").desc, col("term")).limit(100)
  }

  private val t40Sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n_docs FROM d),
      |td AS (
      |  SELECT u.term, u.doc_id, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d
      |  ) u GROUP BY 1, 2),
      |t AS (
      |  SELECT term, COUNT(*) AS m_docs, CAST(SUM(c) AS BIGINT) AS s,
      |    CAST(SUM(c * c) AS BIGINT) AS q
      |  FROM td GROUP BY 1 HAVING SUM(c) >= 50)
      |SELECT term, m_docs, s AS total,
      |  CAST(((CAST(n_docs AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
      |    * 1000000) // (CAST(n_docs AS HUGEINT) * s) AS BIGINT) AS vmr_ppm
      |FROM t CROSS JOIN n
      |ORDER BY vmr_ppm DESC, term LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // t41_mixture_apportion — exact largest-remainder (Hamilton)
  // apportionment of a 1,000,000-token training-mix budget across
  // sources, proportional to each source's total token count: base_i =
  // (c_i·1e6) div T, then the L = 1e6 − Σ base_i leftover tokens go to
  // the L largest remainders (ties broken by source name, pinned).
  // This is the "hit the target corpus mixture EXACTLY" op a training
  // pipeline runs before sampling — Σ tokens_i = 1e6 by construction,
  // which no independent-rounding scheme guarantees. Scale shape: the
  // corpus collapses to one #sources-sized aggregate (map-side
  // combine); the totals ride a 1-row broadcast; the remainder rank is
  // a #sources-bounded window. c_i·1e6 rides DECIMAL(38,0)/HUGEINT
  // (1e13 tokens/source at 100 TB × 1e6 = 1e19 > 2^63).
  def t41(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .groupBy(col("source"))
      .agg(sum(size(tokens(col("text"))).cast("long")).as("c"))
    val tot = broadcast(perSrc.agg(
      sum(col("c").cast("decimal(38,0)")).as("t_tokens")))
    val based = perSrc.crossJoin(tot)
      .select(col("source"), col("c"),
        expr("cast(cast(c AS DECIMAL(38,0)) * 1000000 div t_tokens AS BIGINT)")
          .as("base"),
        expr("cast(cast(c AS DECIMAL(38,0)) * 1000000 % t_tokens AS DECIMAL(38,0))")
          .as("rem"))
    val leftover = broadcast(based.agg(
      (lit(1000000L) - sum(col("base"))).as("leftover")))
    based
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .crossJoin(leftover)
      .select(col("source"), col("c").as("src_tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("source"))
  }

  private val t41Sql =
    """WITH s AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS HUGEINT) AS t_tokens FROM s),
      |b AS (
      |  SELECT source, c,
      |    CAST(c::HUGEINT * 1000000 // t_tokens AS BIGINT) AS base,
      |    c::HUGEINT * 1000000 % t_tokens AS rem
      |  FROM s CROSS JOIN t),
      |l AS (SELECT 1000000 - CAST(SUM(base) AS BIGINT) AS leftover FROM b)
      |SELECT source, c AS src_tokens,
      |  base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
      |    <= leftover THEN 1 ELSE 0 END AS quota
      |FROM b CROSS JOIN l ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // t42_isotonic_pava — isotonic (monotone nondecreasing) calibration
  // of P(lang = 'en') against document length bins, the
  // pool-adjacent-violators fit a quality-classifier calibration step
  // runs. The Spark side executes true PAVA with EXACT rational pooling
  // (BigInt cross-multiplied mean comparisons — no float ever enters);
  // the oracle evaluates the equivalent minimax form iso(b) =
  // max_{j≤b} min_{k≥b} mean(y[j..k]) (Barlow et al. 1972) over
  // ppm-truncated pair means. The two agree bit-for-bit because floor
  // is monotone, so it commutes with min/max: floor(minimax over
  // rationals) = minimax over floored means = floor(PAVA block mean).
  // Scale shape: the corpus collapses map-side to ≤32 (bin, n, y)
  // partials; PAVA then runs as a typed fold over that bounded frame
  // (x36's argument) — the oracle's O(bins³) pair sweep exists only on
  // the DuckDB side.
  def t42(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .groupBy(least(expr("n_chars div 32"), lit(31L)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y"))
      .as[(Long, Long, Long)]
      .groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val bins = it.toArray.sortBy(_._1)
        // blocks of (startIdx, n, y); pool while the previous block's
        // mean EXCEEDS the next (violates nondecreasing), comparing
        // y1/n1 > y2/n2 exactly as y1·n2 > y2·n1
        val st = scala.collection.mutable.Stack[(Int, Long, Long)]()
        bins.zipWithIndex.foreach { case ((_, n, y), i) =>
          var (s, cn, cy) = (i, n, y)
          while (st.nonEmpty &&
              BigInt(st.top._3) * cn > BigInt(cy) * st.top._2) {
            val (ps, pn, py) = st.pop(); s = ps; cn += pn; cy += py
          }
          st.push((s, cn, cy))
        }
        val blocks = st.toSeq.sortBy(_._1)
        val out = new Array[Long](bins.length)
        blocks.zipWithIndex.foreach { case ((s, cn, cy), bi) =>
          val end = if (bi + 1 < blocks.length) blocks(bi + 1)._1 else bins.length
          val v = (BigInt(cy) * 1000000 / cn).toLong
          (s until end).foreach(out(_) = v)
        }
        bins.iterator.zipWithIndex.map { case ((b, n, y), i) =>
          (b, n, y, out(i)) }
      }.toDF("bin", "n_docs", "n_en", "iso_ppm")
      .orderBy(col("bin"))
  }

  private val t42Sql =
    """WITH b AS (
      |  SELECT CAST(LEAST(n_chars // 32, 31) AS BIGINT) AS bin,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
      |o AS (SELECT bin, n, y,
      |    ROW_NUMBER() OVER (ORDER BY bin) AS i,
      |    SUM(n) OVER (ORDER BY bin) AS pn,
      |    SUM(y) OVER (ORDER BY bin) AS py
      |  FROM b),
      |pairs AS (
      |  SELECT j.i AS j, k.i AS k,
      |    CAST((k.py - j.py + j.y) * 1000000
      |      // (k.pn - j.pn + j.n) AS BIGINT) AS m
      |  FROM o j JOIN o k ON j.i <= k.i),
      |inner_min AS (
      |  SELECT o.i AS b, p.j, MIN(p.m) AS mn
      |  FROM o JOIN pairs p ON p.j <= o.i AND p.k >= o.i
      |  GROUP BY 1, 2)
      |SELECT o.bin, o.n AS n_docs, o.y AS n_en,
      |  (SELECT MAX(mn) FROM inner_min im WHERE im.b = o.i) AS iso_ppm
      |FROM o ORDER BY o.bin""".stripMargin

  // ---------------------------------------------------------------------
  // t48_weighted_sample — deterministic weighted sampling WITHOUT
  // replacement per stratum (the Efraimidis–Spirakis priority-sample
  // analog in exact integer arithmetic): each doc draws a uniform
  // 32-bit hash key (pre-modded Knuth mix — the d19/t32 overflow
  // lesson), its priority is `key div weight` with weight = n_chars
  // (longer docs proportionally likelier), and each source keeps its
  // k=5 SMALLEST priorities — one pass, one window per stratum, fully
  // reproducible across runs and engines (ES uses u^(1/w) order; the
  // integer quotient preserves the same weight monotonicity without a
  // transcendental, which no cross-engine hash could survive). Scale
  // shape: priorities are map-side per row; the per-stratum top-k is a
  // rank-1..k window that WindowGroupLimit bounds to k rows per
  // partition before the exchange.
  def t48(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority"), col("doc_id"))
    Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"),
        expr("(((doc_id % 4294967296) % 67108864) * 2654435761) % 4294967296")
          .as("key"))
      .withColumn("priority", expr("key div n_chars"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"),
        col("priority"))
      .orderBy(col("source"), col("rnk"))
  }

  private val t48Sql =
    """WITH k AS (
      |  SELECT source, doc_id, n_chars,
      |    (((doc_id % 4294967296) % 67108864) * 2654435761) % 4294967296
      |      AS key
      |  FROM documents WHERE n_chars > 0),
      |p AS (
      |  SELECT source, doc_id, n_chars, key // n_chars AS priority
      |  FROM k),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY priority, doc_id) AS rnk
      |  FROM p)
      |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars,
      |  CAST(priority AS BIGINT) AS priority
      |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin

  // ---------------------------------------------------------------------
  // t43_feistel_order — the deterministic global training-order shuffle:
  // a 2-round Feistel network over the 32-bit doc_id residue gives a
  // BIJECTION of [0, 2^32) (each round replaces one 16-bit half with
  // (other + F(half)) mod 2^16 — invertible for any round function F),
  // so epoch order is a true permutation: reproducible across runs,
  // collision-free within a 2^32 block, and computed per-row with NO
  // shuffle — the only distributed work is the top-k, which compiles
  // to TakeOrderedAndProject (never a global sort). F pre-mods before
  // the Knuth multiply (the d19/t32 lesson: (x+key) ≤ 2^17 × golden
  // keeps products < 2^63 where Spark wraps silently and DuckDB
  // raises). Ties across 2^32 blocks (doc_id ≥ 2^32) break on doc_id.
  def t43(spark: SparkSession, dir: String): DataFrame = {
    val perm =
      """(((doc_id % 65536) + (((doc_id % 4294967296) div 65536 + 9109) * 2654435761) % 65536) % 65536) * 65536
        | + (((doc_id % 4294967296) div 65536
        |     + (((doc_id % 65536) + (((doc_id % 4294967296) div 65536 + 9109) * 2654435761) % 65536 + 22093) * 2654435761) % 65536) % 65536)"""
        .stripMargin.replaceAll("\n", " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"), expr(perm).cast("long").as("epoch_pos"))
      .orderBy(col("epoch_pos"), col("doc_id")).limit(20)
  }

  private val t43Sql =
    """SELECT doc_id,
      |  (((doc_id % 65536) + (((doc_id % 4294967296) // 65536 + 9109) * 2654435761) % 65536) % 65536) * 65536
      |  + (((doc_id % 4294967296) // 65536
      |      + (((doc_id % 65536) + (((doc_id % 4294967296) // 65536 + 9109) * 2654435761) % 65536 + 22093) * 2654435761) % 65536) % 65536)
      |  AS epoch_pos
      |FROM documents ORDER BY epoch_pos, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // t44_gopher_rules — the Gopher-style (Rae et al. 2021 §A1.1) document
  // quality-rule suite as a per-rule violation census: word-count
  // bounds, mean-word-length bounds, alphabetic-word ratio, and
  // stop-word presence (>=1 of the 8-word core list), plus a pass-all row. Every ratio test is
  // CROSS-MULTIPLIED to pure integer comparisons (mean len < 3 ⟺
  // sum_len < 3·n_tok; alpha < 80% ⟺ 5·n_alpha < 4·n_tok) so no float
  // ever enters and both engines agree bit-for-bit. Scale shape: one
  // map-side projection of four boolean flags per document (codegen
  // HOFs over the token array — nothing but 5 partial-agg longs leaves
  // a task), one single-row reduce, then a constant 5-row unpivot.
  // At 100 TB this is the cheapest possible full-corpus pass: zero
  // joins, zero wide shuffles, one scan.
  def t44(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(
      transform(toks, w => length(w).cast("long")), lit(0L), (a, x) => a + x)
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(array_intersect(
      array_distinct(toks),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
        .map(lit): _*))).cast("long")
    val wcF = (nTok < 20L) || (nTok > 100000L)
    val mwlF = (sumLen < nTok * 3L) || (sumLen > nTok * 10L)
    val alphaF = nAlpha * 5L < nTok * 4L
    val stopF = nStop < 1L
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(wcF.as("wc"), mwlF.as("mwl"), alphaF.as("al"), stopF.as("st"))
      .agg(
        sum(when(col("wc"), 1L).otherwise(0L)).as("f_wc"),
        sum(when(col("mwl"), 1L).otherwise(0L)).as("f_mwl"),
        sum(when(col("al"), 1L).otherwise(0L)).as("f_al"),
        sum(when(col("st"), 1L).otherwise(0L)).as("f_st"),
        sum(when(!col("wc") && !col("mwl") && !col("al") && !col("st"), 1L)
          .otherwise(0L)).as("f_ok"))
      .selectExpr(
        """stack(5,
          |  'alpha_ratio', f_al,
          |  'mean_word_len', f_mwl,
          |  'pass_all', f_ok,
          |  'stopwords', f_st,
          |  'word_count', f_wc) AS (rule, n_docs)""".stripMargin)
      .orderBy(col("rule"))
  }

  private val t44Sql =
    """WITH f AS (
      |  SELECT
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(coalesce(list_aggregate(
      |      list_transform(string_split(text, ' '), w -> length(w)),
      |      'sum'), 0) AS BIGINT) AS sum_len,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
      |    CAST(len(list_filter(list_distinct(string_split(text, ' ')),
      |      w -> w IN ('the','be','to','of','and','that','have','with')))
      |      AS BIGINT) AS n_stop
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN n_tok < 20 OR n_tok > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS f_wc,
      |    CAST(SUM(CASE WHEN sum_len < n_tok * 3 OR sum_len > n_tok * 10 THEN 1 ELSE 0 END) AS BIGINT) AS f_mwl,
      |    CAST(SUM(CASE WHEN n_alpha * 5 < n_tok * 4 THEN 1 ELSE 0 END) AS BIGINT) AS f_al,
      |    CAST(SUM(CASE WHEN n_stop < 1 THEN 1 ELSE 0 END) AS BIGINT) AS f_st,
      |    CAST(SUM(CASE WHEN NOT (n_tok < 20 OR n_tok > 100000)
      |      AND NOT (sum_len < n_tok * 3 OR sum_len > n_tok * 10)
      |      AND NOT (n_alpha * 5 < n_tok * 4)
      |      AND NOT (n_stop < 1) THEN 1 ELSE 0 END) AS BIGINT) AS f_ok
      |  FROM f)
      |SELECT 'alpha_ratio' AS rule, f_al AS n_docs FROM g
      |UNION ALL SELECT 'mean_word_len', f_mwl FROM g
      |UNION ALL SELECT 'pass_all', f_ok FROM g
      |UNION ALL SELECT 'stopwords', f_st FROM g
      |UNION ALL SELECT 'word_count', f_wc FROM g
      |ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------------
  // t45_pipeline_funnel — the END-TO-END curation funnel: the stage
  // chain a real pretraining-data build runs (quality gate → language
  // filter → exact dedup → per-source cap), emitted as a survival
  // census per stage. Composes the individually-gated operators
  // (t44's rules, t3's lang field, d1's exact dedup, t11's source cap)
  // into one auditable pipeline — the number a data lead actually
  // reads ("how many documents survived to training?").
  // Scale shape per stage: quality/lang are map-side flags; exact
  // dedup groups on md5(text) — a 32-byte key, NOT the document body,
  // so the dedup exchange carries hashes (min(doc_id) survivorship:
  // deterministic, order-free); the source cap is a per-source
  // row_number over doc_id — source cardinality is bounded, and the
  // counts-only output means nothing row-scale ever hits the driver.
  def t45(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val qual = base.filter(size(tokens(col("text"))) >= 20)
    val en = qual.filter(col("lang") === "en")
    val keptIds = en.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = en.join(keptIds, Seq("doc_id"), "left_semi")
    val capped = deduped
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))))
      .filter(col("rn") <= 400)
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    stage("1_total", base)
      .unionAll(stage("2_quality", qual))
      .unionAll(stage("3_lang", en))
      .unionAll(stage("4_exact_dedup", deduped))
      .unionAll(stage("5_source_cap", capped))
      .orderBy(col("stage"))
  }

  private val t45Sql =
    """WITH base AS (SELECT * FROM documents WHERE text IS NOT NULL),
      |qual AS (SELECT * FROM base WHERE len(string_split(text, ' ')) >= 20),
      |en AS (SELECT * FROM qual WHERE lang = 'en'),
      |kept AS (SELECT MIN(doc_id) AS doc_id FROM en GROUP BY md5(text)),
      |dd AS (SELECT en.* FROM en WHERE doc_id IN (SELECT doc_id FROM kept)),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT source,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |    FROM dd) WHERE rn <= 400)
      |SELECT '1_total' AS stage, COUNT(*) AS n_docs FROM base
      |UNION ALL SELECT '2_quality', COUNT(*) FROM qual
      |UNION ALL SELECT '3_lang', COUNT(*) FROM en
      |UNION ALL SELECT '4_exact_dedup', COUNT(*) FROM dd
      |UNION ALL SELECT '5_source_cap', COUNT(*) FROM capped
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------------
  // t46_wordpiece — WordPiece-style tokenizer INFERENCE (t20/t21 train
  // the merges; this is the other half a serving pipeline runs): greedy
  // longest-match segmentation of every document against a fixed
  // subword vocabulary, reported as per-source token totals and the
  // chars-per-token compression ratio in exact ppm. Spark runs the
  // `wordpiece_tokens` codegen byte-walk kernel (one pass per doc, zero
  // allocation, packed-int binary-search probes — see
  // [[graft.functions.expressions.WordPieceKernel]]); the DuckDB
  // mirror tokenizes each DISTINCT word once via a precomputed
  // greedy-step table + recursive walk and weights by occurrence
  // (t20's weighted-vocabulary trick), with the vocabulary literal
  // interpolated from the SAME Scala list, so there is exactly one
  // vocabulary definition. Words are maximal ASCII-letter runs,
  // ASCII-lowercased — a definition both engines state byte-for-byte.
  // Scale shape: the kernel is map-side and vocabulary-independent of
  // corpus size; only per-source partial sums cross the exchange.
  def t46(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        wordpieceTokens(col("text")).as("toks"),
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
          .as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("CASE WHEN n_tokens = 0 THEN 0L ELSE n_chars * 1000000 div n_tokens END")
          .as("cpt_ppm"))
      .orderBy(col("source"))

  private val t46Sql = {
    val vocabLit = graft.functions.expressions.WordPieceKernel.allPieces
      .map(p => s"'$p'").mkString(", ")
    s"""WITH RECURSIVE docs AS (
       |  SELECT source, text FROM documents WHERE text IS NOT NULL),
       |words AS (
       |  SELECT source, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
       |  FROM docs),
       |wc AS (SELECT source, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
       |dw AS (SELECT DISTINCT w FROM wc),
       |vocab AS (SELECT unnest([$vocabLit]) AS v),
       |pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS p FROM dw),
       |adv AS (SELECT pos.w, pos.p, MAX(len(v)) AS adv
       |        FROM pos JOIN vocab ON substr(pos.w, pos.p, len(v)) = v
       |        GROUP BY 1, 2),
       |tok AS (
       |  SELECT w, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS toks FROM dw
       |  UNION ALL
       |  SELECT t.w, t.p + a.adv, t.toks + 1
       |  FROM tok t JOIN adv a ON a.w = t.w AND a.p = t.p),
       |wt AS (SELECT w, toks FROM tok WHERE p = len(w) + 1),
       |agg AS (SELECT wc.source,
       |          CAST(SUM(wc.cnt * wt.toks) AS BIGINT) AS n_tokens,
       |          CAST(SUM(wc.cnt * len(wc.w)) AS BIGINT) AS n_chars
       |        FROM wc JOIN wt ON wt.w = wc.w GROUP BY 1),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY 1)
       |SELECT nd.source, nd.n_docs,
       |  COALESCE(agg.n_tokens, 0) AS n_tokens,
       |  COALESCE(agg.n_chars, 0) AS n_chars,
       |  CAST(CASE WHEN COALESCE(agg.n_tokens, 0) = 0 THEN 0
       |    ELSE agg.n_chars * 1000000 // agg.n_tokens END AS BIGINT) AS cpt_ppm
       |FROM nd LEFT JOIN agg ON agg.source = nd.source
       |ORDER BY nd.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t49_linear_classifier — hashed-feature LINEAR classifier INFERENCE
  // (the fastText/VW serving shape quality- and domain-tagging
  // pipelines run over every document): each token contributes one
  // integer weight per class, the doc's class score is the sum, the
  // label is the argmax. Weights come from the md5-derived hash of
  // (class ‖ token) — a stand-in weight table that keeps the gate
  // deterministic AND engine-portable while exercising the real
  // serving plan; swapping in trained weights changes one expression.
  // ALL-INTEGER arithmetic: scores are BIGINT sums, argmax tie-breaks
  // to the lowest class id via array_position-on-greatest, margin =
  // best − runner-up — no float summation order to disagree across
  // engines. Scale shape: the per-class weights are MAP-SIDE scalar
  // expressions over the token stream (no weight table to join or
  // broadcast — the hash IS the lookup); the only exchanges carry
  // (doc, 4 longs) partial sums and the (source, label) final rollup.
  def t49(spark: SparkSession, dir: String): DataFrame = {
    def wt(c: Int) =
      (conv(substring(md5(concat(lit(s"c$c§"), col("token"))), 1, 15),
        16, 10).cast("long") % 2001L - 1000L).as(s"w$c")
    // r9: the weights depend only on the TOKEN, so the 4 md5s are
    // evaluated once per DISTINCT token (vocabulary cardinality) and
    // broadcast-joined back onto the occurrence stream — identical
    // integer sums, ~vocab/stream fewer hash evaluations (the serving
    // shape with a real weight table). The token stream pins: it feeds
    // both the distinct and the join, and broadcast builds reuse no
    // exchange. r10: the weight-table broadcast is SIZE-GATED
    // (Pins.broadcastIfSmall) — vocabulary is data-cardinality, so at
    // corpora past the conf ceiling the attach falls back to the
    // planner's shuffle join instead of a forced unbounded broadcast.
    val toks = graft.Pins.pinForFanout(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("token")))
    val vocabW = graft.Pins.pinForFanout(toks.select(col("token")).distinct()
      .select(col("token"), wt(0), wt(1), wt(2), wt(3)))
    val scores = toks
      .join(graft.Pins.broadcastIfSmall(vocabW), Seq("token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("w0")).as("s0"), sum(col("w1")).as("s1"),
        sum(col("w2")).as("s2"), sum(col("w3")).as("s3"))
      .withColumn("ss", array(col("s0"), col("s1"), col("s2"), col("s3")))
      .withColumn("best", greatest(col("s0"), col("s1"), col("s2"), col("s3")))
      .select(col("doc_id"), col("source"),
        (array_position(col("ss"), col("best")) - 1L).as("label"),
        (col("best") - element_at(array_sort(col("ss")), 3)).as("margin"))
    scores.groupBy(col("source"), col("label"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("sum_margin"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"), col("label"))
  }

  private val t49Sql =
    """WITH t AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |f AS (
      |  SELECT doc_id, source,
      |    CAST(CAST(concat('0x', substr(md5(concat('c0§', token)), 1, 15))
      |      AS UBIGINT) % 2001 AS BIGINT) - 1000 AS w0,
      |    CAST(CAST(concat('0x', substr(md5(concat('c1§', token)), 1, 15))
      |      AS UBIGINT) % 2001 AS BIGINT) - 1000 AS w1,
      |    CAST(CAST(concat('0x', substr(md5(concat('c2§', token)), 1, 15))
      |      AS UBIGINT) % 2001 AS BIGINT) - 1000 AS w2,
      |    CAST(CAST(concat('0x', substr(md5(concat('c3§', token)), 1, 15))
      |      AS UBIGINT) % 2001 AS BIGINT) - 1000 AS w3
      |  FROM t),
      |s AS (
      |  SELECT doc_id, source,
      |    CAST(SUM(w0) AS BIGINT) AS s0, CAST(SUM(w1) AS BIGINT) AS s1,
      |    CAST(SUM(w2) AS BIGINT) AS s2, CAST(SUM(w3) AS BIGINT) AS s3
      |  FROM f GROUP BY 1, 2),
      |p AS (
      |  SELECT doc_id, source,
      |    CAST(list_position([s0, s1, s2, s3],
      |      greatest(s0, s1, s2, s3)) - 1 AS BIGINT) AS label,
      |    greatest(s0, s1, s2, s3)
      |      - list_sort([s0, s1, s2, s3])[3] AS margin
      |  FROM s)
      |SELECT source, label, COUNT(*) AS n_docs,
      |  CAST(SUM(margin) AS BIGINT) AS sum_margin, MIN(doc_id) AS min_doc
      |FROM p GROUP BY source, label ORDER BY source, label""".stripMargin

  // ---------------------------------------------------------------------
  // t51_shard_manifest — the EXPORT step a training job actually
  // consumes: every document assigned to one of 8 equal-size shards in
  // the deterministic Feistel epoch order (t43's bijection — shard
  // membership is reproducible across runs and machines), with a
  // per-shard MANIFEST row (doc count, token count, rank range, id
  // checksum) — the v14-style integrity record a loader verifies
  // before it streams a shard. Balance is exact by construction:
  // shard = ⌊(rank−1)·S / n⌋ splits ranks into S runs of size ⌈n/S⌉ or
  // ⌊n/S⌋, never hash-lumpy. Scale shape: the permutation is a
  // map-side scalar; the global rank is RelationalQueries.globalRank
  // (range partitions + per-partition offsets — NO single-reducer
  // window); the 1-row total rides a broadcast; the manifest is one
  // S-row aggregate. The doc-id checksum is the pre-modded Knuth sum —
  // order-independent, so it gates exactly.
  def t51(spark: SparkSession, dir: String): DataFrame = {
    val s = 8
    val perm =
      """(((doc_id % 65536) + (((doc_id % 4294967296) div 65536 + 9109) * 2654435761) % 65536) % 65536) * 65536
        | + (((doc_id % 4294967296) div 65536
        |     + (((doc_id % 65536) + (((doc_id % 4294967296) div 65536 + 9109) * 2654435761) % 65536 + 22093) * 2654435761) % 65536) % 65536)"""
        .stripMargin.replaceAll("\n", " ")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(perm).cast("long").as("epoch_pos"),
        when(col("text").isNotNull, size(tokens(col("text"))).cast("long"))
          .otherwise(lit(0L)).as("n_toks"))
    val ranked = RelationalQueries.globalRank(
      base, Seq(col("epoch_pos").asc, col("doc_id").asc), "rank")
    val total = base.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(total)) // 1-row total ride-along
      .withColumn("shard", expr(s"((rank - 1) * $s) div n_total"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("rank")).as("first_rank"), max(col("rank")).as("last_rank"),
        sum(expr("((doc_id % 67108864) * 2654435761) % 4294967296"))
          .as("checksum"))
      .orderBy(col("shard"))
  }

  private val t51Sql =
    """WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL THEN 0
      |         ELSE len(string_split(text, ' ')) END AS n_toks,
      |    (((doc_id % 65536) + (((doc_id % 4294967296) // 65536 + 9109) * 2654435761) % 65536) % 65536) * 65536
      |    + (((doc_id % 4294967296) // 65536
      |        + (((doc_id % 65536) + (((doc_id % 4294967296) // 65536 + 9109) * 2654435761) % 65536 + 22093) * 2654435761) % 65536) % 65536)
      |      AS epoch_pos
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_toks,
      |    ROW_NUMBER() OVER (ORDER BY epoch_pos, doc_id) AS rank
      |  FROM p),
      |t AS (SELECT COUNT(*) AS n_total FROM p)
      |SELECT CAST((rank - 1) * 8 // n_total AS BIGINT) AS shard,
      |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(MIN(rank) AS BIGINT) AS first_rank,
      |  CAST(MAX(rank) AS BIGINT) AS last_rank,
      |  CAST(SUM(((doc_id % 67108864) * 2654435761) % 4294967296) AS BIGINT)
      |    AS checksum
      |FROM r CROSS JOIN t GROUP BY 1 ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------------
  // t52_bm25 — BM25 ranked retrieval: top-20 documents for a fixed
  // 3-term query, INTEGER-EXACT in the t23 discipline (no
  // transcendental log, no float tolerance): the idf is BM25's exact
  // rational core (N − df + ½)/(df + ½) ≡ (2(N−df)+1)/(2df+1) scaled
  // to 1e6 — the log is monotone, so per-term doc ranking is
  // unchanged and the swap back is one expression; the tf saturation
  // and length normalization are the standard k1=1.2 / b=0.75 terms
  // in scaled BIGINT floor division (operand order identical in both
  // engines; max intermediate ≈7e15 — headroom to N≈5e6 docs before
  // the pre-divided idf·sat product nears Long range).
  // Scale shape: tf is one map-side-combined (doc, term) aggregate;
  // the 3-term query filter prunes the df/scoring joins to
  // query-matched postings BEFORE any exchange (a real engine's
  // postings fetch); avgdl/N are two driver scalars (the CMS-anchor
  // pattern); top-20 is TakeOrderedAndProject, never a global sort.
  /** t52's scoring core, unordered (doc_id, bm25_scaled) — shared with
    * the x74 hybrid-retrieval gate so the lexical arm of the fusion can
    * never diverge from the standalone BM25 gate. */
  private[operators] def bm25Scaled(
      spark: SparkSession, dir: String, queryTerms: Seq[String]): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val nDocs = docs.count()
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val sumDl = dl.agg(sum(col("dl"))).head().getLong(0)
    val avgdlScaled = sumDl * 1000000L / nDocs
    val qtf = tf.filter(col("t").isin(queryTerms: _*))
    val dfx = qtf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    qtf.join(broadcast(dfx), Seq("t"))
      .join(dl, Seq("doc_id"))
      .withColumn("idf_scaled",
        expr(s"((2 * (${nDocs}L - df) + 1) * 1000000L) div (2 * df + 1)"))
      .withColumn("k_scaled",
        expr(s"250000L + (750000L * dl * 1000000L) div ${avgdlScaled}L"))
      .withColumn("term_score",
        expr("((idf_scaled div 1000L) * ((tf * 2200000L * 1000000L) div" +
          " (tf * 1000000L + (1200000L * k_scaled) div 1000000L))) div 1000L"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("bm25_scaled"))
  }

  def t52(spark: SparkSession, dir: String): DataFrame =
    bm25Scaled(spark, dir, Seq("stream", "join", "query"))
      .orderBy(col("bm25_scaled").desc, col("doc_id"))
      .limit(20)

  /** The BM25 scoring pipeline as a CTE chain ending in
    * `bm25(doc_id, bm25_scaled)` — shared verbatim between t52's oracle
    * and x74's lexical arm so the two oracles can never diverge. */
  private[operators] def bm25SqlCtes(terms: Seq[String]): String = {
    val vals = terms.map(t => s"('$t')").mkString(", ")
    s"""d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |tf AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d) u
       |  WHERE len(t) >= 2 GROUP BY doc_id, t),
       |dlx AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |s AS (SELECT (SELECT COUNT(*) FROM d) AS n,
       |             (SELECT CAST((SUM(dl) * 1000000) // COUNT(*) AS BIGINT) FROM dlx) AS avgdl_scaled),
       |q(t) AS (VALUES $vals),
       |dfx AS (SELECT t, COUNT(*) AS df FROM tf JOIN q USING (t) GROUP BY t),
       |sc AS (
       |  SELECT tf.doc_id, tf.tf, dlx.dl, dfx.df, s.n, s.avgdl_scaled
       |  FROM tf JOIN dfx USING (t) JOIN dlx USING (doc_id) CROSS JOIN s),
       |tscore AS (
       |  SELECT doc_id,
       |    ((((2 * (n - df) + 1) * 1000000) // (2 * df + 1)) // 1000)
       |      * ((tf * 2200000 * 1000000) //
       |         (tf * 1000000 +
       |          (1200000 * (250000 + (750000 * dl * 1000000) // avgdl_scaled)) // 1000000))
       |      // 1000 AS term_score
       |  FROM sc),
       |bm25 AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_scaled
       |         FROM tscore GROUP BY doc_id)""".stripMargin
  }

  private val t52Sql =
    s"""WITH ${bm25SqlCtes(Seq("stream", "join", "query"))}
       |SELECT doc_id, bm25_scaled FROM bm25
       |ORDER BY bm25_scaled DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // t53_unigram_viterbi — SentencePiece-style unigram-LM tokenizer
  // INFERENCE (Kudo 2018): the Viterbi-OPTIMAL segmentation over the
  // SAME fixed vocabulary t46 walks greedily, so the pair of gates pins
  // the classic greedy-vs-optimal tokenizer gap on one corpus. The
  // additive objective (1024·len² − 1 per piece) is integer-exact and
  // encodes "maximize Σlen², tie-break fewest tokens" in one number —
  // see [[graft.functions.expressions.UnigramKernel]] for the proof
  // sketch. Spark runs the codegen DP kernel map-side (O(4·chars) per
  // doc, two small reused DP arrays); the oracle replays the identical
  // DP per DISTINCT word as a recursive-CTE reachability closure over
  // (position, score, tokens) states and weights by occurrence — two
  // engines, two DP encodings, one argmax. Scale shape: kernel is
  // map-side; only per-source partial sums cross the exchange, and the
  // oracle-side closure is bounded by distinct words × achievable
  // score states (small: words are short).
  def t53(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), unigramViterbi(col("text")).as("st"),
        wordpieceTokens(col("text")).as("greedy"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(element_at(col("st"), 1)).as("n_words"),
        sum(element_at(col("st"), 2)).as("n_tokens"),
        sum(element_at(col("st"), 3)).as("score"),
        sum(col("greedy")).as("greedy_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        col("score"), col("greedy_tokens"),
        // tokens the optimal segmentation saves over greedy, in ppm of
        // greedy — the measurable quality gap between the two rules.
        // Clamped at 0: a higher-Σlen² optimum with MORE pieces is
        // theoretically reachable, and a negative numerator would pit
        // Spark's truncating div against DuckDB's floor //
        expr("""CASE WHEN greedy_tokens = 0 OR n_tokens >= greedy_tokens THEN 0L
               |ELSE (greedy_tokens - n_tokens) * 1000000 div greedy_tokens
               |END""".stripMargin).as("saved_ppm"))
      .orderBy(col("source"))

  private val t53Sql = {
    val vocabLit = graft.functions.expressions.WordPieceKernel.allPieces
      .map(p => s"'$p'").mkString(", ")
    val greedyVocabLit = vocabLit // one vocabulary, two inference rules
    s"""WITH RECURSIVE docs AS (
       |  SELECT source, text FROM documents WHERE text IS NOT NULL),
       |words AS (
       |  SELECT source, lower(unnest(regexp_extract_all(text, '[A-Za-z]+'))) AS w
       |  FROM docs),
       |wc AS (SELECT source, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
       |dw AS (SELECT DISTINCT w FROM wc),
       |vocab AS (SELECT unnest([$vocabLit]) AS v),
       |tok AS (
       |  SELECT w, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS c,
       |    CAST(0 AS BIGINT) AS tk FROM dw
       |  UNION
       |  SELECT t.w, t.p + len(v), t.c + 1024 * len(v) * len(v) - 1, t.tk + 1
       |  FROM tok t JOIN vocab ON substr(t.w, t.p + 1, len(v)) = v),
       |best AS (SELECT w, MAX(c) AS c FROM tok WHERE p = len(w) GROUP BY w),
       |seg AS (SELECT t.w, b.c, MIN(t.tk) AS tk
       |        FROM tok t JOIN best b ON b.w = t.w AND t.c = b.c
       |        WHERE t.p = len(t.w) GROUP BY 1, 2),
       |gadv AS (SELECT pos.w, pos.p, MAX(len(v)) AS adv
       |         FROM (SELECT w, unnest(range(1, len(w) + 1)) AS p FROM dw) pos
       |         JOIN (SELECT unnest([$greedyVocabLit]) AS v) gv
       |           ON substr(pos.w, pos.p, len(v)) = v
       |         GROUP BY 1, 2),
       |gtok AS (
       |  SELECT w, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS toks FROM dw
       |  UNION ALL
       |  SELECT t.w, t.p + a.adv, t.toks + 1
       |  FROM gtok t JOIN gadv a ON a.w = t.w AND a.p = t.p),
       |gt AS (SELECT w, toks FROM gtok WHERE p = len(w) + 1),
       |agg AS (SELECT wc.source,
       |          CAST(SUM(wc.cnt) AS BIGINT) AS n_words,
       |          CAST(SUM(wc.cnt * seg.tk) AS BIGINT) AS n_tokens,
       |          CAST(SUM(wc.cnt * seg.c) AS BIGINT) AS score,
       |          CAST(SUM(wc.cnt * gt.toks) AS BIGINT) AS greedy_tokens
       |        FROM wc JOIN seg ON seg.w = wc.w JOIN gt ON gt.w = wc.w
       |        GROUP BY 1),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY 1)
       |SELECT nd.source, nd.n_docs,
       |  COALESCE(agg.n_words, 0) AS n_words,
       |  COALESCE(agg.n_tokens, 0) AS n_tokens,
       |  COALESCE(agg.score, 0) AS score,
       |  COALESCE(agg.greedy_tokens, 0) AS greedy_tokens,
       |  CAST(CASE WHEN COALESCE(agg.greedy_tokens, 0) = 0
       |              OR agg.n_tokens >= agg.greedy_tokens THEN 0
       |    ELSE (agg.greedy_tokens - agg.n_tokens) * 1000000 // agg.greedy_tokens
       |    END AS BIGINT) AS saved_ppm
       |FROM nd LEFT JOIN agg ON agg.source = nd.source
       |ORDER BY nd.source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // t54_ngram_precision — MODIFIED (clipped) n-gram precision, the BLEU
  // core (Papineni et al. 2002) every eval/decontamination pipeline
  // computes between candidate and reference texts: for each MinHash
  // candidate pair (d2's LSH machinery — the pairing a production run
  // would score), p_n = Σ_g min(cnt_cand(g), cnt_ref(g)) / #n-grams of
  // the candidate, for n = 1, 2, plus the brevity ratio — all integer
  // ppm (BLEU's geometric mean + exp is one monotone float transform
  // away; the rankable core is exact here). Clipping is the part naive
  // overlap gets wrong: a candidate repeating one reference word can't
  // farm precision — min() caps each gram at its reference count.
  // Scale shape: per-doc gram counts build map-side and shuffle by
  // (doc, gram) once per n; each pair's clipped sum is two
  // gram-keyed equi-joins bounded by the docs' gram counts — never a
  // doc×doc or gram×gram product; pairs themselves are LSH-bounded.
  def t54(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.minhashCandidatePairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleN = 3, k = 8, bands = 4)
    val toks = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val lens = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
    def gramCounts(n: Int): DataFrame = {
      val grams =
        if (n == 1) explode(col("toks"))
        else explode(expr(
          """transform(
            |  CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)
            |       ELSE array() END,
            |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
            .stripMargin))
      toks.select(col("doc_id"), grams.as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    }
    def clipped(n: Int, out: String): DataFrame = {
      val cs = gramCounts(n)
      pairs
        .join(cs.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")),
          Seq("doc_a"))
        .join(cs.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")),
          Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(least(col("ca"), col("cb"))).as(out))
    }
    pairs
      .join(lens.select(col("doc_id").as("doc_a"), col("n").as("la")), Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("n").as("lb")), Seq("doc_b"))
      .join(clipped(1, "m1"), Seq("doc_a", "doc_b"), "left")
      .join(clipped(2, "m2"), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        expr("coalesce(m1, 0L) * 1000000 div la").as("p1_ppm"),
        expr("""CASE WHEN la <= 1 THEN 0L
               |ELSE coalesce(m2, 0L) * 1000000 div (la - 1) END""".stripMargin)
          .as("p2_ppm"),
        least(lit(1000000L), expr("la * 1000000 div lb")).as("bp_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val t54Sql =
    s"""WITH ${graft.operators.DedupQueries.pairCtes},
       |t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
       |c1 AS (SELECT doc_id, unnest(toks) AS g FROM t),
       |g1 AS (SELECT doc_id, g, COUNT(*) AS c FROM c1 GROUP BY 1, 2),
       |c2 AS (SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
       |           i -> toks[i] || ' ' || toks[i + 1])) AS g
       |       FROM t),
       |g2 AS (SELECT doc_id, g, COUNT(*) AS c FROM c2 GROUP BY 1, 2),
       |m1 AS (SELECT p.doc_a, p.doc_b, SUM(LEAST(a.c, b.c)) AS m
       |       FROM pairs p
       |       JOIN g1 a ON a.doc_id = p.doc_a
       |       JOIN g1 b ON b.doc_id = p.doc_b AND b.g = a.g
       |       GROUP BY 1, 2),
       |m2 AS (SELECT p.doc_a, p.doc_b, SUM(LEAST(a.c, b.c)) AS m
       |       FROM pairs p
       |       JOIN g2 a ON a.doc_id = p.doc_a
       |       JOIN g2 b ON b.doc_id = p.doc_b AND b.g = a.g
       |       GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(COALESCE(m1.m, 0) * 1000000 // la.n AS BIGINT) AS p1_ppm,
       |  CAST(CASE WHEN la.n <= 1 THEN 0
       |    ELSE COALESCE(m2.m, 0) * 1000000 // (la.n - 1) END AS BIGINT)
       |    AS p2_ppm,
       |  CAST(LEAST(1000000, la.n * 1000000 // lb.n) AS BIGINT) AS bp_ppm
       |FROM pairs p
       |JOIN l la ON la.doc_id = p.doc_a
       |JOIN l lb ON lb.doc_id = p.doc_b
       |LEFT JOIN m1 ON m1.doc_a = p.doc_a AND m1.doc_b = p.doc_b
       |LEFT JOIN m2 ON m2.doc_a = p.doc_a AND m2.doc_b = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // t55_rake — RAKE keyword extraction (Rose et al. 2010): candidate
  // phrases are the maximal runs between stopword breaks, word score =
  // degree/frequency over the candidate phrases, phrase score = Σ of
  // its words' scores. The stoplist is LEARNED from term frequency
  // (top-8 corpus words — the paper's §1.2.2 frequency-derived
  // stoplist; a fixed English list would never break this corpus), so
  // the whole gate is data-driven and deterministic (count desc, word
  // asc). Runs are the classic gaps-and-islands id (pos − row_number
  // per doc over non-stop tokens); phrases longer than 4 words are
  // discarded (the standard max_words guard — unbounded runs make
  // every long phrase unique and degenerate). INTEGER-EXACT: word
  // score is degree·1e6 div freq; phrase score a BIGINT sum. Scale
  // shape: one doc-keyed window for the islands, vocabulary-bounded
  // word stats, phrase-keyed aggregate, top-15 =
  // TakeOrderedAndProject; the stoplist is an 8-row broadcast.
  def t55(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val stop = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(8)
      .select(col("w").as("sw"))
    val runs = toks.join(broadcast(stop), col("w") === col("sw"), "left_anti")
      .withColumn("rid", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phrases = runs.groupBy(col("doc_id"), col("rid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("ws"))
      .select(col("doc_id"),
        expr("array_join(transform(ws, x -> x.w), ' ')").as("phrase"),
        size(col("ws")).cast("long").as("plen"))
      .filter(col("plen") <= 4)
    val occ = phrases.select(col("phrase"), col("plen"),
      explode(split(col("phrase"), " ")).as("w"))
    val wscore = occ.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore", expr("deg * 1000000 div freq"))
      .select(col("w"), col("wscore"))
    val nocc = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"), max(col("plen")).as("n_words"))
    val pscore = nocc.select(col("phrase"))
      .withColumn("w", explode(split(col("phrase"), " ")))
      .join(wscore, "w")
      .groupBy(col("phrase")).agg(sum(col("wscore")).as("score_ppm"))
    nocc.join(pscore, "phrase")
      .select(col("phrase"), col("n_words"), col("n_occur"), col("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase")).limit(15)
  }

  private val t55Sql =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w,
      |    unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS pos
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT * FROM tk WHERE w <> ''),
      |stop AS (SELECT w AS sw FROM (
      |  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
      |  ORDER BY c DESC, w LIMIT 8)),
      |nn AS (SELECT t.doc_id, t.pos, t.w FROM tok t
      |       LEFT JOIN stop s ON s.sw = t.w WHERE s.sw IS NULL),
      |runs AS (SELECT doc_id, pos, w,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
      |  FROM nn),
      |ph AS (SELECT doc_id, rid, string_agg(w, ' ' ORDER BY pos) AS phrase,
      |         COUNT(*) AS plen
      |       FROM runs GROUP BY 1, 2),
      |kept AS (SELECT doc_id, phrase, CAST(plen AS BIGINT) AS plen
      |         FROM ph WHERE plen <= 4),
      |occ AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w
      |        FROM kept),
      |ws AS (SELECT w, COUNT(*) AS freq, SUM(plen) AS deg FROM occ GROUP BY w),
      |wsc AS (SELECT w, deg * 1000000 // freq AS wscore FROM ws),
      |nocc AS (SELECT phrase, COUNT(*) AS n_occur,
      |           CAST(MAX(plen) AS BIGINT) AS n_words
      |         FROM kept GROUP BY phrase),
      |dw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
      |       FROM (SELECT DISTINCT phrase FROM kept)),
      |psc AS (SELECT dw.phrase, CAST(SUM(wsc.wscore) AS BIGINT) AS score_ppm
      |        FROM dw JOIN wsc USING (w) GROUP BY 1)
      |SELECT n.phrase, n.n_words, n.n_occur, p.score_ppm
      |FROM nocc n JOIN psc p USING (phrase)
      |ORDER BY score_ppm DESC, phrase LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------
  // t56_rouge_lcs — ROUGE-L (Lin 2004), the SEQUENCE-ALIGNMENT metric
  // family (t54's clipped n-gram precision is order-blind; LCS is the
  // order-aware complement — "fast stream" vs "stream fast" tie on p1
  // but separate here). Computed for every d2 MinHash candidate pair
  // (pairCtes shared verbatim with the oracle, t54's discipline) over
  // the first 12 tokens per side, via the [[LcsLength]] codegen kernel
  // — one fused rolling-row Wagner–Fischer DP per pair, ≤144 cells,
  // inside the WholeStageCodegen span. ROUGE-L F1 collapses exactly to
  // 2·LCS/(n+m) when P and R share one LCS, so the score is integer
  // ppm with no float path. The oracle replays the identical DP as a
  // recursive-CTE reachability closure over (i, j, l) states — two
  // engines, two DP encodings, one alignment (t53's proof shape).
  // Scale shape: pairs are LSH-bounded (never all-pairs), token
  // arrays ride the two doc-keyed joins pre-truncated to 12, and the
  // O(n·m) kernel only ever runs on the bounded pair set.
  def t56(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.dedup.Dedup.minhashCandidatePairs(
      Tables.documents(spark, dir), "doc_id", "text",
      shingleN = 3, k = 8, bands = 4)
    val tk = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), slice(tokens(col("text")), 1, 12).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
    pairs
      .join(tk.select(col("doc_id").as("doc_a"), col("tk").as("ta"),
        col("n").as("na")), Seq("doc_a"))
      .join(tk.select(col("doc_id").as("doc_b"), col("tk").as("tb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("lcs_len",
        graft.functions.TextFunctions.lcsLength(col("ta"), col("tb")))
      .select(col("doc_a"), col("doc_b"), col("lcs_len"),
        expr("2 * lcs_len * 1000000 div (na + nb)").as("rouge_l_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val t56Sql =
    s"""WITH RECURSIVE ${graft.operators.DedupQueries.pairCtes},
       |tt AS (SELECT doc_id, string_split(text, ' ')[1:12] AS tk
       |       FROM documents WHERE text IS NOT NULL),
       |pr AS (SELECT p.doc_a, p.doc_b, a.tk AS ta, b.tk AS tb,
       |         CAST(len(a.tk) AS BIGINT) AS n, CAST(len(b.tk) AS BIGINT) AS m
       |       FROM pairs p JOIN tt a ON a.doc_id = p.doc_a
       |                    JOIN tt b ON b.doc_id = p.doc_b),
       |mv(di, dj, mt) AS (VALUES (1, 0, false), (0, 1, false), (1, 1, true)),
       |st AS (
       |  SELECT doc_a, doc_b, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS j,
       |         CAST(0 AS BIGINT) AS l
       |  FROM pr
       |  UNION
       |  SELECT s.doc_a, s.doc_b, s.i + mv.di, s.j + mv.dj,
       |         s.l + CASE WHEN mv.mt THEN 1 ELSE 0 END
       |  FROM st s JOIN pr p ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
       |  CROSS JOIN mv
       |  WHERE s.i + mv.di <= p.n AND s.j + mv.dj <= p.m
       |    AND (NOT mv.mt OR p.ta[CAST(s.i AS INT) + 1] = p.tb[CAST(s.j AS INT) + 1])),
       |lcs AS (SELECT s.doc_a, s.doc_b, MAX(s.l) AS l
       |        FROM st s JOIN pr p ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
       |        WHERE s.i = p.n AND s.j = p.m GROUP BY 1, 2)
       |SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, CAST(c.l AS BIGINT) AS lcs_len,
       |  CAST(2 * c.l * 1000000 // (p.n + p.m) AS BIGINT) AS rouge_l_ppm
       |FROM lcs c JOIN pr p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  // t57_naive_bayes — multinomial naive Bayes text classification
  // (predict `lang` from tokens), INTEGER-EXACT end to end by the
  // equal-evidence construction: Laplace class-conditionals are
  // (n_wc + 1) / (K + V) and the per-class DENOMINATORS are forced
  // equal by training every class on EXACTLY K token occurrences
  // (K = least(min class total, 2000), first-(doc_id, pos) order), so
  // the argmax over classes reduces to comparing the NUMERATOR
  // products Π (n_wc + 1) — pure BIGINT: test docs truncate to 5
  // tokens and each factor is ≤ K + 1 = 2001, so a score is
  // ≤ 2001⁵ ≈ 3.3e16 < 2⁶³ (the same headroom certificate discipline
  // as t23/t52; priors are uniform by the same construction). Ties
  // break to the lexicographically first class. 80/20 split on
  // doc_id % 5; output is the test confusion matrix. (This corpus
  // shares one 31-word vocabulary across all langs — `lang` is random
  // metadata — so the matrix is near-uniform BY CONSTRUCTION of the
  // test data; the gate pins the estimator's exact arithmetic and
  // argmax mechanics, which is what transfers to a real corpus.)
  // Scale shape:
  // TRAINING is sample-bounded by design (the per-class equalization
  // window partitions by class — a few sequential class scans over a
  // sample-sized corpus, never the full-corpus path); INFERENCE is
  // the 100 TB path and is map-side only — the (class, token) count
  // table is vocabulary-bounded and broadcast, the class grid is a
  // bounded-dimension broadcast, scores are per-row products, and the
  // only data-keyed exchange is the per-doc argmax.
  def t57(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
    val occ = docs.filter(col("doc_id") % 5 =!= 4)
      .select(col("lang").as("cls"), col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
    val ranked = occ.withColumn("rn", row_number().over(
      Window.partitionBy(col("cls")).orderBy(col("doc_id"), col("pos"))))
    val kRow = ranked.groupBy(col("cls")).agg(count(lit(1)).as("tot"))
      .agg(least(min(col("tot")), lit(2000L)).as("k")) // 1-row ride-along
    val counts = ranked.join(broadcast(kRow), col("rn") <= col("k"))
      .groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("nwc"))
    val classes = counts.select(col("cls")).distinct()
    val test = docs.filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("lang").as("actual"),
        posexplode(expr("slice(toks, 1, 5)")).as(Seq("pos", "tok")))
    val scores = test.join(broadcast(classes), lit(true))
      .join(broadcast(counts), Seq("cls", "tok"), "left")
      .withColumn("f", coalesce(col("nwc"), lit(0L)) + lit(1L))
      .groupBy(col("doc_id"), col("actual"), col("cls"))
      .agg(expr(
        """coalesce(max(CASE WHEN pos = 0 THEN f END), 1L)
          | * coalesce(max(CASE WHEN pos = 1 THEN f END), 1L)
          | * coalesce(max(CASE WHEN pos = 2 THEN f END), 1L)
          | * coalesce(max(CASE WHEN pos = 3 THEN f END), 1L)
          | * coalesce(max(CASE WHEN pos = 4 THEN f END), 1L)"""
          .stripMargin.replace("\n", " ")).as("score"))
    scores.withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("cls"))))
      .filter(col("rnk") === 1)
      .groupBy(col("actual"), col("cls").as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("predicted"))
  }

  private val t57Sql =
    """WITH docs AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |occ AS (
      |  SELECT lang AS cls, doc_id,
      |    unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
      |  FROM docs WHERE doc_id % 5 <> 4),
      |ranked AS (
      |  SELECT cls, tok, ROW_NUMBER() OVER (PARTITION BY cls
      |    ORDER BY doc_id, pos) AS rn
      |  FROM occ),
      |k AS (SELECT least(MIN(tot), 2000) AS k
      |      FROM (SELECT COUNT(*) AS tot FROM ranked GROUP BY cls)),
      |counts AS (
      |  SELECT cls, tok, COUNT(*) AS nwc
      |  FROM ranked, k WHERE rn <= k.k GROUP BY 1, 2),
      |classes AS (SELECT DISTINCT cls FROM counts),
      |test AS (
      |  SELECT doc_id, lang AS actual,
      |    unnest(range(0, least(len(toks), 5))) AS pos,
      |    unnest(toks[1:5]) AS tok
      |  FROM docs WHERE doc_id % 5 = 4),
      |scores AS (
      |  SELECT t.doc_id, t.actual, c.cls,
      |    coalesce(MAX(CASE WHEN t.pos = 0 THEN n.nwc + 1 END), 1)
      |    * coalesce(MAX(CASE WHEN t.pos = 1 THEN n.nwc + 1 END), 1)
      |    * coalesce(MAX(CASE WHEN t.pos = 2 THEN n.nwc + 1 END), 1)
      |    * coalesce(MAX(CASE WHEN t.pos = 3 THEN n.nwc + 1 END), 1)
      |    * coalesce(MAX(CASE WHEN t.pos = 4 THEN n.nwc + 1 END), 1)
      |      AS score
      |  FROM test t CROSS JOIN classes c
      |  LEFT JOIN counts n ON n.cls = c.cls AND n.tok = t.tok
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, actual, cls AS predicted,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, cls) AS rnk
      |  FROM scores)
      |SELECT actual, predicted, COUNT(*) AS n
      |FROM pred WHERE rnk = 1
      |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin

  // t58_multipattern — banned-phrase scanning via the AHO–CORASICK
  // automaton kernel ([[graft.functions.expressions.MultiPatternCount]],
  // Aho & Corasick 1975): every document scanned ONCE against the whole
  // pattern set — O(bytes + matches) per doc versus the per-pattern
  // `contains`/`replace` chain's O(bytes × patterns), which is the
  // entire scaling story for term scrubbing at 100 TB (the pattern set
  // only grows). Patterns are word AND phrase shaped (cross-token
  // matches a tokenizer can't see), all BORDER-FREE (no pattern can
  // overlap itself — `MultiPatternCountSpec` asserts it), so the
  // kernel's overlapping-inclusive count equals the oracle's
  // per-pattern non-overlapping length/replace restatement. Scale
  // shape: the automaton is built once on the driver (KBs) and rides
  // the closure; the scan is map-side inside the codegen span; one
  // partial-aggregated exchange on `source`.
  val t58Patterns: Seq[String] =
    Seq("data", "stream", "scan", "fast table", "big vector", "spark win")

  def t58(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions
          .multiPatternCount(col("text"), t58Patterns).as("hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hits")).as("total_hits"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
        max(col("hits")).as("max_hits"))
      .orderBy(col("source"))

  private val t58Sql = {
    // one hits expression per pattern, summed — the oracle restates the
    // automaton per pattern with the length/replace trick (exact for
    // border-free patterns); patterns interpolated from the SAME list
    val perPattern = t58Patterns.map { p =>
      val lit = p.replace("'", "''")
      s"(length(text) - length(replace(text, '$lit', ''))) // ${p.length}"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, source, $perPattern AS hits
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(hits) AS BIGINT) AS total_hits,
       |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_hit,
       |  CAST(MAX(hits) AS BIGINT) AS max_hits
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t58_multipattern" -> (t58 _),
    "t57_naive_bayes" -> (t57 _),
    "t56_rouge_lcs" -> (t56 _),
    "t55_rake" -> (t55 _),
    "t54_ngram_precision" -> (t54 _),
    "t53_unigram_viterbi" -> (t53 _),
    "t52_bm25" -> (t52 _),
    "t51_shard_manifest" -> (t51 _),
    "t49_linear_classifier" -> (t49 _),
    "t46_wordpiece" -> (t46 _),
    "t45_pipeline_funnel" -> (t45 _),
    "t44_gopher_rules" -> (t44 _),
    "t43_feistel_order" -> (t43 _),
    "t48_weighted_sample" -> (t48 _),
    "t42_isotonic_pava" -> (t42 _),
    "t41_mixture_apportion" -> (t41 _),
    "t40_burstiness" -> (t40 _),
    "t39_good_turing" -> (t39 _),
    "t38_kneser_ney" -> (t38 _),
    "t37_code_detection" -> (t37 _),
    "t36_zipf_slope" -> (t36 _),
    "t35_concordance" -> (t35 _),
    "t34_effective_tokens" -> (t34 _),
    "t33_hash_collisions" -> (t33 _),
    "t32_pps_sample" -> (t32 _),
    "t30_ngram_novelty" -> (t30 _),
    "t28_inverted_index" -> (t28 _),
    "t29_feature_hash" -> (t29 _),
    "t27_lm_score" -> (t27 _),
    "t26_extract_table" -> (t26 _),
    "t24_fuzzy_pairs" -> (t24 _),
    "t25_outlier_docs" -> (t25 _),
    "t23_tfidf_topk" -> (t23 _),
    "t22_stratified_sample" -> (t22 _),
    "t21_bpe_encode" -> (t21 _),
    "t20_bpe_train" -> (t20 _),
    "t19_df_score" -> (t19 _),
    "t18_leakage_split" -> (t18 _),
    "t17_bpe_pairs" -> (t17 _),
    "t1_token_stats" -> (t1 _),
    "t2_quality_buckets" -> (t2 _),
    "t3_langid_confusion" -> (t3 _),
    "t4_fingerprint_groups" -> (t4 _),
    "t5_curation" -> (t5 _),
    "t6_split" -> (t6 _),
    "t7_repetition" -> (t7 _),
    "t8_mixture_sample" -> (t8 _),
    "t9_redaction" -> (t9 _),
    "t10_packing" -> (t10 _),
    "t11_source_cap" -> (t11 _),
    "t12_chunking" -> (t12 _),
    "t13_doc_freq" -> (t13 _),
    "t14_temperature_mix" -> (t14 _),
    "t15_fim_spans" -> (t15 _),
    "t16_pmi_bigrams" -> (t16 _))

  val oracleSql: Map[String, String] = Map(
    "t46_wordpiece" -> t46Sql,
    "t45_pipeline_funnel" -> t45Sql,
    "t44_gopher_rules" -> t44Sql,
    "t43_feistel_order" -> t43Sql,
    "t51_shard_manifest" -> t51Sql,
    "t49_linear_classifier" -> t49Sql,
    "t48_weighted_sample" -> t48Sql,
    "t42_isotonic_pava" -> t42Sql,
    "t41_mixture_apportion" -> t41Sql,
    "t40_burstiness" -> t40Sql,
    "t39_good_turing" -> t39Sql,
    "t38_kneser_ney" -> t38Sql,
    "t37_code_detection" -> t37Sql,
    "t36_zipf_slope" -> t36Sql,
    "t35_concordance" -> t35Sql,
    "t34_effective_tokens" -> t34Sql,
    "t33_hash_collisions" -> t33Sql,
    "t32_pps_sample" -> t32Sql,
    "t30_ngram_novelty" -> t30Sql,
    "t28_inverted_index" -> t28Sql,
    "t29_feature_hash" -> t29Sql,
    "t27_lm_score" -> t27Sql,
    "t26_extract_table" -> t26Sql,
    "t24_fuzzy_pairs" -> t24Sql,
    "t25_outlier_docs" -> t25Sql,
    "t58_multipattern" -> t58Sql,
    "t57_naive_bayes" -> t57Sql,
    "t56_rouge_lcs" -> t56Sql,
    "t55_rake" -> t55Sql,
    "t54_ngram_precision" -> t54Sql,
    "t53_unigram_viterbi" -> t53Sql,
    "t52_bm25" -> t52Sql,
    "t23_tfidf_topk" -> t23Sql,
    "t22_stratified_sample" -> t22Sql,
    "t21_bpe_encode" -> t21Sql,
    "t20_bpe_train" -> t20Sql,
    "t19_df_score" -> t19Sql,
    "t18_leakage_split" -> t18Sql,
    "t17_bpe_pairs" -> t17Sql,
    "t1_token_stats" -> t1Sql,
    "t2_quality_buckets" -> t2Sql,
    "t3_langid_confusion" -> t3Sql,
    "t4_fingerprint_groups" -> t4Sql,
    "t5_curation" -> t5Sql,
    "t6_split" -> t6Sql,
    "t7_repetition" -> t7Sql,
    "t8_mixture_sample" -> t8Sql,
    "t9_redaction" -> t9Sql,
    "t10_packing" -> t10Sql,
    "t11_source_cap" -> t11Sql,
    "t12_chunking" -> t12Sql,
    "t13_doc_freq" -> t13Sql,
    "t14_temperature_mix" -> t14Sql,
    "t15_fim_spans" -> t15Sql,
    "t16_pmi_bigrams" -> t16Sql)
}
