package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only: builds an N× perf-scaling dataset from an existing sf dir by
  * replication with per-replica DECORRELATION, so dedup/similarity
  * structure scales linearly (each replica is an isometric, disjoint copy)
  * instead of quadratically (naive replication makes every copy of a doc
  * a near-dup of every other copy — candidate pairs would grow N²):
  *
  *  - documents: replica k > 0 suffixes every token with `_k` — all
  *    shingles change, so no cross-replica MinHash/SimHash collisions,
  *    while within-replica near-dup structure is exactly the original;
  *  - embeddings: replica k applies a deterministic ±1 sign pattern per
  *    component — an isometry (all within-replica dot products and norms
  *    preserved) that decorrelates cross-replica cosines;
  *  - events: replica k shifts user_id/event_id — N× concurrent users in
  *    the same event-time range, which is exactly how streaming state
  *    grows at scale.
  *
  * `runMain graft.tools.MakeScaleData [srcDir] [outDir] [copies]`.
  * Perf harness only — never an oracle input.
  */
object MakeScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1_synth"
    val copies = if (args.length > 2) args(2).toInt else 10
    val relCopies = if (args.length > 3) args(3).toInt else 1
    val spark = graft.BenchSupport.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    build(spark, src, out, copies, relCopies)
    spark.stop()
  }

  /** The replication body, callable from `ScaleProbeSpec` (which
    * regenerates a 10× dir per test JVM so the wall-ratio bounds run
    * against data it built itself, not a stale /tmp artifact). */
  def build(spark: SparkSession, src: String, out: String,
      copies: Int, relCopies: Int): Unit = {
    def replicate(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map(k => f(base, k)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale] wrote $table x$copies")
    }

    replicate("documents") { (df, k) =>
      val text =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ")
      df.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"), text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }

    replicate("embeddings") { (df, k) =>
      // deterministic ±1 pattern per (replica, component): an isometry.
      // Replica 0 is the IDENTITY (like the documents branch) so the
      // baseline replica is bit-identical to the source data and 1×-vs-N×
      // spot checks compare the same vectors.
      val pattern =
        if (k == 0) Seq.fill(64)(1.0f)
        else (0 until 64).map { i =>
          if ((((i * 2654435761L + k * 40503L) >>> 16) & 1L) == 1L) -1.0f else 1.0f
        }
      df.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        zip_with(col("embedding"), typedlit(pattern), (x, s) => x * s).as("embedding"),
        col("label"))
    }

    replicate("events") { (df, k) =>
      df.select((col("event_id") + lit(k * 100000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    // Relational fact tables replicate only when asked (relCopies,
    // default 1 = pass through): orderkeys offset per copy so the
    // orders⋈lineitem relationship is preserved copy-by-copy, custkeys
    // untouched so each customer's history deepens (the realistic
    // direction for the per-customer window/argmax probes). Dims pass
    // through — a 100 TB fact grows; nations don't.
    def replicateRel(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until relCopies).map(k => f(base, k)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scale] wrote $table x$relCopies")
    }
    if (relCopies > 1) {
      replicateRel("orders") { (df, k) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
      }
      replicateRel("lineitem") { (df, k) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
      }
    } else {
      Seq("orders", "lineitem").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    println(s"[scale] done -> $out")
  }
}
