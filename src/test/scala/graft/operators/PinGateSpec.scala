package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** Conf gates introduced by r10 (verdict items 1 and 3):
  *
  *  1. `spark.graft.broadcastPin.maxRows` — the explicit broadcast
  *     hints on data-cardinality pinned frames (d16 occurrence/doc
  *     tables, d26 prefix/verify sides, t49 vocabulary, st28 session
  *     index) apply only under a row ceiling; forcing the ceiling to 0
  *     must take the shuffle-join path END TO END with identical
  *     results — that path is what runs at 100 TB.
  *
  *  2. `spark.graft.pin.mode` — fan-out/iteration pins default to
  *     `localCheckpoint` (bench plans unchanged) but must produce
  *     identical results under `persist` (lineage kept — the
  *     fault-tolerant cluster mode) and `reliable` (checkpoint dir).
  */
class PinGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def gate(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  test("broadcastPin.maxRows=0 forces the shuffle path with identical results") {
    Seq("d16_containment", "d26_prefix_filter", "t49_linear_classifier",
      "st28_session_enrich").foreach { name =>
      val hinted = canon(gate(name))
      val unhinted = withConf("spark.graft.broadcastPin.maxRows" -> "0") {
        canon(gate(name))
      }
      assert(hinted.nonEmpty, s"$name produced no rows")
      assert(hinted == unhinted, s"$name diverged without broadcast hints")
    }
  }

  test("broadcastPin.maxRows=0 actually drops the hint from the plan") {
    // under the ceiling the optimized plan carries the join hints; at 0
    // it must not — proof the ungated strategy exists, not just that
    // AQE rescued the result
    def hints(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
      }.size
    val default = hints(gate("t49_linear_classifier"))
    val gated = withConf("spark.graft.broadcastPin.maxRows" -> "0") {
      hints(gate("t49_linear_classifier"))
    }
    assert(default >= 1, "expected the vocab attach to carry a broadcast hint")
    assert(gated == 0, "ceiling 0 must leave join strategy to the planner")
  }

  // representative pin consumers: prefix-sum helper (x30), multi-pin
  // merge (x9), basket fan-out (q34), graph loop + packed majority
  // (s12), bigram fan-outs (t38), prefix-filter (d26), self-join
  // fan-outs (x48, s27), eager pointer-doubling rounds (s37), BPE
  // vocabularies (t20, t21)
  private val pinGates = Seq("x30_abc_pareto", "x9_scd2_merge",
    "q34_frequent_pairs", "s12_label_prop_fixpoint", "t38_kneser_ney",
    "d26_prefix_filter", "x48_runs_test", "s27_mmr", "s37_pointer_doubling",
    "t20_bpe_train", "t21_bpe_encode")

  test("pin.mode=persist (lineage kept) matches the localCheckpoint default") {
    pinGates.foreach { name =>
      val local = canon(gate(name))
      val persisted = withConf("spark.graft.pin.mode" -> "persist") {
        graft.Pins.scoped(canon(gate(name)))
      }
      assert(local.nonEmpty, s"$name produced no rows")
      assert(local == persisted, s"$name diverged under pin.mode=persist")
    }
  }

  test("pin.mode=reliable (checkpoint dir) matches the default") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pin_ckpt")
    val saved = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      // x30: fan-out pins; s12: lazy Fixpoint rounds; s37: eager ones
      Seq("x30_abc_pareto", "s12_label_prop_fixpoint", "s37_pointer_doubling").foreach { name =>
        val local = canon(gate(name))
        val reliable = withConf("spark.graft.pin.mode" -> "reliable") {
          canon(gate(name))
        }
        assert(local.nonEmpty, s"$name produced no rows")
        assert(local == reliable, s"$name diverged under pin.mode=reliable")
      }
    } finally {
      // restore the previous dir (null clears it): later specs must not
      // write into the deleted temp dir
      spark.sparkContext.setCheckpointDir(saved.orNull)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  // the runners free what a gate pinned and nothing else: `Dev time`
  // (BenchIsolated.time) and Verify's per-gate dump over the lazy-loop
  // gates, t20's scoped vocabulary and x30's fan-out pins
  test("Dev time and Verify free every pin a gate made and keep the user's cache") {
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val gates = Seq("s13_pagerank", "s16_bfs_hops", "s19_kmeans", "s23_hits",
      "s35_graph_beam", "t20_bpe_train", "x30_abc_pareto")
    // start from an empty block cache, so that no pin an earlier suite
    // left to the ContextCleaner can vanish between the two snapshots
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val mine = spark.range(1000).toDF("x").cache()
    assert(mine.count() == 1000)
    val before = persistent
    assert(before.size == 1)
    try {
      assert(graft.tools.BenchIsolated.time(spark, dir, gates).keySet == gates.toSet)
      withTempDir("runner_scope") { out =>
        gates.foreach(graft.Verify.dump(spark, dir, out, _))
        assert(gates.forall(g => spark.read.parquet(s"$out/$g").count() > 0))
      }
      assert(persistent == before)
      assert(mine.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        "the user's cache was evicted")
    } finally { mine.unpersist(blocking = true); () }
  }
}
