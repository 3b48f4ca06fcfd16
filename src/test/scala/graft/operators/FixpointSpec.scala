package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Fixpoint, Pins, SparkSpec}
import graft.dedup.ConnectedComponents

/** [[graft.Fixpoint]] frees each superseded round as soon as an action
  * has read its successor, the loops on it leave behind only the pins
  * their result still reads, and [[graft.Pins.scoped]] frees the rest.
  * Where a spec holds every round, the ContextCleaner cannot be what
  * freed them. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpoint RDDs a frame's plan scans. */
  private def scanned(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** The checkpoint RDD of one pinned round. */
  private def rddOf(round: DataFrame): Int = {
    val ids = scanned(round)
    assert(ids.size == 1, s"a pinned round scans one RDD: $ids")
    ids.head
  }

  test("untilStable frees each superseded round once the next round's test has run") {
    val rounds = ArrayBuffer.empty[DataFrame]
    val atTest = ArrayBuffer.empty[Set[Int]]
    // (5, 3) counts down to (0, 0): rounds 0..5 differ, round 6 repeats round 5
    val (last, n) = Fixpoint.untilStable(Seq(5L, 3L).toDF("x"), maxRounds = 10) { r =>
      rounds += r
      atTest += persistent
      r.agg(sum("x")).head().getLong(0)
    } { r => r.select(greatest(col("x") - 1L, lit(0L)).as("x")) }
    assert(n == 6 && rounds.size == 7)
    assert(rddOf(last) == rddOf(rounds.last))
    (1 to 6).foreach { r =>
      assert(atTest(r).contains(rddOf(rounds(r - 1))), s"round ${r - 1} freed before round $r was read")
    }
    (2 to 6).foreach { r =>
      assert(!atTest(r).contains(rddOf(rounds(r - 2))), s"round ${r - 2} still pinned at round $r's test")
    }
    assert(persistent.contains(rddOf(last)))
    assert(rounds.init.map(rddOf).forall(!persistent.contains(_)))
    assert(last.as[Long].collect().toSeq == Seq(0L, 0L))
  }

  test("an eager iterate frees each round after its successor's pin; a lazy one runs no job") {
    def double(r: DataFrame) = r.select((col("x") * 2).as("x"))
    val before = persistent
    val eagerRounds = ArrayBuffer.empty[DataFrame]
    val eager = Fixpoint.iterate(Seq(1L, 2L).toDF("x"), 3, eager = true) { r =>
      eagerRounds += r; double(r)
    }
    assert(eagerRounds.size == 3)
    assert(persistent -- before == Set(rddOf(eager)))
    assert(eager.as[Long].collect().sorted.toSeq == Seq(8L, 16L))

    val lazyRounds = ArrayBuffer.empty[DataFrame]
    val (lzy, jobs) = jobsDuring(Fixpoint.iterate(Seq(1L, 2L).toDF("x"), 3) { r =>
      lazyRounds += r; double(r)
    })
    assert(jobs == 0, "lazy rounds must wait for the caller's action")
    assert((lazyRounds :+ lzy).map(rddOf).forall(persistent.contains), "no in-loop free")
    assert(lzy.as[Long].collect().sorted.toSeq == Seq(8L, 16L))
  }

  test("release frees a pin in every pin.mode") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fixpoint_ckpt")
    val savedDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try Seq("local", "persist", "reliable").foreach { mode =>
      spark.conf.set("spark.graft.pin.mode", mode)
      val before = persistent
      val pin = Pins.pinForFanout(spark.range(100).toDF("x"), eager = true)
      assert(pin.count() == 100)
      Pins.release(pin)
      assert(persistent -- before == Set.empty, s"pin.mode=$mode left a pin behind")
    } finally {
      spark.conf.unset("spark.graft.pin.mode")
      spark.sparkContext.setCheckpointDir(savedDir.orNull)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  /** Runs `call` and asserts that every persistent RDD it created is a
    * pin its result still reads; returns the collected result. */
  private def leavesOnlyItsResultPins(call: => DataFrame): Array[org.apache.spark.sql.Row] = {
    val before = persistent
    val out = call
    val created = persistent -- before
    assert(created.nonEmpty)
    assert(created.subsetOf(scanned(out)),
      s"pins nothing reads: ${created -- scanned(out)} (result reads ${scanned(out)})")
    out.collect()
  }

  test("CC, label propagation, k-core and s37 leave only the pins their result reads") {
    val path = (1L to 63L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = leavesOnlyItsResultPins(ConnectedComponents.connectedComponents(path, "a", "b"))
    assert(cc.length == 64 && cc.forall(_.getLong(1) == 1L))

    val lp = leavesOnlyItsResultPins(SimilarityQueries.propagateToFixpoint(
      Seq(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2).toDF("vec_id", "label"),
      Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 3L -> 4L, 4L -> 3L).toDF("vec_id", "nbr_id"),
      maxRounds = 10))
    assert(lp.forall(r => r.getInt(2) == 1 && r.getInt(3) == 3))

    val clique = for { i <- 1L to 5L; j <- 1L to 5L if i < j } yield (i, j)
    val kc = leavesOnlyItsResultPins(SimilarityQueries.kcoreOf(
      (1L to 8L).map(Tuple1(_)).toDF("vec_id"),
      (clique ++ Seq((4L, 6L), (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))).toDF("a", "b"),
      kCore = 3, maxRounds = 8))
    assert(kc.map(_.getLong(1)).sum == 5L)

    withTempDir("fixpoint_s37") { dir =>
      (1L to 100L).toDF("c_custkey").write.parquet(s"$dir/customer.parquet")
      val pd = leavesOnlyItsResultPins(SimilarityQueries.s37(spark, dir))
      assert(pd.map(_.getLong(2)).sum == 100L, "every node lies in exactly one basin")
    }
  }

  /** Whether a pin's blocks are still held: its checkpoint RDD is
    * persistent, or its frame is cached. */
  private def held(pin: DataFrame): Boolean = pin.queryExecution.logical match {
    case r: LogicalRDD => persistent.contains(r.rdd.id)
    case _ => pin.storageLevel != StorageLevel.NONE
  }

  private def inEveryPinMode(body: String => Unit): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scope_ckpt")
    val savedDir = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try Seq("local", "persist", "reliable").foreach { mode =>
      spark.conf.set("spark.graft.pin.mode", mode)
      body(mode)
    } finally {
      spark.conf.unset("spark.graft.pin.mode")
      spark.sparkContext.setCheckpointDir(savedDir.orNull)
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("a scope around a lazy iterate's action leaves no pin behind") {
    val rounds = ArrayBuffer.empty[DataFrame]
    val sum = Pins.scoped {
      val last = Fixpoint.iterate(Seq(1L, 2L).toDF("x"), 3) { r =>
        rounds += r; r.select((col("x") * 2).as("x"))
      }
      rounds += last
      assert(rounds.forall(held), "the rounds are pinned until the scope closes")
      last.as[Long].collect().sum
    }
    assert(sum == 24L && rounds.size == 4)
    assert(!rounds.exists(held), "a round outlived the scope")
  }

  test("a nested scope hands its parent only the pins its frame scans, in every pin.mode") {
    inEveryPinMode { mode =>
      var scanned, dropped: DataFrame = null
      var afterInner = (false, false)
      val total = Pins.scoped {
        val out = Pins.scoped {
          dropped = Pins.pinForFanout(spark.range(10).toDF("x"), eager = true)
          scanned = Pins.pinForFanout(spark.range(20).toDF("y"), eager = true)
          scanned.select((col("y") + lit(dropped.count())).as("z"))
        }
        afterInner = (held(scanned), held(dropped))
        out.agg(sum("z")).head().getLong(0)
      }
      assert(total == 390L, mode)
      if (mode != "reliable") // a reliable checkpoint holds files, not blocks
        assert(afterInner == (true, false), s"pin.mode=$mode: (scanned, dropped) held after the inner scope")
      assert(!held(scanned) && !held(dropped), s"pin.mode=$mode: the outer scope left a pin")
    }
  }

  test("a scope whose body throws still frees its pins; a pin of a frame the user cached stays") {
    inEveryPinMode { mode =>
      var pin: DataFrame = null
      intercept[IllegalStateException](Pins.scoped {
        pin = Pins.pinForFanout(spark.range(5).toDF("x"), eager = true)
        if (mode != "reliable") assert(held(pin))
        throw new IllegalStateException("body failed")
      })
      assert(!held(pin), s"pin.mode=$mode")
    }
    spark.conf.set("spark.graft.pin.mode", "persist")
    val mine = spark.range(7).toDF("x").cache()
    try {
      Pins.scoped(Pins.pinForFanout(spark.range(7).toDF("x"), eager = true).count())
      assert(mine.storageLevel != StorageLevel.NONE, "the scope freed the user's cache entry")
    } finally { spark.conf.unset("spark.graft.pin.mode"); mine.unpersist(); () }
  }
}
