package graft

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.storage.StorageLevel

/** Materialization discipline for fan-out subtrees and iterative state.
  *
  * Why pins exist (r9 finding, guide §2.4): a `BroadcastExchange` build
  * reuses no shuffle stage, so a DataFrame consumed by 2+ downstream
  * joins where one side broadcasts re-executes its ENTIRE upstream once
  * per consumer (ReuseExchange only dedups shuffle exchanges). Pinning
  * the fan-out point materializes it once.
  *
  * Why this is a helper and not bare `localCheckpoint` at every site
  * (r9 verdict item 3): `localCheckpoint` truncates lineage and stores
  * blocks unreplicated on executors — on a cluster, one lost executor
  * fails the job. The pin MODE is therefore a conf, with the local-mode
  * default preserving the bench plans byte-for-byte:
  *
  *   spark.graft.pin.mode = local | persist | reliable
  *
  *  - `local` (default): `localCheckpoint(eager)` — zero-copy executor
  *    block cache, lineage truncated. Right for local[n] and for
  *    clusters that accept recompute-from-scratch on executor loss.
  *  - `persist`: `persist(MEMORY_AND_DISK)` — KEEPS lineage, so an
  *    executor loss recomputes the lost partitions instead of failing
  *    the job, and the CacheManager retains the frame's size statistics
  *    (AQE can still pick broadcast strategies from real sizes). The
  *    cluster-scale default for [[pinForFanout]].
  *  - `reliable`: `checkpoint(eager)` — writes to the SparkContext
  *    checkpoint directory (caller must `setCheckpointDir` to durable
  *    storage); survives executor loss, truncates lineage. Right for
  *    the heavy pins on very long jobs.
  *
  * A checkpointed frame (`local` and `reliable` pins, and every
  * iterative pin) is freed through [[release]]: `Dataset.unpersist`
  * does not reach the checkpoint's RDD and frees nothing.
  *
  * Scopes. [[scoped]] frees the pins made on its thread while it is
  * open (`Fixpoint` also frees superseded rounds inside its loop). A
  * runner closes one after each action, so nothing else in the session
  * is touched. A library call closes its own only if every pin its
  * result reads is materialized when it returns (connected components,
  * label propagation, k-core); a lazy loop's rounds are read through
  * lineage by the caller's action, so it leaves them to the caller's
  * scope. A pin made with no scope open is not recorded: the
  * ContextCleaner frees a checkpoint once its frame is garbage, and a
  * `persist` pin stays cached until its owner uncaches it.
  */
object Pins {

  private def mode(df: DataFrame): String =
    df.sparkSession.conf.get("spark.graft.pin.mode", "local")

  /** Pins made on this thread per open [[scoped]] call, innermost first. */
  private val scopes = ThreadLocal.withInitial[List[mutable.Buffer[DataFrame]]](() => Nil)

  private def record(pin: DataFrame): DataFrame = { scopes.get.headOption.foreach(_ += pin); pin }

  /** Pin a frame consumed by multiple downstream operators (a fan-out
    * point). `eager = true` materializes now — callers that need
    * materialize-before-use semantics (stream-static sides, frames
    * whose count feeds a driver scalar) say so explicitly. A `persist`
    * of a plan that is already cached reuses that entry, which stays
    * its owner's: it is not recorded. */
  def pinForFanout(df: DataFrame, eager: Boolean = false): DataFrame =
    mode(df) match {
      case "persist" =>
        val owned = df.storageLevel == StorageLevel.NONE
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) { p.count(); () }
        if (owned) record(p) else p
      case "reliable" => record(df.checkpoint(eager))
      case _ => record(df.localCheckpoint(eager))
    }

  /** Pin one round of iterative state (CC rounds, label-prop rounds,
    * pointer-doubling). Unlike a fan-out pin this MUST truncate lineage
    * — the loop otherwise grows the plan (and task closures) linearly
    * in rounds — so `persist` mode falls back to `local` here and only
    * `reliable` changes the storage. */
  private[graft] def pinIterative(df: DataFrame, eager: Boolean = false): DataFrame =
    record(mode(df) match {
      case "reliable" => df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    })

  /** Free a pin. A checkpointed frame is a scan of the checkpoint's RDD,
    * so that RDD is unpersisted; a `persist`-mode fan-out pin is
    * uncached. A `reliable` checkpoint's files stay until Spark's
    * ContextCleaner removes them
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`). Call it only
    * once no frame that will still run reads `df` through its lineage:
    * an action must have materialized every pin built on top of it. */
  private[graft] def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking); ()
      case _ => df.unpersist(blocking); ()
    }

  /** Runs `body` and frees every pin made on this thread meanwhile, also
    * when it throws, except those a `DataFrame` result scans: they pass to
    * the enclosing scope, or with none open are left to the ContextCleaner.
    * Scans are enough because a call closes its own scope only when those
    * pins are materialized, which cuts a checkpoint's lineage. The
    * outermost scope waits for the removal (a runner closes it in untimed
    * housekeeping); a nested one does not. */
  def scoped[T](body: => T): T = {
    val pins = mutable.ArrayBuffer.empty[DataFrame]
    val outer = scopes.get
    scopes.set(pins :: outer)
    var result: Option[T] = None
    try { result = Some(body); result.get }
    finally {
      scopes.set(outer)
      val scans = result match {
        case Some(df: Dataset[_]) => df.queryExecution.analyzed.collectWithSubqueries { case n => n }
        case _ => Nil
      }
      val (kept, freed) = pins.partition(p => scans.exists(_.sameResult(p.queryExecution.analyzed)))
      freed.foreach(p => try release(p, blocking = outer.isEmpty) catch { case NonFatal(_) => () })
      outer.headOption.foreach(_ ++= kept)
    }
  }

  /** Broadcast hint gated on a row-count ceiling (r9 verdict item 1).
    *
    * An explicit `broadcast()` hint is honored regardless of size, so
    * hinting a DATA-cardinality frame (token occurrences, vocabularies,
    * prefix expansions) plans a broadcast that OOMs at 100 TB. The
    * hints exist because a checkpointed frame loses its size estimate
    * and a join AQE would have broadcast re-plans as sort-merge; this
    * gate keeps the hint exactly while the frame is provably small:
    * count it (the callers pass pinned frames that are about to be
    * materialized for their consumers anyway, so the count is one
    * cheap pass that warms the pin) and hint only under
    *
    *   spark.graft.broadcastPin.maxRows   (default 4,000,000)
    *
    * Over the ceiling the planner keeps its own choice — a shuffle
    * join at scale, never a forced broadcast. Results are identical on
    * both paths (the hint changes strategy, not semantics); set the
    * conf to 0 to force the shuffle path end-to-end (PinGateSpec
    * does exactly that). */
  def broadcastIfSmall(df: DataFrame): DataFrame =
    broadcastIfSmall(df, df.count())

  /** [[broadcastIfSmall]] with a caller-supplied row count (or an upper
    * bound on it — the gate stays conservative under any overestimate).
    * Counting the build side itself can be the expensive pass (d26's
    * b-side is a prefix EXPLODE — counting it materializes the
    * expansion); callers that can read the cardinality off an already
    * pinned parent with one cached-scan aggregate pass it here instead
    * of paying a dedicated job per hint. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame = {
    val maxRows = df.sparkSession.conf
      .get("spark.graft.broadcastPin.maxRows", "4000000").toLong
    if (rows <= maxRows) broadcast(df) else df
  }
}
