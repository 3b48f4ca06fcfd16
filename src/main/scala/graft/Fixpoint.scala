package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, xxhash64}

/** The one driver for round-carrying loops: connected components, label
  * propagation, k-core, PageRank, BFS, weighted paths, personalized
  * PageRank, beam search, pointer doubling, HITS and k-means.
  *
  * Every round, round 0 included, is pinned through
  * [[Pins.pinIterative]]: the pin truncates lineage, so neither the plan
  * nor the task closures grow with the round count. The caller says
  * whether the pins are eager; the round cap is the caller's too.
  *
  * Freeing. Round r−1 is released through [[Pins.release]] as soon as an
  * action has read every partition of round r: the convergence test of
  * [[untilStable]], or the eager pin of round r. Before that action
  * round r still reads round r−1 through its lineage.
  *
  * Lazy loops ([[iterate]] with `eager = false`) run no action before
  * the caller's: all their rounds materialize inside the caller's first
  * action. They get no extra job and no in-loop free; every round is
  * freed when the runner's [[Pins.scoped]] closes after that action.
  *
  * Per-round records (rows, milliseconds) are not kept here: they wait
  * for the engine's telemetry tap.
  */
object Fixpoint {

  /** `rounds` applications of `step` to `init`; returns the last round. */
  def iterate(init: DataFrame, rounds: Int, eager: Boolean = false)(
      step: DataFrame => DataFrame): DataFrame =
    run[Unit](init, rounds, eager, None)(step)._1

  /** Applies `step` until two consecutive rounds give equal `test`
    * values, or `maxRounds` times. Round 0 is tested too, so an `init`
    * that is already a fixpoint stops after one round. Each test is an
    * action over the whole round, so rounds are lazy pins that the test
    * materializes: one action per round, plus one for round 0's test.
    * Returns the last round and the number of rounds run. */
  def untilStable[K](init: DataFrame, maxRounds: Int)(test: DataFrame => K)(
      step: DataFrame => DataFrame): (DataFrame, Int) =
    run(init, maxRounds, eager = false, Some(test))(step)

  /** (row count, xor of every row's xxhash64 over `cols`): equal for two
    * frames that hold the same multiset of rows, up to hash collisions.
    * xor, not sum: it cannot overflow, which ANSI mode makes an error.
    * xxhash64 is engine-internal here and never reaches an output. */
  def signature(cols: String*)(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def run[K](init: DataFrame, maxRounds: Int, eager: Boolean,
      test: Option[DataFrame => K])(step: DataFrame => DataFrame): (DataFrame, Int) = {
    var cur = Pins.pinIterative(init, eager)
    var last = test.map(_(cur))
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val next = Pins.pinIterative(step(cur), eager)
      val sig = test.map(_(next))
      if (eager || test.isDefined) Pins.release(cur)
      cur = next
      rounds += 1
      stable = sig.isDefined && sig == last
      last = sig
    }
    (cur, rounds)
  }
}
