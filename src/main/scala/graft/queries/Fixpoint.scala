package graft.queries

import org.apache.spark.sql.DataFrame

/** The one capped convergence loop behind every iterative operator:
  * the min-label CC propagations, the k-core peel, PageRank and HITS to
  * stationarity, the Louvain Q-dip sweeps and level loop, the Lloyd
  * codebook and k-means descents and the PCA power iteration.
  *
  * A caller states its loop as a state `S` and three functions:
  *
  * - `step` computes the next state AND runs the round's probe action
  *   (the convergence aggregate or collect). `run` itself runs no
  *   Spark action, so a round's jobs are exactly the step's.
  * - `done` reads the convergence verdict off a state. It may already
  *   hold for `init` (a graph with no violated edge, an empty edge
  *   set): then no round runs.
  * - `release` frees what a superseded state holds and its successor
  *   does not share.
  *
  * Per-round state lives in [[checkpoint]]ed frames. Three reasons:
  *
  * - Lineage truncation: round k's plan references round k−1's frame
  *   several times (edge side, jump side, union), so without it the
  *   logical tree — which Catalyst re-analyzes in full even when caches
  *   cover execution — grows exponentially with rounds (measured:
  *   136 s at sf0.01 from analysis alone on the CC loop).
  * - One job per round: `eager = false` folds the materialization into
  *   the round's probe action instead of paying a job of its own.
  * - Accurate stats: the persisted InMemoryRelation reports its real
  *   size once the probe materializes it, so Catalyst auto-broadcasts
  *   small state (label tables) into the next round's joins — and, with
  *   no forced broadcast() hint, degrades to shuffle joins on its own
  *   when the state outgrows the threshold.
  */
object Fixpoint {

  /** Iterate `step` from `init` until `done` holds, at most `cap`
    * rounds; returns the final state and the number of rounds run.
    *
    * Each superseded state is released exactly once, right after `step`
    * has built its successor (so the successor's probe has already
    * materialized everything it reads from it). The returned state is
    * never released: it backs the caller's emission.
    *
    * An unconverged fixpoint fails loudly instead of emitting a partial
    * result (split clusters, a truncated vector, a mid-descent
    * codebook) that only a hash-comparing gate would notice: the
    * message names `what`, the round count and `consequence`.
    */
  def run[S](what: String, cap: Int, consequence: String)(init: S)(
      done: S => Boolean, release: S => Unit = (_: S) => ())(
      step: S => S): (S, Int) = {
    var cur = init
    var rounds = 0
    while (!done(cur)) {
      require(rounds < cap,
        s"$what did not converge in $rounds rounds — $consequence")
      val next = step(cur)
      release(cur)
      cur = next
      rounds += 1
    }
    (cur, rounds)
  }

  /** Checkpoint-then-persist: the per-round state form (see the object
    * doc for why each half is there).
    */
  def checkpoint(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false).persist()
}
