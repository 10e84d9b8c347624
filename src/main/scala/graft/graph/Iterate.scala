package graft.graph

import org.apache.spark.sql.DataFrame

/** Drops the cached blocks of a superseded localCheckpoint. Iterative
  * loops otherwise accumulate one checkpoint per round in the block
  * manager until a driver GC lets ContextCleaner collect them — harmless
  * on a workstation, a steady leak on a long-lived cluster session (and
  * the direct analogue of deleting round N−1's checkpoint files once
  * round N is durable). Only call on checkpoints whose every downstream
  * consumer reads a LATER materialized checkpoint: an unpersisted
  * localCheckpoint is unrecoverable (lineage is truncated). */
private[graph] object CheckpointGC {
  def unpersist(df: DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    // A derived plan can embed OTHER live checkpoints (e.g. a loop's static
    // edge list) whose sweep would be unrecoverable — demand the frame IS
    // a single checkpoint, not merely contains some.
    require(rdds.size == 1,
      s"CheckpointGC.unpersist expects a frame rooted at exactly one " +
        s"LogicalRDD (a single materialized checkpoint); got ${rdds.size}. " +
        "Pass the checkpointed DataFrame itself, not a plan derived from it.")
    rdds.foreach(_.unpersist(false))
  }
}

/** The superstep driver under every graph fixpoint loop: each algorithm
  * hands it only its round (`step`, a lazy plan over the previous round's
  * frame) and, if it has one, its convergence probe; the driver owns
  * lineage truncation, materialization and cleanup. The schedule follows
  * from whether the loop has a probe:
  *
  *  - fixed rounds ([[fixed]]): an EAGER localCheckpoint every 2nd round
  *    and after the last — plans stay two rounds deep (without the cut
  *    they double per round and Catalyst analysis dominates) at half the
  *    materialization barriers;
  *  - probed ([[probed]]): a LAZY localCheckpoint every round, materialized
  *    by the probe's own single count/sum action — the action computes
  *    every partition, so one job answers convergence, fills the cache
  *    and truncates lineage (the eager form ran a second job per round).
  *
  * In both, a superseded round's blocks are freed only after its
  * successor is materialized (see [[CheckpointGC]]). At cluster scale
  * localCheckpoint becomes checkpoint to a reliable store. */
private[graph] object Iterate {

  /** Run `rounds` applications of `step` from `init`. When `ownsInit`,
    * `init` is a checkpoint the loop alone reads, freed once superseded. */
  def fixed(init: DataFrame, rounds: Int, ownsInit: Boolean)(
      step: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var prevCkpt = if (ownsInit) Some(init) else None
    for (it <- 1 to rounds) {
      cur = step(cur)
      if (it % 2 == 0 || it == rounds) {
        cur = cur.localCheckpoint()
        prevCkpt.foreach(CheckpointGC.unpersist)
        prevCkpt = Some(cur)
      }
    }
    cur
  }

  /** Run `step(previous, round)` (rounds numbered from 1) from the
    * materialized checkpoint `init` until `converged` holds on a round's
    * output or `maxRounds` have run. `converged` must run exactly one
    * action that computes every partition of its argument. Returns the
    * last round's checkpoint, or `init` when no round ran; `init` is
    * owned by the loop and freed once superseded. */
  def probed(init: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame)(
      converged: DataFrame => Boolean): DataFrame = {
    var cur = init
    var done = false
    var r = 0
    while (!done && r < maxRounds) {
      r += 1
      val next = step(cur, r).localCheckpoint(false)
      done = converged(next)
      CheckpointGC.unpersist(cur)
      cur = next
    }
    cur
  }

  /** A [[probed]] convergence test for monotone loops: converged once
    * `measure` (one action) returns the same value twice in a row — an
    * unchanged total proves the round a no-op, so every remaining round
    * would be one too. Measures `init` at once. */
  def unchanged(init: DataFrame)(measure: DataFrame => Long): DataFrame => Boolean = {
    var prev = measure(init)
    df => {
      val m = measure(df)
      val same = m == prev
      prev = m
      same
    }
  }
}
