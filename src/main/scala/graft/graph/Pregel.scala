package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

object Pregel {
  /** Public frontier (delta) Pregel API — the loop under connected
    * components, BFS and weighted shortest paths, exposed so library users
    * can build further min-fixpoint algorithms (reachability under
    * constraints, min-cost labels, earliest-arrival paths, ...) without
    * re-deriving the iteration machinery.
    *
    * Semantics: iterate x(v) ← min(x(v), min over in-neighbors u of
    * msg(x(u), edge)), but only vertices whose x IMPROVED last round send
    * messages. In a min fixpoint a vertex's value can only drop because a
    * neighbor's dropped, so the frontier form reaches the same fixpoint
    * while per-round join work shrinks from |E| to the frontier's
    * out-degree sum — the difference between O(rounds·|E|) and
    * O(Σ frontier out-degrees), which is what survives a 100 TB graph
    * with a large diameter.
    *
    * Mechanics per round: one checkpoint materializes
    * (state ⋈ candidates); the updated state, the next frontier, and the
    * convergence probe are all cheap projections of it ([[Iterate.probed]]
    * runs the schedule). A vid-bucketed edge table makes the per-round
    * join shuffle-free at cluster scale.
    *
    * @param state0    (vid, x) initial values
    * @param frontier0 subset of state0 that speaks in round 0 (all
    *                  vertices for cc; just the source for sssp — an
    *                  unreached vertex has nothing useful to say)
    * @param edges0    (src, dst [, edge cols]) message topology
    * @param msg       new candidate x for dst, from the src row's x + edge cols
    * @param maxIter   backstop bound on rounds (the frontier-empty check
    *                  exits earlier as soon as nothing improves)
    */
  def minPropagate(state0: DataFrame, frontier0: DataFrame => DataFrame,
                   edges0: DataFrame, msg: Column,
                   maxIter: Int): DataFrame = {
    // materialize the edge list once — otherwise its lineage (symmetrize/
    // distinct/derive) re-runs inside every round's join. Repartition by
    // src FIRST: the checkpointed Dataset keeps that hash partitioning in
    // its LogicalRDD, so every round's edges⋈frontier join exchanges only
    // the (small) frontier side — without it the FULL edge list shuffles
    // once per round, which is the dominant cost at any scale
    val edges = edges0.repartition(F.col("src")).localCheckpoint()
    val improved =
      (F.col("x").isNull && F.col("cand").isNotNull) || F.col("cand") < F.col("x")
    // each round's checkpoint holds (vid, x, cand): the state and the next
    // frontier are projections of it
    def stateOf(j: DataFrame): DataFrame =
      j.select(F.col("vid"), F.least(F.col("x"), F.col("cand")).as("x"))
    def frontierOf(j: DataFrame): DataFrame =
      j.filter(improved).select(F.col("vid"), F.col("cand").as("x"))
    val init = state0.localCheckpoint()
    val last = Iterate.probed(init, maxIter) { (prev, r) =>
      val (st, fr) =
        if (r == 1) (prev, frontier0(prev)) else (stateOf(prev), frontierOf(prev))
      val cand = edges
        .join(fr, edges("src") === fr("vid"))
        .select(F.col("dst").as("vid"), msg.as("x"))
        .groupBy("vid").agg(F.min("x").as("cand"))
      // outer join: a vid that appears only as an edge destination (not in
      // state0) still materializes — it enters the state at its first
      // message's value and joins the frontier, matching the
      // union+groupBy formulation this loop replaced.
      st.join(cand, Seq("vid"), "outer")
        .select(F.col("vid"), F.col("x"), F.col("cand"))
    }(_.filter(improved).count() == 0L)
    if (last eq init) init else stateOf(last)
  }
}
