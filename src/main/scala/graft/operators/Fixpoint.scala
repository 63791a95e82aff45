package graft.operators

import org.apache.spark.sql.DataFrame

/** The one owner of an iterative DataFrame loop's lifecycle — CC's star
  * rounds, PageRank, HITS, the graph propagations and BPE all run here,
  * so round truncation and release follow one rule:
  *
  *  - every round is truncated ([[Materialize.truncate]] for fixed-round
  *    loops; [[Materialize.truncateBeforeAction]] plus the caller's
  *    signature as the round's single job for the convergence loop);
  *  - round i−1 is released as soon as round i has materialized, except
  *    the last round's predecessor, which the result may read (the
  *    `(n_prev, n_cur)` convergence witnesses do);
  *  - once `result(prev, cur)` is built, every round and input whose RDD
  *    its analyzed plan does not read is released, once per RDD.
  *
  * `init` is round 0 and belongs to the loop. `inputs` are the frames
  * the operator materialized for the loop; they are read after the
  * result is built, so a step may append per-round side frames to a
  * buffer named there. What the result reads stays pinned for its
  * consumer ([[Materialize.releasePinnedLeaves]] once consumed).
  */
private[graft] object Fixpoint {

  /** `rounds` fixed rounds: round i = truncate(step(i, round i−1)). With
    * `rounds` = 0 the result sees `init` as both `prev` and `cur`. */
  def run(init: DataFrame, rounds: Int, inputs: => Seq[DataFrame])(
      step: (Int, DataFrame) => DataFrame)(
      result: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var prev = init
    var cur = init
    for (i <- 1 to rounds) {
      prev = cur
      cur = Materialize.truncate(step(i, prev))
      if (i < rounds) Materialize.release(prev)
    }
    finish(result(prev, cur), prev +: cur +: inputs)
  }

  /** Rounds until two consecutive rounds share a `signature`, which is
    * computed once per round as the action that materializes it (`init`
    * included). Fails with `capMessage` if `maxIter` rounds do not
    * converge. */
  def converge[S](init: DataFrame, maxIter: Int, capMessage: => String,
      inputs: => Seq[DataFrame])(signature: DataFrame => S)(
      step: (Int, DataFrame) => DataFrame)(
      result: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var cur = Materialize.truncateBeforeAction(init)
    var sig = signature(cur)
    var prev = cur
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      i += 1
      prev = cur
      cur = Materialize.truncateBeforeAction(step(i, prev))
      val next = signature(cur)
      converged = next == sig
      sig = next
      if (!converged && i < maxIter) Materialize.release(prev)
    }
    if (!converged) free(prev +: cur +: inputs, Set.empty)
    require(converged, capMessage)
    finish(result(prev, cur), prev +: cur +: inputs)
  }

  private def finish(out: DataFrame, frames: Seq[DataFrame]): DataFrame = {
    free(frames, Materialize.leaves(out).map(_.rdd.id).toSet)
    out
  }

  private def free(frames: Seq[DataFrame], read: Set[Int]): Unit =
    frames.flatMap(Materialize.leaf).distinctBy(_.rdd.id)
      .filterNot(l => read(l.rdd.id)).foreach(Materialize.releaseRdd)
}
