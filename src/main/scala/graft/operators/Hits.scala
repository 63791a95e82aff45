package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer HITS (hubs & authorities): two mutually-recursive
  * score vectors over a directed graph —
  *   a_i(v) = Σ_{u→v} h_{i-1}(u)   (authorities collect from hubs)
  *   h_i(v) = Σ_{v→u} a_i(u)       (hubs collect from authorities)
  * — each max-normalized back to [0, Scale] after its sweep:
  *   x' = (x · Scale) div max(x)
  * All arithmetic is long floor-division, so (like [[PageRank]]) the
  * result is bit-identical across engines, partitionings, and cluster
  * sizes, which the textbook L2-normalized float iteration cannot
  * promise. Nodes no edge reaches hold 0; the global max is a scalar
  * one-row aggregate broadcast back (the repo's benign
  * `Exchange SinglePartition` pattern) — normalization adds no data
  * shuffle.
  *
  * Scale posture: each half-round is ONE edge ⋈ score equi-join + one
  * hash-agg (the same co-partitionable shape as PageRank, alternating
  * the key between dst and src); the 2·iters half-rounds run through
  * [[Fixpoint]], which truncates each and frees the dead ones.
  * Headroom: raw sums are ≤ maxdeg · Scale and the normalization
  * multiply peaks at maxdeg · Scale², so with
  * Scale = 10^6 the integer math holds to maxdeg ≈ 9·10^6 — beyond that,
  * lower Scale one decade per decade of degree.
  */
object Hits {
  val Scale: Long = PageRank.Scale

  /** @param edges `src`/`dst` distinct directed pairs
    * @return (node, hub, authority) after `iters` full rounds from a
    *         uniform h_0 = Scale start */
  def runFromEdges(edges: DataFrame, iters: Int): DataFrame = {
    // unlike PageRank (whose 0-round result is the well-defined uniform
    // start), HITS has no meaningful 0-round hub/authority pair — fail
    // loud instead of NPE-ing in the final join
    require(iters >= 1, s"HITS needs at least one round (got $iters)")
    val e = Materialize.truncate(edges.select(col("src"), col("dst")))
    val nodes = Materialize.truncate(PageRank.endpoints(e))

    // one sweep: scores flow along `from`→`to`, summed per `to`, zeroed
    // on unreached nodes, then max-normalized to Scale
    def sweep(scores: DataFrame, from: String, to: String): DataFrame = {
      val raw = nodes.join(
        e.join(scores, e(from) === scores("node"))
          .groupBy(col(to).as("node")).agg(sum(col("s")).as("raw")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col("node"), expr(s"(raw * ${Scale}L) div mx").as("s"))
    }

    // odd half-rounds are authority sweeps a_i(h_{i-1}), even ones hub
    // sweeps h_i(a_i): the last two are (a_R, h_R)
    val h0 = Materialize.truncate(nodes.select(col("node"), lit(Scale).as("s")))
    Fixpoint.run(h0, 2 * iters, Seq(e, nodes)) { (i, scores) =>
      if (i % 2 == 1) sweep(scores, "src", "dst")
      else sweep(scores, "dst", "src")
    } { (a, h) =>
      nodes
        .join(h.select(col("node"), col("s").as("hub")), Seq("node"))
        .join(a.select(col("node"), col("s").as("authority")), Seq("node"))
    }
  }
}
