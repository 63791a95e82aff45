package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank: ranks are scaled longs (Scale = 1.0)
  * and every step is integer arithmetic —
  *   r'(v) = 0.15·Scale + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
  * — so the result is bit-identical across engines, partitionings, and
  * cluster sizes, which floating-point PageRank cannot promise. Dangling
  * mass (nodes without out-edges) is dropped, deterministically.
  *
  * Scale posture: each round is one edge ⋈ rank equi-join + one hash-agg,
  * both keyed consistently (src / node), so consecutive rounds reuse the
  * shuffle partitioning; the (src, dst, outdeg) frame is materialized once
  * and the rounds run through [[Fixpoint]]: [[Materialize.truncate]] uses
  * `localCheckpoint(true)` on a single node and switches to reliable
  * `checkpoint()` (replicated, survives decommissioned executors) when
  * the session has a checkpoint dir set.
  */
object PageRank {
  val Scale = 1000000L

  /** Every endpoint of a (src, dst) edge frame, once, as `node`. */
  private[graft] def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

  /** @param nodes one `node` column, distinct
    * @param edges  `src`/`dst` columns, distinct directed pairs
    * @return (node, rank) after `iters` rounds from a uniform start */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    loop(Materialize.truncate(nodes.select(col("node"), lit(1L).as("s"))),
      Materialize.truncate(edges), iters)

  /** PERSONALIZED variant: teleport mass lands only on `seeds` —
    *   r'(v) = [v∈S]·0.15·Scale + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
    * from a start of Scale on seeds, 0 elsewhere. Rank then measures
    * proximity to the seed set along the flow direction (the
    * "importance relative to tagged actors" score), in the same
    * bit-exact integer arithmetic as the uniform variant — uniform
    * PageRank IS this with S = all nodes. Same per-round join shape
    * and cost; the seed indicator rides the node frame, so
    * personalization adds zero extra shuffles. */
  def runPersonalized(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int): DataFrame =
    loop(Materialize.truncate(
      // distinct: a duplicated seed row would fan the node frame out
      // and double-count that node's teleport AND its flowed-out mass
      nodes.join(seeds.select(col("node")).distinct()
          .withColumn("s", lit(1L)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))),
      Materialize.truncate(edges), iters)

  /** PageRank with the node set derived from the edge endpoints — the
    * usual flow-graph entry point. The edge frame is materialized ONCE
    * and nodes/out-degrees derive from the materialization, so the
    * (possibly expensive) upstream edge pipeline runs a single time no
    * matter how many rounds follow. */
  def runFromEdges(edges: DataFrame, iters: Int): DataFrame = {
    val e = Materialize.truncate(edges)
    val n = Materialize.truncate(
      endpoints(e).select(col("node"), lit(1L).as("s")))
    loop(n, e, iters)
  }

  /** VALUE-WEIGHTED variant over (src, dst, v) edges: mass flows in
    * proportion to edge value instead of edge count —
    *   r'(v) = 0.15·Scale + (85 · Σ_{u→v} (r(u)·v_uv div vout(u))) div 100
    * with vout(u) = Σ_w v_uw — the ranking that weights a 1000-coin
    * flow 1000× a dust output, which is what "importance" means on a
    * value graph (the unweighted form scores them identically). Same
    * bit-exact integer discipline and per-round join shape as the
    * uniform loop; the only new term is the rank·v product, whose
    * headroom at fixture volumes peaks well under 2^63 — a deployment
    * at real satoshi volumes promotes the product to DECIMAL(38,0),
    * exactly like the haircut taint's proportional split. */
  def runWeightedFromEdges(edges: DataFrame, iters: Int): DataFrame = {
    val e = Materialize.truncate(edges.select(col("src"), col("dst"), col("v")))
    val nodes = Materialize.truncate(endpoints(e))
    val vout = e.groupBy(col("src")).agg(sum(col("v")).as("vout"))
    val esrc = Materialize.truncate(e.join(vout, Seq("src")))
    Fixpoint.run(nodes.select(col("node"), lit(Scale).as("rank")), iters,
        Seq(e, nodes, esrc)) { (_, ranks) =>
      val contrib = esrc
        .join(ranks, esrc("src") === ranks("node"))
        .select(col("dst"), expr("(rank * v) div vout").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(Scale * 15 / 100) +
            expr("(85 * coalesce(contrib, 0L)) div 100")).as("rank"))
    } ((_, ranks) => ranks)
  }

  /** Core rounds over MATERIALIZED (node, s) / edges frames (both must
    * already be materialized: every round references both, and an
    * un-materialized node frame would re-run its whole upstream
    * pipeline per round). `s` is the 0/1 teleport indicator — all-ones
    * for uniform PageRank. The edge/node materializations are
    * operator-scoped on every caller path, so [[Fixpoint]] frees them
    * with the dead rounds. */
  private def loop(nodes: DataFrame, edges: DataFrame, iters: Int)
      : DataFrame = {
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val esrc = Materialize.truncate(edges.join(outd, Seq("src")))
    Fixpoint.run(nodes.select(col("node"), (col("s") * Scale).as("rank")),
        iters, Seq(esrc, edges, nodes)) { (_, ranks) =>
      val contrib = esrc
        .join(ranks, esrc("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("contrib"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (col("s") * lit(Scale * 15 / 100) +
            expr("(85 * coalesce(contrib, 0L)) div 100")).as("rank"))
    } ((_, ranks) => ranks)
  }
}
