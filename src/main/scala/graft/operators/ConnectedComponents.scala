package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by alternating large-star /
  * small-star rounds (Kiveris et al., "Connected Components in MapReduce
  * and Beyond", ACM SoCC 2014) — the published shuffle-bounded answer to
  * clustering at data sizes where a driver-side union-find cannot hold
  * the node set.
  *
  * This is the pairs→clusters step every near-dup dedup pipeline needs
  * (MinHash/SimHash/embedding candidate pairs → duplicate groups → one
  * kept doc per group) and the reference domain's core downstream
  * transformation (GraphSense's multi-input-heuristic address→entity
  * clustering).
  *
  * Scale design: each round is two hash shuffles (a groupBy-min per star
  * direction and the join back), edge rows only ever carry two ids, and
  * the round count is O(log n) — a path of 10⁹ nodes converges in ~30
  * rounds where naive min-label propagation needs 10⁹. Per-round results
  * are eagerly localCheckpoint'ed: the convergence test needs an action
  * per round anyway, and without truncation the iterative plan re-executes
  * the whole prefix each round (same lineage trap as iterative k-means —
  * see kmeansCentroids). On a multi-executor cluster with a long-running
  * job, `spark.sparkContext.setCheckpointDir` + `checkpoint()` swaps in
  * fault-tolerant truncation with no other change.
  *
  * Determinism: every operation is a min/least over the node ids — the
  * result is a pure function of the edge set, independent of partitioning
  * and execution order, for any orderable column type (numeric or
  * string).
  */
object ConnectedComponents {

  /** Connected components of the undirected graph given by `edges`
    * (first two columns = endpoints; self-loops and duplicate/reversed
    * edges are fine). Returns one row per node that appears in any edge
    * — including nodes whose only edges are self-loops, as singletons:
    * (node, component) where component is the smallest node id in the
    * node's component. Isolated nodes never appear in an edge list —
    * callers that track a node universe use [[labels]].
    */
  def run(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, "edges needs two endpoint columns")
    val e = edges.select(col(cols(0)).as("u"), col(cols(1)).as("v"))
    // every endpoint is a node, even if all its edges are self-loops
    // (canonical() drops those edges, so the star fixpoint alone would
    // lose such nodes)
    labelsOver(e.select(col("u")).union(e.select(col("v"))).distinct()
      .toDF("node"), e, maxIter)
  }

  /** (node, component) for every row of `nodes` (single-column frame):
    * the [[run]] labels, with isolated nodes as their own singleton
    * component. */
  def labels(nodes: DataFrame, edges: DataFrame, maxIter: Int = 40)
      : DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, "edges needs two endpoint columns")
    labelsOver(nodes.select(col(nodes.columns.head).as("node")),
      edges.select(col(cols(0)).as("u"), col(cols(1)).as("v")), maxIter)
  }

  /** Incremental label maintenance: grow an already-clustered graph by
    * a batch of new nodes and the edges that TOUCH the batch (new×new
    * and new×old), producing labels equal to a full re-clustering of
    * the union — without re-running the fixpoint over the old graph.
    *
    * Old components are contracted to their label (valid because labels
    * are component-min node ids, so contraction preserves both
    * connectivity and the min), touch-edge endpoints are mapped through
    * the old labels, and the star fixpoint runs over a graph whose edge
    * set is BATCH-sized: at a growing 100 TB corpus this turns cluster
    * maintenance from corpus-cost into ingest-cost, the clustering
    * analog of [[graft.api.Dedup.probePairs]]. Untouched components ride
    * along as singletons of the contracted node universe (a map over
    * the label tier, no iteration).
    *
    * Preconditions: `oldLabels` is (node, component) with component =
    * min node id of the old component (what [[labels]] emits), and new
    * node ids are disjoint from old ones.
    *
    * `validate` runs the universe-coverage guard (below) — one EAGER
    * batch-sized anti-join at construction time, unlike every other
    * lazily-composed operator here. Callers on a hot ingest path whose
    * edge extraction guarantees coverage by construction can pass
    * `validate = false` to skip the extra blocking job per batch.
    */
  def incrementalLabels(oldLabels: DataFrame, newNodes: DataFrame,
      touchEdges: DataFrame, maxIter: Int = 40,
      validate: Boolean = true): DataFrame = {
    val lab = oldLabels.select(col(oldLabels.columns.head).as("node"),
      col(oldLabels.columns(1)).as("component"))
    val cols = touchEdges.columns
    require(cols.length >= 2, "touchEdges needs two endpoint columns")
    val nn = newNodes.select(col(newNodes.columns.head).as("node"))
    // endpoints through the old labels; batch nodes map to themselves
    val contractedEdges = touchEdges
      .select(col(cols(0)).as("a"), col(cols(1)).as("b"))
      .join(lab.select(col("node").as("a"), col("component").as("ca")),
        Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("component").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("u"),
        coalesce(col("cb"), col("b")).as("v"))
    val contractedNodes = nn
      .union(lab.select(col("component").as("node"))).distinct()
    // universe-coverage guard: an endpoint known to neither frame would
    // silently join the fixpoint, get no output row, and — if it is the
    // component minimum — become a label no clustered node carries.
    // The check is one anti-join over the batch-sized touch set.
    if (validate) {
      val unknown = touchEdges
        .select(col(cols(0)).as("node")).union(touchEdges.select(col(cols(1)).as("node")))
        .distinct()
        .join(lab.select(col("node")).union(nn).distinct(), Seq("node"),
          "left_anti")
      require(unknown.isEmpty,
        "touch edges reference nodes present in neither oldLabels nor " +
          s"newNodes: ${unknown.take(5).mkString(", ")}")
    }
    val cc2 = labelsOver(contractedNodes, contractedEdges, maxIter)
    // expand: old nodes through their (possibly merged) old label, new
    // nodes directly
    // cc2 is one row per contracted node already — no distinct needed
    lab.join(cc2.select(col("node").as("component"),
        col("component").as("merged")), Seq("component"))
      .select(col("node"), col("merged").as("component"))
      .unionByName(nn.join(cc2, Seq("node")))
  }

  /** Star fixpoint + label join over an explicit node universe. The
    * checksum doubles as the materializing action for each lazily
    * checkpointed round — one job per round, not two. */
  private def labelsOver(nodes: DataFrame, edges: DataFrame, maxIter: Int)
      : DataFrame =
    Fixpoint.converge(canonical(edges), maxIter,
      s"connected components did not converge in $maxIter rounds — " +
        "raise maxIter (rounds needed is O(log n))", Nil)(checksum)(
      // one large/small-star alternation per materialized round. NOT
      // fused deeper (r13 measured smallStar∘largeStar twice per round:
      // per-round wall went 0.8 s → ~5 s at sf0.1 — driver planning +
      // whole-stage-codegen compile of the doubled plan cost far more
      // than the saved checkpoint/checksum job).
      (_, e) => smallStar(largeStar(e))) { (_, e) =>
      // fixpoint edges form stars u→root (u > root): every non-root node
      // appears exactly once on the left, every root only on the right
      val star = e
        .select(col("u").as("node"), col("v").as("component"))
        .union(e.select(col("v").as("node"), col("v").as("component")))
        .groupBy("node").agg(min("component").as("component"))
      nodes.join(star, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component"), col("node")).as("component"))
    }

  /** Undirected canonical form: (larger, smaller), no self-loops, no
    * duplicates. */
  private def canonical(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its neighborhood (incl. itself) — long tails collapse onto small
    * ids without ever growing a reducer past the true neighborhood. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    canonical(
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
  }

  /** Small-star: every node connects its SMALLER neighbors (and itself)
    * to the minimum among them. Precondition: `e` is already canonical
    * ((u, v) with u > v, distinct) — it is only ever called on
    * [[largeStar]]'s output, whose final step is [[canonical]], so
    * re-canonicalizing here would pay a full extra shuffle per round
    * for a no-op. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e // (u, v) with u > v: neighbors-below per u
    val m = dir.groupBy("u").agg(min(col("v")).as("m"))
    val reattached = dir.join(m, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    canonical(reattached.union(m.select(col("u"), col("m").as("v"))))
  }

  /** Order-independent edge-set fingerprint: count + XOR of row hashes
    * (xor is overflow-free under ANSI mode, and the edge set is distinct
    * so no pair can cancel another) — the per-round convergence probe,
    * and the action that materializes the round's checkpoint. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
