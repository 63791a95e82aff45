package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized address flow-edge set — the graph-analytics analog of
  * [[DedupMaterialize]]/[[EntityMaterialize]]: the distinct src→dst
  * money-flow edges (GraphSense's address_relations derivation,
  * /root/reference/scripts/blocksci_export.py:300-345) feed degree
  * statistics, PageRank, and any future graph consumer. Deriving them
  * re-runs an io explode plus an input⋈output self-join per referencing
  * plan — at 100 TB the edge list is the artifact a pipeline builds once
  * per chain tip, so it is parked per fixture ([[Tiers.park]]) and every
  * consumer starts from a pruned two-column parquet scan. The key is the
  * lineitem/orders stamp + format version.
  */
object GraphMaterialize {

  /** Bump on any change to the edge derivation. */
  private val FormatVersion = 1

  private def base(dir: String): String =
    s"target/intermediate/graph_v${FormatVersion}_" +
      Tiers.sourceStamp(dir, "lineitem", "orders")

  /** (src, dst) distinct flow edges, computing and parking them on
    * first access. `build` derives the edge set (injected so the query
    * module owns the edge semantics). */
  def edgeTable(s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s, base(dir))(build)

  /** (src, dst, v) VALUE-weighted flow edges (the haircut taint's
    * per-tx floor(ov/n_inputs) attribution summed per pair) — parked
    * for the same reason as the distinct set: the derivation re-runs
    * the io explode + input⋈output self-join per referencing plan,
    * while the parked tier is a three-column pruned scan. */
  def valueEdgeTable(s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s, s"${base(dir)}_ve")(build)

  /** (src, dst, block_id) TIMED flow edges — the distinct flow edge set
    * with the block each flow occurred in, the candidate set for
    * temporal motifs (round trips, and any future burst/velocity
    * sweep). Parked like the siblings: the derivation re-runs the io
    * explode + input⋈output self-join per referencing plan, while the
    * parked tier is a three-column pruned scan. */
  def timedEdgeTable(s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s, s"${base(dir)}_te")(build)

  /** (src, dst, b) PEEL-HOP edges (input address → strict-majority
    * output address, at block b) — the peel-chain sweep's candidate
    * set. Parked like the siblings: deriving it re-runs two per-tx
    * output aggregations over the io explode, while the parked tier is
    * a three-column scan the fixed-round DP starts from. */
  def peelHopTable(s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s, s"${base(dir)}_ph")(build)

  /** Root of the entity-flow tier over the labels of clustering
    * `window`. The label tier's own identity (format version and
    * window, [[EntityMaterialize.labelKey]]) is part of the key, so a
    * re-keyed label tier re-keys the flows that read it. */
  private[graft] def entityFlowRoot(dir: String,
      window: Option[Long]): String =
    s"${base(dir)}_ef_${EntityMaterialize.labelKey(window)}"

  /** (tx_id, src_entity, value, dst_entity) per-(tx, output) ENTITY
    * flows over the pinned clustering window — the shared frame
    * entity_graph / entity_pagerank / entity_hits / entity_taint all
    * start from. Parked for the same reason as the address-grain edge
    * tiers: deriving it re-runs the io explode + the label join (two
    * corpus-sized passes) per referencing plan, while the parked tier
    * is a four-column pruned scan. The label side is itself the parked
    * clustering tier (window [[graft.queries.RefQueries.EntityWindow]]),
    * so this build is label-tier consumption, not a recompute. */
  def entityFlowTable(s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s,
      entityFlowRoot(dir, Some(graft.queries.RefQueries.EntityWindow)))(build)

  /** TagPack-shaped external attribution CSV — the FILE fixture the
    * entity_tags_src query ingests (GraphSense's TagPack path: curated
    * address tags arrive as files, not tables). Parked once per fixture
    * like the edge tiers, so the QUERY path is read-only: a query entry
    * with a write side effect is a bench-and-semantics smell (it times
    * fixture generation and re-writes on every invocation). Returns the
    * directory to point a schema-on-read CSV reader at; `build`
    * provides the tag rows (the query module owns their shape). */
  def tagPackFile(s: SparkSession, dir: String)(
      build: => DataFrame): String =
    Tiers.park(s"${base(dir)}_tp")(
      build.write.mode("overwrite").format("csv")
        .option("header", "true").save(_))
}
