package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized address→entity labels — the chain-side analog of
  * [[DedupMaterialize]], and the architecture the reference family
  * actually deploys: GraphSense computes its multi-input-heuristic
  * clustering as a transformation STEP whose output tables downstream
  * queries read, not as a subplan re-run per query. The iterative
  * connected-components fixpoint is the most expensive stage of the
  * entity chain, so it is parked once per (fixture, window)
  * ([[Tiers.park]]) and every consumer starts from a pruned two-column
  * scan. The key is the lineitem/orders stamp + window + format
  * version.
  */
object EntityMaterialize {

  /** Bump on any change to the edge derivation or clustering. */
  private val FormatVersion = 1

  /** The label tier's identity apart from its source stamp: format
    * version and window key. A tier that reads the labels folds this
    * into its own key ([[GraphMaterialize.entityFlowRoot]]). */
  def labelKey(window: Option[Long]): String =
    s"entity_v${FormatVersion}_w${windowKey(window)}"

  private def windowKey(window: Option[Long]): String =
    window.fold("all")(_.toString)

  /** (address, entity) labels for the given clustering window,
    * computing and parking them on first access. `build` derives the
    * labels (injected so the query module owns the edge semantics). */
  def labelTable(s: SparkSession, dir: String, window: Option[Long])(
      build: => DataFrame): DataFrame =
    labelTableKeyed(s, dir, windowKey(window))(build)

  /** Same parking under an arbitrary variant key (e.g. a simulated
    * pre-batch state keyed by the batch selector, not a block window). */
  def labelTableKeyed(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    Tiers.parquet(s, s"target/intermediate/entity_v${FormatVersion}_" +
      s"${Tiers.sourceStamp(dir, "lineitem", "orders")}_w$key")(build)
}
