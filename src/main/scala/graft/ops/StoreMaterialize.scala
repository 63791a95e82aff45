package graft.ops

import org.apache.spark.sql.SparkSession

/** Parked bucketed transaction STORE per fixture — the serving-layout
  * sibling of the [[GraphMaterialize]] edge tiers: a deployment writes
  * the [[graft.chain.ChainStore]] layout once per chain tip, and the
  * serving queries (keyset pagination, point lookups) then measure the
  * partition-pruned READ, never a store build. A query entry that
  * rebuilds the store on every invocation times fixture generation
  * (the smell GraphMaterialize.tagPackFile documents).
  *
  * Parked by [[Tiers.park]]; the key is the lineitem/orders stamp +
  * format version. The store writer runs under dynamic partition
  * overwrite, which emits no marker of its own — a guard on the
  * writer's marker silently rebuilt the store on every invocation
  * (caught when the "pure read" page query scaled with store size);
  * `park` writes its own.
  */
object StoreMaterialize {

  /** Bump on any change to the store layout. */
  private val FormatVersion = 1

  /** Root of the parked transaction store (ChainStore.writeTransactions
    * layout), building it on first access. `write` receives the store
    * root (the chain module owns the layout). */
  def transactionStore(s: SparkSession, dir: String)(
      write: String => Unit): String =
    Tiers.park(s"target/intermediate/store_v${FormatVersion}_" +
      Tiers.sourceStamp(dir, "lineitem", "orders"))(write)
}
