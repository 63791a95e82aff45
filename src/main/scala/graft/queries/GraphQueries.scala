package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.{Chain, ChainSql}
import graft.chain.Chain.{io, transactions}
import graft.chain.ChainSql.withCtes
import graft.operators.PageRank.endpoints
import graft.ops.Tier
import graft.queries.RefQueries.{entityLabels, EntityTier, EntityWindow}

/** Graph analytics over the chain's money-flow graph — the queries the
  * reference keyspace exists to FEED (GraphSense's downstream address /
  * entity / relation tables consume exactly the io rows exported by
  * /root/reference/scripts/blocksci_export.py:300-345): per-address
  * lifetime statistics, entity→entity flow edges over the clustering,
  * and an iterative PageRank centrality over the address flow graph.
  *
  * Scale posture (100 TB):
  *  - address_stats is ONE shuffle join (io ⋈ tx on tx_id — both sides
  *    bucket-alignable on tx_id_group) + ONE hash-agg on address; the
  *    conditional distinct-counts share the same grouping pass.
  *  - entity_graph shuffles only (id, label, value) tuples after the
  *    explode — no text/hash columns move; the label table is the
  *    materialized clustering tier, not a recomputation.
  *  - graph_pagerank is O(iters) rounds of edge ⋈ rank equi-joins, each
  *    shuffling on the same key (src / node), so a cluster co-partitions
  *    consecutive rounds; lineage is truncated per round
  *    (Materialize.truncate: localCheckpoint locally, reliable checkpoint
  *    when a checkpoint dir is set). All rank math
  *    is FIXED-POINT integer (ranks scaled by 1e6, floor division) —
  *    bit-identical across engines, partitionings, and cluster sizes,
  *    which floating-point PageRank cannot promise.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The address flow-edge tiers — the distinct flow edges (`edges`),
    * value-weighted (`ve`), timed (`te`) and peel-hop (`ph`) edges and
    * the TagPack CSV (`tp`). GraphSense's address_relations derivation
    * (blocksci_export.py:300-345) feeds degree
    * statistics, PageRank and every other graph consumer; deriving it
    * re-runs an io explode plus an input⋈output self-join per
    * referencing plan, so at 100 TB the edge sets are what a pipeline
    * builds once per chain tip, and every consumer starts from a pruned
    * scan. Bump on any change to the derivations below. */
  private[graft] val GraphTier = Tier("graph", 1, Seq("lineitem", "orders"))

  /** The entity-flow tier, one per label window `w<window>`: it reads
    * the parked entity labels, so it names their declaration upstream
    * and re-keys with it. */
  private[graft] val EntityFlowTier =
    Tier("entityflow", 1, Seq("lineitem", "orders"), EntityTier)

  /** Force the flow-edge tier build (Bench reports it as its own entry
    * so the graph queries measure consumption, not construction).
    *
    * All edge tiers are derivations of the same exploded
    * (tx_id, is_input, value, address) frame — derive it once, pin it
    * for the duration of the builds (on a cluster: MEMORY_AND_DISK),
    * and fan the independent tier builds out over it, the
    * [[RefQueries.buildEntityTiers]] pattern. The flow tier then
    * builds as a two-column projection of the parked timed tier —
    * zero additional io self-joins. */
  def buildGraphTier(s: SparkSession, dir: String): Unit = {
    val ioa = ioAddresses(s, dir).persist()
    // the shared frames are pinned ALREADY PARTITIONED on the join key
    // (tx_id): every tier build joins ia ⋈ ov on tx_id, so the one
    // repartition each here replaces two exchanges in every one of the
    // three tier joins (the cache preserves partitioning)
    val ia = inputPairsOf(ioa).repartition(col("tx_id")).persist()
    val ov = outputSumsOf(ioa).repartition(col("tx_id")).persist()
    try {
      // ONE concurrent wave: the three tier builds share the pinned
      // explode / input-pair / output-sum frames, whose cache blocks
      // fill lazily under the first job to need them — concurrent
      // consumers coordinate per block in the block manager (no
      // duplicated compute, no serialized warm-up jobs; serializing
      // the shared counts up front cost more scheduling wall-clock
      // than the sharing saved)
      graft.ops.Tiers.buildConcurrently(Seq(
        () => { timedEdgesFrom(s, dir, ia, ov).count(); () },
        () => { valueEdgesFrom(s, dir, ia, ov).count(); () },
        () => { peelHopsFrom(s, dir, ia, ov).count(); () },
        () => { tagPackSource(s, dir); () }))
      ()
    } finally { ioa.unpersist(); ia.unpersist(); ov.unpersist(); () }
  }

  /** Force the flow-edge tier build — its OWN Bench entry, split from
    * [[buildGraphTier]] so the round-over-round graph_build number
    * measures the same work every round (riding the flow projection on
    * the graph wave made r11's fastest wave look like a regression).
    * Runs AFTER buildGraphTier: the timed tier is then parked, so this
    * is a two-column distinct over the parked scan — zero io
    * self-joins, zero shared-frame pinning. */
  def buildFlowTier(s: SparkSession, dir: String): Unit = {
    flowEdges(s, dir).count(); ()
  }

  /** Synchronous label-propagation rounds for graph_labelprop. */
  private val LpIters = 3

  /** k-core peeling parameters: keep nodes with ≥ KCoreK surviving
    * neighbors, peel for KCoreRounds synchronous rounds. Peeling is
    * monotone (removals never resurrect), so round R's survivor set is
    * a subset of round R−1's and set equality reduces to a count
    * compare — the `converged` witness both engines emit. */
  private val KCoreK = 2
  private val KCoreRounds = 4

  /** PageRank iterations / scaling: rank starts at Scale (=1.0), each
    * round keeps 85% of flowed-in mass + a 15% teleport floor, all in
    * integer arithmetic: r' = 0.15·Scale + (85 · Σ (r div outdeg)) div 100. */
  private val PrIters = 3
  private val PrScale = graft.operators.PageRank.Scale

  /** HITS rounds (each = one authority sweep + one hub sweep, both
    * max-normalized back to Scale in integer floor arithmetic). */
  private val HitsIters = 3

  /** Per-tx input fanout cap for the triangle motif query: a tx
    * co-spending more than this many distinct inputs contributes
    * fanout²/2 clique edges, so ONE 10k-input consolidation tx would
    * put 50M pair rows on a single key — the cap bounds every tx's
    * pair contribution at cap²/2 BEFORE the self-join, the same way
    * GraphSense drops oversized cliques from co-spend motifs. 5 is
    * deliberately inside the fixture's fanout range (sf0.01 max is 6)
    * so the oracle proves the cap's semantics, not just its presence. */
  private[queries] val TriangleMaxFanout = 5

  /** Distinct oriented co-spend pairs (a < b) from distinct
    * (tx_id, address) rows, dropping txs whose distinct-address fanout
    * exceeds `maxFanout` before the quadratic self-join — the pair
    * count per tx is bounded at maxFanout·(maxFanout−1)/2 by
    * construction. */
  private[graft] def cospendPairs(ia: DataFrame, maxFanout: Int): DataFrame = {
    val small = ia.groupBy(col("tx_id"))
      .agg(countDistinct(col("address")).as("n_addr"))
      .filter(col("n_addr") <= maxFanout).select("tx_id")
    val iac = ia.join(small, Seq("tx_id"))
    iac.select(col("tx_id"), col("address").as("a"))
      .join(iac.select(col("tx_id"), col("address").as("b")), Seq("tx_id"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Per-corner triangle participation counts over an oriented (a < b)
    * distinct edge set: two self-joins enumerate each triangle exactly
    * once as (ta < tb < tc), then every corner counts. */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"),
        col("e2.b").as("tc"))
      .join(pairs.as("e3"),
        col("ta") === col("e3.a") && col("tc") === col("e3.b"))
      .select(col("ta"), col("tb"), col("tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc")))
        .as("address"))
      .groupBy(col("address"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Exploded io rows: (tx_id, is_input, value, address). */
  private def ioAddresses(s: SparkSession, dir: String): DataFrame =
    io(s, dir).select(col("tx_id"), col("is_input"), col("value"),
      explode(col("addresses")).as("address"))

  /** Distinct directed flow edges src→dst: input address to output
    * address of the same tx (GraphSense's address_relations edge set).
    * Self-flows (change back to the same address) are excluded. Parked
    * once per fixture as [[GraphTier]] `edges` — degree stats,
    * PageRank, and any other graph consumer start from a pruned
    * two-column scan instead of re-running the io explode + self-join. */
  private def flowEdges(s: SparkSession, dir: String): DataFrame =
    flowEdgesOf(s, dir, timedEdges(s, dir))

  /** Flow tier from a caller-supplied timed-edge frame: the timed tier
    * is flow ⋈ block occurrence, so its (src, dst) projection IS the
    * distinct flow-edge set — one distinct over a two-column scan
    * instead of a second io self-join. */
  private def flowEdgesOf(s: SparkSession, dir: String,
      te: DataFrame): DataFrame =
    GraphTier.parquet(s, dir, "edges") {
      te.select(col("src"), col("dst")).distinct()
    }

  /** (src, dst, block_id) timed flow edges — the distinct flow edges
    * with the block of each occurrence, parked once per fixture as
    * [[GraphTier]] `te` so temporal-motif
    * consumers (graph_round_trips) start from a three-column pruned
    * scan instead of re-running the io explode + self-join. */
  private def timedEdges(s: SparkSession, dir: String): DataFrame = {
    val ioa = ioAddresses(s, dir)
    timedEdgesFrom(s, dir, inputPairsOf(ioa), outputSumsOf(ioa))
  }

  /** Distinct input (tx_id, src) pairs — the shared left side of every
    * edge-tier self-join (ONE distinct shuffle when buildGraphTier
    * pins it across the builds). */
  private def inputPairsOf(ioa: DataFrame): DataFrame =
    ioa.filter(col("is_input"))
      .select(col("tx_id"), col("address").as("src")).distinct()

  /** Per-(tx_id, address) output value sums — the shared right side:
    * its key set is exactly the distinct output-pair set (so the timed
    * tier projects it with no extra distinct), and its sums feed both
    * the value weights and the peel-hop majority test. */
  private def outputSumsOf(ioa: DataFrame): DataFrame =
    ioa.filter(!col("is_input"))
      .groupBy(col("tx_id"), col("address"))
      .agg(sum(col("value")).as("ov"))

  /** [[timedEdges]] over caller-supplied (possibly pinned) shared
    * frames — buildGraphTier derives the explode + the two shared
    * shuffles ONCE across all edge-tier builds. */
  private def timedEdgesFrom(s: SparkSession, dir: String,
      ia: DataFrame, ov: DataFrame): DataFrame =
    GraphTier.parquet(s, dir, "te") {
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      val oa = ov.select(col("tx_id"), col("address").as("dst"))
      ia.join(oa, Seq("tx_id"))
        .filter(col("src") =!= col("dst"))
        .join(t, Seq("tx_id"))
        .select(col("src"), col("dst"), col("block_id")).distinct()
    }

  /** (src, dst, b) peel-hop edges: input address → strict-majority
    * output address at block b (2·ov > tv makes the dominant output
    * unique per tx, so the set is tx-bounded). Parked once per fixture
    * as [[GraphTier]] `ph` — the DP consumes a three-column scan, like
    * every graph tier. */
  private def peelHops(s: SparkSession, dir: String): DataFrame = {
    val ioa = ioAddresses(s, dir)
    peelHopsFrom(s, dir, inputPairsOf(ioa), outputSumsOf(ioa))
  }

  /** [[peelHops]] over caller-supplied shared frames (see
    * [[timedEdgesFrom]]). */
  private def peelHopsFrom(s: SparkSession, dir: String,
      ia: DataFrame, ov: DataFrame): DataFrame =
    GraphTier.parquet(s, dir, "ph") {
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      val dom = ov
        .join(ov.groupBy(col("tx_id")).agg(sum(col("ov")).as("tv")),
          Seq("tx_id"))
        .filter(col("ov") * 2 > col("tv"))
        .select(col("tx_id"), col("address").as("dst"))
      ia.join(dom, Seq("tx_id")).join(t, Seq("tx_id"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), col("block_id").as("b")).distinct()
    }

  /** (src, dst, v) value-weighted flow edges — per-tx output values
    * attribute floor(ov / n_inputs) to each input-output pair, summed
    * per edge, zero-value edges dropped. Parked once per fixture as
    * [[GraphTier]] `ve` so taint consumers start from a three-column
    * pruned scan. */
  private def valueEdges(s: SparkSession, dir: String): DataFrame = {
    val ioa = ioAddresses(s, dir)
    valueEdgesFrom(s, dir, inputPairsOf(ioa), outputSumsOf(ioa))
  }

  /** [[valueEdges]] over caller-supplied shared frames (see
    * [[timedEdgesFrom]]). */
  private def valueEdgesFrom(s: SparkSession, dir: String,
      ia: DataFrame, ovShared: DataFrame): DataFrame =
    GraphTier.parquet(s, dir, "ve") {
      val nIn = ia.groupBy(col("tx_id")).agg(count(lit(1)).as("n_in"))
      val ov = ovShared.select(col("tx_id"), col("address").as("dst"),
        col("ov"))
      ia.join(nIn, Seq("tx_id")).join(ov, Seq("tx_id"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"), expr("ov div n_in").as("v"))
        .groupBy(col("src"), col("dst")).agg(sum(col("v")).as("v"))
        .filter(col("v") > 0)
    }

  /** Windowed tx ids (the pinned clustering window). */
  private def windowTxs(s: SparkSession, dir: String): DataFrame =
    transactions(s, dir)
      .filter(col("block_id") < EntityWindow).select(col("tx_id"))

  /** Distinct (tx_id, address) input pairs inside the clustering window —
    * the co-spend input set shared by entityFlows and graph_triangles
    * (ONE definition, mirrored by [[wiaCtes]]). */
  private def windowedInputAddresses(s: SparkSession, dir: String): DataFrame =
    ioAddresses(s, dir).filter(col("is_input"))
      .select(col("tx_id"), col("address")).distinct()
      .join(windowTxs(s, dir), Seq("tx_id"))

  /** Per-(tx, output) entity flows over the pinned clustering window:
    * (tx_id, src_entity, dst_entity, value) — shared by entity_graph /
    * entity_pagerank / entity_hits / entity_taint (ONE definition, like
    * the oracle's shared CTEs). Parked once per fixture as
    * [[EntityFlowTier]] over the label window (r14, guide §2.4):
    * each of the four consumers previously re-ran the io explode + the
    * window semi-join + the label join — at 100 TB that is four
    * corpus-sized derivations of one logical frame; now each consumer
    * starts from a four-column pruned scan. */
  private def entityFlows(s: SparkSession, dir: String): DataFrame =
    EntityFlowTier.parquet(s, dir, RefQueries.windowSub(Some(EntityWindow)))(
      deriveEntityFlows(s, dir))

  /** The entity flow graph as distinct (src, dst) edges, self-flows
    * dropped — the entity_pagerank / entity_hits / entity_taint input. */
  private def entityEdges(s: SparkSession, dir: String): DataFrame =
    entityFlows(s, dir)
      .filter(col("src_entity") =!= col("dst_entity"))
      .select(col("src_entity").as("src"), col("dst_entity").as("dst"))
      .distinct()

  /** The entity-flow derivation itself (unparked — the tier build;
    * package-visible so GraphMaterializeSpec can prove parked ==
    * derived). */
  private[graft] def deriveEntityFlows(s: SparkSession, dir: String): DataFrame = {
    val labels = entityLabels(s, dir, Some(EntityWindow))
    val ia = windowedInputAddresses(s, dir)
    val srcPerTx = ia.join(labels, Seq("address"))
      .groupBy(col("tx_id")).agg(min(col("entity")).as("src_entity"))
    val outFlows = ioAddresses(s, dir).filter(!col("is_input"))
      .join(windowTxs(s, dir), Seq("tx_id"))
      .join(labels, Seq("address"), "left")
      .select(col("tx_id"), col("value"),
        coalesce(col("entity"), col("address")).as("dst_entity"))
    srcPerTx.join(outFlows, Seq("tx_id"))
  }

  /** Force the entity-flow tier build — its OWN Bench entry (runs after
    * entity_build so the label tier it consumes is already parked; the
    * four entity-graph queries then measure consumption). */
  def buildEntityFlowTier(s: SparkSession, dir: String): Unit = {
    entityFlows(s, dir).count(); ()
  }

  val queries: Map[String, Q] = Map(
    // per-address lifetime statistics — the GraphSense "address" table:
    // tx counts by direction, received/spent totals, balance, first/last
    // activity. One io⋈tx join on tx_id + one hash-agg on address.
    "address_stats" -> ((s, dir) => {
      val ioa = ioAddresses(s, dir)
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      ioa.join(t, Seq("tx_id"))
        .groupBy(col("address"))
        .agg(
          countDistinct(when(!col("is_input"), col("tx_id")))
            .as("no_incoming_txs"),
          countDistinct(when(col("is_input"), col("tx_id")))
            .as("no_outgoing_txs"),
          sum(when(!col("is_input"), col("value")).otherwise(0L))
            .as("total_received"),
          sum(when(col("is_input"), col("value")).otherwise(0L))
            .as("total_spent"),
          min(col("block_id")).as("first_block"),
          max(col("block_id")).as("last_block"))
        .withColumn("balance", col("total_received") - col("total_spent"))
    }),

    // per-address balance TIMELINE — the curve address_stats summarizes
    // to its final point (GraphSense plots exactly this per address):
    // net delta per (address, tx), then an exact-integer running sum
    // ordered by (block_id, tx_id) WITHIN each address partition. No
    // global sort — every address's history builds in parallel (the
    // SCD2 window shape), and because (address, tx_id) is unique after
    // the per-tx netting the cumulative order is total, so the running
    // balance is deterministic and bit-identical in both engines.
    "address_balance_history" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ioa = ioAddresses(s, dir)
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      val deltas = ioa.join(t, Seq("tx_id"))
        .groupBy(col("address"), col("block_id"), col("tx_id"))
        .agg(sum(when(col("is_input"), -col("value"))
          .otherwise(col("value"))).as("delta"))
      val w = Window.partitionBy(col("address"))
        .orderBy(col("block_id"), col("tx_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("balance", sum(col("delta")).over(w))
    }),

    // the SKEW-PROOF form of the balance timeline — the remedy SCALE.md
    // documents for a hot exchange address: the running sum segments
    // per (address, block-bucket), so the per-row window partition is
    // bucket-bounded; the cross-bucket carry is an exclusive prefix
    // over per-bucket TOTALS (one row per (address, bucket) — the hot
    // address's carry partition shrinks from its full history to
    // #buckets), re-entering via an equi-join on the bucket key.
    // Shares address_balance_history's oracle: the segmented plan is
    // proven bit-identical to the straight window.
    "address_balance_history_segmented" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ioa = ioAddresses(s, dir)
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      val deltas = ioa.join(t, Seq("tx_id"))
        .groupBy(col("address"), col("block_id"), col("tx_id"))
        .agg(sum(when(col("is_input"), -col("value"))
          .otherwise(col("value"))).as("delta"))
        .withColumn("bb", floor(col("block_id") / Chain.BlockBucketSize))
      val wIn = Window.partitionBy(col("address"), col("bb"))
        .orderBy(col("block_id"), col("tx_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wCarry = Window.partitionBy(col("address")).orderBy(col("bb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = deltas.groupBy(col("address"), col("bb"))
        .agg(sum(col("delta")).as("bt"))
        .withColumn("carry",
          coalesce(sum(col("bt")).over(wCarry), lit(0L)))
        .select(col("address"), col("bb"), col("carry"))
      deltas
        .withColumn("cum_in", sum(col("delta")).over(wIn))
        .join(carry, Seq("address", "bb"))
        .select(col("address"), col("block_id"), col("tx_id"),
          col("delta"), (col("cum_in") + col("carry")).as("balance"))
    }),

    // temporal round-trip sweep — the wash-trading motif: funds flow
    // a→b in some block and return b→a in a LATER block. Timed flow
    // edges (src, dst, block) dedup per block; then ONE equi-join on
    // the ordered pair key between the per-edge first-outflow aggregate
    // and the reversed edge rows, so candidate volume is edge-set-sized
    // (never pairs² and never per-(x,y) combination expansion — the
    // later-block condition is a post-filter feeding min/count aggs).
    // The timed edge set parks next to the flow tier
    // ([[timedEdges]] / graph_build), so each invocation is a
    // three-column scan + one join + two hash-aggs.
    "graph_round_trips" -> ((s, dir) => {
      val te = timedEdges(s, dir)
      val dagg = te.groupBy(col("src"), col("dst"))
        .agg(min(col("block_id")).as("first_out"),
          countDistinct(col("block_id")).as("n_out_blocks"))
      te.select(col("dst").as("src"), col("src").as("dst"),
          col("block_id").as("rb"))
        .join(dagg, Seq("src", "dst"))
        .filter(col("rb") > col("first_out"))
        .groupBy(col("src"), col("dst"), col("first_out"),
          col("n_out_blocks"))
        .agg(min(col("rb")).as("first_return"),
          countDistinct(col("rb")).as("n_return_blocks"))
        .select(col("src").as("addr_from"), col("dst").as("addr_to"),
          col("first_out"), col("n_out_blocks"), col("first_return"),
          col("n_return_blocks"))
    }),

    // temporal 3-CYCLE motif — the directed generalization of
    // graph_round_trips' out-and-back: funds a→b→c→a where each leg's
    // FIRST occurrence is strictly later than the previous leg's (the
    // first-occurrence ordering convention round_trips established).
    // Midpoints whose in·out degree product exceeds Cycle3MidCap drop
    // BEFORE the path expansion — the triangle/links fanout guard: a
    // hub midpoint's fanout is quadratic and its cycle evidence weak;
    // the count is a documented lower bound, mirrored in the oracle
    // and exercised by the fixture (190 of 290 midpoints survive).
    // Rolled up per apex (each cycle counted once, at its minimum
    // address) into the cycle-participation score a forensics
    // dashboard ranks by — the enumeration stays internal and the
    // result is node-sized.
    "graph_cycle3" -> ((s, dir) => {
      val dagg = timedEdges(s, dir)
        .groupBy(col("src"), col("dst"))
        .agg(min(col("block_id")).cast("long").as("first_out"))
        .transform(graft.operators.Materialize.truncate)
      cycle3(dagg, Cycle3MidCap)
    }),

    // the same timeline at ENTITY grain over the pinned clustering
    // window — tier consumption: addresses map through the parked
    // labels (outputs never seen as inputs ride as singleton
    // entities), then the identical per-tx netting + partitioned
    // running sum. The composed form a compliance dashboard reads:
    // clustering tier → balance curve per real-world actor.
    "entity_balance_history" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val labels = entityLabels(s, dir, Some(EntityWindow))
      val t = transactions(s, dir).select(col("tx_id"), col("block_id"))
      val deltas = ioAddresses(s, dir)
        .join(windowTxs(s, dir), Seq("tx_id"))
        .join(labels, Seq("address"), "left")
        .join(t, Seq("tx_id"))
        .select(coalesce(col("entity"), col("address")).as("entity"),
          col("block_id"), col("tx_id"),
          when(col("is_input"), -col("value")).otherwise(col("value"))
            .as("d"))
        .groupBy(col("entity"), col("block_id"), col("tx_id"))
        .agg(sum(col("d")).as("delta"))
      val w = Window.partitionBy(col("entity"))
        .orderBy(col("block_id"), col("tx_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.withColumn("balance", sum(col("delta")).over(w))
    }),

    // entity→entity value flows over the pinned clustering window — the
    // GraphSense "entity_relations" edge list: each windowed tx flows
    // from its (single, by multi-input construction) input entity to the
    // entities of its output addresses; output addresses never seen as
    // inputs are singleton entities labeled by the address itself.
    "entity_graph" -> ((s, dir) =>
      entityFlows(s, dir)
        .groupBy(col("src_entity"), col("dst_entity"))
        .agg(countDistinct(col("tx_id")).as("n_txs"),
          sum(col("value")).as("total_value"))),

    // PageRank over the ENTITY flow graph — the composed form GraphSense
    // actually ranks with: clustering tier → entity edges → fixed-point
    // centrality, every stage the already-verified operator. Proves the
    // operators COMPOSE (materialized labels feed the iterative rank).
    "entity_pagerank" -> ((s, dir) =>
      graft.operators.PageRank.runFromEdges(entityEdges(s, dir), PrIters)
        .select(col("node").as("entity"), col("rank").as("pagerank"))),

    // HITS at ENTITY grain — clustering tier → entity edges → the
    // reusable [[graft.operators.Hits]] loop, completing the
    // centrality matrix (PageRank and HITS each at address AND entity
    // grain). Composition proof like entity_pagerank: already-verified
    // operators stacked with no new moving parts, and the hub/authority
    // split is MORE meaningful here — a multi-address exchange entity
    // is exactly the hot-wallet hub / cold-consolidation authority
    // structure the address-grain query can only see fragmented.
    "entity_hits" -> ((s, dir) =>
      graft.operators.Hits.runFromEdges(entityEdges(s, dir), HitsIters)
        .select(col("node").as("entity"), col("hub"), col("authority"))),

    // taint BFS at ENTITY grain — the granularity GraphSense actually
    // sweeps at: clustering tier → entity edges → the shared frontier
    // loop, seeds a ~2% hash-selected entity set. Like entity_pagerank,
    // this is composition proof: the already-verified operators stacked
    // (materialized labels feed the iterative BFS) with no new moving
    // parts.
    "entity_taint" -> ((s, dir) => {
      val edges = entityEdges(s, dir)
      val nodes = endpoints(edges)
      val seeds = nodes.filter(expr(
        "CAST(conv(substr(md5(CAST(node AS STRING)), 1, 10), 16, 10)" +
          s" AS BIGINT) % $EntityTaintSeedMod = 0"))
      taintPropagate(edges, seeds, TaintRounds)
        .select(col("node").as("entity"), col("d").as("taint_hops"),
          col("converged"))
    }),

    // degree distribution of the flow graph (the first thing anyone
    // plots over a transaction graph, and the skew evidence the salting
    // / AQE knobs are sized from): per direction, how many addresses
    // have each degree. Two hash-aggs over the distinct edge set.
    "graph_degree_dist" -> ((s, dir) => {
      val edges = flowEdges(s, dir)
      val outd = edges.groupBy(col("src").as("address"))
        .agg(count(lit(1)).as("degree")).withColumn("direction", lit("out"))
      val ind = edges.groupBy(col("dst").as("address"))
        .agg(count(lit(1)).as("degree")).withColumn("direction", lit("in"))
      outd.unionByName(ind)
        .groupBy(col("direction"), col("degree"))
        .agg(count(lit(1)).as("n_addresses"))
    }),

    // triangle counting (motif search) over the windowed co-spend
    // graph: addresses co-spent in one tx form a clique; a triangle is
    // the strongest co-ownership evidence short of a shared tx. Two
    // self-joins on the ORIENTED edge set (a<b<c), so every triangle
    // is enumerated exactly once; per-corner participation counts out.
    // The pairwise clique edges are the motif object itself here — the
    // entity CLUSTERING deliberately uses linear star edges instead
    // (same components); the pairwise explode is bounded by
    // [[cospendPairs]]' TriangleMaxFanout cap (mirrored in the oracle,
    // exercised by the fixture), as GraphSense bounds cliques.
    "graph_triangles" -> ((s, dir) =>
      triangleCounts(
        cospendPairs(windowedInputAddresses(s, dir), TriangleMaxFanout))),

    // per-node clustering coefficient over the same capped co-spend
    // graph: 2·tri(v) / (deg(v)·(deg(v)−1)) — the local density signal
    // that separates organic wallets (neighbors who also co-spend:
    // high coefficient) from service hubs (star centers whose
    // neighbors never meet: coefficient ~0) even when raw degree is
    // identical. Reuses the oriented triangle enumeration and counts
    // distinct neighbors off the SAME pair frame; reported in floor
    // basis points so both engines agree bit-for-bit, deg<2 nodes at 0.
    "graph_clustering_coeff" -> ((s, dir) => {
      val pairs = cospendPairs(windowedInputAddresses(s, dir),
        TriangleMaxFanout)
      val deg = pairs.select(col("a").as("address"))
        .unionByName(pairs.select(col("b").as("address")))
        .groupBy(col("address")).agg(count(lit(1)).as("degree"))
      deg.join(triangleCounts(pairs), Seq("address"), "left")
        .select(col("address"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("coeff_bps",
          when(col("degree") >= 2, expr(
            "(2 * n_triangles * 10000) div (degree * (degree - 1))"))
            .otherwise(lit(0L)))
    }),

    // fixed-point integer PageRank over the address flow graph (the
    // centrality GraphSense ranks entities by), via the reusable
    // [[graft.operators.PageRank]] operator. Deterministic: floor
    // division at every step, dangling mass dropped — the exact DuckDB
    // CTE chain reproduces it bit-for-bit.
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.PageRank.runFromEdges(flowEdges(s, dir), PrIters)
        .select(col("node").as("address"), col("rank").as("pagerank"))),

    // VALUE-WEIGHTED PageRank over the (src, dst, v) value-edge tier:
    // mass flows in proportion to transferred value, so a 1000-coin
    // channel outranks a dust spray the unweighted form scores
    // identically — the ranking a value-flow investigation actually
    // wants. Same integer rounds via PageRank.runWeightedFromEdges;
    // the DuckDB unroll reuses the haircut taint's value-edge CTEs.
    "graph_pagerank_value" -> ((s, dir) =>
      graft.operators.PageRank.runWeightedFromEdges(valueEdges(s, dir),
          PrIters)
        .select(col("node").as("address"), col("rank").as("pagerank"))),

    // HITS hubs & authorities over the address flow graph — the
    // centrality pair PageRank cannot express: an exchange's hot
    // wallet is a strong HUB (pays many well-received addresses), a
    // cold-storage consolidation address a strong AUTHORITY (receives
    // from many active spenders) — the two roles GraphSense's
    // in/out-degree tables only proxy. Two mutually-recursive integer
    // score vectors via the reusable [[graft.operators.Hits]] operator:
    // each half-round is one edge ⋈ score equi-join + one hash-agg
    // (PageRank's per-round shape, alternating join key), and the
    // max-normalization is a broadcast scalar — deterministic floor
    // division throughout, so the unrolled DuckDB mirror is bit-exact
    // where the textbook L2-normalized float HITS would drift.
    "graph_hits" -> ((s, dir) =>
      graft.operators.Hits.runFromEdges(flowEdges(s, dir), HitsIters)
        .select(col("node").as("address"), col("hub"), col("authority"))),

    // PERSONALIZED PageRank seeded from the attribution-tag list (the
    // entity_tags selection rule): teleport mass lands only on tagged
    // addresses, so rank measures proximity to known actors along the
    // money-flow direction — "how exchange-adjacent is this address",
    // the risk-scoring read GraphSense serves. Same bit-exact integer
    // rounds and per-round join shape as graph_pagerank (the seed
    // indicator rides the node frame — zero extra shuffles); the
    // rank > 0 cut keeps only addresses the seed mass actually
    // reaches, bounding output by the seeds' forward closure.
    "graph_ppr_tagged" -> ((s, dir) => {
      val edges = flowEdges(s, dir)
      val nodes = endpoints(edges)
      graft.operators.PageRank
        .runPersonalized(nodes, edges, hashSeeds(nodes, TagMod), PrIters)
        .filter(col("rank") > 0)
        .select(col("node").as("address"), col("rank").as("ppr"))
    }),

    // community detection via SYNCHRONOUS label propagation (3 rounds)
    // over the symmetrized flow graph: each node adopts the most
    // frequent label among its neighbors, ties to the lexicographic
    // minimum. Synchronous rounds + a total-order tie-break make LPA —
    // normally notorious for nondeterminism — bit-reproducible across
    // engines and partitionings, so it hash-matches an unrolled DuckDB
    // mirror. Shape at scale: each round is ONE edge ⋈ label equi-join
    // on src + ONE (node, lbl) hash-agg, the same co-partitionable
    // join key every round (like PageRank); lineage truncated per
    // round. Communities differ from connected components: a bridge
    // node joins the side with the heavier label vote, splitting
    // weakly-joined clusters that CC would merge.
    "graph_labelprop" -> ((s, dir) =>
      labelPropagate(flowEdges(s, dir), LpIters)
        .select(col("node").as("address"), col("lbl").as("community"))),

    // k-core decomposition (iterative degree peeling) over the flow
    // graph: the densest-subgraph screen — addresses surviving the
    // 2-core peel sit in cycles/dense pockets of the money flow, the
    // set GraphSense's relation tables get queried hardest for. Every
    // peel round drops nodes whose degree AMONG SURVIVORS is < k;
    // monotone shrink makes the fixed-round unroll deterministic and
    // the convergence witness a count compare, so the DuckDB mirror is
    // bit-exact whether or not the peel has reached fixpoint.
    "graph_kcore" -> ((s, dir) =>
      kCorePeel(flowEdges(s, dir), KCoreK, KCoreRounds)
        .select(col("node").as("address"), col("core_degree"),
          col("converged"))),

    // taint tracking (multi-source BFS): hop distance from a flagged
    // seed set along the DIRECTED money flow — the "how far did funds
    // from these addresses spread" sweep GraphSense's relation tables
    // get queried for. Seeds = a ~2% hash-selected address set standing
    // in for a sanctions/ransomware list; TaintRounds bounds the hop
    // horizon the way a production sweep bounds its search depth, and
    // the reached-set count compare witnesses whether the frontier
    // already died out inside the bound.
    "graph_taint" -> ((s, dir) => {
      val edges = flowEdges(s, dir)
      taintPropagate(edges, hashSeeds(endpoints(edges), TaintSeedMod),
          TaintRounds)
        .select(col("node").as("address"), col("d").as("taint_hops"),
          col("converged"))
    }),

    // HAIRCUT taint propagation — the value-weighted taint policy (the
    // hop-count BFS above answers "how far"; this answers "how MUCH"):
    // each tainted unit at an address splits across its outgoing value
    // edges proportionally, t'(dst) = Σ floor(t(src)·v / vout(src)),
    // two synchronous rounds. Everything is exact integer arithmetic —
    // per-tx output values attribute floor(ov / n_inputs) to each
    // input-output edge, seeds start at 2^20 ppm-style mass, and the
    // proportional split is a single floor division — so the DuckDB
    // unroll is bit-exact (t·v peaks ~2^57 on the fixture; a deployment
    // at real satoshi volumes promotes the product to DECIMAL(38,0)).
    // Per round: one edge ⋈ taint equi-join + one hash-agg, the
    // PageRank loop's co-partitionable shape.
    "graph_taint_haircut" -> ((s, dir) => {
      val ve = valueEdges(s, dir)
      val vesrc = ve.join(ve.groupBy(col("src"))
        .agg(sum(col("v")).as("vout")), Seq("src"))
        .transform(graft.operators.Materialize.truncate)
      val t0 = hashSeeds(endpoints(ve), TaintSeedMod)
        .withColumn("t", lit(1L << 20))
      graft.operators.Fixpoint.run(t0, 2, Seq(vesrc)) { (_, t) =>
        vesrc
          .join(t.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), expr("(t * v) div vout").as("t"))
          .groupBy(col("node")).agg(sum(col("t")).as("t"))
          .filter(col("t") > 0)
      } { (t1, t2) =>
        t1.withColumnRenamed("t", "t1")
          .join(t2.withColumnRenamed("t", "t2"), Seq("node"), "full_outer")
          .select(col("node").as("address"),
            coalesce(col("t1"), lit(0L)).as("taint_r1"),
            coalesce(col("t2"), lit(0L)).as("taint_r2"))
      }
    }),

    // TIME-RESPECTING taint — the forensic semantics the hop-count BFS
    // ignores: funds can only traverse an edge whose block is at or
    // after the taint's arrival at the source (money moves forward in
    // time; a 2019 payment cannot launder through a 2017 transaction).
    // State = min arrival block per address (seeds start at block 0);
    // each round is one join against the parked (src, dst, block_id)
    // timed-edge tier with the time gate as a join predicate, then a
    // min hash-agg — the same co-partitionable loop shape as
    // graph_taint. Arrivals only tighten, so the bounded unroll is
    // exact in both engines; convergence witnesses the reach count AND
    // the arrival sum (a reach-stable round can still tighten
    // arrivals through a newly usable later edge).
    "graph_taint_timed" -> ((s, dir) => {
      val te = timedEdges(s, dir)
      val seeds = hashSeeds(endpoints(te), TaintSeedMod)
        .withColumn("a", lit(0L))
      graft.operators.Fixpoint.run(seeds, TaintRounds, Nil) { (_, st) =>
        val step = te.join(st.withColumnRenamed("node", "src"), Seq("src"))
          .filter(col("block_id") >= col("a"))
          .select(col("dst").as("node"), col("block_id").cast("long").as("a"))
        st.unionByName(step)
          .groupBy(col("node")).agg(min(col("a")).as("a"))
      } { (prev, st) =>
        st.crossJoin(broadcast(prev.agg(count(lit(1)).as("n_prev"),
            sum(col("a")).as("s_prev"))))
          .crossJoin(broadcast(st.agg(count(lit(1)).as("n_cur"),
            sum(col("a")).as("s_cur"))))
          .select(col("node").as("address"), col("a").as("taint_block"),
            (col("n_prev") === col("n_cur") &&
              col("s_prev") === col("s_cur")).as("converged"))
      }
    }),

    // bounded STRONGLY connected components — the directed-cycle
    // structure CC ignores (and the general form of the 2-cycles
    // graph_round_trips enumerates): forward/backward min-label
    // propagation, K rounds each. F(v) = min address reaching v within
    // K hops, B(v) = min address v reaches within K hops; F(v) = B(v)
    // = c PROVES v and c mutually reachable — sound at ANY bound, no
    // convergence needed — and the resolved flag marks exactly the
    // vertices whose membership the bound could not determine
    // (completeness explicitly witnessed, the taint convention). Two
    // taint-shaped loops over the parked edge tier; byte-ordered
    // string min is identical in both engines. The fixture's flow
    // graph is one dense component (every address in one SCC — a
    // vacuous answer), so the query runs on a deterministic 1-in-20
    // hash-thinned subgraph where all three outcomes occur: multi-node
    // SCCs, singletons, and bound-undetermined vertices. (PropertySpec
    // proves the operator against brute-force SCC on random digraphs.)
    "graph_scc" -> ((s, dir) => {
      val e = flowEdges(s, dir).filter(expr(
        "CAST(conv(substr(md5(concat(src, '|', dst)), 1, 10), 16, 10) " +
          s"AS BIGINT) % $SccEdgeMod = 0"))
      val nodes = endpoints(e)
      // the forward and backward fixpoints run one after the other:
      // overlapping them on two threads measured slower on 4 cores
      // (SCALE.md, "graph_scc")
      val fwd = minReach(nodes, e, SccRounds).withColumnRenamed("l", "f")
      val bwd = minReach(nodes,
          e.select(col("dst").as("src"), col("src").as("dst")), SccRounds)
        .withColumnRenamed("l", "b")
      fwd.join(bwd, Seq("node"))
        .select(col("node").as("address"),
          when(col("f") === col("b"), col("f")).otherwise(col("node"))
            .as("scc_id"),
          (col("f") === col("b")).as("resolved"))
    }),

    // link prediction by common-neighbor Jaccard: for every 2-hop pair
    // not already connected, score = |N(a)∩N(b)| / |N(a)∪N(b)| — the
    // classic graph-ML feature for "these addresses will transact".
    // Candidate pairs enumerate through midpoints (one self-join of the
    // neighbor list on the midpoint key), so cost is Σ_w deg(w)² — the
    // LinkMaxDeg cap drops hub midpoints before the quadratic step,
    // exactly the triangle query's fanout-guard pattern (a hub's
    // common-neighbor evidence is weak anyway: its presence in both
    // neighborhoods says little). The intersection count from capped
    // midpoints is a documented lower bound; degrees in the
    // denominator stay exact and full. All-integer until one final
    // division.
    "graph_links_jaccard" -> ((s, dir) => {
      val sed = symmetrized(flowEdges(s, dir))
      val deg = sed.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val mid = sed
        .join(deg.filter(col("deg") <= lit(LinkMaxDeg)), Seq("src"))
        .select(col("src").as("w"), col("dst").as("n"))
      val cand = mid.select(col("w"), col("n").as("a"))
        .join(mid.select(col("w"), col("n").as("b")), Seq("w"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
      cand
        .join(sed.select(col("src").as("a"), col("dst").as("b")),
          Seq("a", "b"), "left_anti")
        .join(deg.select(col("src").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("src").as("b"), col("deg").as("db")), Seq("b"))
        .withColumn("j_link", col("common").cast("double") /
          (col("da") + col("db") - col("common")))
        // top-k, not a threshold: absolute Jaccard mass depends on the
        // graph's density, so the ranking is the portable contract; the
        // (score desc, a, b) total order makes the cut deterministic
        // and TakeOrderedAndProject keeps it distributed
        .orderBy(col("j_link").desc, col("a"), col("b")).limit(50)
        .select(col("a"), col("b"), col("common"), col("j_link"))
    }),

    // outflow concentration per address — the Herfindahl–Hirschman
    // index over each address's outgoing value edges: ~2^20 means all
    // funds flow to ONE counterparty (the peel/laundering shape),
    // ~2^20/n an even n-way spread. Shares are 10-bit integer floors
    // (share_i = v_i·1024 div total) and hhi = Σ share_i², so every
    // term stays far inside int64 at ANY volume — no v² products, no
    // decimal promotion — and the staged flooring is stated identically
    // in both engines. One total agg + one join back + one hash-agg,
    // all on the src key (co-partitioned), over the parked value-edge
    // tier; output is address-sized.
    "graph_flow_concentration" -> ((s, dir) => {
      val ve = valueEdges(s, dir)
      val tot = ve.groupBy(col("src"))
        .agg(sum(col("v")).as("total_out"),
          count(lit(1)).as("n_counterparties"))
      ve.join(tot, Seq("src"))
        .select(col("src"), col("total_out"), col("n_counterparties"),
          expr("(v * 1024) div total_out").as("sh"))
        .groupBy(col("src").as("address"), col("total_out"),
          col("n_counterparties"))
        .agg(sum(expr("sh * sh")).as("hhi"))
    }),

    // peel-chain detection — the money-laundering signature GraphSense
    // analysts sweep for: a tx pays a small amount out and "peels" the
    // bulk to ONE change address, which funds the next hop, and so on.
    // A hop edge is (input addr → strict-majority output addr) — the
    // 2·ov > tv cut makes the dominant output unique per tx, so the
    // hop set is tx-bounded, never quadratic. Chain depth is a
    // fixed-round DP on the EARLIEST end-block per depth: a depth-d+1
    // chain ends at v iff some hop (u,v,b) has b later than the
    // earliest depth-d end at u (min-block state is exact: the witness
    // chain can always be swapped to the earliest one). Per round ONE
    // hop ⋈ state equi-join on the address key + one min hash-agg —
    // the taint/PageRank co-partitionable shape; only (addr, block)
    // tuples shuffle.
    "graph_peel_chains" -> ((s, dir) => peelDepths(peelHops(s, dir))),

    // attribution-tag rollup at entity grain — GraphSense's entity_tags
    // product table: a (deterministic, hash-selected) address tag list
    // aggregated through the multi-input clustering, so an analyst sees
    // "this ENTITY contains 3 exchange-tagged addresses". The tag list
    // plays the externally-curated attribution source (TagPack); member
    // counts come from the full address universe with un-clustered
    // addresses as singleton entities. One left join against the parked
    // label tier + one hash-agg on the entity key; the tag table is
    // list-sized, the rollup entity-sized.
    "entity_tags" -> ((s, dir) =>
      tagRollup(s, dir, hashTagList(s, dir))),

    // the SAME rollup fed from an external file-based attribution
    // source: the tag list lands as a TagPack-shaped CSV (address,
    // category + curation metadata columns, explicit schema on read —
    // GraphSense's real TagPack ingestion path) and the rollup joins
    // that file table. Shares entity_tags' oracle, so the driver
    // compare proves the external-dim join path end to end. The CSV is
    // a parked per-fixture tier (GraphTier `tp`, built by
    // graph_build) — the query path only READS it.
    "entity_tags_src" -> ((s, dir) => {
      val tags = s.read
        .schema("address STRING, category STRING, label STRING, " +
          "source STRING, currency STRING")
        .format("csv").option("header", "true")
        .load(tagPackSource(s, dir))
        .select(col("address"), col("category"))
      tagRollup(s, dir, tags)
    }))

  /** TagPack-shaped external attribution CSV — the FILE fixture
    * entity_tags_src ingests (GraphSense's TagPack path: curated
    * address tags arrive as files, not tables). Parked once per fixture
    * as [[GraphTier]] `tp`, so the QUERY path is read-only: a query
    * entry with a write side effect times fixture generation and
    * re-writes it on every invocation. Returns the directory to point a
    * schema-on-read CSV reader at. */
  private def tagPackSource(s: SparkSession, dir: String): String =
    GraphTier.park(dir, "tp")(
      hashTagList(s, dir)
        .select(col("address"), col("category"),
          concat(lit("actor-"), col("category")).as("label"),
          lit("tagpack-fixture").as("source"),
          lit("BTC").as("currency"))
        .write.mode("overwrite").format("csv")
        .option("header", "true").save(_))

  /** Deterministic hash-selected address tag list — plays the
    * externally-curated attribution source (TagPack) in a form both
    * engines can regenerate. */
  private def hashTagList(s: SparkSession, dir: String): DataFrame =
    ioAddresses(s, dir).select(col("address")).distinct()
      .filter(expr(
        s"CAST(conv(substr(md5(address), 1, 10), 16, 10) AS BIGINT)" +
          s" % $TagMod = 0"))
      .withColumn("category", expr(
        "element_at(array('exchange','gambling','miner','mixer'), " +
          "CAST(CAST(conv(substr(md5(address), 11, 2), 16, 10) AS BIGINT)" +
          " % 4 AS INT) + 1)"))

  /** Attribution-tag rollup at entity grain over any (address,
    * category) tag table: one left join against the parked label tier
    * + one hash-agg on the entity key; the tag table is list-sized,
    * the rollup entity-sized. */
  private def tagRollup(s: SparkSession, dir: String,
      tagged: DataFrame): DataFrame = {
    val labels = entityLabels(s, dir, Some(EntityWindow))
    val addrs = ioAddresses(s, dir).select(col("address")).distinct()
    addrs.join(labels, Seq("address"), "left")
      .select(coalesce(col("entity"), col("address")).as("entity"),
        col("address"))
      .join(tagged, Seq("address"), "left")
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_addresses"),
        count(col("category")).as("n_tagged"),
        min(col("category")).as("top_category"))
      .filter(col("n_tagged") > 0)
  }

  /** Distinct symmetrized (src, dst) edge set — both directions of
    * every undirected edge, so per-src counts are full degrees. */
  private[graft] def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** The ~1-in-`mod` nodes picked by a 40-bit md5 half of their
    * (string) id — the DuckDB-mirrorable seed and tag selection. */
  private def hashSeeds(nodes: DataFrame, mod: Int): DataFrame =
    nodes.filter(expr(
      s"CAST(conv(substr(md5(node), 1, 10), 16, 10) AS BIGINT) % $mod = 0"))

  /** Degree of each surviving node counted over edges whose BOTH
    * endpoints survive: two equi-joins against the survivor set (the
    * same key each round, so a cluster co-partitions them) + one
    * hash-agg. */
  private def coreDegrees(sed: DataFrame, surv: DataFrame): DataFrame =
    sed.join(surv.withColumnRenamed("node", "src"), Seq("src"))
      .join(surv.select(col("node").as("dst")), Seq("dst"))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))

  /** `rounds` synchronous peeling rounds toward the k-core: each round
    * drops every node whose degree among SURVIVORS is < k. Returns the
    * surviving nodes with their in-core degree plus a `converged`
    * witness (round R's survivor count == round R−1's — valid because
    * peeling shrinks monotonically). Shape at scale: per round, two
    * co-partitionable equi-joins on the node key + one hash-agg; only
    * (node) and (src, dst) tuples ever shuffle; lineage truncated per
    * round. Factored out so PropertySpec can drive it against a
    * brute-force peel on random graphs. */
  private[graft] def kCorePeel(edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val sed = symmetrized(edges).transform(graft.operators.Materialize.truncate)
    graft.operators.Fixpoint.run(sed.select(col("src").as("node")).distinct(),
        rounds, Seq(sed)) { (_, surv) =>
      coreDegrees(sed, surv).filter(col("deg") >= k).select("node")
    } { (prev, surv) =>
      coreDegrees(sed, surv)
        .withColumnRenamed("deg", "core_degree")
        .crossJoin(broadcast(prev.agg(count(lit(1)).as("n_prev"))))
        .crossJoin(broadcast(surv.agg(count(lit(1)).as("n_cur"))))
        .withColumn("converged", col("n_prev") === col("n_cur"))
        .select(col("node"), col("core_degree"), col("converged"))
    }
  }

  /** Hop horizon / seed-selection modulus for graph_taint (~2% of
    * addresses by a 40-bit md5 half — the DuckDB-mirrorable hash). */
  private val TaintRounds = 3
  private val TaintSeedMod = 50
  private val SccRounds = 4
  private val SccEdgeMod = 20
  private val Cycle3MidCap = 3000L
  /** Denser seed selection for the (small) entity graph — ~20% of
    * entities, so the BFS genuinely spreads at fixture scale. */
  private val EntityTaintSeedMod = 5

  /** Tag-list selection modulus for entity_tags (~3% of addresses play
    * the externally-curated attribution list). */
  private val TagMod = 37

  /** Fixed-round earliest-end-block DP over a (src, dst, b) hop set:
    * a depth-d+1 chain (strictly increasing b) ends at v iff some hop
    * (u,v,b) has b later than the EARLIEST depth-d end at u — min-block
    * state is exact because the witness chain can always be swapped for
    * the earliest-ending one. Exposed for PropertySpec's brute-force
    * path-enumeration check on random DAG-ish hop sets. */
  private[graft] def peelDepths(hops: DataFrame): DataFrame = {
    def step(prev: DataFrame): DataFrame = hops
      .join(prev.select(col("node").as("src"), col("mb").as("pb")),
        Seq("src"))
      .filter(col("b") > col("pb"))
      .groupBy(col("dst").as("node")).agg(min(col("b")).as("mb"))
    val s1 = hops.groupBy(col("dst").as("node"))
      .agg(min(col("b")).as("mb"))
    val s2 = step(s1)
    val s3 = step(s2)
    s1.select(col("node"), col("mb").as("b1"))
      .join(s2.select(col("node"), col("mb").as("b2")), Seq("node"),
        "left")
      .join(s3.select(col("node"), col("mb").as("b3")), Seq("node"),
        "left")
      .select(col("node").as("address"),
        when(col("b3").isNotNull, 3L).when(col("b2").isNotNull, 2L)
          .otherwise(1L).as("peel_depth"),
        col("b1").as("first_peel_block"))
  }

  /** Midpoint-degree cap for link prediction: a degree-d midpoint
    * contributes d²/2 candidate pairs, so hubs are dropped before the
    * quadratic expansion (same guard as TriangleMaxFanout). */
  private val LinkMaxDeg = 30

  /** `rounds` synchronous min-hop propagations from the seed set along
    * DIRECTED edges (money moves src→dst, and so does taint). A node's
    * hop distance is fixed the round it is first reached (BFS
    * layering: a shorter path would have arrived in an earlier round),
    * so the fixed-round unroll is deterministic whether or not the
    * frontier died out, and an unchanged reached-set count is a sound
    * convergence witness (no distance-r layer ⇒ no r+1 layer). Per
    * round: ONE edge ⋈ distance equi-join on the node key + one min
    * hash-agg — the same co-partitionable shape as the PageRank loop;
    * lineage truncated per round. */
  private[graft] def taintPropagate(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.transform(graft.operators.Materialize.truncate)
    graft.operators.Fixpoint.run(seeds.withColumn("d", lit(0L)), rounds,
        Seq(e)) { (_, dist) =>
      val step = e.join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("d") + 1L).as("d"))
      dist.unionByName(step)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
    } { (prev, dist) =>
      dist
        .crossJoin(broadcast(prev.agg(count(lit(1)).as("n_prev"))))
        .crossJoin(broadcast(dist.agg(count(lit(1)).as("n_cur"))))
        .withColumn("converged", col("n_prev") === col("n_cur"))
        .select(col("node"), col("d"), col("converged"))
    }
  }

  /** Synchronous LPA over a (src, dst) edge frame (symmetrized here):
    * `iters` rounds of most-frequent-neighbor-label with a
    * (count desc, label asc) tie-break. Factored out of the query so
    * PropertySpec can drive it against a brute-force reference on
    * random graphs. */
  private[graft] def labelPropagate(edges: DataFrame,
      iters: Int): DataFrame = {
    val sed = symmetrized(edges).transform(graft.operators.Materialize.truncate)
    graft.operators.Fixpoint.run(sed.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")), iters, Seq(sed)) { (_, lbl) =>
      val nb = sed
        .join(lbl.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("lbl"))
      val ct = nb.groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      ct.groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl")))
          .as("m"))
        .select(col("node"), col("m.lbl").as("lbl"))
    } ((_, lbl) => lbl)
  }

  // ---- DuckDB oracles ---------------------------------------------------

  /** DuckDB mirror of [[flowEdges]]. */
  private val fedgesCte: String =
    """fedges AS (
      |  SELECT DISTINCT i.address AS src, o.address AS dst
      |  FROM (SELECT DISTINCT tx_id, address FROM ioa WHERE is_input) i
      |  JOIN (SELECT DISTINCT tx_id, address FROM ioa WHERE NOT is_input) o
      |    USING (tx_id)
      |  WHERE i.address <> o.address)""".stripMargin

  private val edgeCtes: Seq[String] = Seq(
    ChainSql.io, ChainSql.ioAddr, fedgesCte,
    """fnodes AS (SELECT src AS node FROM fedges
      |           UNION SELECT dst FROM fedges)""".stripMargin,
    """outd AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
      |         FROM fedges GROUP BY src)""".stripMargin,
    "esrc AS (SELECT e.src, e.dst, o.outdeg FROM fedges e JOIN outd o USING (src))",
    s"r0 AS (SELECT node, CAST($PrScale AS BIGINT) AS rank FROM fnodes)")

  /** One PageRank round as a CTE: r{i} from {prefix}{i-1} over nodesCte /
    * esrcCte — exact mirror of [[graft.operators.PageRank]]'s loop. */
  private def prIterCte(i: Int, nodesCte: String = "fnodes",
      esrcCte: String = "esrc", prefix: String = "r"): String =
    s"""$prefix$i AS (
       |  SELECT n.node,
       |    CAST(${PrScale * 15 / 100} + (85 * coalesce(c.contrib, 0)) // 100
       |         AS BIGINT) AS rank
       |  FROM $nodesCte n LEFT JOIN (
       |    SELECT e.dst AS node, CAST(sum(r.rank // e.outdeg) AS BIGINT) AS contrib
       |    FROM $esrcCte e JOIN $prefix${i - 1} r ON r.node = e.src
       |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin

  /** One HITS round as four CTEs: authority raw/normalized then hub
    * raw/normalized — exact mirror of [[graft.operators.Hits]]'s sweep
    * (LEFT JOIN zero-fill onto fnodes, scalar-max floor normalization). */
  private def hitsIterCtes(i: Int, nodesCte: String = "fnodes",
      edgesCte: String = "fedges", pfx: String = "",
      materialized: Boolean = false): Seq[String] = {
    // DuckDB inlines plain CTEs, and every HITS round references its
    // predecessor ~4× (raw sum + scalar max, authority then hub) — over
    // k rounds that re-evaluates the CTE SUBTREE 4^k times, which turns
    // the entity oracle's recursive clustering walk from seconds into
    // minutes. AS MATERIALIZED pins each round to one evaluation.
    val m = if (materialized) "MATERIALIZED " else ""
    Seq(
    s"""${pfx}haraw$i AS $m(SELECT n.node, CAST(coalesce(c.raw, 0) AS BIGINT) AS raw
       |  FROM $nodesCte n LEFT JOIN (
       |    SELECT e.dst AS node, CAST(sum(h.s) AS BIGINT) AS raw
       |    FROM $edgesCte e JOIN ${pfx}hh${i - 1} h ON h.node = e.src
       |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin,
    s"""${pfx}ha$i AS $m(SELECT node,
       |  CAST((raw * $PrScale) // (SELECT max(raw) FROM ${pfx}haraw$i) AS BIGINT) AS s
       |  FROM ${pfx}haraw$i)""".stripMargin,
    s"""${pfx}hhraw$i AS $m(SELECT n.node, CAST(coalesce(c.raw, 0) AS BIGINT) AS raw
       |  FROM $nodesCte n LEFT JOIN (
       |    SELECT e.src AS node, CAST(sum(a.s) AS BIGINT) AS raw
       |    FROM $edgesCte e JOIN ${pfx}ha$i a ON a.node = e.dst
       |    GROUP BY e.src) c ON c.node = n.node)""".stripMargin,
    s"""${pfx}hh$i AS $m(SELECT node,
       |  CAST((raw * $PrScale) // (SELECT max(raw) FROM ${pfx}hhraw$i) AS BIGINT) AS s
       |  FROM ${pfx}hhraw$i)""".stripMargin)
  }

  /** One PERSONALIZED round: like [[prIterCte]] but the teleport term
    * is gated on pseeds' 0/1 indicator — mirror of
    * [[graft.operators.PageRank.runPersonalized]]. */
  private def pprIterCte(i: Int): String =
    s"""p$i AS (
       |  SELECT n.node,
       |    CAST(n.s * ${PrScale * 15 / 100}
       |         + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS rank
       |  FROM pseeds n LEFT JOIN (
       |    SELECT e.dst AS node, CAST(sum(r.rank // e.outdeg) AS BIGINT) AS contrib
       |    FROM esrc e JOIN p${i - 1} r ON r.node = e.src
       |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin

  /** DuckDB mirror of [[windowedInputAddresses]] (with its wtx input) —
    * shared by the entity-flow chain and graph_triangles. */
  private val wiaCtes: Seq[String] = Seq(
    s"wtx AS (SELECT tx_id FROM tx WHERE block_id < $EntityWindow)",
    """wia AS (SELECT DISTINCT tx_id, address
      |        FROM ioa JOIN wtx USING (tx_id) WHERE is_input)""".stripMargin)

  /** Windowed co-spend pairs `cpairs` (txs of at most
    * [[TriangleMaxFanout]] input addresses; the exact mirror of
    * cospendPairs(TriangleMaxFanout)) and their triangles `tri` —
    * shared by graph_triangles and graph_clustering_coeff. */
  private val triangleCtes: Seq[String] = Seq(
    ChainSql.tx, ChainSql.io, ChainSql.ioAddr) ++ wiaCtes ++ Seq(
    s"""wiac AS (SELECT w.tx_id, w.address FROM wia w
       |         JOIN (SELECT tx_id FROM wia GROUP BY tx_id
       |               HAVING count(DISTINCT address) <= $TriangleMaxFanout) f
       |           USING (tx_id))""".stripMargin,
    """cpairs AS (SELECT DISTINCT x.address AS a, y.address AS b
      |           FROM wiac x JOIN wiac y USING (tx_id)
      |           WHERE x.address < y.address)""".stripMargin,
    """tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      |        FROM cpairs e1
      |        JOIN cpairs e2 ON e2.a = e1.b
      |        JOIN cpairs e3 ON e3.a = e1.a AND e3.b = e2.b)""".stripMargin)

  /** The entity-flow CTE chain (windowed clustering + per-tx src entity +
    * per-output dst entity) — shared by entity_graph / entity_pagerank. */
  private val entityFlowCtes: Seq[String] = Seq(
    ChainSql.tx, ChainSql.io, ChainSql.ioAddr) ++ wiaCtes ++ Seq(
    "tr AS (SELECT tx_id, min(address) AS root FROM wia GROUP BY tx_id)",
    """cedges AS (SELECT DISTINCT address AS a, root AS b
      |           FROM wia JOIN tr USING (tx_id) WHERE address <> root)""".stripMargin,
    "cnodes AS (SELECT DISTINCT address AS node FROM wia)",
    ChainSql.ccWalkCte("cnodes", "cedges"),
    """cc AS (SELECT node AS address, min(comp) AS entity
      |       FROM walk GROUP BY node)""".stripMargin,
    """src AS (SELECT w.tx_id, min(cc.entity) AS src_entity
      |        FROM wia w JOIN cc USING (address) GROUP BY w.tx_id)""".stripMargin,
    """dstf AS (SELECT o.tx_id, o.value,
      |           coalesce(cc.entity, o.address) AS dst_entity
      |         FROM (SELECT tx_id, value, address FROM ioa
      |               JOIN wtx USING (tx_id) WHERE NOT is_input) o
      |         LEFT JOIN cc ON cc.address = o.address)""".stripMargin)

  /** Shared by entity_tags and its file-sourced twin: the hash-selected
    * tag list rolled through the recursive-walk clustering mirror;
    * singleton entities via the left-join coalesce. */
  private lazy val entityTagsOracle: String =
    ChainSql.withRecursiveCtes(entityFlowCtes ++ Seq(
      "eaddrs AS (SELECT DISTINCT address FROM ioa)",
      s"""etagged AS (
         |  SELECT address,
         |    (['exchange','gambling','miner','mixer'])[
         |      CAST(('0x' || substr(md5(address), 11, 2))::BIGINT
         |           % 4 AS BIGINT) + 1] AS category
         |  FROM eaddrs
         |  WHERE ('0x' || substr(md5(address), 1, 10))::BIGINT
         |        % $TagMod = 0)""".stripMargin): _*)(
      """SELECT coalesce(cc.entity, a.address) AS entity,
        |  CAST(count(*) AS BIGINT) AS n_addresses,
        |  CAST(count(t.category) AS BIGINT) AS n_tagged,
        |  min(t.category) AS top_category
        |FROM eaddrs a
        |LEFT JOIN cc ON cc.address = a.address
        |LEFT JOIN etagged t ON t.address = a.address
        |GROUP BY 1 HAVING count(t.category) > 0""".stripMargin)

  /** Shared by the straight-window and segmented balance timelines. */
  private lazy val addressBalanceOracle: String =
    withCtes(ChainSql.tx, ChainSql.io, ChainSql.ioAddr)(
      """SELECT address, block_id, tx_id, delta,
        |  CAST(sum(delta) OVER (PARTITION BY address
        |         ORDER BY block_id, tx_id ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS balance
        |FROM (
        |  SELECT address, t.block_id, i.tx_id,
        |    CAST(sum(CASE WHEN is_input THEN -value ELSE value END)
        |         AS BIGINT) AS delta
        |  FROM ioa i JOIN tx t ON t.tx_id = i.tx_id
        |  GROUP BY address, t.block_id, i.tx_id)""".stripMargin)

  val oracles: Map[String, String] = Map(
    "address_stats" -> withCtes(ChainSql.tx, ChainSql.io, ChainSql.ioAddr)(
      """SELECT address,
        |  CAST(count(DISTINCT CASE WHEN NOT is_input THEN i.tx_id END) AS BIGINT)
        |    AS no_incoming_txs,
        |  CAST(count(DISTINCT CASE WHEN is_input THEN i.tx_id END) AS BIGINT)
        |    AS no_outgoing_txs,
        |  CAST(sum(CASE WHEN NOT is_input THEN value ELSE 0 END) AS BIGINT)
        |    AS total_received,
        |  CAST(sum(CASE WHEN is_input THEN value ELSE 0 END) AS BIGINT)
        |    AS total_spent,
        |  CAST(sum(CASE WHEN NOT is_input THEN value ELSE 0 END)
        |       - sum(CASE WHEN is_input THEN value ELSE 0 END) AS BIGINT)
        |    AS balance,
        |  min(t.block_id) AS first_block,
        |  max(t.block_id) AS last_block
        |FROM ioa i JOIN tx t ON t.tx_id = i.tx_id
        |GROUP BY address""".stripMargin),

    "address_balance_history" -> addressBalanceOracle,

    // the segmented plan must be bit-identical to the straight window
    "address_balance_history_segmented" -> addressBalanceOracle,

    "graph_round_trips" -> withCtes(ChainSql.tx, ChainSql.io,
      ChainSql.ioAddr, teCte,
      """dagg AS (
        |  SELECT src, dst, min(block_id) AS first_out,
        |    CAST(count(DISTINCT block_id) AS BIGINT) AS n_out_blocks
        |  FROM te GROUP BY src, dst)""".stripMargin)(
      """SELECT d.src AS addr_from, d.dst AS addr_to, d.first_out,
        |  d.n_out_blocks, min(r.block_id) AS first_return,
        |  CAST(count(DISTINCT r.block_id) AS BIGINT) AS n_return_blocks
        |FROM dagg d JOIN te r
        |  ON r.src = d.dst AND r.dst = d.src AND r.block_id > d.first_out
        |GROUP BY d.src, d.dst, d.first_out, d.n_out_blocks""".stripMargin),

    // same first-occurrence edge aggregate, same midpoint cap, three
    // chained joins, per-apex rollup
    "graph_cycle3" -> withCtes(ChainSql.tx, ChainSql.io, ChainSql.ioAddr,
      teCte,
      """dagg3 AS (SELECT src, dst, min(block_id) AS first_out
        |          FROM te GROUP BY src, dst)""".stripMargin,
      s"""mids3 AS (SELECT i.v AS n2 FROM
         |    (SELECT dst AS v, count(*) AS ind FROM dagg3 GROUP BY dst) i
         |  JOIN (SELECT src AS v, count(*) AS outd FROM dagg3 GROUP BY src) o
         |    ON o.v = i.v
         |  WHERE i.ind * o.outd <= $Cycle3MidCap)""".stripMargin,
      """c3 AS (SELECT a.src AS n1, a.dst AS n2, b.dst AS n3,
        |         a.first_out AS b1, b.first_out AS b2, c.first_out AS b3
        |       FROM dagg3 a
        |       JOIN mids3 m ON m.n2 = a.dst
        |       JOIN dagg3 b ON b.src = a.dst AND b.first_out > a.first_out
        |       JOIN dagg3 c ON c.src = b.dst AND c.dst = a.src
        |         AND c.first_out > b.first_out
        |       WHERE a.src < a.dst AND a.src < b.dst)""".stripMargin)(
      """SELECT n1 AS address, CAST(count(*) AS BIGINT) AS n_cycles,
        |  min(b1) AS first_block, max(b3) AS last_block
        |FROM c3 GROUP BY n1""".stripMargin),

    "entity_balance_history" -> ChainSql.withRecursiveCtes(
      entityFlowCtes: _*)(
      """SELECT entity, block_id, tx_id, delta,
        |  CAST(sum(delta) OVER (PARTITION BY entity
        |         ORDER BY block_id, tx_id ROWS UNBOUNDED PRECEDING)
        |       AS BIGINT) AS balance
        |FROM (
        |  SELECT coalesce(cc.entity, i.address) AS entity, t.block_id,
        |    i.tx_id,
        |    CAST(sum(CASE WHEN i.is_input THEN -i.value ELSE i.value END)
        |         AS BIGINT) AS delta
        |  FROM ioa i JOIN wtx USING (tx_id)
        |  JOIN tx t ON t.tx_id = i.tx_id
        |  LEFT JOIN cc ON cc.address = i.address
        |  GROUP BY 1, t.block_id, i.tx_id)""".stripMargin),

    "entity_graph" -> ChainSql.withRecursiveCtes(entityFlowCtes: _*)(
      """SELECT s.src_entity, d.dst_entity,
        |  CAST(count(DISTINCT d.tx_id) AS BIGINT) AS n_txs,
        |  CAST(sum(d.value) AS BIGINT) AS total_value
        |FROM src s JOIN dstf d USING (tx_id)
        |GROUP BY s.src_entity, d.dst_entity""".stripMargin),

    "entity_pagerank" -> ChainSql.withRecursiveCtes(
      entityFlowCtes ++ Seq(
        eedgesCte,
        // NOT `A UNION B`: under a WITH RECURSIVE header DuckDB gives
        // any union-shaped CTE body anchor/step semantics and stops
        // deduplicating — DISTINCT over UNION ALL is form-proof
        """enodes AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM eedges
          |  UNION ALL SELECT dst FROM eedges))""".stripMargin,
        """eoutd AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
          |          FROM eedges GROUP BY src)""".stripMargin,
        "eesrc AS (SELECT e.src, e.dst, o.outdeg FROM eedges e JOIN eoutd o USING (src))",
        s"er0 AS (SELECT node, CAST($PrScale AS BIGINT) AS rank FROM enodes)") ++
      (1 to PrIters).map(i => prIterCte(i, "enodes", "eesrc", "er")): _*)(
      s"SELECT node AS entity, rank AS pagerank FROM er$PrIters"),

    // the same unrolled alternating sweeps over the entity edge set
    "entity_hits" -> ChainSql.withRecursiveCtes(
      entityFlowCtes ++ Seq(
        eedgesCte,
        """ehnodes AS MATERIALIZED (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM eedges
          |  UNION ALL SELECT dst FROM eedges))""".stripMargin,
        s"ehh0 AS (SELECT node, CAST($PrScale AS BIGINT) AS s FROM ehnodes)") ++
      (1 to HitsIters).flatMap(i =>
        hitsIterCtes(i, "ehnodes", "eedges", "e", materialized = true)): _*)(
      s"""SELECT n.node AS entity, h.s AS hub, a.s AS authority
         |FROM ehnodes n JOIN ehh$HitsIters h ON h.node = n.node
         |JOIN eha$HitsIters a ON a.node = n.node""".stripMargin),

    // the same unrolled BFS over the entity edge set
    "entity_taint" -> ChainSql.withRecursiveCtes(
      entityFlowCtes ++ Seq(
        eedgesCte,
        """etnodes AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM eedges
          |  UNION ALL SELECT dst FROM eedges))""".stripMargin,
        s"""et0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM etnodes
           |  WHERE ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 10))::BIGINT
           |        % $EntityTaintSeedMod = 0)""".stripMargin) ++
      (1 to TaintRounds).map(r => taintIterCteFor("et", "eedges", r)): _*)(
      s"""SELECT node AS entity, d AS taint_hops,
         |  (SELECT count(*) FROM et$TaintRounds) =
         |  (SELECT count(*) FROM et${TaintRounds - 1}) AS converged
         |FROM et$TaintRounds""".stripMargin),

    "graph_degree_dist" -> withCtes(ChainSql.io, ChainSql.ioAddr, fedgesCte)(
      """SELECT direction, degree, CAST(count(*) AS BIGINT) AS n_addresses
        |FROM (SELECT 'out' AS direction, src AS address,
        |        CAST(count(*) AS BIGINT) AS degree
        |      FROM fedges GROUP BY src
        |      UNION ALL
        |      SELECT 'in', dst, CAST(count(*) AS BIGINT)
        |      FROM fedges GROUP BY dst)
        |GROUP BY direction, degree""".stripMargin),

    "graph_triangles" -> withCtes(triangleCtes: _*)(
      """SELECT address, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT ta AS address FROM tri
        |      UNION ALL SELECT tb FROM tri
        |      UNION ALL SELECT tc FROM tri)
        |GROUP BY address""".stripMargin),

    // same capped co-spend CTEs; degree from both pair sides, triangle
    // corners left-joined, floor-bps coefficient
    "graph_clustering_coeff" -> withCtes(triangleCtes ++ Seq(
      """deg AS (SELECT address, CAST(count(*) AS BIGINT) AS degree
        |        FROM (SELECT a AS address FROM cpairs
        |              UNION ALL SELECT b FROM cpairs)
        |        GROUP BY address)""".stripMargin,
      """tric AS (SELECT address, CAST(count(*) AS BIGINT) AS n_triangles
        |         FROM (SELECT ta AS address FROM tri
        |               UNION ALL SELECT tb FROM tri
        |               UNION ALL SELECT tc FROM tri)
        |         GROUP BY address)""".stripMargin): _*)(
      """SELECT d.address, d.degree,
        |  CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN CAST((2 * coalesce(t.n_triangles, 0) * 10000)
        |              // (d.degree * (d.degree - 1)) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS coeff_bps
        |FROM deg d LEFT JOIN tric t USING (address)""".stripMargin),

    "graph_pagerank" -> withCtes(
      edgeCtes ++ (1 to PrIters).map(i => prIterCte(i)): _*)(
      s"SELECT node AS address, rank AS pagerank FROM r$PrIters"),

    // unrolled weighted rounds over the haircut taint's value-edge
    // CTEs — contribution = (rank·v) div vout, same floor arithmetic
    "graph_pagerank_value" -> withCtes(
      veCtes ++ Seq(
        "vvo AS (SELECT src, CAST(sum(v) AS BIGINT) AS vout FROM ve GROUP BY src)",
        """vn AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM ve UNION ALL SELECT dst FROM ve))""".stripMargin,
        "vsrc AS (SELECT e.src, e.dst, e.v, o.vout FROM ve e JOIN vvo o USING (src))",
        s"vr0 AS (SELECT node, CAST($PrScale AS BIGINT) AS rank FROM vn)") ++
      (1 to PrIters).map(i =>
        s"""vr$i AS (
           |  SELECT n.node,
           |    CAST(${PrScale * 15 / 100} + (85 * coalesce(c.contrib, 0)) // 100
           |         AS BIGINT) AS rank
           |  FROM vn n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((r.rank * e.v) // e.vout) AS BIGINT) AS contrib
           |    FROM vsrc e JOIN vr${i - 1} r ON r.node = e.src
           |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin): _*)(
      s"SELECT node AS address, rank AS pagerank FROM vr$PrIters"),

    // unrolled alternating authority/hub sweeps, each max-normalized by
    // a scalar subquery — same floor arithmetic as the Spark loop
    "graph_hits" -> withCtes(
      edgeCtes ++
        Seq(s"hh0 AS (SELECT node, CAST($PrScale AS BIGINT) AS s FROM fnodes)") ++
        (1 to HitsIters).flatMap(i => hitsIterCtes(i, materialized = true)): _*)(
      s"""SELECT n.node AS address, h.s AS hub, a.s AS authority
         |FROM fnodes n JOIN hh$HitsIters h ON h.node = n.node
         |JOIN ha$HitsIters a ON a.node = n.node""".stripMargin),

    // the same unrolled integer rounds with the teleport term gated on
    // the hash-selected seed indicator
    "graph_ppr_tagged" -> withCtes(
      edgeCtes ++ Seq(
        s"""pseeds AS (SELECT node,
           |  CAST(CASE WHEN ('0x' || substr(md5(node), 1, 10))::BIGINT
           |            % $TagMod = 0 THEN 1 ELSE 0 END AS BIGINT) AS s
           |  FROM fnodes)""".stripMargin,
        s"p0 AS (SELECT node, CAST(s * $PrScale AS BIGINT) AS rank FROM pseeds)") ++
      (1 to PrIters).map(pprIterCte): _*)(
      s"""SELECT node AS address, rank AS ppr FROM p$PrIters
         |WHERE rank > 0""".stripMargin),

    // unrolled synchronous LPA: same neighbor-vote count and
    // (count DESC, label ASC) tie-break per round as the Spark loop
    "graph_labelprop" -> withCtes(
      Seq(ChainSql.io, ChainSql.ioAddr, fedgesCte,
        """sedges AS MATERIALIZED (SELECT src, dst FROM fedges
          |           UNION SELECT dst, src FROM fedges)""".stripMargin,
        """lp0 AS (SELECT node, node AS lbl
          |        FROM (SELECT DISTINCT src AS node FROM sedges))""".stripMargin) ++
      (0 until LpIters).flatMap(lpIterCtes): _*)(
      s"SELECT node AS address, lbl AS community FROM lp$LpIters"),

    // unrolled peeling: same two survivor joins + degree filter per
    // round as the Spark loop; converged = count compare (monotone)
    "graph_kcore" -> withCtes(
      Seq(ChainSql.io, ChainSql.ioAddr, fedgesCte,
        """sedges AS MATERIALIZED (SELECT src, dst FROM fedges
          |           UNION SELECT dst, src FROM fedges)""".stripMargin,
        "ks0 AS (SELECT DISTINCT src AS node FROM sedges)") ++
      (1 to KCoreRounds).flatMap(kcIterCtes) ++ Seq(
        s"""kdf AS (SELECT e.src AS node,
           |          CAST(count(*) AS BIGINT) AS core_degree
           |        FROM sedges e
           |        JOIN ks$KCoreRounds a ON a.node = e.src
           |        JOIN ks$KCoreRounds b ON b.node = e.dst
           |        GROUP BY e.src)""".stripMargin): _*)(
      s"""SELECT node AS address, core_degree,
         |  (SELECT count(*) FROM ks$KCoreRounds) =
         |  (SELECT count(*) FROM ks${KCoreRounds - 1}) AS converged
         |FROM kdf""".stripMargin),

    // unrolled BFS: same union + min-hop hash-agg per round as the
    // Spark loop; converged = reached-count compare (monotone growth)
    "graph_taint" -> withCtes(
      Seq(ChainSql.io, ChainSql.ioAddr, fedgesCte,
        """tnodes AS (SELECT src AS node FROM fedges
          |           UNION SELECT dst FROM fedges)""".stripMargin,
        s"""t0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM tnodes
           |       WHERE ('0x' || substr(md5(node), 1, 10))::BIGINT
           |             % $TaintSeedMod = 0)""".stripMargin) ++
      (1 to TaintRounds).map(taintIterCte): _*)(
      s"""SELECT node AS address, d AS taint_hops,
         |  (SELECT count(*) FROM t$TaintRounds) =
         |  (SELECT count(*) FROM t${TaintRounds - 1}) AS converged
         |FROM t$TaintRounds""".stripMargin),

    // same unrolled shape over the timed edges, min-arrival state with
    // the block gate in the join; converged compares count AND sum
    "graph_taint_timed" -> withCtes(
      Seq(ChainSql.tx, ChainSql.io, ChainSql.ioAddr, teCte,
        """ttnodes AS (SELECT src AS node FROM te
          |            UNION SELECT dst FROM te)""".stripMargin,
        s"""tt0 AS (SELECT node, CAST(0 AS BIGINT) AS a FROM ttnodes
           |        WHERE ('0x' || substr(md5(node), 1, 10))::BIGINT
           |              % $TaintSeedMod = 0)""".stripMargin) ++
      (1 to TaintRounds).map(timedTaintIterCte): _*)(
      s"""SELECT node AS address, a AS taint_block,
         |  (SELECT count(*) FROM tt$TaintRounds) =
         |    (SELECT count(*) FROM tt${TaintRounds - 1})
         |  AND (SELECT sum(a) FROM tt$TaintRounds) =
         |    (SELECT sum(a) FROM tt${TaintRounds - 1}) AS converged
         |FROM tt$TaintRounds""".stripMargin),

    // the same K-round F/B min-label unroll; CASE mirrors the
    // resolved/unresolved projection
    "graph_scc" -> withCtes(
      Seq(ChainSql.io, ChainSql.ioAddr, fedgesCte,
        s"""thin AS (SELECT src, dst FROM fedges
           |  WHERE ('0x' || substr(md5(src || '|' || dst), 1, 10))::BIGINT
           |        % $SccEdgeMod = 0)""".stripMargin,
        """sccn AS (SELECT src AS node FROM thin
          |         UNION SELECT dst FROM thin)""".stripMargin,
        "redges AS (SELECT dst AS src, src AS dst FROM thin)",
        "sf0 AS (SELECT node, node AS l FROM sccn)",
        "sb0 AS (SELECT node, node AS l FROM sccn)") ++
      (1 to SccRounds).map(r => sccIterCte("sf", "thin", r)) ++
      (1 to SccRounds).map(r => sccIterCte("sb", "redges", r)): _*)(
      s"""SELECT f.node AS address,
         |  CASE WHEN f.l = b.l THEN f.l ELSE f.node END AS scc_id,
         |  f.l = b.l AS resolved
         |FROM sf$SccRounds f JOIN sb$SccRounds b USING (node)""".stripMargin),

    "graph_links_jaccard" -> linksOracle,

    // same strict-majority hop set, same unrolled min-end-block DP.
    "graph_peel_chains" -> withCtes(ChainSql.tx, ChainSql.io,
      ChainSql.ioAddr,
      """pia AS (SELECT DISTINCT tx_id, address AS src
        |        FROM ioa WHERE is_input)""".stripMargin,
      """pov AS (SELECT tx_id, address AS dst,
        |          CAST(sum(value) AS BIGINT) AS ov
        |        FROM ioa WHERE NOT is_input GROUP BY 1, 2)""".stripMargin,
      """pdom AS (SELECT pov.tx_id, dst FROM pov
        |         JOIN (SELECT tx_id, sum(ov) AS tv FROM pov GROUP BY 1) ptv
        |           USING (tx_id)
        |         WHERE ov * 2 > tv)""".stripMargin,
      """phops AS (SELECT DISTINCT src, dst, t.block_id AS b
        |          FROM pia JOIN pdom USING (tx_id)
        |          JOIN tx t ON t.tx_id = pia.tx_id
        |          WHERE src <> dst)""".stripMargin,
      "ps1 AS (SELECT dst AS node, min(b) AS mb FROM phops GROUP BY 1)",
      """ps2 AS (SELECT h.dst AS node, min(h.b) AS mb FROM phops h
        |        JOIN ps1 p ON p.node = h.src AND h.b > p.mb GROUP BY 1)""".stripMargin,
      """ps3 AS (SELECT h.dst AS node, min(h.b) AS mb FROM phops h
        |        JOIN ps2 p ON p.node = h.src AND h.b > p.mb GROUP BY 1)""".stripMargin)(
      """SELECT s1.node AS address,
        |  CAST(CASE WHEN s3.node IS NOT NULL THEN 3
        |            WHEN s2.node IS NOT NULL THEN 2
        |            ELSE 1 END AS BIGINT) AS peel_depth,
        |  s1.mb AS first_peel_block
        |FROM ps1 s1
        |LEFT JOIN ps2 s2 ON s2.node = s1.node
        |LEFT JOIN ps3 s3 ON s3.node = s1.node""".stripMargin),

    // same hash-selected tag list rolled through the recursive-walk
    // clustering mirror; singleton entities via the left-join coalesce.
    "entity_tags" -> entityTagsOracle,

    // the file-sourced rollup must agree with the in-memory one — one
    // oracle proves the TagPack CSV write→read→join path lossless
    "entity_tags_src" -> entityTagsOracle,

    // unrolled haircut rounds: same per-tx value attribution,
    // proportional floor split, and >0 pruning as the Spark loop
    "graph_flow_concentration" -> withCtes(veCtes ++ Seq(
      """vtot AS (SELECT src, CAST(sum(v) AS BIGINT) AS total_out,
        |           CAST(count(*) AS BIGINT) AS n_counterparties
        |         FROM ve GROUP BY src)""".stripMargin): _*)(
      """SELECT ve.src AS address, t.total_out, t.n_counterparties,
        |  CAST(sum(((ve.v * 1024) // t.total_out)
        |           * ((ve.v * 1024) // t.total_out)) AS BIGINT) AS hhi
        |FROM ve JOIN vtot t USING (src)
        |GROUP BY ve.src, t.total_out, t.n_counterparties""".stripMargin),

    "graph_taint_haircut" -> withCtes(
      veCtes ++ Seq(
        "vo AS (SELECT src, CAST(sum(v) AS BIGINT) AS vout FROM ve GROUP BY src)",
        """hn AS (SELECT DISTINCT node FROM (
          |  SELECT src AS node FROM ve UNION ALL SELECT dst FROM ve))""".stripMargin,
        s"""h0 AS (SELECT node, CAST(1048576 AS BIGINT) AS t FROM hn
           |       WHERE ('0x' || substr(md5(node), 1, 10))::BIGINT
           |             % $TaintSeedMod = 0)""".stripMargin) ++
      (1 to 2).map(haircutIterCte): _*)(
      """SELECT coalesce(a.node, b.node) AS address,
        |  CAST(coalesce(a.t, 0) AS BIGINT) AS taint_r1,
        |  CAST(coalesce(b.t, 0) AS BIGINT) AS taint_r2
        |FROM h1 a FULL OUTER JOIN h2 b ON a.node = b.node""".stripMargin))

  /** Value-weighted flow-edge CTE chain (mirror of [[valueEdges]]) —
    * shared by graph_taint_haircut and graph_flow_concentration. */
  // lazy: referenced by the oracles map's initializer above
  private lazy val veCtes: Seq[String] = Seq(ChainSql.io, ChainSql.ioAddr,
    "ins AS (SELECT DISTINCT tx_id, address AS src FROM ioa WHERE is_input)",
    """nin AS (SELECT tx_id, CAST(count(*) AS BIGINT) AS n_in
      |        FROM ins GROUP BY tx_id)""".stripMargin,
    """ovt AS (SELECT tx_id, address AS dst, CAST(sum(value) AS BIGINT) AS ov
      |        FROM ioa WHERE NOT is_input GROUP BY tx_id, address)""".stripMargin,
    """ve AS (SELECT src, dst, CAST(sum(ov // n_in) AS BIGINT) AS v
      |       FROM ins JOIN nin USING (tx_id) JOIN ovt USING (tx_id)
      |       WHERE src <> dst
      |       GROUP BY src, dst
      |       HAVING sum(ov // n_in) > 0)""".stripMargin)

  /** One haircut round as a CTE (reads h{r-1}, defines h{r}) — exact
    * mirror of graph_taint_haircut's round() closure. */
  private def haircutIterCte(r: Int): String =
    s"""h$r AS (SELECT dst AS node,
       |          CAST(sum((t * v) // vout) AS BIGINT) AS t
       |        FROM ve JOIN vo USING (src)
       |        JOIN h${r - 1} p ON p.node = ve.src
       |        GROUP BY dst
       |        HAVING sum((t * v) // vout) > 0)""".stripMargin

  /** Link-prediction mirror: same capped midpoint expansion, full
    * degrees in the denominator, NOT EXISTS for the existing-edge
    * anti-join. */
  private def linksOracle: String = withCtes(
    ChainSql.io, ChainSql.ioAddr, fedgesCte,
    """sedges AS MATERIALIZED (SELECT src, dst FROM fedges
      |           UNION SELECT dst, src FROM fedges)""".stripMargin,
    """degs AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
      |         FROM sedges GROUP BY src)""".stripMargin,
    s"""mid AS (SELECT e.src AS w, e.dst AS n
       |        FROM sedges e JOIN degs d USING (src)
       |        WHERE d.deg <= $LinkMaxDeg)""".stripMargin,
    """cand AS (SELECT a.n AS a, b.n AS b,
      |           CAST(count(*) AS BIGINT) AS common
      |         FROM mid a JOIN mid b ON a.w = b.w AND a.n < b.n
      |         GROUP BY 1, 2)""".stripMargin)(
    """SELECT c.a, c.b, c.common,
      |  CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common) AS j_link
      |FROM cand c
      |JOIN degs da ON da.src = c.a
      |JOIN degs db ON db.src = c.b
      |WHERE NOT EXISTS (SELECT 1 FROM sedges e
      |                  WHERE e.src = c.a AND e.dst = c.b)
      |ORDER BY j_link DESC, c.a, c.b LIMIT 50""".stripMargin)

  /** One BFS round as a CTE (reads t{r-1}, defines t{r}) — exact mirror
    * of [[taintPropagate]]'s loop body. */
  /** (src, dst, block_id) timed-edge CTE — the SQL mirror of the
    * timedEdges tier, shared by graph_round_trips and
    * graph_taint_timed. AS MATERIALIZED: every taint round and both
    * round-trip sides read it. */
  private def teCte: String =
    """te AS MATERIALIZED (
      |  SELECT DISTINCT i.address AS src, o.address AS dst, t.block_id
      |  FROM (SELECT DISTINCT tx_id, address FROM ioa WHERE is_input) i
      |  JOIN (SELECT DISTINCT tx_id, address FROM ioa
      |        WHERE NOT is_input) o ON o.tx_id = i.tx_id
      |  JOIN tx t ON t.tx_id = i.tx_id
      |  WHERE i.address <> o.address)""".stripMargin

  /** One time-respecting taint round: candidates flow through timed
    * edges usable at the source's arrival block, min-arrival per node.
    * AS MATERIALIZED: the round reads its predecessor twice. */
  private def timedTaintIterCte(r: Int): String =
    s"""tt$r AS MATERIALIZED (SELECT node, CAST(min(a) AS BIGINT) AS a FROM (
       |  SELECT node, a FROM tt${r - 1}
       |  UNION ALL
       |  SELECT e.dst AS node, e.block_id AS a
       |  FROM te e JOIN tt${r - 1} p
       |    ON p.node = e.src AND e.block_id >= p.a)
       |GROUP BY node)""".stripMargin

  /** graph_cycle3's core over a (src, dst, first_out) first-occurrence
    * edge aggregate: midpoint-capped temporal 3-cycle enumeration
    * rolled up per apex (min address of the cycle). Exposed for the
    * brute-force property test. */
  private[graft] def cycle3(dagg: DataFrame, midCap: Long): DataFrame = {
    val mids = dagg.groupBy(col("dst").as("v"))
      .agg(count(lit(1)).as("ind"))
      .join(dagg.groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("outd")), Seq("v"))
      .filter(col("ind") * col("outd") <= midCap)
      .select(col("v").as("n2"))
    val a = dagg.select(col("src").as("n1"), col("dst").as("n2"),
      col("first_out").as("b1"))
    val b = dagg.select(col("src").as("n2"), col("dst").as("n3"),
      col("first_out").as("b2"))
    val c = dagg.select(col("src").as("n3"), col("dst").as("n1"),
      col("first_out").as("b3"))
    a.join(mids, Seq("n2"))
      .join(b, Seq("n2"))
      .filter(col("b2") > col("b1") &&
        col("n1") < col("n2") && col("n1") < col("n3"))
      .join(c, Seq("n3", "n1"))
      .filter(col("b3") > col("b2"))
      .groupBy(col("n1").as("address"))
      .agg(count(lit(1)).as("n_cycles"),
        min(col("b1")).as("first_block"),
        max(col("b3")).as("last_block"))
  }

  /** K-round min-label reach: l(v) = min node reaching v within
    * `rounds` hops along `edges` (v itself included) — graph_scc's
    * forward scan; on reversed edges, its backward scan. */
  private[graft] def minReach(nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame =
    graft.operators.Fixpoint.run(nodes.withColumn("l", col("node")), rounds,
        Nil) { (_, lbl) =>
      lbl.unionByName(
          edges.join(lbl.select(col("node").as("src"), col("l")), Seq("src"))
            .select(col("dst").as("node"), col("l")))
        .groupBy(col("node")).agg(min(col("l")).as("l"))
    } ((_, lbl) => lbl)

  /** One min-label round of graph_scc's oracle (reads `$pfx{r-1}`,
    * defines `$pfx$r`, walking `edges`). */
  private def sccIterCte(pfx: String, edges: String, r: Int): String =
    // AS MATERIALIZED: predecessor referenced twice per round (see
    // taintIterCteFor) — and the query runs TWO 4-round chains (fwd+bwd)
    s"""$pfx$r AS MATERIALIZED (SELECT node, min(l) AS l FROM (
       |  SELECT node, l FROM $pfx${r - 1}
       |  UNION ALL
       |  SELECT e.dst AS node, p.l AS l
       |  FROM $edges e JOIN $pfx${r - 1} p ON p.node = e.src)
       |GROUP BY node)""".stripMargin

  /** Distinct entity→entity edge CTE — shared by entity_pagerank and
    * entity_taint. */
  private def eedgesCte: String =
    """eedges AS MATERIALIZED (SELECT DISTINCT s.src_entity AS src,
      |             d.dst_entity AS dst
      |           FROM src s JOIN dstf d USING (tx_id)
      |           WHERE s.src_entity <> d.dst_entity)""".stripMargin

  private def taintIterCte(r: Int): String = taintIterCteFor("t", "fedges", r)

  /** One BFS taint round over any (edge table, state prefix) pair.
    * AS MATERIALIZED: each round references its predecessor TWICE (both
    * UNION ALL branches) — DuckDB re-inlines plain CTEs per reference,
    * so an unmaterialized chain re-evaluates the whole upstream 2^rounds
    * times (the bpe_encode lesson, r13: the same trap tripped the
    * graph_kcore oracle over the 10 s budget). */
  private def taintIterCteFor(pfx: String, edges: String, r: Int): String =
    s"""$pfx$r AS MATERIALIZED (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
       |  SELECT node, d FROM $pfx${r - 1}
       |  UNION ALL
       |  SELECT e.dst AS node, p.d + 1 AS d
       |  FROM $edges e JOIN $pfx${r - 1} p ON p.node = e.src)
       |GROUP BY node)""".stripMargin

  /** One peel round's CTE block (reads ks{r-1}, defines ks{r}).
    * AS MATERIALIZED on ks$r: each survivor set is referenced TWICE by
    * the next round's degree count (both join sides) — unmaterialized,
    * DuckDB re-inlines the whole upstream chain 2^rounds times, which
    * put the graph_kcore oracle over the 10 s budget (r13, measured
    * 11.0 s → 4.5 s with the pin). */
  private def kcIterCtes(r: Int): Seq[String] = Seq(
    s"""kd$r AS (SELECT e.src AS node, CAST(count(*) AS BIGINT) AS deg
       |         FROM sedges e
       |         JOIN ks${r - 1} a ON a.node = e.src
       |         JOIN ks${r - 1} b ON b.node = e.dst
       |         GROUP BY e.src)""".stripMargin,
    s"ks$r AS MATERIALIZED (SELECT node FROM kd$r WHERE deg >= $KCoreK)")

  /** One LPA round's CTE block (reads lp{r}, defines lp{r+1}). */
  private def lpIterCtes(r: Int): Seq[String] = Seq(
    s"""nb$r AS (SELECT e.dst AS node, l.lbl AS lbl
       |         FROM sedges e JOIN lp$r l ON l.node = e.src)""".stripMargin,
    s"""ct$r AS (SELECT node, lbl, CAST(count(*) AS BIGINT) AS c
       |         FROM nb$r GROUP BY node, lbl)""".stripMargin,
    s"""lp${r + 1} AS (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl,
       |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |    FROM ct$r)
       |  WHERE rn = 1)""".stripMargin)
}
