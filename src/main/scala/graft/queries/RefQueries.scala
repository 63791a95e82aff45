package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.chain.{Chain, ChainSql}
import graft.chain.ChainSql.withCtes

/** Reference-parity queries: the seven-table contract plus every query
  * pattern the reference executes (SURVEY.md §2 ids cited per query).
  * Each entry returns a DataFrame whose columns exactly match the oracle
  * SQL in [[oracles]] (names AND types — the driver sorts columns by name
  * and hash-compares values).
  */
object RefQueries {
  import Chain._

  type Q = (SparkSession, String) => DataFrame

  /** Simulated-duplicate salt for bip30_dedup (W2/J6). */
  private val DupOffset = 10000000L

  /** Last dir the gb_tx/gb_iostats bucketed tables were built for; the
    * build is idempotent and re-runs only when the dir changes (or never
    * ran in this JVM), so `bucketed_join` measures the PROBE. Bench
    * calls [[buildBucketedTables]] up front and reports the build as its
    * own entry, the dedup_materialize pattern. */
  private val bucketedFor = new java.util.concurrent.atomic.AtomicReference[String]("")

  /** One-time entity-label tier builds (both clustering windows) so
    * Bench reports the iterative CC build as its own entry and
    * entity_components / entity_summary measure label consumption. */
  def buildEntityTiers(s: SparkSession, dir: String): Unit = {
    // all three tiers are filters of the same distinct (tx_id, address)
    // pair set; derive it once and keep it pinned for the duration of
    // the three CC fixpoints instead of paying the lineitem scan +
    // explode + distinct three times (on a cluster: cache at
    // MEMORY_AND_DISK, same effect)
    val ia = inputAddressPairs(s, dir).persist()
    try {
      // no eager count: the cache blocks fill lazily under the first
      // fixpoint jobs to need them, and concurrent consumers coordinate
      // per block in the block manager — a serialized warm-up count
      // costs a full pass of wall-clock before any fixpoint starts
      // (the buildGraphTier lesson, applied here in r13)
      // the three CC fixpoints are independent jobs over the shared
      // cached pair set — run them concurrently so their (many, tiny)
      // per-round stages interleave in the scheduler instead of
      // serializing wall-clock; on a cluster this is plain multi-job
      // scheduling within one application
      graft.ops.Tiers.buildConcurrently(Seq(
        () => { labelsFrom(s, dir, ia, None).count(); () },
        () => { labelsFrom(s, dir, ia, Some(EntityWindow)).count(); () },
        () => { entityBaseLabelsFrom(s, dir,
          ia.filter(col("tx_id") % EntityBatchMod =!= 0)).count(); () }))
    } finally { ia.unpersist(); () }
  }

  /** Drop the JVM-side bucketed-table memo so the next
    * [[buildBucketedTables]] rebuilds cold — Bench's min-of-2 cold
    * build passes need a true second cold run, not a memo hit. */
  def invalidateBucketedCache(): Unit = bucketedFor.set("")

  def buildBucketedTables(s: SparkSession, dir: String): Unit =
    bucketedFor.synchronized {
      // the cache is JVM-wide but catalog entries are per-session: a new
      // session in the same JVM must rebuild even for the same dir
      if (bucketedFor.get() != dir ||
          !s.catalog.tableExists("gb_tx") ||
          !s.catalog.tableExists("gb_iostats")) {
        def mk(name: String, df: DataFrame): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $name")
          graft.ops.Tiers.deleteRecursively(
            new java.io.File(s"target/bucketed/$name"))
          graft.chain.ChainStore.writeBucketed(df, name, "tx_id", 8,
            Some(s"target/bucketed/$name"))
        }
        // the two bucketed writes are independent jobs — overlap them
        // (guide §2.6) like every other tier build wave.
        // INVARIANT: concurrent mk() writers must touch DISJOINT table
        // names and target/bucketed/<name> paths — each does a catalog
        // DROP + recursive delete + saveAsTable, safe only because the
        // names never collide; a shared parent-path cleanup or a
        // repeated name would be a catalog/filesystem race
        graft.ops.Tiers.buildConcurrently(Seq(
          () => mk("gb_tx", transactions(s, dir)),
          () => mk("gb_iostats", txIoStats(s, dir))))
        bucketedFor.set(dir)
      }
    }


  // ---- shared sub-plans -------------------------------------------------

  /** entity_summary's pinned clustering window (first ~2 weeks of chain
    * history): early-chain co-spend graphs are sparse enough for real
    * entity structure at every verification sf. */
  private[graft] val EntityWindow = 1110L

  /** The parked entity labels — clustering is a transformation STEP
    * whose output tables downstream queries read, as GraphSense deploys
    * it, not a subplan re-run per query; the iterative CC fixpoint is
    * the most expensive stage of the entity chain. One tier per
    * clustering window ([[windowSub]]) plus the pre-batch state
    * `pretx<EntityBatchMod>`. Bump on any change to the edge derivation
    * or the clustering. */
  private[graft] val EntityTier =
    graft.ops.Tier("entity", 1, Seq("lineitem", "orders"))

  /** The tier name of the labels over clustering window `maxBlock`. */
  private[graft] def windowSub(maxBlock: Option[Long]): String =
    s"w${maxBlock.fold("all")(_.toString)}"

  /** Multi-input-heuristic entity labels: star edges from each input
    * address to its tx's minimum address (same components as the per-tx
    * clique at linear edge count), clustered by the O(log n)
    * large-star/small-star connected-components operator. The entity
    * label is the component's minimum address — a pure function of the
    * chain, stable across runs and cluster sizes. The iterative
    * fixpoint is parked once per (fixture, window) as [[EntityTier]]. */
  private[queries] def entityLabels(s: SparkSession, dir: String,
      maxBlock: Option[Long] = None): DataFrame =
    labelsFrom(s, dir, inputAddressPairs(s, dir), maxBlock)

  /** The entity-side simulated arriving batch: every 97th tx. */
  private val EntityBatchMod = 97L

  /** Distinct (tx_id, address) input pairs — the one derivation every
    * entity tier starts from (full chain, block window, pre/post batch
    * are all filters of this set). */
  private def inputAddressPairs(s: SparkSession, dir: String): DataFrame =
    io(s, dir).filter(col("is_input"))
      .select(col("tx_id"), explode(col("addresses")).as("address"))
      .distinct()

  /** Distinct (tx_id, address) input pairs, restricted to the simulated
    * batch (`inBatch = true`) or its complement. */
  private def inputAddressesByBatch(s: SparkSession, dir: String,
      inBatch: Boolean): DataFrame = {
    val sel = col("tx_id") % EntityBatchMod === 0
    inputAddressPairs(s, dir).filter(if (inBatch) sel else !sel)
  }

  /** Multi-input-heuristic star edges for a (tx_id, address) input set:
    * each address links to its tx's minimum address — ONE definition for
    * the full build, the parked base, and the incremental touch set, so
    * the maintained == recomputed gate can never drift on edge
    * semantics. */
  private def starEdges(ia: DataFrame): DataFrame = {
    val root = ia.groupBy(col("tx_id")).agg(min(col("address")).as("root"))
    ia.join(root, Seq("tx_id"))
      .filter(col("address") =!= col("root"))
      .select(col("address"), col("root"))
  }

  /** CC labels over a (tx_id, address) input-pair set — the clustering
    * step shared by every tier derivation. */
  private def ccLabelsOf(ia: DataFrame): DataFrame =
    graft.operators.ConnectedComponents.labels(
        ia.select(col("address")).distinct(), starEdges(ia))
      .select(col("node").as("address"), col("component").as("entity"))

  /** Parked pre-batch entity labels (the previous run's state for the
    * incremental maintenance query) — clustering over all txs EXCEPT
    * the simulated batch, keyed separately from the block windows. */
  private def entityBaseLabels(s: SparkSession, dir: String): DataFrame =
    entityBaseLabelsFrom(s, dir, inputAddressesByBatch(s, dir,
      inBatch = false))

  private def entityBaseLabelsFrom(s: SparkSession, dir: String,
      ia: DataFrame): DataFrame =
    EntityTier.parquet(s, dir, s"pretx$EntityBatchMod")(ccLabelsOf(ia))

  /** [[entityLabels]] from an explicit pair set, so the cold tier
    * build can cache ONE io derivation across all three fixpoints. */
  private def labelsFrom(s: SparkSession, dir: String,
      iaAll: => DataFrame, maxBlock: Option[Long]): DataFrame =
    EntityTier.parquet(s, dir, windowSub(maxBlock)) {
      // optional analysis window: cluster only txs below a block cut —
      // on this dense fixture the full chain collapses to one giant
      // entity (290 addresses, thousands of co-spends), so windowed
      // clustering is what produces non-degenerate entity structure
      val ia = maxBlock.fold(iaAll)(b => iaAll.join(
        Chain.transactions(s, dir).filter(col("block_id") < b)
          .select(col("tx_id")), Seq("tx_id")))
      ccLabelsOf(ia)
    }

  /** Per-tx max count of equal-valued outputs — the coinjoin signal (U1,
    * blocksci_export.py:365). Two-level hash agg, both map-side combinable. */
  private def maxEqualOutputs(spark: SparkSession, dir: String): DataFrame =
    io(spark, dir).filter(!col("is_input"))
      .groupBy(col("tx_id"), col("value")).agg(count(lit(1)).as("c"))
      .groupBy(col("tx_id")).agg(max(col("c")).as("max_eq"))

  /** transaction_flat core: tx scalars + io rollups + coinbase + coinjoin. */
  private def txFlat(spark: SparkSession, dir: String): DataFrame = {
    val t  = withCoinbase(transactions(spark, dir))
    val s  = txIoStats(spark, dir)
    val cj = maxEqualOutputs(spark, dir)
    t.join(s, Seq("tx_id"), "left").join(cj, Seq("tx_id"), "left")
      .select(
        col("tx_id_group"), col("tx_id"), col("tx_hash"), col("block_id"),
        col("ts"), col("coinbase"),
        coalesce(col("no_inputs"), lit(0L)).as("no_inputs"),
        coalesce(col("no_outputs"), lit(0L)).as("no_outputs"),
        coalesce(col("total_input"), lit(0L)).as("total_input"),
        coalesce(col("total_output"), lit(0L)).as("total_output"),
        (coalesce(col("no_inputs"), lit(0L)) >= 2 &&
          coalesce(col("max_eq"), lit(0L)) >= 2).as("coinjoin"))
  }

  private val txFlatSqlCtes: Seq[String] = Seq(
    ChainSql.tx, ChainSql.io, ChainSql.ioStats,
    """cj AS (
      |  SELECT tx_id, CAST(max(c) AS BIGINT) AS max_eq
      |  FROM (SELECT tx_id, value, count(*) AS c
      |        FROM io WHERE NOT is_input GROUP BY tx_id, value)
      |  GROUP BY tx_id)""".stripMargin,
    """cb AS (
      |  SELECT tx_id, tx_id = min(tx_id) OVER (PARTITION BY block_id) AS coinbase
      |  FROM tx)""".stripMargin)

  /** Each tx `t` with its coinbase flag `cb`, io totals `s` and
    * CoinJoin evidence `cj` ([[txFlatSqlCtes]]). */
  private val txFlatJoinsSql: String =
    """FROM tx t
      |JOIN cb USING (tx_id)
      |LEFT JOIN iostats s USING (tx_id)
      |LEFT JOIN cj USING (tx_id)""".stripMargin

  private val txFlatSqlBody: String =
    s"""SELECT t.tx_id_group, t.tx_id, t.tx_hash, t.block_id, t.ts, cb.coinbase,
       |  CAST(coalesce(s.no_inputs, 0) AS BIGINT) AS no_inputs,
       |  CAST(coalesce(s.no_outputs, 0) AS BIGINT) AS no_outputs,
       |  CAST(coalesce(s.total_input, 0) AS BIGINT) AS total_input,
       |  CAST(coalesce(s.total_output, 0) AS BIGINT) AS total_output,
       |  (coalesce(s.no_inputs, 0) >= 2 AND coalesce(cj.max_eq, 0) >= 2) AS coinjoin
       |$txFlatJoinsSql""".stripMargin

  /** The full nested transaction table (schema.cql:21-34): inputs/outputs
    * as ordered arrays of (address, value, address_type) structs, built in
    * a single shuffle on tx_id (collect_list skips nulls, so one
    * conditional aggregation builds both sides). This is the typed face —
    * catalog registration and store writes consume the nested
    * `ArrayType(StructType)` shape; the driver-facing `transaction_table`
    * query entry serializes the arrays canonically so its content is
    * hash-verifiable by the oracle harness. */
  private[graft] def transactionTable(s: SparkSession, dir: String): DataFrame = {
    // idx (l_linenumber) is NOT unique per tx side — ties are broken by
    // the canonical element rendering (injective: addresses contain no
    // ':' or '|'), so the array order is deterministic in both engines
    val ioRowStr = concat_ws(":",
      when(col("addresses").isNull, lit("NULL"))
        .otherwise(array_join(col("addresses"), "|")),
      col("value").cast("string"), col("address_type").cast("string"))
    def sideAgg(input: Boolean, name: String) =
      transform(
        sort_array(collect_list(when(col("is_input") === input,
          struct(col("idx"), ioRowStr.as("s"),
            col("addresses").as("address"), col("value"),
            col("address_type"))))),
        x => struct(x.getField("address").as("address"),
          x.getField("value").as("value"),
          x.getField("address_type").as("address_type"))).as(name)
    val sides = io(s, dir)
      .groupBy(col("tx_id"))
      .agg(sideAgg(input = true, "inputs"),
        sideAgg(input = false, "outputs"))
    txFlat(s, dir)
      .join(sides, Seq("tx_id"), "left")
      .select("tx_id_group", "tx_id", "tx_hash", "block_id", "ts",
        "coinbase", "total_input", "total_output", "inputs", "outputs",
        "coinjoin")
  }

  /** Canonical serialization of one io-side array — each struct rendered
    * `addr1|addr2:value:type` (null address list → `NULL`), elements
    * joined with `;`. The rendering is engine-neutral, so the driver can
    * hash-compare the nested arrays against a DuckDB string_agg oracle. */
  private def serializeSide(c: Column): Column =
    coalesce(
      array_join(
        transform(c, x => concat_ws(":",
          when(x.getField("address").isNull, lit("NULL"))
            .otherwise(array_join(x.getField("address"), "|")),
          x.getField("value").cast("string"),
          x.getField("address_type").cast("string"))), ";"),
      lit(""))

  /** exchange_rates in its schema.cql:58-61 shape: date text key +
    * map<text,float> fiat values (F11). */
  private def exchangeRatesTable(s: SparkSession, dir: String): DataFrame =
    graft.chain.Chain.exchangeRatesTable(graft.chain.Chain.rates(s, dir))

  // ---- queries ----------------------------------------------------------

  val queries: Map[String, Q] = Map(
    // block table (schema.cql:6-13; P1+A1+F3)
    "block_table" -> ((s, dir) =>
      blocks(s, dir).select("block_id_group", "block_id", "block_hash",
        "ts", "no_transactions")),

    // transaction table, scalar columns (P2+P6+A2+A3+F10+U1 coinjoin)
    "transaction_flat" -> ((s, dir) => txFlat(s, dir)),

    // transaction_by_tx_prefix (schema.cql:36-41; P5+F2)
    "tx_by_prefix" -> ((s, dir) =>
      transactions(s, dir).select(
        substring(col("tx_hash"), 1, PrefixLen).as("tx_prefix"),
        col("tx_hash"), col("tx_id"))),

    // transaction_by_tx_prefix through blob storage (F1 both
    // directions): the hash round-trips hex → blob (`unhex`, the
    // reference's bytearray.fromhex at blocksci_export.py:335) → hex
    // (`lower(hex(...))` presentation). Every output column is DERIVED
    // from the BinaryType column, so the green hash row proves the
    // round trip; the raw blob itself stays internal (the driver's
    // pandas hasher can't digest bytearray cells).
    "tx_by_prefix_bin" -> ((s, dir) => {
      val t = withBinaryHash(transactions(s, dir))
      t.select(
        substring(lower(hex(col("tx_hash_bin"))), 1, PrefixLen).as("tx_prefix"),
        lower(hex(col("tx_hash_bin"))).as("tx_hash"),
        col("tx_id"))
    }),

    // point lookup with ALL comparisons on the binary column: the
    // 3-byte binary prefix cut stands in for partition pruning, the full
    // 32-byte equality is the verify step (J5+F1 on blob storage).
    "prefix_lookup_bin" -> ((s, dir) => {
      val target = unhex(sha2(lit("1"), 256))
      withBinaryHash(transactions(s, dir))
        .filter(substring(col("tx_hash_bin"), 1, 3) === substring(target, 1, 3))
        .filter(col("tx_hash_bin") === target)
        .select("tx_id", "block_id", "ts")
    }),

    // block_transactions (schema.cql:51-56; A4+J2): ordered per-block tx list.
    // The tx list is emitted as a csv string so the oracle hash is stable
    // across engines' array renderings; ordering guaranteed by sort_array.
    "block_transactions" -> ((s, dir) =>
      transactions(s, dir).groupBy(col("block_id"))
        .agg(
          count(lit(1)).as("no_txs"),
          array_join(
            transform(sort_array(collect_list(col("tx_id"))),
              x => x.cast("string")), ",").as("txs"))
        .withColumn("block_id_group", floor(col("block_id") / BlockBucketSize))
        .select("block_id_group", "block_id", "no_txs", "txs")),

    // block_transactions built by the typed Aggregator (U4) instead of
    // sort_array(collect_list): one-pass ordered list with the ordering
    // enforced inside the aggregate. Shares block_transactions' oracle —
    // the driver compare proves the two implementations equivalent.
    "block_transactions_agg" -> ((s, dir) => {
      import s.implicits._
      val tx = transactions(s, dir)
        .select(col("block_id"), col("tx_id")).as[(Long, Long)]
      tx.groupByKey(_._1).mapValues(_._2)
        .agg(graft.functions.SortedTxListAgg.toColumn.name("txs"))
        .toDF("block_id", "txs")
        .withColumn("no_txs",
          size(split(col("txs"), ",")).cast("long"))
        .withColumn("block_id_group", floor(col("block_id") / BlockBucketSize))
        .select("block_id_group", "block_id", "no_txs", "txs")
    }),

    // the nested block_transactions contract frame with its tx_summary
    // structs canonically serialized (the driver's hasher cannot hash
    // nested cells — same pattern as transaction_table_check), so the
    // exported list content is oracle-verified, not just shape-checked.
    "block_transactions_table_check" -> ((s, dir) =>
      graft.chain.Chain.blockTransactions(s, dir).select(
        col("block_id_group"), col("block_id"),
        array_join(transform(col("txs"), x => concat_ws(":",
          x.getField("tx_id").cast("string"),
          x.getField("no_inputs").cast("string"),
          x.getField("no_outputs").cast("string"),
          x.getField("total_input").cast("string"),
          x.getField("total_output").cast("string"))), ";").as("txs_s"))),

    // summary_statistics (schema.cql:63-68; A6)
    "summary_statistics" -> ((s, dir) =>
      graft.chain.Chain.summaryStatistics(
        graft.chain.Chain.transactions(s, dir))),

    // configuration row (schema.cql:70-75; S8)
    "configuration" -> ((s, dir) => graft.chain.Chain.configuration(s)),

    // per-chain config ingestion (conf/{btc,ltc,bch,zec}.cfg → one
    // chain-params row per file; reference per-chain deploys
    // blocksci_export.py -c conf/<coin>.cfg). The oracle re-parses the
    // SAME fixture files with DuckDB's independent JSON reader, so the
    // schema-on-read load — not just the values — is what's checked.
    "chain_params" -> ((s, dir) =>
      graft.chain.ChainConfig.read(s,
        graft.chain.ChainConfig.fixtureDir())),

    // newest block: per-partition top-1 then global top-1 (W1,
    // blocksci_export.py:51-69)
    "newest_block" -> ((s, dir) => {
      val w = Window.partitionBy(col("block_id_group"))
        .orderBy(col("block_id").desc)
      blocks(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .orderBy(col("block_id").desc).limit(1)
        .select("block_id_group", "block_id", "ts")
    }),

    // BIP30 last-write-wins dedup (W2/J6, blocksci_export.py:466-473):
    // inject duplicated hashes, keep the newest tx_id per hash.
    "bip30_dedup" -> ((s, dir) => {
      val t = transactions(s, dir).select("tx_hash", "tx_id")
      val dups = t.filter(col("tx_id") % 97 === 0)
        .select(col("tx_hash"), (col("tx_id") + DupOffset).as("tx_id"))
      val all = t.unionByName(dups)
      val w = Window.partitionBy(col("tx_hash")).orderBy(col("tx_id").desc)
      all.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("tx_hash"), col("tx_id"),
          (col("tx_id") >= DupOffset).as("was_duplicated"))
    }),

    // last-write-wins as a hash AGGREGATION instead of a ranking window:
    // max(struct(tx_id, ...)) per hash is map-side combinable, so the
    // shuffle carries one candidate row per (mapper, hash) — strictly
    // less data than the window form's full sort exchange. Shares
    // bip30_dedup's oracle → the two forms are proven equivalent.
    "bip30_dedup_agg" -> ((s, dir) => {
      val t = transactions(s, dir).select("tx_hash", "tx_id")
      val dups = t.filter(col("tx_id") % 97 === 0)
        .select(col("tx_hash"), (col("tx_id") + DupOffset).as("tx_id"))
      t.unionByName(dups)
        .groupBy(col("tx_hash"))
        .agg(max(struct(col("tx_id"))).as("w"))
        .select(col("tx_hash"), col("w.tx_id").as("tx_id"),
          (col("w.tx_id") >= DupOffset).as("was_duplicated"))
    }),

    // hash→tx point lookup via prefix table (J5, schema.cql:36-41).
    // Prefix filter first = partition pruning on the 16^5 prefix buckets.
    "prefix_lookup" -> ((s, dir) => {
      val target = sha2(lit("1"), 256)
      val byPrefix = transactions(s, dir)
        .filter(substring(col("tx_hash"), 1, PrefixLen) ===
          substring(target, 1, PrefixLen))
        .filter(col("tx_hash") === target)
      byPrefix.select("tx_id", "block_id", "ts")
    }),

    // exchange-rate equi-join per day (J4+F11): fiat volume per rate date.
    // rates is a tiny dim → broadcast; fiat math stays integer (x16) until
    // the final exact /16.0 so both engines agree bit-for-bit.
    "rate_join" -> ((s, dir) => {
      val t = transactions(s, dir)
        .join(txIoStats(s, dir), Seq("tx_id"), "left")
        .withColumn("total_output", coalesce(col("total_output"), lit(0L)))
      t.join(broadcast(rates(s, dir)), Seq("block_id"))
        .groupBy(col("d"))
        .agg(
          count(lit(1)).as("n_txs"),
          sum(col("total_output")).as("volume"),
          (sum(col("total_output") * col("usdx16")).cast("double") / 16.0)
            .as("volume_usd"))
        .withColumnRenamed("d", "rate_date")
    }),

    // as-of join (J4 variant): rates published only ~1/3 of days; each block
    // takes the latest rate at-or-before it. Segmented-scan form — NO
    // global window ANYWHERE: the per-row window partitions by a bounded
    // time bucket, and the cross-bucket carry over the per-bucket rate
    // summary runs through PrefixCarry's two-phase distributed scan
    // (range-partitioned windows + a one-row-per-partition driver
    // prefix), then re-enters via broadcast — no single-partition sort
    // exists in the plan at any chain length.
    "rate_asof" -> ((s, dir) => {
      val pub = rates(s, dir).filter(col("usdx16") % 3 === 0)
        .select(col("block_id"), col("usdx16"))
      val u = pub.select(col("block_id"), col("usdx16"), lit(0).as("ord"))
        .unionByName(blocks(s, dir)
          .select(col("block_id"), lit(null).cast("long").as("usdx16"),
            lit(1).as("ord")))
        .withColumn("b", floor(col("block_id") / BlockBucketSize))
      // within-bucket as-of: bounded partitions (≤ BlockBucketSize ids)
      val wIn = Window.partitionBy(col("b"))
        .orderBy(col("block_id"), col("ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inBucket = u.withColumn("v",
        last(col("usdx16"), ignoreNulls = true).over(wIn))
      // per-bucket latest rate — one row per bucket, tiny by construction
      val perBucket = pub
        .groupBy(floor(col("block_id") / BlockBucketSize).as("b"))
        .agg(max(struct(col("block_id"), col("usdx16"))).as("lastr"))
      // cumulative carry over the summary via the two-phase distributed
      // scan (range-partitioned window + one-edge-row-per-partition
      // driver prefix) — no single-partition sort at ANY chain length.
      // The summary is one row per bucket, so seal(): materialize the
      // tiny carry and free the operator's pinned input NOW — repeated
      // as-of queries stay storage-flat instead of GC-dependent
      val carry = graft.operators.PrefixCarry.exclusiveCarryCarried(
          u.select(col("b")).distinct()
            .join(perBucket, Seq("b"), "left"), "b", "lastr").seal()
        .select(col("b"), col("carry").getField("usdx16").as("carry_usdx16"))
      inBucket.filter(col("ord") === 1)
        .join(broadcast(carry), Seq("b"), "left")
        .select(col("block_id"),
          coalesce(col("v"), col("carry_usdx16")).as("asof_usdx16"),
          (coalesce(col("v"), col("carry_usdx16")).cast("double") / 16.0)
            .as("asof_usd"))
    }),

    // FORWARD as-of (next-quote semantics): each block takes the
    // earliest rate at-or-after it — the mirror of rate_asof with every
    // direction flipped (first-ignore-nulls over FOLLOWING frames,
    // per-bucket EARLIEST rate, carry from the buckets AHEAD). Same
    // scale posture: bounded bucket partitions, PrefixCarry's forward
    // two-phase scan for the cross-bucket carry, broadcast re-entry.
    "rate_asof_forward" -> ((s, dir) => {
      val pub = rates(s, dir).filter(col("usdx16") % 3 === 0)
        .select(col("block_id"), col("usdx16"))
      // blocks sort BEFORE a same-id rate so the current-row-inclusive
      // FOLLOWING frame sees it (at-or-after is inclusive)
      val u = pub.select(col("block_id"), col("usdx16"), lit(1).as("ord"))
        .unionByName(blocks(s, dir)
          .select(col("block_id"), lit(null).cast("long").as("usdx16"),
            lit(0).as("ord")))
        .withColumn("b", floor(col("block_id") / BlockBucketSize))
      val wIn = Window.partitionBy(col("b"))
        .orderBy(col("block_id"), col("ord"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val inBucket = u.withColumn("v",
        first(col("usdx16"), ignoreNulls = true).over(wIn))
      val perBucket = pub
        .groupBy(floor(col("block_id") / BlockBucketSize).as("b"))
        .agg(min(struct(col("block_id"), col("usdx16"))).as("firstr"))
      // suffix carry = the same two-phase scan run forward; seal() as in
      // rate_asof — bucket-summary-sized result, deterministic release
      val carry = graft.operators.PrefixCarry.exclusiveCarryCarried(
          u.select(col("b")).distinct()
            .join(perBucket, Seq("b"), "left"), "b", "firstr",
          forward = true).seal()
        .select(col("b"), col("carry").getField("usdx16").as("carry_usdx16"))
      inBucket.filter(col("ord") === 0)
        .join(broadcast(carry), Seq("b"), "left")
        .select(col("block_id"),
          coalesce(col("v"), col("carry_usdx16")).as("next_usdx16"),
          (coalesce(col("v"), col("carry_usdx16")).cast("double") / 16.0)
            .as("next_usd"))
    }),

    // the same as-of join through the custom operator (graft.plans
    // .AsOfJoin: LogicalPlan + Strategy + range-partitioned merge exec).
    // Shares rate_asof's oracle → the custom node is hash-verified
    // against both the relational form and DuckDB's native ASOF JOIN.
    "rate_asof_custom" -> ((s, dir) => {
      val pub = rates(s, dir).filter(col("usdx16") % 3 === 0)
        .select(col("block_id").as("rate_block_id"), col("usdx16"))
      val blk = blocks(s, dir).select(col("block_id"))
      graft.plans.AsOfJoin.asof(blk, pub, "block_id", "rate_block_id")
        .select(col("block_id"), col("usdx16").as("asof_usdx16"),
          (col("usdx16").cast("double") / 16.0).as("asof_usd"))
    }),

    // the custom as-of with a FACT-table left side (every tx, not the
    // block dim): the shape that melts a single-partition as-of. The
    // range-partitioned exec merges each time range in parallel; the
    // DuckDB ASOF oracle pins the semantics at fact cardinality.
    "rate_asof_fact" -> ((s, dir) => {
      val pub = rates(s, dir).filter(col("usdx16") % 3 === 0)
        .select(col("block_id").as("rate_block_id"), col("usdx16"))
      val tx = transactions(s, dir).select(col("tx_id"), col("block_id"))
      graft.plans.AsOfJoin.asof(tx, pub, "block_id", "rate_block_id")
        .select(col("tx_id"), col("block_id"),
          col("usdx16").as("asof_usdx16"))
    }),

    // multi-chain union (§2.7): odd keys = btc, even = ltc, unionByName
    // with a currency lit — the reference's one-keyspace-per-coin combine.
    "multichain_union" -> ((s, dir) => {
      val t = transactions(s, dir)
      val btc = t.filter(col("tx_id") % 2 === 1).withColumn("currency", lit("btc"))
      val ltc = t.filter(col("tx_id") % 2 === 0).withColumn("currency", lit("ltc"))
      btc.unionByName(ltc).groupBy(col("currency"))
        .agg(count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id"))
    }),

    // address-level rollup via explode of the address arrays (U5/J3):
    // multisig contributes to both constituents, null-typed ios drop out.
    "io_address" -> ((s, dir) =>
      io(s, dir).filter(!col("is_input"))
        .select(col("tx_id"), col("value"),
          explode(col("addresses")).as("address"))
        .groupBy(col("address"))
        .agg(count(lit(1)).as("n_utxos"), sum(col("value")).as("total_value"),
          countDistinct(col("tx_id")).as("n_txs"))),

    // address ⋈ entity metadata (J3 generalized): explode output
    // addresses, join the supplier dim they encode, roll up per nation —
    // the io→address→entity star traversal GraphSense runs downstream.
    "address_entity_join" -> ((s, dir) => {
      val addrs = io(s, dir).filter(!col("is_input"))
        .select(col("value"), explode(col("addresses")).as("address"))
      val supp = table(s, dir, "supplier").select(
        concat(lit("a"), col("s_suppkey").cast("string")).as("address"),
        col("s_nationkey"))
      val nation = table(s, dir, "nation").select(
        col("n_nationkey"), col("n_name"))
      addrs.join(broadcast(supp), Seq("address"))
        .join(broadcast(nation),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_utxos"), sum(col("value")).as("total_value"))
    }),

    // address → ENTITY clustering: the multi-input heuristic (addresses
    // co-spent as inputs of one tx share an owner) — GraphSense's core
    // downstream transformation, run here as star edges from each input
    // address to its tx's minimum address (same components as the
    // per-tx clique at linear edge count) clustered by the O(log n)
    // large-star/small-star connected-components operator. The entity
    // label is the component's minimum address, so the result is a pure
    // function of the chain — stable across runs and cluster sizes.
    "entity_components" -> ((s, dir) => entityLabels(s, dir)),

    // GraphSense's actual production concern in motion: an arriving tx
    // batch (every 97th tx — ~1% of the chain, scale-independent)
    // extends the co-spend graph, and the clustering must be
    // MAINTAINED, not recomputed. The parked pre-batch label tier is
    // the state of the previous run; the batch txs' star edges are the
    // touch set (old addresses map through their labels, first-seen
    // addresses ride as new nodes), and the star fixpoint runs over an
    // ingest-sized contracted graph. Shares entity_components'
    // full-chain oracle: maintained == recomputed is part of the gate.
    "entity_components_incremental" -> ((s, dir) => {
      val base = entityBaseLabels(s, dir)
      val ia = inputAddressesByBatch(s, dir, inBatch = true)
      val touch = starEdges(ia)
      val newNodes = ia.select(col("address")).distinct()
        .join(base.select(col("address")), Seq("address"), "left_anti")
      // validate = false per the operator contract: coverage holds by
      // construction (touch endpoints are batch addresses; newNodes is
      // exactly the batch anti-joined against base, whose universe is
      // every pre-batch address) — skipping the eager batch-sized
      // anti-join guard on the hot maintenance path (r13); the shared
      // full-recompute oracle still hash-proves the result per run
      graft.operators.ConnectedComponents
        .incrementalLabels(base, newNodes, touch, validate = false)
        .select(col("node").as("address"), col("component").as("entity"))
    }),

    // the analytics the clustering exists FOR: per-entity address count
    // and total received value — cluster labels joined back to the
    // output-value flow (one equi-join on address + one hash-agg on the
    // entity label; both shuffle only id/value pairs). Clustering runs
    // on the pinned early-chain window (block_id < 1110, where the
    // fixture has real multi-entity structure: 12 entities at sf0.01);
    // received value accrues over the WHOLE chain, as balances do.
    "entity_summary" -> ((s, dir) => {
      val received = io(s, dir).filter(!col("is_input"))
        .select(explode(col("addresses")).as("address"), col("value"))
        .groupBy(col("address")).agg(sum(col("value")).as("recv"))
      entityLabels(s, dir, maxBlock = Some(EntityWindow))
        .join(received, Seq("address"), "left")
        .groupBy(col("entity"))
        .agg(count(lit(1)).as("n_addresses"),
          sum(coalesce(col("recv"), lit(0L))).as("total_received"))
    }),

    // the SQL surface (S7): the same data model queried purely through
    // spark.sql over the GraftCatalog temp views — what a SQL-only
    // consumer of the reference keyspace would run after switching.
    "sql_surface" -> ((s, dir) => {
      graft.chain.GraftCatalog.register(s, dir)
      s.sql(
        """SELECT b.block_id, b.no_transactions,
          |  CAST(sum(t.tx_id) AS BIGINT) AS sum_tx_id
          |FROM gs_block b JOIN gs_tx t USING (block_id)
          |GROUP BY b.block_id, b.no_transactions""".stripMargin)
    }),

    // block-range + previous-day watermark filter (P7+P8/ST1)
    "block_range" -> ((s, dir) =>
      blocks(s, dir)
        .filter(col("block_id").between(500, 1500) && col("ts") < 852076800L)
        .agg(count(lit(1)).as("n_blocks"), min(col("block_id")).as("first_block"),
          max(col("block_id")).as("last_block"),
          sum(col("no_transactions")).as("n_txs"))),

    // the LIVE form of the previous-day cut (F5/P8,
    // blocksci_export.py:540-553): today-midnight from the session
    // clock, `unix_timestamp(date_trunc('DAY', current_timestamp()))`.
    // Inequality-safe for the oracle: fixture timestamps are decades in
    // the past, so both engines' "today" cuts (evaluated minutes apart,
    // possibly in different zones) keep the identical row set.
    "block_range_live" -> ((s, dir) =>
      blocks(s, dir)
        .filter(col("block_id").between(500, 1500) &&
          col("ts") < unix_timestamp(date_trunc("DAY", current_timestamp())))
        .agg(count(lit(1)).as("n_blocks"), min(col("block_id")).as("first_block"),
          max(col("block_id")).as("last_block"),
          sum(col("no_transactions")).as("n_txs"))),

    // address-type distribution (F8): code → name via a map literal, the
    // reference's categorical encode table (blocksci_export.py:22-33).
    "addr_type_dist" -> ((s, dir) => {
      val nameMap = typedLit(AddressTypes.map { case (k, v) => (k.toLong, v) })
      io(s, dir).groupBy(col("address_type"))
        .agg(count(lit(1)).as("n_ios"), sum(col("value")).as("total_value"))
        .withColumn("type_name", element_at(nameMap, col("address_type")))
        .select("address_type", "type_name", "n_ios", "total_value")
    }),

    // co-located bucketed join (the repeated-large-fact-join strategy):
    // both sides land as CLUSTERED BY (tx_id) tables, so the join needs
    // NO exchange on either side (BucketingSpec asserts the plan); the
    // plain-join oracle proves the bucketed path's results identical.
    // The build runs once per (session, dir) via buildBucketedTables —
    // Bench times it as its own entry, so the query's latency is the
    // PROBE (the operation a user repeats), not the one-time build.
    "bucketed_join" -> ((s, dir) => {
      buildBucketedTables(s, dir)
      s.table("gb_tx").join(s.table("gb_iostats"), Seq("tx_id"))
        .groupBy(col("block_id"))
        .agg(count(lit(1)).as("n_txs"),
          sum(col("total_output")).as("total_output"))
    }),

    // skewed aggregation through explicit salting: address_type has only
    // 10 distinct values (every io row lands on one of 10 reducers
    // unsalted). saltedSum partial-aggregates on (key, salt) then
    // finalizes on key; the plain GROUP BY oracle proves the two-level
    // form exact for algebraic aggregates.
    "skew_salted_agg" -> ((s, dir) =>
      graft.operators.Skew.saltedSum(
        io(s, dir).select(col("address_type"), col("value")),
        "address_type", "value", nSalts = 16)),

    // skewed fact ⋈ small dim through explicit salting: the fact side
    // gets a content-derived salt, the dim replicates ×nSalts, hot keys
    // spread over nSalts reducers. Shares plain-join semantics — the
    // unsalted oracle proves it.
    "skew_salted_join" -> ((s, dir) => {
      val fact = io(s, dir).filter(!col("is_input"))
        .select(explode(col("addresses")).as("address"), col("value"))
      val dim = table(s, dir, "supplier").select(
        concat(lit("a"), col("s_suppkey").cast("string")).as("address"),
        col("s_nationkey"))
      graft.operators.Skew.saltedJoin(fact, dim, "address", nSalts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
    }),

    // incremental continue (ST2): sink watermark = max ingested block;
    // resume strictly above it (blocksci_export.py:489-505).
    "continue_watermark" -> ((s, dir) => {
      val blk = blocks(s, dir)
      val sinkMax = blk.filter(col("block_id") <= 1000)
        .agg(max(col("block_id")).as("watermark"))
      blk.crossJoin(broadcast(sinkMax))
        .filter(col("block_id") > col("watermark"))
        .agg(count(lit(1)).as("n_new_blocks"),
          min(col("block_id")).as("resume_from"),
          max(col("block_id")).as("tip"))
    }),

    // exchange_rates (schema.cql:58-61, F11) with the fiat map canonically
    // serialized (sorted entries, x16 integer values) so the driver's
    // hasher — which cannot sort map cells — hash-verifies the content.
    // The map-typed contract shape stays on the typed face
    // (Chain.exchangeRatesTable), which catalog + store writes consume.
    "exchange_rates_table" -> ((s, dir) =>
      exchangeRatesTable(s, dir).select(col("date"),
        concat_ws(",",
          transform(array_sort(map_entries(col("fiat_values"))),
            e => concat(e.getField("key"), lit("="),
              (e.getField("value") * 16).cast("long").cast("string"))))
          .as("fiat_values"))),

    // the same table with the map column canonically serialized
    // (sorted entries, x16 integer values) so the driver hash-compares
    // the map content against a DuckDB oracle — F11 fully verified.
    "exchange_rates_table_check" -> ((s, dir) =>
      exchangeRatesTable(s, dir).select(col("date"),
        concat_ws(",",
          transform(array_sort(map_entries(col("fiat_values"))),
            e => concat(e.getField("key"), lit("="),
              (e.getField("value") * 16).cast("long").cast("string"))))
          .as("fiat_s"))),

    // full transaction table (schema.cql:21-34) with the nested
    // inputs/outputs arrays canonically serialized in place — built FROM
    // the nested plan's own output arrays, so a green hash row proves the
    // nested construction (P2+P3) under the contract column names. The
    // nested ArrayType(StructType) shape stays on the typed face
    // (transactionTable), consumed by GraftCatalog and the store writes.
    "transaction_table" -> ((s, dir) =>
      transactionTable(s, dir).select(
        col("tx_id_group"), col("tx_id"), col("tx_hash"), col("block_id"),
        col("ts"), col("coinbase"), col("total_input"), col("total_output"),
        serializeSide(col("inputs")).as("inputs"),
        serializeSide(col("outputs")).as("outputs"),
        col("coinjoin"))),

    // transaction_table with inputs/outputs canonically serialized: built
    // FROM the nested query's own output arrays, so a green hash row
    // proves the nested construction (P2+P3) — ordering, null address
    // lists, multisig two-address rows — not a parallel simpler pipeline.
    "transaction_table_check" -> ((s, dir) =>
      transactionTable(s, dir).select(
        col("tx_id_group"), col("tx_id"), col("tx_hash"), col("block_id"),
        col("ts"), col("coinbase"), col("total_input"), col("total_output"),
        serializeSide(col("inputs")).as("inputs_s"),
        serializeSide(col("outputs")).as("outputs_s"),
        col("coinjoin"))))

  /** Each input's (tx_id, address) rows, for the entity oracles. */
  private val inputAddrsSql: String =
    s"SELECT tx_id, ${ChainSql.ioAddress} FROM io WHERE is_input"

  /** Each received output's `cols` plus its address. */
  private def outputAddrsSql(cols: String): String =
    s"SELECT $cols, ${ChainSql.ioAddress} FROM io WHERE NOT is_input"

  /** Multi-input clustering over an `ia` (tx_id, address) input CTE:
    * every input address links to its tx's least address, and the
    * recursive walk labels each address with its entity minimum. */
  private def entityWalkCtes(ia: String): Seq[String] = Seq(ia,
    "tr AS (SELECT tx_id, min(address) AS root FROM ia GROUP BY tx_id)",
    """edges AS (SELECT DISTINCT address AS a, root AS b
      |          FROM ia JOIN tr USING (tx_id) WHERE address <> root)""".stripMargin,
    "nodes AS (SELECT DISTINCT address AS node FROM ia)",
    ChainSql.ccWalkCte("nodes", "edges"))

  /** Full-chain entity clustering oracle — shared by entity_components
    * and its incremental-maintenance form. */
  private val entityComponentsOracle: String =
    ChainSql.withRecursiveCtes(ChainSql.io +: entityWalkCtes(
      s"ia AS (SELECT DISTINCT tx_id, address FROM (\n  $inputAddrsSql))"): _*)(
      """SELECT node AS address, min(comp) AS entity
        |FROM walk GROUP BY node""".stripMargin)

  /** Output value per supplier address, for the nation joins. */
  private val supplierOutputsSql: String =
    s"""(${outputAddrsSql("value")}) a
       |JOIN (SELECT 'a' || CAST(s_suppkey AS VARCHAR) AS address, s_nationkey
       |      FROM supplier) s USING (address)""".stripMargin

  private val blockTransactionsOracle: String = withCtes(ChainSql.tx)(
    """SELECT CAST(floor(block_id / 100) AS BIGINT) AS block_id_group, block_id,
      |  CAST(count(*) AS BIGINT) AS no_txs,
      |  string_agg(CAST(tx_id AS VARCHAR), ',' ORDER BY tx_id) AS txs
      |FROM tx GROUP BY block_id""".stripMargin)

  private val prefixLookupOracle: String = withCtes(ChainSql.tx)(
    "SELECT tx_id, block_id, ts FROM tx WHERE tx_hash = sha256('1')")

  /** Every 97th tx replayed under a shifted id; the highest id per
    * tx_hash wins. */
  private val bip30Oracle: String = withCtes(ChainSql.tx)(
    """SELECT tx_hash, tx_id, tx_id >= 10000000 AS was_duplicated FROM (
      |  SELECT tx_hash, tx_id,
      |    row_number() OVER (PARTITION BY tx_hash ORDER BY tx_id DESC) AS rn
      |  FROM (SELECT tx_hash, tx_id FROM tx
      |        UNION ALL
      |        SELECT tx_hash, tx_id + 10000000 FROM tx WHERE tx_id % 97 = 0))
      |WHERE rn = 1""".stripMargin)

  /** The last rate at or before each block (every third rate kept). */
  private val rateAsofOracle: String =
    withCtes(ChainSql.tx, ChainSql.blk, ChainSql.rates)(
      """SELECT b.block_id, p.usdx16 AS asof_usdx16,
        |  CAST(p.usdx16 AS DOUBLE) / 16.0 AS asof_usd
        |FROM blk b
        |ASOF LEFT JOIN (SELECT block_id, usdx16 FROM rates WHERE usdx16 % 3 = 0) p
        |  ON p.block_id <= b.block_id""".stripMargin)

  val oracles: Map[String, String] = Map(
    "block_table" -> withCtes(ChainSql.tx, ChainSql.blk)(
      "SELECT block_id_group, block_id, block_hash, ts, no_transactions FROM blk"),

    "transaction_flat" -> withCtes(txFlatSqlCtes: _*)(txFlatSqlBody),

    "tx_by_prefix" -> withCtes(ChainSql.tx)(
      s"SELECT substr(tx_hash, 1, $PrefixLen) AS tx_prefix, tx_hash, tx_id FROM tx"),

    "tx_by_prefix_bin" -> withCtes(ChainSql.tx)(
      s"""SELECT substr(tx_hash, 1, $PrefixLen) AS tx_prefix,
         |  lower(hex(unhex(tx_hash))) AS tx_hash, tx_id FROM tx""".stripMargin),

    "prefix_lookup_bin" -> prefixLookupOracle,

    "block_transactions" -> blockTransactionsOracle,
    "block_transactions_agg" -> blockTransactionsOracle,

    "block_transactions_table_check" -> withCtes(
      ChainSql.tx, ChainSql.io, ChainSql.ioStats)(
      """SELECT CAST(floor(block_id / 100) AS BIGINT) AS block_id_group,
        |  block_id,
        |  string_agg(
        |    CAST(tx_id AS VARCHAR) || ':' || CAST(ni AS VARCHAR) || ':' ||
        |    CAST(no AS VARCHAR) || ':' || CAST(ti AS VARCHAR) || ':' ||
        |    CAST(tot AS VARCHAR), ';' ORDER BY tx_id) AS txs_s
        |FROM (SELECT t.block_id, t.tx_id,
        |        CAST(coalesce(s.no_inputs, 0) AS BIGINT) AS ni,
        |        CAST(coalesce(s.no_outputs, 0) AS BIGINT) AS no,
        |        CAST(coalesce(s.total_input, 0) AS BIGINT) AS ti,
        |        CAST(coalesce(s.total_output, 0) AS BIGINT) AS tot
        |      FROM tx t LEFT JOIN iostats s USING (tx_id))
        |GROUP BY block_id""".stripMargin),

    "summary_statistics" -> withCtes(ChainSql.tx)(
      """SELECT CAST(max(block_id) + 1 AS BIGINT) AS no_blocks,
        |  CAST(max(tx_id) + 1 AS BIGINT) AS no_txs, max(ts) AS ts FROM tx""".stripMargin),

    "configuration" ->
      """SELECT 'graft' AS id, CAST(100 AS BIGINT) AS block_bucket_size,
        |  CAST(5 AS BIGINT) AS tx_prefix_length,
        |  CAST(25000 AS BIGINT) AS tx_bucket_size""".stripMargin,

    // independent DuckDB parse of the parked fixture config dir (the
    // absolute path is the one ChainConfig.fixtureDir writes; Verify
    // builds the fixture before the driver runs this SQL)
    "chain_params" ->
      s"""SELECT regexp_extract(filename, '([a-z0-9]+)\\.cfg$$', 1) AS currency,
         |  chainConfig.coinName AS coin_name,
         |  CAST(CASE WHEN parser.maxBlockNum < 0 THEN -parser.maxBlockNum
         |       ELSE 0 END AS BIGINT) AS tip_margin,
         |  CAST(chainConfig.segwitActivationHeight AS BIGINT)
         |    AS segwit_activation_height,
         |  chainConfig.segwitPrefix AS segwit_prefix,
         |  array_to_string(list_transform(chainConfig.pubkeyPrefix,
         |    x -> CAST(x AS VARCHAR)), ',') AS pubkey_prefix,
         |  array_to_string(list_transform(chainConfig.scriptPrefix,
         |    x -> CAST(x AS VARCHAR)), ',') AS script_prefix,
         |  CAST(version AS BIGINT) AS version
         |FROM read_json_auto(
         |  '${graft.chain.ChainConfig.FixturePath}/*.cfg', filename=true)""".stripMargin,

    "newest_block" -> withCtes(ChainSql.tx, ChainSql.blk)(
      """SELECT block_id_group, block_id, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY block_id_group
        |                               ORDER BY block_id DESC) AS rn
        |  FROM blk) WHERE rn = 1
        |ORDER BY block_id DESC LIMIT 1""".stripMargin),

    "bip30_dedup" -> bip30Oracle,
    "bip30_dedup_agg" -> bip30Oracle,

    "prefix_lookup" -> prefixLookupOracle,

    "rate_join" -> withCtes(ChainSql.tx, ChainSql.io, ChainSql.ioStats,
      ChainSql.rates)(
      """SELECT r.d AS rate_date, CAST(count(*) AS BIGINT) AS n_txs,
        |  CAST(sum(coalesce(s.total_output, 0)) AS BIGINT) AS volume,
        |  CAST(sum(coalesce(s.total_output, 0) * r.usdx16) AS DOUBLE) / 16.0 AS volume_usd
        |FROM tx t
        |LEFT JOIN iostats s USING (tx_id)
        |JOIN rates r USING (block_id)
        |GROUP BY r.d""".stripMargin),

    "rate_asof" -> rateAsofOracle,

    "rate_asof_forward" -> withCtes(ChainSql.tx, ChainSql.blk, ChainSql.rates)(
      """SELECT b.block_id, p.usdx16 AS next_usdx16,
        |  CAST(p.usdx16 AS DOUBLE) / 16.0 AS next_usd
        |FROM blk b
        |ASOF LEFT JOIN (SELECT block_id, usdx16 FROM rates WHERE usdx16 % 3 = 0) p
        |  ON b.block_id <= p.block_id""".stripMargin),

    "rate_asof_custom" -> rateAsofOracle,

    "rate_asof_fact" -> withCtes(ChainSql.tx, ChainSql.rates)(
      """SELECT t.tx_id, t.block_id, p.usdx16 AS asof_usdx16
        |FROM tx t
        |ASOF LEFT JOIN (SELECT block_id AS rate_block_id, usdx16
        |                FROM rates WHERE usdx16 % 3 = 0) p
        |  ON p.rate_block_id <= t.block_id""".stripMargin),

    "multichain_union" -> withCtes(ChainSql.tx)(
      """SELECT currency, CAST(count(*) AS BIGINT) AS n_txs,
        |  CAST(max(tx_id) AS BIGINT) AS max_tx_id
        |FROM (SELECT 'btc' AS currency, tx_id FROM tx WHERE tx_id % 2 = 1
        |      UNION ALL
        |      SELECT 'ltc' AS currency, tx_id FROM tx WHERE tx_id % 2 = 0)
        |GROUP BY currency""".stripMargin),

    "io_address" -> withCtes(ChainSql.io)(
      s"""SELECT address, CAST(count(*) AS BIGINT) AS n_utxos,
         |  CAST(sum(value) AS BIGINT) AS total_value,
         |  CAST(count(DISTINCT tx_id) AS BIGINT) AS n_txs
         |FROM (${outputAddrsSql("tx_id, value")})
         |GROUP BY address""".stripMargin),

    "entity_components" -> entityComponentsOracle,

    // maintained labels must equal the from-scratch clustering
    "entity_components_incremental" -> entityComponentsOracle,

    "entity_summary" -> ChainSql.withRecursiveCtes(Seq(ChainSql.tx, ChainSql.io) ++
      entityWalkCtes(
        s"""ia AS (SELECT DISTINCT i.tx_id, address FROM (
           |  $inputAddrsSql) i
           |  JOIN tx ON tx.tx_id = i.tx_id AND tx.block_id < $EntityWindow)""".stripMargin) ++ Seq(
      """cc AS (SELECT node AS address, min(comp) AS entity
        |       FROM walk GROUP BY node)""".stripMargin,
      s"""recv AS (SELECT address, CAST(sum(value) AS BIGINT) AS recv FROM (
         |  ${outputAddrsSql("value")})
         |  GROUP BY address)""".stripMargin): _*)(
      """SELECT entity, CAST(count(*) AS BIGINT) AS n_addresses,
        |  CAST(sum(coalesce(recv, 0)) AS BIGINT) AS total_received
        |FROM cc LEFT JOIN recv USING (address)
        |GROUP BY entity""".stripMargin),

    "address_entity_join" -> withCtes(ChainSql.io)(
      s"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_utxos,
         |  CAST(sum(value) AS BIGINT) AS total_value
         |FROM $supplierOutputsSql
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin),

    "sql_surface" -> withCtes(ChainSql.tx, ChainSql.blk)(
      """SELECT b.block_id, b.no_transactions,
        |  CAST(sum(t.tx_id) AS BIGINT) AS sum_tx_id
        |FROM blk b JOIN tx t USING (block_id)
        |GROUP BY b.block_id, b.no_transactions""".stripMargin),

    "block_range" -> withCtes(ChainSql.tx, ChainSql.blk)(
      """SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |  min(block_id) AS first_block, max(block_id) AS last_block,
        |  CAST(sum(no_transactions) AS BIGINT) AS n_txs
        |FROM blk WHERE block_id BETWEEN 500 AND 1500 AND ts < 852076800""".stripMargin),

    "block_range_live" -> withCtes(ChainSql.tx, ChainSql.blk)(
      """SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |  min(block_id) AS first_block, max(block_id) AS last_block,
        |  CAST(sum(no_transactions) AS BIGINT) AS n_txs
        |FROM blk WHERE block_id BETWEEN 500 AND 1500
        |  AND ts < CAST(epoch(date_trunc('day', now())) AS BIGINT)""".stripMargin),

    "addr_type_dist" -> withCtes(ChainSql.io)(
      """SELECT address_type,
        |  CASE address_type WHEN 1 THEN 'nonstandard' WHEN 2 THEN 'pubkey'
        |    WHEN 3 THEN 'pubkeyhash' WHEN 4 THEN 'multisig_pubkey'
        |    WHEN 5 THEN 'scripthash' WHEN 6 THEN 'multisig'
        |    WHEN 7 THEN 'nulldata' WHEN 8 THEN 'witness_pubkeyhash'
        |    WHEN 9 THEN 'witness_scripthash' WHEN 10 THEN 'witness_unknown'
        |  END AS type_name,
        |  CAST(count(*) AS BIGINT) AS n_ios,
        |  CAST(sum(value) AS BIGINT) AS total_value
        |FROM io GROUP BY address_type""".stripMargin),

    "bucketed_join" -> withCtes(ChainSql.tx, ChainSql.io, ChainSql.ioStats)(
      """SELECT t.block_id, CAST(count(*) AS BIGINT) AS n_txs,
        |  CAST(sum(s.total_output) AS BIGINT) AS total_output
        |FROM tx t JOIN iostats s USING (tx_id)
        |GROUP BY t.block_id""".stripMargin),

    "skew_salted_agg" -> withCtes(ChainSql.io)(
      """SELECT address_type, CAST(sum(value) AS BIGINT) AS sum_value
        |FROM io GROUP BY address_type""".stripMargin),

    "skew_salted_join" -> withCtes(ChainSql.io)(
      s"""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(value) AS BIGINT) AS total_value
         |FROM $supplierOutputsSql
         |GROUP BY s_nationkey""".stripMargin),

    "continue_watermark" -> withCtes(ChainSql.tx, ChainSql.blk)(
      """SELECT CAST(count(*) AS BIGINT) AS n_new_blocks,
        |  min(block_id) AS resume_from, max(block_id) AS tip
        |FROM blk
        |WHERE block_id > (SELECT max(block_id) FROM blk WHERE block_id <= 1000)""".stripMargin),

    // The primary table entries and their _check twins share one oracle
    // body parameterized only by the serialized columns' output names —
    // primary carries the contract names (fiat_values, inputs, outputs),
    // _check keeps the historical *_s names.
    "exchange_rates_table" -> exchangeRatesOracle("fiat_values"),
    "exchange_rates_table_check" -> exchangeRatesOracle("fiat_s"),
    "transaction_table" -> transactionTableOracle("inputs", "outputs"),
    "transaction_table_check" -> transactionTableOracle("inputs_s", "outputs_s"))

  private def exchangeRatesOracle(fiatAlias: String): String =
    withCtes(ChainSql.tx, ChainSql.rates)(
      s"""SELECT d AS date,
         |  'EUR=' || CAST(eurx16 AS VARCHAR) || ',USD=' || CAST(usdx16 AS VARCHAR)
         |    AS $fiatAlias
         |FROM rates""".stripMargin)

  private def transactionTableOracle(inAlias: String, outAlias: String): String =
    withCtes(txFlatSqlCtes :+
      """sides AS (
        |  SELECT tx_id,
        |    coalesce(max(CASE WHEN is_input THEN s END), '') AS ins,
        |    coalesce(max(CASE WHEN NOT is_input THEN s END), '') AS outs
        |  FROM (
        |    SELECT tx_id, is_input, string_agg(s, ';' ORDER BY idx, s) AS s
        |    FROM (
        |      SELECT tx_id, is_input, idx,
        |        (CASE WHEN address_type IN (1, 7, 10) THEN 'NULL'
        |              WHEN address_type = 6 THEN base_addr || '|' || alt_addr
        |              ELSE base_addr END)
        |        || ':' || CAST(value AS VARCHAR)
        |        || ':' || CAST(address_type AS VARCHAR) AS s
        |      FROM io)
        |    GROUP BY tx_id, is_input)
        |  GROUP BY tx_id)""".stripMargin: _*)(
      s"""SELECT t.tx_id_group, t.tx_id, t.tx_hash, t.block_id, t.ts, cb.coinbase,
         |  CAST(coalesce(s.total_input, 0) AS BIGINT) AS total_input,
         |  CAST(coalesce(s.total_output, 0) AS BIGINT) AS total_output,
         |  coalesce(sd.ins, '') AS $inAlias,
         |  coalesce(sd.outs, '') AS $outAlias,
         |  (coalesce(s.no_inputs, 0) >= 2 AND coalesce(cj.max_eq, 0) >= 2) AS coinjoin
         |$txFlatJoinsSql
         |LEFT JOIN sides sd USING (tx_id)""".stripMargin)
}
