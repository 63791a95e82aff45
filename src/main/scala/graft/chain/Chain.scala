package graft.chain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Blockchain-shaped data model derived deterministically from the TPC-H-ish
  * fixtures (FIXTURES.md §2), mirroring the reference's seven-table contract
  * (/root/reference/scripts/schema.cql:1-75, SURVEY.md §1.3).
  *
  * Every derivation here has an exactly-equivalent DuckDB SQL form in
  * [[ChainSql]]; keep the two in lockstep — the driver hash-compares results.
  *
  * Scale notes (100 TB design):
  *  - All derivations are narrow projections (no shuffle) except the
  *    per-block aggregations, which shuffle on `block_id` — the natural
  *    partitioning key (reference buckets by block_id_group,
  *    scripts/blocksci_export.py:37).
  *  - Bucket columns (`tx_id_group`, `block_id_group`, `tx_prefix`) are the
  *    partition-pruning handles: written out with `partitionBy`, a point
  *    lookup touches one bucket only (schema.cql:12,33,40).
  */
object Chain {
  /** Reference constants: scripts/blocksci_export.py:35-37. */
  val TxBucketSize    = 25000L
  val BlockBucketSize = 100L
  val PrefixLen       = 5
  /** Epoch for block-height derivation: block_id = days since Genesis. */
  val Genesis = "1992-01-01"

  /** The 10 BlockSci address-type codes, scripts/blocksci_export.py:22-33. */
  val AddressTypes: Map[Int, String] = Map(
    1 -> "nonstandard", 2 -> "pubkey", 3 -> "pubkeyhash",
    4 -> "multisig_pubkey", 5 -> "scripthash", 6 -> "multisig",
    7 -> "nulldata", 8 -> "witness_pubkeyhash", 9 -> "witness_scripthash",
    10 -> "witness_unknown")
  /** Address types whose address list is NULL (blocksci_export.py:318-329).
    * Reference nulls nonstandard/nulldata/witness_unknown = codes 1,7,10. */
  val NullAddressTypes = Seq(1, 7, 10)

  /** Fixture table `name` under `dir`, read with its remembered schema
    * ([[ChainStore.parquet]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ChainStore.parquet(spark, s"$dir/$name.parquet")

  /** tx projection over an orders-shaped frame — shared by the batch
    * reader and the Structured-Streaming incremental ingest (same Catalyst
    * expressions, so batch and stream provably agree). */
  def txProjection(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").cast("long").as("tx_id"),
      sha2(col("o_orderkey").cast("string"), 256).as("tx_hash"),
      datediff(to_date(col("o_orderdate")), to_date(lit(Genesis)))
        .cast("long").as("block_id"),
      unix_timestamp(col("o_orderdate")).as("ts"))
      .withColumn("tx_id_group", floor(col("tx_id") / TxBucketSize))

  /** transaction scalars: one tx per order (FIXTURES.md §2).
    * tx_id = o_orderkey; tx_hash = sha256(tx_id) hex; block_id = days since
    * Genesis; ts = epoch seconds. All bigint/string for oracle parity. */
  def transactions(spark: SparkSession, dir: String): DataFrame =
    txProjection(table(spark, dir, "orders"))

  /** Storage-fidelity form of the hash (F1 both directions): the
    * reference stores hashes as `blob` (schema.cql:9,23,38 via
    * bytearray.fromhex, blocksci_export.py:335) — `tx_hash_bin` is the
    * 32-byte BinaryType column; hex is presentation-only
    * (`lower(hex(...))` restores the canonical string form). */
  def withBinaryHash(tx: DataFrame): DataFrame =
    tx.withColumn("tx_hash_bin", unhex(col("tx_hash")))

  /** Normalized io rows: one per lineitem. Odd line numbers are inputs, even
    * outputs; value = cents(l_extendedprice); address_type cycles all 10
    * reference codes; multisig (6) gets two addresses, null-types get NULL
    * (reference addr_str dispatch, blocksci_export.py:318-329 → P4).
    * Projection form shared by the batch reader and the streaming
    * incremental maintenance (same Catalyst expressions, like
    * [[txProjection]]). */
  def ioProjection(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_orderkey").cast("long").as("tx_id"),
      col("l_linenumber").cast("long").as("idx"),
      (col("l_linenumber") % 2 === 1).as("is_input"),
      floor(col("l_extendedprice") * 100).cast("long").as("value"),
      (col("l_partkey") % 10 + 1).cast("long").as("address_type"),
      concat(lit("a"), col("l_suppkey").cast("string")).as("base_addr"),
      concat(lit("a"), col("l_partkey").cast("string")).as("alt_addr"))
      .withColumn("addresses",
        when(col("address_type") === 6, array(col("base_addr"), col("alt_addr")))
          .when(col("address_type").isin(NullAddressTypes.map(_.toLong): _*),
            lit(null).cast("array<string>"))
          .otherwise(array(col("base_addr"))))

  def io(spark: SparkSession, dir: String): DataFrame =
    ioProjection(table(spark, dir, "lineitem"))

  /** block table (schema.cql:6-13, P1+A1): per-block agg over transactions.
    * Shuffles once on block_id; at 100 TB this is the narrow pre-aggregated
    * dimension (#blocks << #txs), so downstream joins broadcast it. */
  def blocks(spark: SparkSession, dir: String): DataFrame =
    transactions(spark, dir)
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("no_transactions"), min(col("ts")).as("ts"))
      .withColumn("block_id_group", floor(col("block_id") / BlockBucketSize))
      .withColumn("block_hash",
        sha2(concat(lit("b"), col("block_id").cast("string")), 256))

  /** exchange_rates (schema.cql:58-61): one row per distinct order date with
    * deterministic USD/EUR rates derived from md5 nibbles of the date string.
    * Rates are exact multiples of 1/16 so fiat arithmetic stays bit-exact
    * across engines (usdx16/eurx16 are the integer numerators). */
  def rates(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("rate_date")).distinct()
      .withColumn("d", date_format(col("rate_date"), "yyyy-MM-dd"))
      .withColumn("usdx16",
        expr("CAST(7 + instr('0123456789abcdef', substr(md5(d), 1, 1)) AS BIGINT)"))
      .withColumn("eurx16",
        expr("CAST(7 + instr('0123456789abcdef', substr(md5(d), 2, 1)) AS BIGINT)"))
      .withColumn("usd", col("usdx16") / 16.0)
      .withColumn("eur", col("eurx16") / 16.0)
      .withColumn("block_id",
        datediff(col("rate_date"), to_date(lit(Genesis))).cast("long"))

  /** Per-tx io rollup (A2/A3): input/output counts and totals.
    * Map-side combinable hash aggregation on tx_id. `txIdBounds`
    * restricts the rollup to a [lo, hi] tx_id range with a predicate on
    * the source key column (unwrap-cast → parquet PushedFilter), so an
    * incremental caller aggregates only the tail's io rows. */
  def txIoStats(spark: SparkSession, dir: String,
      txIdBounds: Option[(Long, Long)] = None): DataFrame =
    txIdBounds.foldLeft(io(spark, dir)) { case (df, (lo, hi)) =>
      df.filter(col("tx_id").between(lo, hi))
    }.groupBy(col("tx_id")).agg(
      sum(when(col("is_input"), lit(1)).otherwise(lit(0))).as("no_inputs"),
      sum(when(!col("is_input"), lit(1)).otherwise(lit(0))).as("no_outputs"),
      coalesce(sum(when(col("is_input"), col("value"))), lit(0L)).as("total_input"),
      coalesce(sum(when(!col("is_input"), col("value"))), lit(0L)).as("total_output"))

  /** coinbase flag: the first tx (min tx_id) of each block (F10 analog). */
  def withCoinbase(tx: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("block_id"))
    tx.withColumn("coinbase", col("tx_id") === min(col("tx_id")).over(w))
  }

  /** exchange_rates contract frame (schema.cql:58-61, F11): one row per
    * rate date of `rates` (a [[rates]] frame) with the fiat map. */
  def exchangeRatesTable(rates: DataFrame): DataFrame =
    rates.select(col("d").as("date"),
      map(lit("USD"), col("usd").cast("float"),
        lit("EUR"), col("eur").cast("float")).as("fiat_values"))

  /** block_transactions contract frame (schema.cql:51-56): the ordered
    * tx_summary list per block. array_sort over the collected structs
    * orders by the leading tx_id field — one pass, map-side combinable
    * partials on the io rollup feeding it. */
  def blockTransactions(spark: SparkSession, dir: String,
      txIdBounds: Option[(Long, Long)] = None): DataFrame =
    txIdBounds.foldLeft(
        transactions(spark, dir).select(col("tx_id"), col("block_id"))) {
      case (df, (lo, hi)) => df.filter(col("tx_id").between(lo, hi))
    }
      .join(txIoStats(spark, dir, txIdBounds), Seq("tx_id"), "left")
      .select(col("block_id"), struct(
        col("tx_id"),
        coalesce(col("no_inputs"), lit(0L)).as("no_inputs"),
        coalesce(col("no_outputs"), lit(0L)).as("no_outputs"),
        coalesce(col("total_input"), lit(0L)).as("total_input"),
        coalesce(col("total_output"), lit(0L)).as("total_output")).as("t"))
      .groupBy(col("block_id"))
      .agg(array_sort(collect_list(col("t"))).as("txs"))
      .withColumn("block_id_group", floor(col("block_id") / BlockBucketSize))
      .select("block_id_group", "block_id", "txs")

  /** summary_statistics contract frame (schema.cql:63-68, A6) over the
    * [[transactions]] frame `tx`. */
  def summaryStatistics(tx: DataFrame): DataFrame =
    tx.agg(
      (max(col("block_id")) + 1L).as("no_blocks"),
      (max(col("tx_id")) + 1L).as("no_txs"),
      max(col("ts")).as("ts"))

  /** configuration row (schema.cql:70-75, S8). The reference keys this
    * single-row table by the keyspace name (blocksci_export.py:625-629);
    * `id` defaults to the library name for keyspace-less parquet stores. */
  def configuration(spark: SparkSession, id: String = "graft"): DataFrame =
    spark.range(1).select(
      lit(id).as("id"),
      lit(BlockBucketSize).as("block_bucket_size"),
      lit(PrefixLen.toLong).as("tx_prefix_length"),
      lit(TxBucketSize).as("tx_bucket_size"))
}
