package graft.chain

import org.apache.spark.sql.{DataFrame, functions}

/** The sink contract of the reference export (S5/ST3): every chain table
  * lands through one of these, so the storage backend is a deployment
  * choice, not a code path. [[ChainStore]] is the parquet implementation
  * (partition-dir buckets + sorted rows); [[CassandraShapedSink]] carries
  * the reference's Cassandra-connector write contract
  * (blocksci_export.py:396-418 CLI surface) for clusters that deploy the
  * connector jar.
  */
trait ChainSink {
  /** transaction table, bucketed by tx_id_group (schema.cql:21-34). */
  def writeTransactions(tx: DataFrame, out: String): Unit
  /** block table, bucketed by block_id_group (schema.cql:6-13). */
  def writeBlocks(blocks: DataFrame, out: String): Unit
  /** hash→id index (schema.cql:36-41). */
  def writePrefixIndex(tx: DataFrame, out: String): Unit
  /** per-block ordered tx_summary list (schema.cql:51-56). */
  def writeBlockTransactions(bt: DataFrame, out: String): Unit
  /** fiat rates map table (schema.cql:58-61). */
  def writeExchangeRates(rates: DataFrame, out: String): Unit
  /** 1-row keyspace summary (schema.cql:63-68). */
  def writeSummaryStatistics(stats: DataFrame, out: String): Unit
  /** 1-row bucket/prefix configuration (schema.cql:70-75). */
  def writeConfiguration(conf: DataFrame, out: String): Unit
}

/** Cassandra-cluster coordinates mirroring the reference CLI
  * (blocksci_export.py:396-418: --db-nodes, --db-port, --db-keyspace,
  * --concurrency). */
final case class SinkConfig(
    keyspace: String,
    nodes: Seq[String] = Seq("localhost"),
    port: Int = 9042,
    concurrency: Int = 100,
    consistency: String = "LOCAL_QUORUM")

/** Connector-shaped sink: emits each table as a `DataFrameWriter` in the
  * Spark-Cassandra-Connector option contract (public option keys). The
  * connector jar is not a dependency of this library — `format` is
  * pluggable so deployments provide it at submit time; everything up to
  * `.save()` (option mapping, table routing, append semantics — the
  * INSERT-by-PK last-write-wins of the reference) is exercised here. */
class CassandraShapedSink(cfg: SinkConfig,
    format: String = "org.apache.spark.sql.cassandra") extends ChainSink {

  /** S7 DDL bootstrap: the keyspace script a deployment runs before its
    * first export (the reference's create_keyspace step), emitted from
    * the declared engine schemas via [[CqlSchema]] with this sink's
    * keyspace name — pinned against the reference DDL by SchemaSpec. */
  def bootstrapDdl: String =
    CqlSchema.ddl.replace("graphsense", cfg.keyspace)

  /** Per-table writer options (the connector's public keys). */
  def writerOptions(table: String): Map[String, String] = Map(
    "keyspace" -> cfg.keyspace,
    "table" -> table,
    "spark.cassandra.connection.host" -> cfg.nodes.mkString(","),
    "spark.cassandra.connection.port" -> cfg.port.toString,
    "spark.cassandra.output.concurrent.writes" -> cfg.concurrency.toString,
    "spark.cassandra.output.consistency.level" -> cfg.consistency)

  protected def save(df: DataFrame, table: String): Unit =
    df.write.format(format).options(writerOptions(table))
      .mode("append").save()

  override def writeTransactions(tx: DataFrame, out: String): Unit =
    save(tx, "transaction")
  override def writeBlocks(blocks: DataFrame, out: String): Unit =
    save(blocks, "block")
  override def writePrefixIndex(tx: DataFrame, out: String): Unit =
    save(tx.selectExpr(
      s"substring(tx_hash, 1, ${Chain.PrefixLen}) AS tx_prefix",
      "tx_hash", "tx_id"), "transaction_by_tx_prefix")
  override def writeBlockTransactions(bt: DataFrame, out: String): Unit =
    save(bt, "block_transactions")
  override def writeExchangeRates(rates: DataFrame, out: String): Unit =
    save(rates, "exchange_rates")
  /** Both single-row tables are keyed by the keyspace name in the
    * reference (blocksci_export.py:383, 625-629) — consumers look them up
    * by `id = keyspace`, so the sink stamps its own keyspace, overriding
    * whatever id the engine-side frame carries. */
  override def writeSummaryStatistics(stats: DataFrame, out: String): Unit =
    save(stats.select(functions.lit(cfg.keyspace).as("id"),
      stats("no_blocks"), stats("no_txs"), stats("ts")),
      "summary_statistics")
  override def writeConfiguration(conf: DataFrame, out: String): Unit =
    save(conf.withColumn("id", functions.lit(cfg.keyspace)), "configuration")
}
