package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.chain.{Chain, ChainStore, GraftCatalog}

/** Top-level library facade — the entry points a user of the reference
  * system (graphsense-blocksci) would call after switching to this
  * engine, plus the training-data pipeline operators.
  *
  * {{{
  * // launched with --conf spark.sql.extensions=graft.GraftExtensions
  * // and --conf spark.sql.legacy.parquet.nanosAsLong=true (events.parquet
  * // carries TIMESTAMP(NANOS)); locally, graft.Session.local()
  * val spark = SparkSession.active
  *
  * // chain tables (derive → write partitioned → point lookup)
  * val tx = Graft.transactions(spark, dataDir)
  * Graft.writeChain(spark, dataDir, outDir)
  * ChainStore.lookupByHash(spark, outDir, someHashHex)
  *
  * // training-data ops (frame-based, see graft.api)
  * val dups   = api.Dedup.exact(docs)
  * val pairs  = api.Dedup.candidatePairs(
  *                api.Dedup.lshBands(api.Dedup.minhashSignatures(shingles)))
  * val verify = api.Dedup.jaccardVerify(shingles, pairs)
  * val knn    = api.Similarity.cosTopK(api.Similarity.quantize(embs), qs, 5)
  *
  * // pairs → clusters → keep-one; eval-set decontamination
  * val comp   = operators.ConnectedComponents.labels(docIds, pairs)
  * val clean  = api.Text.decontaminate(shingles, benchShingles, docIds)
  * }}}
  */
object Graft {

  /** Derived chain tables (see graft.chain.Chain for the contracts). */
  def transactions(s: SparkSession, dir: String): DataFrame =
    Chain.transactions(s, dir)
  def blocks(s: SparkSession, dir: String): DataFrame = Chain.blocks(s, dir)
  def exchangeRates(s: SparkSession, dir: String): DataFrame =
    Chain.rates(s, dir)

  /** Typed faces of the same tables ([[model]]): a zero-copy `.as[T]`
    * encoder bind over the identical Catalyst plan — field-safe
    * composition for library consumers, with no parallel derivation
    * that could drift from the DataFrame surface. */
  def txDataset(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[model.Tx] = {
    import s.implicits._
    Chain.transactions(s, dir).as[model.Tx]
  }
  def blockDataset(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[model.BlockSummary] = {
    import s.implicits._
    Chain.blocks(s, dir).as[model.BlockSummary]
  }
  def ioDataset(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[model.IoEntry] = {
    import s.implicits._
    Chain.io(s, dir).as[model.IoEntry]
  }

  /** Write the full seven-table keyspace idempotently through any
    * [[graft.chain.ChainSink]] (parquet store by default; pass a
    * [[graft.chain.CassandraShapedSink]] for the connector contract): the
    * reference's main export loop (blocksci_export.py:519-539) as one
    * full [[Export.run]] lifecycle. `out` is the sink-specific locator,
    * a directory for parquet, ignored by the connector sink. A source
    * with no orders fails with Export's "no parsed blocks" message. */
  def writeChain(s: SparkSession, dir: String, out: String,
      sink: graft.chain.ChainSink = ChainStore): Unit = {
    Export.run(s, Export.Args(config = dir, out = out), sink); ()
  }

  /** Register the SQL surface (temp views + custom functions). */
  def registerSql(s: SparkSession, dir: String): Unit =
    GraftCatalog.register(s, dir)

  /** Incremental ingest, batch catch-up form (AvailableNow): resume
    * above `watermark` into the epoch-keyed store at `out`, landing
    * above the store's newest epoch; refuses a resume below the sink
    * max (see IncrementalIngest.resumeGuard). */
  def ingest(s: SparkSession, dir: String, out: String, watermark: Long,
      tipMargin: Long = 0L): Unit =
    streaming.IncrementalIngest.ingestToStore(s, dir, out, watermark,
      tipMargin)

  /** The same ingest left running (processing-time trigger) — returns
    * the live handle; new source files land each interval, above the
    * store's newest epoch. */
  def ingestLive(s: SparkSession, dir: String, out: String,
      watermark: Long, tipMargin: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streaming.IncrementalIngest.ingestContinuously(s, dir, out, watermark,
      tipMargin)

  /** Maintenance: compact the epoch-keyed transaction store into the
    * sealed one-file-per-bucket batch layout (atomic staged swap). */
  def compactStore(s: SparkSession, out: String): Unit =
    ChainStore.compactTransactions(s, out)

  /** Maintenance: expire time-travel history below `floor` — epochs at
    * or below it fold into the floor epoch (same atomic staged swap),
    * the store stays epoch-keyed, and as-of reads below the floor
    * refuse loudly. The sliding-retention knob for a perpetual ingest. */
  def vacuumStore(s: SparkSession, out: String, floor: Long): Unit =
    ChainStore.vacuumTransactionsBelow(s, out, floor)

  /** The keyspace DDL for a connector deployment's bootstrap step,
    * pinned against the reference schema by SchemaSpec. */
  def keyspaceDdl(keyspace: String = "graphsense"): String =
    graft.chain.CqlSchema.ddl.replace("graphsense", keyspace)

  /** Chain-params table from a directory of per-coin config files
    * (the reference's conf/{btc,ltc,bch,zec}.cfg layout): currency,
    * coin constants, and the tip margin the ingest derives from
    * parser.maxBlockNum. */
  def chainParams(s: SparkSession, confDir: String): DataFrame =
    graft.chain.ChainConfig.read(s, confDir)

  /** One export-CLI lifecycle programmatically (the `graft.Export`
    * main's engine: full export / --continue / --info over any sink —
    * see Export.Args and MIGRATION.md). */
  def export(s: SparkSession, args: Export.Args,
      sink: graft.chain.ChainSink = ChainStore): Export.Report =
    Export.run(s, args, sink)

  /** The full oracle-checked query inventory (driver contract). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries
}
