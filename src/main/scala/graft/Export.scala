package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.{Chain, ChainSink, ChainStore}
import graft.streaming.IncrementalIngest

/** The reference's export CLI as a runnable `main` — the three
  * lifecycles a migrating user invokes
  * (/root/reference/scripts/blocksci_export.py:386-441 argument
  * surface, :476-510 main flow; production wrapper
  * scripts/ingest.sh:8 runs `--continue --previous-day`):
  *
  *  - full export (§3.1): derive all chain tables for a block range
  *    and land them through a [[ChainSink]];
  *  - `--continue` (§3.2): resume at sink-max + 1 with the reorg guard
  *    ("inconsistent number of parsed and ingested blocks",
  *    blocksci_export.py:494-497);
  *  - `--info` (§3.3): print last-parsed / last-ingested block and
  *    exit (blocksci_export.py:482-486, 509-510).
  *
  * Scale posture (100 TB): an incremental run writes BUCKET-COMPLETE
  * partitions — the touched tx/block buckets are re-derived in full
  * from source and dynamic partition overwrite replaces exactly those
  * directories, so a resumed ingest costs O(batch + one boundary
  * bucket), never a table rewrite, and replaying a failed run
  * converges to the same bytes (the reference gets the same property
  * from Cassandra's row-level INSERT upserts). The two exceptions are
  * tables with no block locality, the hash prefix index (sorted by
  * hash, so any batch lands all over it) and the day-keyed rates.
  * They are rewritten from everything up to `end`. The index is one
  * globally sorted run of files ([[ChainStore.writePrefixIndex]]), so
  * the rewrite costs per row, not per directory, and its overwrite
  * replaces an older layout of the index whole. A deployment that
  * needs ingest-cost index maintenance uses the epoch-keyed streaming
  * store ([[IncrementalIngest.ingestToStore]]) instead.
  */
object Export {

  /** Parsed CLI arguments (defaults = the reference's). `cutoffTs` is
    * a test hook: `--previous-day` clamps at UTC-today-midnight, which
    * a spec cannot control — fixtures pass an explicit cutoff. */
  final case class Args(
      config: String = "",
      out: String = "",
      info: Boolean = false,
      continueIngest: Boolean = false,
      prevDay: Boolean = false,
      bip30Fix: Boolean = false,
      startIndex: Long = 0L,
      endIndex: Long = -1L,
      tables: Option[Seq[String]] = None,
      cutoffTs: Option[Long] = None,
      chainConfig: Option[String] = None)

  /** What a lifecycle did — the spec's assertion surface (the
    * reference communicates the same facts via stdout). */
  final case class Report(
      lastParsedBlock: Long,
      lastIngestedBlock: Option[Long],
      startIndex: Long,
      endIndex: Long,
      tables: Seq[String],
      blocksIngested: Long,
      txsIngested: Long)

  /** The reference's table inventory (blocksci_export.py:445). */
  val AllTables: Seq[String] = Seq("tx", "block_tx", "block", "stats")

  /** check_tables_arg (blocksci_export.py:445-463): None = all;
    * unknown names are an error; order is normalized to [[AllTables]]. */
  def resolveTables(tables: Option[Seq[String]]): Seq[String] =
    tables match {
      case None => AllTables
      case Some(ts) =>
        require(ts.nonEmpty, "No tables specified in --tables/-t argument.")
        val unknown = ts.toSet -- AllTables.toSet
        require(unknown.isEmpty,
          s"Unknown table(s) in --tables/-t argument: ${unknown.mkString(", ")}")
        AllTables.filter(ts.toSet)
    }

  private def scalarLong(df: DataFrame): Option[Long] = {
    val r = df.head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Most recent block already in the sink (the reference's
    * query_most_recent_block) — transaction table first, block table
    * as fallback, None for an absent/empty store. */
  def sinkMaxBlock(s: SparkSession, out: String): Option[Long] =
    Seq("transaction", "block").view
      .flatMap(ChainStore.table(s, out, _))
      .flatMap(t => scalarLong(t.agg(max(col("block_id")))))
      .headOption

  /** One lifecycle run. Throws IllegalArgumentException on the
    * validation failures the reference exits 1 on. */
  def run(s: SparkSession, args: Args,
      sink: ChainSink = ChainStore): Report = {
    val tx = Chain.transactions(s, args.config)
    val lastParsed = scalarLong(tx.agg(max(col("block_id"))))
      .getOrElse(throw new IllegalArgumentException(
        s"no parsed blocks at ${args.config}"))

    // --continue: resume at sink-max + 1, guarded against a sink ahead
    // of the source (reorg / wrong-source protection)
    val ingested = if (args.continueIngest) sinkMaxBlock(s, args.out) else None
    ingested.foreach(m => IncrementalIngest.reorgGuard(lastParsed, m))
    val start =
      if (args.continueIngest) ingested.map(_ + 1L).getOrElse(0L)
      else args.startIndex

    val tables = resolveTables(args.tables)
    def done(end: Long, nBlocks: Long, nTxs: Long,
        written: Seq[String]) =
      Report(lastParsed, ingested, start, end, written, nBlocks, nTxs)

    if (args.info) return done(-1L, 0L, 0L, Nil)

    // --chain-config: the per-coin cfg's parser.maxBlockNum caps the
    // default range at tip − margin (the reference parses
    // chain[: maxBlockNum], so its export never sees the margin
    // blocks; here the same file parameterizes the export directly).
    // An explicit --end-index wins over the config default.
    val effEnd =
      if (args.endIndex == -1L && args.chainConfig.nonEmpty) {
        val m = graft.chain.ChainConfig
          .readFile(s, args.chainConfig.get)
          .select(col("tip_margin")).head().getLong(0)
        -(m + 1L)
      } else args.endIndex
    // negative end counts back from the tip (reference: len(chain)+end)
    val endResolved =
      if (effEnd < 0L) lastParsed + effEnd + 1L
      else effEnd
    if (start > lastParsed && args.continueIngest)
      return done(endResolved, 0L, 0L, Nil) // "No blocks to ingest"
    require(start <= lastParsed,
      s"--start-index must be <= last parsed block ($lastParsed)")
    require(start <= endResolved,
      "--start-index argument must be smaller than --end-index argument")

    // --previous-day: drop blocks at or after the cutoff (UTC today
    // midnight) — exchange rates for the current day may not exist yet
    val end = if (!args.prevDay) endResolved else {
      val cutoff = args.cutoffTs.getOrElse(
        java.time.LocalDate.now(java.time.ZoneOffset.UTC)
          .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
      scalarLong(tx.filter(col("ts") < cutoff).agg(max(col("block_id"))))
        .map(math.min(_, endResolved))
        .getOrElse(start - 1L) // nothing below the cutoff → empty range
    }
    if (end < start) return done(end, 0L, 0L, Nil)

    // block-local refills: the touched block_id_group range is pure
    // arithmetic (group = block_id div bucket) — no scan needed to find
    // it, and the bucket-complete predicate is a plain block_id range
    // that Catalyst pushes BELOW the per-block aggregates (it references
    // only the grouping column), so the derivation aggregates
    // O(tail + one boundary bucket) of rows, never the whole store —
    // where the former join-against-touched-groups aggregated
    // everything first and filtered after
    val blkLo = (start / Chain.BlockBucketSize) * Chain.BlockBucketSize
    // one scan of the tail answers every scalar the refills need:
    // [blkLo, end] contains [start, end] (blkLo <= start), so the tx
    // bucket range and tx count of [start, end] are conditionals over
    // it, and its own tx_id range bounds the block_tx rollup
    val inRange = col("block_id") >= start
    val tail = tx.filter(col("block_id").between(blkLo, end))
      .agg(min(when(inRange, col("tx_id_group"))),
        max(when(inRange, col("tx_id_group"))),
        count(when(inRange, lit(1))),
        min(col("tx_id")), max(col("tx_id"))).head()
    val upToEnd = tx.filter(col("block_id") <= end)

    if (tables.contains("tx")) {
      // bucket-complete refill: every touched tx bucket is re-derived
      // whole (below-start rows included, beyond-end rows excluded), so
      // the dynamic partition overwrite is lossless at the boundary.
      // Touched buckets form a contiguous [lo, hi] range (tx ids are
      // dense in block order), so the refill is a PUSHED-DOWN range
      // predicate on the scan — parquet min/max stats prune untouched
      // row groups and a resumed ingest reads O(tail), not O(store) —
      // where a join against the touched-bucket set would scan
      // everything (a join filter can't prune a scan)
      if (!tail.isNullAt(0)) { // a block range with no txs touches no bucket
        // the [lo, hi] group range expressed as a tx_id range: the
        // predicate lands on the source key column (unwrap-cast makes
        // it a parquet PushedFilter), where floor(tx_id/bucket) would
        // not — on a block-range-clustered source, row groups outside
        // the tail never leave disk
        val (txLo, txHi) = (tail.getLong(0) * Chain.TxBucketSize,
          (tail.getLong(1) + 1L) * Chain.TxBucketSize - 1L)
        sink.writeTransactions(
          tx.filter(col("tx_id").between(txLo, txHi) &&
            col("block_id") <= end), args.out)
      }
      // the hash index rides with "tx", like the reference's per-tx
      // INSERT; sorted by hash, it has no block locality, so it is
      // rewritten from everything up to `end` (see scaladoc). BIP30:
      // a duplicated hash must resolve to its NEWEST tx
      // (upsert_btc_duplicate_hashes, blocksci_export.py:469-476) —
      // last-write-wins generalized to max tx_id per hash.
      val idxTx =
        if (args.bip30Fix)
          upToEnd.groupBy(col("tx_hash")).agg(max(col("tx_id")).as("tx_id"))
        else upToEnd
      sink.writePrefixIndex(idxTx, args.out)
    }
    if (tables.contains("block")) {
      sink.writeBlocks(
        Chain.blocks(s, args.config)
          .filter(col("block_id").between(blkLo, end)), args.out)
    }
    if (tables.contains("block_tx")) {
      // the io rollup side has no block_id — bound it by the tail's
      // tx_id range (dense ids: blocks ≥ blkLo own exactly the tx ids
      // ≥ the range min), a source-key predicate the lineitem scan
      // prunes on
      if (!tail.isNullAt(3))
        sink.writeBlockTransactions(
          Chain.blockTransactions(s, args.config,
              txIdBounds = Some((tail.getLong(3), tail.getLong(4))))
            .filter(col("block_id").between(blkLo, end)), args.out)
    }
    if (tables.contains("stats")) {
      // keyspace metadata over everything ingested so far (≤ end):
      // summary row, configuration row, and the day-keyed rates table
      sink.writeSummaryStatistics(Chain.summaryStatistics(upToEnd), args.out)
      sink.writeConfiguration(Chain.configuration(s), args.out)
      sink.writeExchangeRates(Chain.exchangeRatesTable(
        Chain.rates(s, args.config).filter(col("block_id") <= end)), args.out)
    }

    done(end, end - start + 1L, tail.getLong(2), tables)
  }

  /** argv → Args; throws IllegalArgumentException on malformed input. */
  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    def value(flag: String): String = {
      i += 1
      require(i < argv.length, s"$flag requires a value")
      argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "-c" | "--config"  => a = a.copy(config = value("--config"))
        case "--out"            => a = a.copy(out = value("--out"))
        case "-i" | "--info"    => a = a.copy(info = true)
        case "--continue"       => a = a.copy(continueIngest = true)
        case "-p" | "--previous-day" => a = a.copy(prevDay = true)
        case "--bip30-fix"      => a = a.copy(bip30Fix = true)
        case "--start-index"    =>
          a = a.copy(startIndex = value("--start-index").toLong)
        case "--end-index"      =>
          a = a.copy(endIndex = value("--end-index").toLong)
        case "--cutoff-ts"      =>
          a = a.copy(cutoffTs = Some(value("--cutoff-ts").toLong))
        case "--chain-config"   =>
          a = a.copy(chainConfig = Some(value("--chain-config")))
        case "-t" | "--tables"  =>
          val ts = scala.collection.mutable.ArrayBuffer.empty[String]
          while (i + 1 < argv.length && !argv(i + 1).startsWith("-")) {
            i += 1; ts += argv(i)
          }
          a = a.copy(tables = Some(ts.toSeq))
        case other =>
          throw new IllegalArgumentException(s"unknown argument: $other")
      }
      i += 1
    }
    require(a.config.nonEmpty, "-c/--config is required")
    require(a.out.nonEmpty || a.info, "--out is required unless --info")
    a
  }

  private def fmtTs(ts: Long): String =
    java.time.Instant.ofEpochSecond(ts)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  def main(argv: Array[String]): Unit = {
    val args =
      try parseArgs(argv)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(1)
      }
    val spark = Session.local()
    try {
      val r = run(spark, args)
      println("-" * 58)
      val tipTs = scalarLong(Chain.transactions(spark, args.config)
        .filter(col("block_id") === r.lastParsedBlock).agg(max(col("ts"))))
      println(f"Last parsed block:   ${r.lastParsedBlock}%10d " +
        s"(${tipTs.map(fmtTs).getOrElse("?")} UTC)")
      r.lastIngestedBlock match {
        case Some(m) => println(f"Last ingested block: $m%10d")
        case None if args.continueIngest =>
          println("Last ingested block:       None")
        case None => ()
      }
      println("-" * 58)
      if (!args.info) {
        if (r.tables.isEmpty) println("No blocks/transactions to ingest")
        else {
          println(s"Ingesting to tables: ${r.tables.mkString(", ")}")
          println(s"Ingested blocks ${r.startIndex} .. ${r.endIndex} " +
            s"(${r.blocksIngested} blocks, ${r.txsIngested} txs)")
        }
      }
    } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"Error: ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }
}
