package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.ChainSql
import graft.chain.ChainSql.withCtes
import graft.streaming.IncrementalIngest

/** Streaming-backed queries: the incremental "--continue" ingest run as a
  * synchronous `Trigger.AvailableNow` Structured Streaming job whose
  * result must agree with the equivalent batch SQL (the oracle).
  *
  * Both checked queries go through the PRODUCTION sink path
  * (`Streams.sink` → dynamic-overwrite partitioned parquet → read the
  * store back): no memory sink, no driver-side collect anywhere —
  * the shape that survives a 100 TB ingest.
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Simulated sink watermark (blocks ≤ this are "already ingested"). */
  private val Watermark = 2300L

  /** Reference confirmation depth (conf/btc.cfg:20 `maxBlockNum: -6`). */
  private val TipMargin = 6L

  /** Simulated reorg depth: the fork point sits this many blocks below
    * the sink max when the guard trips (deep for a real chain — chosen
    * so the orphaned range spans several tx buckets at sf0.01). */
  private val ReorgDepth = 40L

  /** stream_reorg_multi_epoch: the second ingest run lands this many
    * top blocks, so ReorgDepth (> this) forks BELOW the epoch boundary
    * and the rollback's partition listing must cross epochs. */
  private val SecondRunDepth = 20L

  private def readBack(s: SparkSession, out: String): DataFrame =
    graft.chain.ChainStore.readTransactions(s, out)
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id"))

  /** Fresh per-invocation sink path under target/tmp. */
  private def tmp(tag: String): String =
    s"target/tmp/${graft.streaming.Streams.freshName(tag)}"

  /** Pin an ephemeral run's (small, aggregated) result in memory, then
    * remove the run's sink + checkpoint directories — the sinks here
    * are per-invocation by construction, so without this every
    * bench/correctness round leaves two more directories in target/tmp.
    * A real deployment keeps ONE long-lived store + checkpoint and
    * never takes this path. The pin is DELIBERATELY a local checkpoint
    * (not Materialize.truncate): the result is block-group-sized, its
    * backing store is deleted on the next line so lineage must die with
    * the pin either way, and a reliable checkpoint here would leak its
    * rdd-N files (nothing ever releases a harness-returned frame). */
  private def consumeEphemeral(s: SparkSession, dirs: Seq[String])(
      read: => DataFrame): DataFrame = {
    val res = read.localCheckpoint(true)
    dirs.foreach(graft.chain.ChainStore.delete(s, _))
    res
  }

  private def ingestAndReadBack(s: SparkSession, dir: String,
      tipMargin: Long): DataFrame = {
    val out = tmp("store")
    IncrementalIngest.ingestToStore(s, dir, out, Watermark, tipMargin)
    consumeEphemeral(s, Seq(out))(readBack(s, out))
  }

  /** The three-epoch store the maintenance entries start from: the
    * source's block ranges [0, 800), [800, 1600) and [1600, ∞) landed as
    * epochs 0, 1 and 2 of the transaction store at `out`. */
  private def seedThreeEpochs(s: SparkSession, dir: String,
      out: String): Unit = {
    val tx = graft.chain.Chain.transactions(s, dir)
    val bounds = Seq(0L, 800L, 1600L, Long.MaxValue)
    (0 until 3).foreach { e =>
      graft.chain.ChainStore.writeTransactionsEpoch(
        tx.filter(col("block_id") >= bounds(e) &&
          col("block_id") < bounds(e + 1)), out, e.toLong)
    }
  }

  val queries: Map[String, Q] = Map(
    // ST2/ST3: resume above the watermark, land in the bucketed store
    "stream_incremental" -> ((s, dir) => ingestAndReadBack(s, dir, 0L)),

    // ST5: same ingest with the tip−6 confirmation margin in force
    "stream_tip_margin" -> ((s, dir) => ingestAndReadBack(s, dir, TipMargin)),

    // ST5 PER CHAIN: each chain's confirmation margin comes from its
    // OWN config row (the chain_params fixture — the reference deploys
    // one cfg per coin and maxBlockNum varies per file, conf/btc.cfg:20)
    // instead of one global constant. Per-chain tips derive from the
    // data, margins broadcast from the params table, the cut frames
    // land through the currency-partitioned multi-chain store, and the
    // entry reads the rollup back from that store — no driver-side
    // scalars anywhere.
    "stream_tip_margin_multichain" -> ((s, dir) => {
      val out = tmp("mc")
      val params = graft.chain.ChainConfig.read(s,
          graft.chain.ChainConfig.fixtureDir())
        .select(col("currency"), col("tip_margin"))
      val t = graft.chain.Chain.transactions(s, dir)
      val tagged = t.filter(col("tx_id") % 2 === 1)
          .withColumn("currency", lit("btc"))
        .unionByName(t.filter(col("tx_id") % 2 === 0)
          .withColumn("currency", lit("ltc")))
      val tips = tagged.groupBy(col("currency"))
        .agg(max(col("block_id")).as("tip"))
      val cut = tagged.join(broadcast(tips), Seq("currency"))
        .join(broadcast(params), Seq("currency"))
        .filter(col("block_id") <= col("tip") - col("tip_margin"))
        .drop("tip", "tip_margin")
      graft.chain.ChainStore.writeMultiChain(
        Map("btc" -> cut.filter(col("currency") === "btc").drop("currency"),
          "ltc" -> cut.filter(col("currency") === "ltc").drop("currency")),
        out)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/multichain_transaction")
          .groupBy(col("currency").cast("string").as("currency"))
          .agg(count(lit(1)).as("n_txs"),
            max(col("block_id")).as("max_block")))
    }),

    // W2 in motion: the source replays every 97th tx; streaming
    // dropDuplicates must restore exactly the batch row set (shares
    // stream_incremental's oracle — the driver compare proves it).
    "stream_dedup" -> ((s, dir) => {
      val out = tmp("store")
      IncrementalIngest.dedupedIngest(s, dir, out, Watermark)
      consumeEphemeral(s, Seq(out))(readBack(s, out))
    }),

    // the BOUNDED-state form of the same dedup (event-time watermark +
    // dropDuplicatesWithinWatermark): on the in-order fixture the
    // within-watermark replays are all removed, so it must produce the
    // identical row set — shares the same oracle, while keeping dedup
    // state evictable (the continuous-deployment requirement).
    "stream_dedup_bounded" -> ((s, dir) => {
      val out = tmp("store")
      IncrementalIngest.dedupedIngestBounded(s, dir, out, Watermark)
      consumeEphemeral(s, Seq(out))(readBack(s, out))
    }),

    // ST4 end-to-end: ingest, then a simulated reorg moves the chain
    // tip BELOW the sink max. The guard must trip; recovery is a
    // bucket-scoped rollback of the orphaned range plus a re-ingest of
    // the replacement blocks from a fresh checkpoint in a fresh epoch
    // namespace. The emitted per-block rollup carries a RUN-RELATIVE
    // `ingest_generation`: membership of the block's newest epoch in
    // the recovery namespace (>= the base recoverFromReorg returns) —
    // never a literal epoch value, which would silently depend on how
    // many micro-batches each run happened to land. The oracle proves
    // BOTH that the store converged to the post-reorg chain AND that
    // exactly the orphaned range was rewritten by the recovery run
    // (generation 1) while every surviving block kept its pre-recovery
    // epoch (generation 0).
    "stream_reorg_recover" -> ((s, dir) => {
      val out = tmp("store")
      IncrementalIngest.ingestToStore(s, dir, out, Watermark)
      // watermark read (A5-style, 1 row) + the simulated fork point
      val sinkMax = graft.chain.ChainStore.readTransactions(s, out)
        .agg(max(col("block_id"))).head().getLong(0)
      val newTip = sinkMax - ReorgDepth
      val tripped =
        try { IncrementalIngest.reorgGuard(newTip, sinkMax); false }
        catch { case _: IllegalArgumentException => true }
      require(tripped, "reorg guard failed to trip with sink ahead of tip")
      val recoveryBase = IncrementalIngest.recoverFromReorg(s, dir, out, newTip)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/transaction")
          .groupBy(col("block_id"))
          .agg(count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id"),
            (max(col("ingest_epoch").cast("long")) >= recoveryBase)
              .cast("long").as("ingest_generation")))
    }),

    // the same recovery with the reorg SPANNING AN EPOCH BOUNDARY: two
    // sequential ingest runs land the chain in two epoch namespaces
    // (the lower range in the first run's epochs, the top
    // SecondRunDepth blocks in the second run's — a catch-up run
    // followed by a sync run, the normal life of a store), then a
    // reorg deeper than the
    // second run's range orphans blocks from BOTH runs. rollbackAbove's
    // partition listing must therefore cross epochs; recovery re-lands
    // the whole orphaned range in a fresh namespace. Shares the oracle
    // shape: converged chain + run-relative recovery generation.
    "stream_reorg_multi_epoch" -> ((s, dir) => {
      val out = tmp("store")
      // run 1: everything except the top SecondRunDepth blocks
      IncrementalIngest.ingestToStore(s, dir, out, Watermark,
        tipMargin = SecondRunDepth)
      val run1Max = s.read.parquet(s"$out/transaction")
        .agg(max(col("block_id"))).head().getLong(0)
      // run 2: resume at the sink max; a new run lands the top blocks
      // in an epoch namespace above run 1's
      IncrementalIngest.ingestToStore(s, dir, out, watermark = run1Max)
      val sinkMax = graft.chain.ChainStore.readTransactions(s, out)
        .agg(max(col("block_id"))).head().getLong(0)
      // ReorgDepth > SecondRunDepth: the orphaned range crosses the
      // epoch boundary between the two runs
      val newTip = sinkMax - ReorgDepth
      val recoveryBase = IncrementalIngest.recoverFromReorg(s, dir, out, newTip)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/transaction")
          .groupBy(col("block_id"))
          .agg(count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id"),
            (max(col("ingest_epoch").cast("long")) >= recoveryBase)
              .cast("long").as("ingest_generation")))
    }),

    // stream-STREAM join: views ⋈ purchases on user + 24 h event-time
    // range, both sides watermarked, landed through the epoch-keyed
    // sink and aggregated per user from the store — must equal the
    // batch attribution join (the oracle).
    "stream_attribution" -> ((s, dir) => {
      val out = tmp("store")
      graft.streaming.StreamJoin.attributionJoin(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        graft.streaming.StreamJoin.readPairs(s, out)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("view_id")).as("n_views"),
            countDistinct(col("purchase_id")).as("n_purchases"),
            max(col("purchase_ets") - col("view_ets")).as("max_lag_sec")))
    }),

    // watermark + tumbling window through the dashboard-sink path
    // (complete-mode micro-batch overwrite of a parquet summary
    // table): AvailableNow's final commit must equal the batch
    // events_window_agg result — the two share one oracle, so the
    // batch/stream equivalence is proven by the driver compare.
    "stream_window_agg" -> ((s, dir) => {
      val out = tmp("winagg")
      IncrementalIngest.windowedEventAgg(s, dir, out)
      consumeEphemeral(s, Seq(out, s"$out-ckpt"))(s.read.parquet(out))
    }),

    // CDC as a STREAM: the cdc_merge change batch split into two
    // micro-batches (maxFilesPerTrigger=1) and MERGEd into the keyed
    // store per batch — continuous upsert/delete apply, the streaming
    // face of the batch MERGE. Sharing cdc_merge's oracle proves the
    // per-batch merge-on-write CONVERGES to the one-shot merge (each
    // key carries one op, so batch order cannot matter — and the
    // compare would catch it if it did).
    "stream_cdc_apply" -> ((s, dir) => {
      val out = tmp("cdcs")
      val base = graft.queries.RelQueries.cdcBase(s, dir)
      val ch = graft.queries.RelQueries.cdcChanges(base)
      // setup phase: the one-time store init and the two change-file
      // extracts are three INDEPENDENT jobs over the same base frame —
      // overlap them (guide §2.6, the bucketed_build pattern). r14
      // phase split (SCALE.md, "Round-14 stream_cdc_apply phase split",
      // sf0.1): setup ~1.1–2.6 s concurrent,
      // streaming apply 4.5–6.6 s, readback ~0.5–1 s — locally the
      // micro-batch machinery (2 batches × checkpoint commits + 64
      // dynamic partition-dir overwrites) dominates; at 30× the store
      // INIT dominates instead (SCALE.md) and the apply stays
      // bucket-scoped. Writers touch disjoint paths under `out`.
      graft.ops.Tiers.buildConcurrently(Seq(
        () => IncrementalIngest.cdcStoreInit(
          base.select("k", "price", "status"), s"$out/store"),
        () => { ch.filter(col("k") % 2 === 0).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/changes.parquet"); () },
        () => { ch.filter(col("k") % 2 === 1).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/changes2.parquet"); () }))
      IncrementalIngest.cdcApply(s, out, s"$out/store")
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/store")
          .groupBy(col("status").as("m_status"))
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_key"),
            sum(col("price")).cast("double").as("sum_price")))
    }),

    // native session_window sessionization as a STREAM: merging-
    // interval state + watermark eviction, complete-mode overwrite —
    // shares the batch events_sessionize_native oracle, so the
    // streaming session merge is proven equal to the batch gap rule.
    "stream_sessionize" -> ((s, dir) => {
      val out = tmp("sess")
      IncrementalIngest.sessionizedEvents(s, dir, out)
      consumeEphemeral(s, Seq(out, s"$out-ckpt"))(s.read.parquet(out))
    }),

    // LSH dedup AT THE DOOR of a streaming corpus ingest: each arriving
    // micro-batch is minhash-banded and probed against the parked band
    // tier; only docs colliding with no tier bucket land. The batch
    // dedup_incremental operator as a continuous fact — the oracle
    // enumerates exactly the batch docs sharing no band key with any
    // pre-batch doc.
    "stream_corpus_dedup" -> ((s, dir) => {
      val out = tmp("store")
      graft.streaming.CorpusIngest.dedupedCorpusIngest(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        graft.streaming.CorpusIngest.readKept(s, out))
    }),

    // SCHEMA EVOLUTION on the epoch store — the lakehouse reality that
    // a column (here `fee`) appears mid-history: epoch 0 lands without
    // it, epoch 1 with it, and a mergeSchema read unifies the store
    // (old rows surface fee = NULL, never a default, never a rewrite
    // of landed files — evolution costs zero data movement). The
    // per-epoch rollup is the content contract: the oracle states
    // what each epoch must contain FROM THE SOURCE tables, so the
    // write→merge→read cycle is proven lossless, not self-consistent.
    "store_schema_evolution" -> ((s, dir) => {
      val out = tmp("sev")
      val tx = graft.chain.Chain.transactions(s, dir)
        .select(col("tx_id"), col("block_id"))
      graft.chain.ChainStore.landEpoch(tx.filter(col("block_id") < 1600L),
        out, 0L, Nil)
      graft.chain.ChainStore.landEpoch(tx.filter(col("block_id") >= 1600L)
        .withColumn("fee", col("tx_id") % 100), out, 1L, Nil)
      consumeEphemeral(s, Seq(out))(
        s.read.option("mergeSchema", "true").parquet(out)
          // partition-dir columns read back as int32 — restate the
          // contract type before the compare
          .groupBy(col("ingest_epoch").cast("long").as("ingest_epoch"))
          .agg(count(lit(1)).as("n_txs"),
            count(col("fee")).as("n_with_fee"),
            coalesce(sum(col("fee")), lit(0L)).as("total_fee")))
    }),

    // TIME TRAVEL over the epoch-keyed store: land three block-range
    // batches as epochs 0/1/2, then read the table AS OF epoch 1 —
    // the snapshot must equal the plain batch derivation over the
    // first two ranges (the oracle). ingest_epoch is a partition
    // column, so the as-of filter prunes whole epoch directories at
    // file listing: a snapshot read costs the snapshot, not the
    // history, with no copy-on-write — the epoch layout IS the
    // version log.
    // KEYSET PAGINATION against the bucketed store — the query shape a
    // serving layer runs for "next page of transactions after cursor"
    // (the reference UI pages address/block txs exactly this way, and
    // OFFSET pagination is what it avoids: page N must not cost N
    // pages of scan). The cursor predicate alone (tx_id > c) cannot
    // prune bucket DIRECTORIES, so the query adds the derived bucket
    // bound tx_id_group >= c div 25000 — the same bucket arithmetic
    // the store was written with — turning the page into a
    // partition-pruned scan of the cursor's bucket onward + a row-group
    // skip via the min/max stats on the sorted tx_id, then a
    // distributed top-k (no global sort). Oracle states the page from
    // the source table; tx_id is unique so the page is deterministic.
    // The store itself is PARKED once per fixture (StoreMaterialize):
    // the entry is a pure read-side query, like a serving layer's.
    "store_keyset_page" -> ((s, dir) => {
      val cursor = 9000L
      val store = graft.ops.StoreMaterialize.transactionStore(s, dir)(
        out => graft.chain.ChainStore.writeTransactions(
          graft.chain.Chain.transactions(s, dir), out))
      s.read.parquet(s"$store/transaction")
        .filter(col("tx_id_group").cast("long") >=
            cursor / graft.chain.Chain.TxBucketSize &&
          col("tx_id") > cursor)
        .orderBy(col("tx_id")).limit(25)
        .select(col("tx_id"), col("block_id"),
          col("tx_id_group").cast("long").as("tx_id_group"))
    }),

    // the DENSITY-BOUNDED page: the lower bucket bound above prunes
    // below the cursor but still scans every bucket AFTER it — and even
    // with a two-sided bucket predicate, partition DISCOVERY lists the
    // whole store before pruning, so the page cost grows with store
    // size anyway (measured: 1.1 s → 2.6-2.8 s at 30×, either form).
    // The serving layer's actual read exploits the layout CONTRACT
    // instead: when ids are dense enough that any bucket-size key range
    // holds ≥ pageSize rows (true here: ≤4× key sparsity vs 25k-key
    // buckets, 25-row page), the page provably lives in the cursor's
    // bucket or the next — so the query addresses those ≤ 2 partition
    // directories BY PATH (two driver-side stats, no store listing)
    // and re-derives the bucket column with the same write-side
    // arithmetic. O(page) at any store size; when the density
    // precondition fails (a sparse tail), the widen loop below extends
    // the window one bucket at a time until the page fills or the
    // store tail is reached — each probe is a ≤page-sized count over
    // the window, so the fallback costs O(page · buckets-widened),
    // never a store listing. Shares store_keyset_page's oracle: same
    // page, proven every run.
    "store_keyset_page_bounded" -> ((s, dir) => {
      val bucket = graft.chain.Chain.TxBucketSize
      val pageSize = 25
      val cursor = 9000L
      val b = cursor / bucket
      val store = graft.ops.StoreMaterialize.transactionStore(s, dir)(
        out => graft.chain.ChainStore.writeTransactions(
          graft.chain.Chain.transactions(s, dir), out))
      def dirOf(g: Long) = s"$store/transaction/tx_id_group=$g"
      def present(g: Long) = graft.chain.ChainStore.exists(s, dirOf(g))
      def window(hi: Long): Seq[String] =
        (b to hi).filter(present).map(dirOf)
      var hi = b + 1L
      var dirs = window(hi)
      // an absent cursor bucket AND next bucket is a caller error
      // (cursor beyond the store tail, or no store) — fail with the
      // real reason, not parquet's "empty path list"
      if (dirs.isEmpty) sys.error(
        s"store_keyset_page_bounded: neither bucket directory " +
          s"${dirOf(b)} nor ${dirOf(b + 1)} exists — cursor $cursor is " +
          "beyond the store tail, or the store was never built")
      def pageRows(ds: Seq[String]): Long =
        s.read.parquet(ds: _*).filter(col("tx_id") > cursor)
          .limit(pageSize).count()
      // sparse-tail widen: contiguous buckets are the layout contract
      // (dense tx_id), so stop at the first absent successor = tail
      while (pageRows(dirs) < pageSize && present(hi + 1L)) {
        hi += 1L; dirs = window(hi)
      }
      s.read.parquet(dirs: _*)
        .filter(col("tx_id") > cursor)
        .orderBy(col("tx_id")).limit(pageSize)
        .select(col("tx_id"), col("block_id"),
          expr(s"tx_id div ${bucket}L").as("tx_id_group"))
    }),

    "store_time_travel" -> ((s, dir) => {
      val out = tmp("store")
      seedThreeEpochs(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        graft.chain.ChainStore.readTransactionsAsOf(s, out, 1L)
          .groupBy(col("block_id"))
          .agg(count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id")))
    }),

    // the EXACT similarity join run CONTINUOUSLY (streaming twin of
    // text_allpairs_cosine_incremental): each micro-batch ranks under
    // the frozen bootstrap shingle order, probes parked ∪ landed ∪
    // itself, and lands its pairs/prefix/postings epoch-keyed — so the
    // pair table is maintained at ingest cost, replays are idempotent,
    // and cross-batch pairs belong to the later batch. Shares the full
    // brute-force oracle: parked base ∪ everything landed == the
    // one-shot join over the whole corpus, proven by the compare.
    "stream_allpairs" -> ((s, dir) => {
      val out = tmp("ap")
      graft.streaming.CorpusIngest.allPairsIngest(s, dir, out)
      val base = graft.ops.DedupMaterialize.allPairsBaseTable(s, dir,
        graft.streaming.CorpusIngest.AllPairsBatchMod)
      // a batch with no qualifying pairs lands an empty partitioned dir
      // (schema-less) — the read must treat that as zero pairs
      val landed = graft.chain.ChainStore.table(s, out, "pairs")
        .fold(base.limit(0))(_.select(col("doc_a"), col("doc_b"),
          col("overlap"), col("na"), col("nb"), col("cos_sq_bps")))
      consumeEphemeral(s, Seq(out))(
        base.unionByName(landed))
    }),

    // SMALL-FILE COMPACTION on the same three-epoch store — the other
    // maintenance knob (vacuum expires history; compaction seals the
    // layout): a long-running ingest accretes one file per (bucket,
    // epoch), reads stay correct but degrade with file count, so the
    // periodic compact collapses every bucket to ONE sorted file —
    // exactly as Cassandra compacts the reference keyspace's SSTables.
    // The read-back counts ACTUAL files per bucket via
    // input_file_name(), so the oracle's literal n_files = 1 checks
    // the physical layout claim in-engine, and the per-bucket rollup
    // is stated from the SOURCE table — content preservation and
    // layout sealing in one compare. Staged + marker-swapped like
    // vacuum (never in place); StoreSpec covers crash recovery.
    "store_compact" -> ((s, dir) => {
      val out = tmp("cmp")
      seedThreeEpochs(s, dir, out)
      graft.chain.ChainStore.compactTransactions(s, out)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/transaction")
          .select(col("tx_id_group").cast("long").as("tx_id_group"),
            col("tx_id"), input_file_name().as("f"))
          .groupBy(col("tx_id_group"))
          .agg(countDistinct(col("f")).as("n_files"),
            count(lit(1)).as("n_txs"), max(col("tx_id")).as("max_tx_id")))
    }),

    // HISTORY VACUUM on the same three-epoch store: retention folds
    // epochs ≤ 1 into epoch 1 (staged + swapped, never in place), so
    // the store keeps serving as-of ≥ 1 bit-identically while the
    // expired epoch-0 directory is gone. The per-epoch rollup read
    // back AFTER the vacuum is stated by the oracle from the source
    // table — proving the fold moved every row into the floor epoch
    // and left the retained epoch untouched (content contract, not
    // self-consistency). Snapshots below the floor now refuse loudly
    // (spec-pinned) instead of returning a partial table.
    "store_vacuum" -> ((s, dir) => {
      val out = tmp("vac")
      seedThreeEpochs(s, dir, out)
      graft.chain.ChainStore.vacuumTransactionsBelow(s, out, 1L)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(s"$out/transaction")
          .groupBy(col("ingest_epoch").cast("long").as("ingest_epoch"))
          .agg(count(lit(1)).as("n_txs"), max(col("block_id")).as("max_block")))
    }),

    // streaming twin of text_heavy_hitters (shared oracle): per-batch
    // MG candidate sets land through the idempotent epoch sink; the
    // mediant inequality makes their union a superset of the global
    // heavy hitters, so the final exact re-count of landed candidates
    // equals the one-pass batch answer.
    // STREAMING IVF maintenance (twin of embed_ivf_incremental, shared
    // oracle): micro-batches of vectors assign against the parked
    // frozen centroids and land epoch-keyed inverted-list rows; the
    // landed union must hash-match the from-scratch full-corpus
    // assignment — stream == batch for the ANN index, proven per run.
    "stream_ivf_ingest" -> ((s, dir) => {
      val out = tmp("ivf")
      graft.streaming.CorpusIngest.ivfIngest(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(out)
          .groupBy(col("cent_id"))
          .agg(count(lit(1)).as("n_vectors"),
            expr("bit_xor(CAST(conv(substr(md5(CAST(vec_id AS STRING)), " +
              "1, 15), 16, 10) AS BIGINT))").as("members_fp")))
    }),

    // STREAMING PQ code-tier maintenance (twin of embed_pq_incremental,
    // shared oracle): micro-batches encode against the parked frozen
    // codebooks and land epoch-keyed code rows; the landed union must
    // hash-match the from-scratch re-train + re-encode — stream ==
    // batch for the compressed serving tier, proven per run.
    "stream_pq_ingest" -> ((s, dir) => {
      val out = tmp("pqc")
      graft.streaming.CorpusIngest.pqIngest(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        s.read.parquet(out)
          .groupBy(col("m").cast("long").as("m"), col("code"))
          .agg(count(lit(1)).as("n_vectors"),
            expr("bit_xor(CAST(conv(substr(md5(CAST(vec_id AS STRING)), " +
              "1, 15), 16, 10) AS BIGINT))").as("members_fp")))
    }),

    "stream_heavy_hitters" -> ((s, dir) => {
      val out = tmp("hh")
      graft.streaming.CorpusIngest.heavyHitterIngest(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        graft.queries.TextQueries.exactHeavyHitters(
          graft.queries.TextQueries.docTokens(s, dir),
          s.read.parquet(out)))
    }),

    // anomaly detection over the CONTINUOUSLY MAINTAINED hourly table:
    // the watermarked streaming window-agg keeps the per-(type, hour)
    // counts current through the complete-mode dashboard sink, and the
    // z-score pass (the batch events_anomaly expressions verbatim) runs
    // over that summary — hourly-row-sized input however large the raw
    // stream was. Shares the batch oracle: the monitor on the live
    // table provably flags the same hours a batch sweep would.
    "stream_anomaly" -> ((s, dir) => {
      val out = tmp("anom")
      IncrementalIngest.windowedEventAgg(s, dir, out)
      consumeEphemeral(s, Seq(out, s"$out-ckpt")) {
        val hourly = s.read.parquet(out)
          .select(col("event_type"), col("hour_ts"),
            col("n_events").as("x"))
        val stats = hourly.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("qx"))
        hourly.join(broadcast(stats), Seq("event_type"))
          .select(col("event_type"), col("hour_ts"),
            col("x").as("n_events"),
            ((col("n") * col("x") - col("sx")) *
              (col("n") * col("x") - col("sx")) >
              lit(4L) * (col("n") * col("qx") - col("sx") * col("sx")))
              .as("is_anomaly"))
      }
    }),

    // streaming twin of events_quantile_sketch (shared oracle): each
    // micro-batch lands its per-type bottom-256 sample through the
    // idempotent epoch sink; bottom-k's semilattice merge makes the
    // union-then-re-prune of landed epochs EXACTLY the one-pass batch
    // sample, so stream == batch is part of the gate — the quantile
    // analog of stream_heavy_hitters' candidate-union argument.
    "stream_quantile" -> ((s, dir) => {
      val out = tmp("qs")
      IncrementalIngest.quantileSampleIngest(s, dir, out)
      consumeEphemeral(s, Seq(out))(
        EventQueries.quantileFromSamples(s, s.read.parquet(out)))
    }))

  /** Tx count and max tx_id per block of the blocks `where` selects. */
  private def blockCountsOracle(where: String): String =
    withCtes(ChainSql.tx)(
      s"""SELECT block_id, CAST(count(*) AS BIGINT) AS n_txs,
         |  max(tx_id) AS max_tx_id
         |FROM tx WHERE $where
         |GROUP BY block_id""".stripMargin)

  /** Every block above the watermark, once: the plain, dedup and
    * bounded-dedup ingests all land it. */
  private val aboveWatermarkOracle: String =
    blockCountsOracle(s"block_id > $Watermark")

  // converged post-reorg state from the SOURCE: every block above the
  // watermark present exactly once; generation 1 (newest epoch in the
  // recovery run's namespace) for the re-ingested orphaned range,
  // generation 0 (a pre-recovery epoch) for every surviving block
  private val reorgOracle: String = withCtes(ChainSql.tx)(
    s"""SELECT block_id, CAST(count(*) AS BIGINT) AS n_txs,
       |  max(tx_id) AS max_tx_id,
       |  CAST(CASE WHEN block_id >
       |      (SELECT max(block_id) FROM tx) - $ReorgDepth
       |    THEN 1 ELSE 0 END AS BIGINT) AS ingest_generation
       |FROM tx WHERE block_id > $Watermark
       |GROUP BY block_id""".stripMargin)

  // the page stated from the source: 25 txs strictly after the cursor
  private val keysetPageOracle: String = withCtes(ChainSql.tx)(
    """SELECT tx_id, block_id, tx_id_group
      |FROM tx WHERE tx_id > 9000
      |ORDER BY tx_id LIMIT 25""".stripMargin)

  val oracles: Map[String, String] = Map(
    "stream_incremental" -> aboveWatermarkOracle,

    "stream_tip_margin" -> blockCountsOracle(
      s"""block_id > $Watermark
         |  AND block_id <= (SELECT max(block_id) FROM tx) - $TipMargin""".stripMargin),

    // per-chain margins = the chain_params fixture's (btc 6, ltc 12);
    // the chain_params oracle independently checks that the engine
    // READ those values from the config files
    "stream_tip_margin_multichain" -> withCtes(ChainSql.tx,
      """ch AS (SELECT 'btc' AS currency, tx_id, block_id FROM tx
        |         WHERE tx_id % 2 = 1
        |       UNION ALL
        |       SELECT 'ltc' AS currency, tx_id, block_id FROM tx
        |         WHERE tx_id % 2 = 0)""".stripMargin,
      """mgn AS (SELECT 'btc' AS currency, 6 AS margin
        |        UNION ALL
        |        SELECT 'ltc' AS currency, 12 AS margin)""".stripMargin,
      "tips AS (SELECT currency, max(block_id) AS tip FROM ch GROUP BY currency)")(
      """SELECT ch.currency, CAST(count(*) AS BIGINT) AS n_txs,
        |  CAST(max(block_id) AS BIGINT) AS max_block
        |FROM ch JOIN tips USING (currency) JOIN mgn USING (currency)
        |WHERE block_id <= tip - margin
        |GROUP BY ch.currency""".stripMargin),

    "stream_reorg_recover" -> reorgOracle,

    // identical converged shape for the epoch-boundary-spanning reorg:
    // the two-run ingest history changes WHICH partitions roll back,
    // never the converged chain or the recovery-namespace membership
    "stream_reorg_multi_epoch" -> reorgOracle,

    "stream_dedup" -> aboveWatermarkOracle,
    "stream_dedup_bounded" -> aboveWatermarkOracle,

    "stream_attribution" ->
      s"""WITH e AS (
         |  SELECT CAST(event_id AS BIGINT) AS event_id,
         |    CAST(user_id AS BIGINT) AS user_id, event_type,
         |    CAST(date_diff('second', TIMESTAMP '1970-01-01',
         |         CAST(ts AS TIMESTAMP)) AS BIGINT) AS ets
         |  FROM events)
         |SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT v.event_id) AS BIGINT) AS n_views,
         |  CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases,
         |  max(p.ets - v.ets) AS max_lag_sec
         |FROM (SELECT * FROM e WHERE event_type = 'view') v
         |JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
         |  ON v.user_id = p.user_id
         | AND v.ets >= p.ets - ${graft.streaming.StreamJoin.AttributionWindowSec}
         | AND v.ets <= p.ets
         |GROUP BY v.user_id""".stripMargin,

    // shares the batch oracle verbatim: stream == batch, proven
    "stream_window_agg" -> EventQueries.oracles("events_window_agg"),

    "stream_sessionize" -> EventQueries.oracles("events_sessionize_native"),

    "stream_cdc_apply" -> RelQueries.oracles("cdc_merge"),

    // the stream must land exactly the batch docs with no band
    // collision against the pre-batch tier
    "stream_corpus_dedup" -> withCtes(
      (Seq(graft.ops.TextCorpus.corpusSql, graft.ops.TextCorpus.wordsSql,
        graft.ops.TextCorpus.shinglesSql) ++ DedupQueries.sigBandCtes): _*)(
      s"""SELECT c.doc_id FROM corpus c
         |WHERE c.doc_id % ${graft.ops.DedupMaterialize.IncrementalBatchMod} = 0
         |  AND NOT EXISTS (
         |    SELECT 1 FROM bands b JOIN bands t
         |      ON (t.band0 = b.band0 OR t.band1 = b.band1)
         |    WHERE b.doc_id = c.doc_id
         |      AND t.doc_id % ${graft.ops.DedupMaterialize.IncrementalBatchMod} != 0)""".stripMargin),

    // the streamed candidate union + exact re-count must equal the
    // one-pass batch heavy-hitter query — one oracle for both
    "stream_heavy_hitters" -> TextQueries.oracles("text_heavy_hitters"),

    // the maintained streaming IVF lists must equal the from-scratch
    // rebuild — ONE oracle for the incremental, streaming, and (by
    // construction) batch forms
    "stream_ivf_ingest" ->
      SimilarityQueries.oracles("embed_ivf_incremental"),

    // the landed streaming code tier must equal the from-scratch
    // re-train + re-encode — ONE oracle for the incremental and
    // streaming forms of the PQ serving tier
    "stream_pq_ingest" ->
      SimilarityQueries.oracles("embed_pq_incremental"),

    // the full brute-force statement: continuously-landed pairs must
    // equal the one-shot join
    "stream_allpairs" -> TextQueries.oracles("text_allpairs_cosine"),

    // stream == batch: the monitor over the maintained hourly table
    // must flag exactly the hours the batch sweep flags
    "stream_anomaly" -> EventQueries.oracles("events_anomaly"),

    // stream == batch: the merged epoch samples must select exactly
    // the quantiles the one-pass batch sketch selects
    "stream_quantile" -> EventQueries.oracles("events_quantile_sketch"),

    // evolution content contract stated from the SOURCE: epoch 0 has
    // no fee column (count/sum 0), epoch 1 carries tx_id % 100
    "store_schema_evolution" -> withCtes(ChainSql.tx)(
      """SELECT CAST(0 AS BIGINT) AS ingest_epoch,
        |  CAST(count(*) AS BIGINT) AS n_txs,
        |  CAST(0 AS BIGINT) AS n_with_fee, CAST(0 AS BIGINT) AS total_fee
        |FROM tx WHERE block_id < 1600
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(tx_id % 100) AS BIGINT)
        |FROM tx WHERE block_id >= 1600""".stripMargin),

    "store_keyset_page" -> keysetPageOracle,

    // the bounded form returns the SAME page (the oracle proves the
    // 2-bucket bound loses nothing on this store)
    "store_keyset_page_bounded" -> keysetPageOracle,

    // the as-of-epoch-1 snapshot is exactly the first two block ranges
    "store_time_travel" -> blockCountsOracle("block_id < 1600"),

    // post-compaction contract: the content rollup stated from the
    // source table AND the literal one-file-per-bucket layout
    "store_compact" -> withCtes(ChainSql.tx)(
      """SELECT tx_id_group, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_txs, max(tx_id) AS max_tx_id
        |FROM tx GROUP BY tx_id_group""".stripMargin),

    // post-vacuum layout: everything below block 1600 now lives in the
    // fold epoch 1, the retained epoch 2 is byte-for-byte the same range
    "store_vacuum" -> withCtes(ChainSql.tx)(
      """SELECT CAST(1 AS BIGINT) AS ingest_epoch,
        |  CAST(count(*) AS BIGINT) AS n_txs, max(block_id) AS max_block
        |FROM tx WHERE block_id < 1600
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), max(block_id)
        |FROM tx WHERE block_id >= 1600""".stripMargin))
}
