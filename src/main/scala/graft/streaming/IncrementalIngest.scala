package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}

import graft.chain.{Chain, ChainStore}
import graft.queries.EventQueries

/** Incremental-ingest semantics of the reference (SURVEY.md §2.9) on
  * Structured Streaming:
  *
  *  - ST2 resume-from-watermark: the file source + checkpoint replaces the
  *    reference's "query sink for max block, continue at +1"
  *    (blocksci_export.py:489-505); `Trigger.AvailableNow` gives the batch
  *    "--continue" run, the same query left running gives real-time sync.
  *  - ST1 completeness watermark: blocks at-or-before the cut are excluded
  *    until their exchange rates exist (blocksci_export.py:540-553).
  *  - ST4 reorg guard: refuse to continue when the sink is ahead of the
  *    source tip (blocksci_export.py:492-495).
  *
  * The oracle-checked queries run `ingestToStore` ([[Streams.sink]] →
  * dynamic-overwrite partitioned parquet): deterministic per-bucket
  * overwrite makes replays idempotent (ST3). The memory sink survives
  * only in the synchronous in-session demos `newTxsBeyond` and
  * `hourlyEventCounts`.
  */
object IncrementalIngest {

  /** ST4: precondition — throw if sink watermark is beyond source tip. */
  def reorgGuard(sourceTip: Long, sinkMax: Long): Unit =
    require(sinkMax <= sourceTip,
      s"most recent block in sink ($sinkMax) ahead of source tip " +
        s"($sourceTip); refusing to continue (reorg guard)")

  /** ST2/ST3 resume precondition: when the target store already holds
    * rows, a new run must resume at or above the store's newest block.
    * A fresh run lands in new epochs above the store's newest
    * ([[landingBase]]), so re-ingesting a range the store already holds
    * would keep the old epochs' copies of its rows next to the new ones
    * — duplicate rows instead of convergence.
    * Full rebuild therefore requires an empty store (delete it first);
    * in-place, incremental resume is the supported path — the
    * reference's own "--continue resumes at sink max + 1" contract
    * (blocksci_export.py:489-505). Replays WITHIN one checkpoint are
    * unaffected (same epoch ids → same partitions → idempotent).
    *
    * Returns the store's newest `ingest_epoch` (None for an absent or
    * empty store), taken in the same aggregate as the sink max. */
  def resumeGuard(s: SparkSession, out: String,
      watermark: Long): Option[Long] = {
    val existing = ChainStore.table(s, out, "transaction")
    // layout check first: every caller of this guard writes the
    // epoch-keyed layout (partition dirs tx_id_group/ingest_epoch), so
    // a store laid out by the batch writeTransactions (tx_id_group
    // only) must be refused outright — mixing the two depths under one
    // transaction/ root makes parquet partition discovery fail with
    // "conflicting directory structures" on the NEXT read, i.e. the
    // corruption would surface long after this run succeeded
    existing.foreach { df =>
      require(df.schema.fieldNames.contains("ingest_epoch"),
        s"store at $out was written by the batch layout (no " +
          "ingest_epoch partition key); resuming a streaming ingest " +
          "into it would mix partition-directory depths and break " +
          "partition discovery — use a separate store directory, or " +
          "delete this one for a full streaming rebuild")
    }
    val maxes = existing.map(_.agg(max(col("block_id")),
      max(col("ingest_epoch").cast("long"))).head())
    def maxOf(i: Int) = maxes.filterNot(_.isNullAt(i)).map(_.getLong(i))
    maxOf(0).foreach { mx =>
      require(watermark >= mx,
        s"store at $out holds blocks up to $mx but the resume " +
          s"watermark is $watermark; resuming below the sink max " +
          "would duplicate rows across runs — resume at/above it, " +
          "or delete the store for a full rebuild")
    }
    maxOf(1)
  }

  /** Where a checkpoint records the epoch base it was started with. */
  private val EpochBaseFile = "_graft_epoch_base"

  /** The epoch base of a streaming run into the epoch-keyed store at
    * `out`: its batch `b` lands in epoch `base + b`. Runs [[resumeGuard]]
    * first, whose aggregate also yields the store's newest epoch.
    *
    * A new checkpoint numbers its batches from 0 again, so the run lands
    * above every epoch already in the store, at `max(epochBase, newest +
    * 1)`; otherwise its batches would dynamic-overwrite an earlier run's
    * (tx_id_group, ingest_epoch) partitions and lose their rows. A named
    * `checkpoint` records the base before the query starts, and a run
    * that resumes the checkpoint takes it from there, so a replayed
    * batch rewrites exactly its own partitions (idempotent). A
    * checkpoint that already holds an offset log but no record keeps
    * `epochBase` as given. A run without a checkpoint is never resumed,
    * so nothing is recorded. */
  private def landingBase(s: SparkSession, out: String, watermark: Long,
      checkpoint: Option[String], epochBase: Long): Long = {
    val fresh = math.max(epochBase,
      resumeGuard(s, out, watermark).fold(0L)(_ + 1L))
    checkpoint.fold(fresh) { ckpt =>
      val record = s"$ckpt/$EpochBaseFile"
      ChainStore.readLong(s, record).getOrElse {
        if (ChainStore.exists(s, s"$ckpt/offsets")) epochBase
        else { ChainStore.writeLong(s, record, fresh, overwrite = false); fresh }
      }
    }
  }

  /** The transaction-ingest source: the orders stream through the SAME
    * projection as the batch path, kept strictly above `watermark`. */
  private def txStream(s: SparkSession, dir: String, watermark: Long,
      maxFilesPerTrigger: Option[Int]): DataFrame =
    Chain.txProjection(Streams.files(s, dir, "orders", maxFilesPerTrigger))
      .filter(col("block_id") > watermark)

  /** ST5: confirmation-depth margin — only blocks at least this far below
    * the source tip are considered final (conf/btc.cfg:20 `maxBlockNum: -6`). */
  val TipMargin = 6L

  /** Confirmation-depth cut (ST5): keep rows at least `tipMargin` blocks
    * below the source tip. The tip stays a 1-row static frame end-to-end,
    * applied as a broadcast join on a constant key — no `.head()` on the
    * driver. Margin 0 keeps every row at or below the tip, which is every
    * source row — no tip is read and no join runs. */
  private def belowTip(s: SparkSession, dir: String,
      tipMargin: Long): DataFrame => DataFrame =
    if (tipMargin == 0L) identity
    else {
      val tip = Chain.transactions(s, dir)
        .agg(max(col("block_id")).as("src_tip")).withColumn("one", lit(1))
      _.withColumn("one", lit(1))
        .join(broadcast(tip), Seq("one"))
        .filter(col("block_id") <= col("src_tip") - tipMargin)
        .drop("one", "src_tip")
    }

  /** Run the incremental ingest synchronously: stream the orders source,
    * derive tx rows with the SAME projection as the batch path, keep only
    * blocks strictly above `watermark`, land them in a named in-memory
    * table, and return it as a DataFrame.
    */
  def newTxsBeyond(s: SparkSession, dir: String, watermark: Long,
      tipMargin: Long = 0L): DataFrame = {
    val name = Streams.freshName("inc")
    Streams.runOnce(belowTip(s, dir, tipMargin)(txStream(s, dir, watermark,
      None)).writeStream.format("memory").queryName(name), None)
    s.table(name)
  }

  /** The one transaction-ingest path: [[landingBase]] picks the epoch
    * base, [[txStream]] through `transform` is the source, and each
    * micro-batch, cut to the confirmation depth, lands in epoch `base +
    * batch id` of the store at `out`. `start` runs the writer (its
    * trigger is the one other difference between the ingests). Returns
    * the base and what `start` returns. */
  private def ingestTxs[R](s: SparkSession, dir: String, out: String,
      watermark: Long, tipMargin: Long, maxFilesPerTrigger: Option[Int],
      checkpoint: Option[String], epochBase: Long)(
      transform: DataFrame => DataFrame)(
      start: DataStreamWriter[Row] => R): (Long, R) = {
    val base = landingBase(s, out, watermark, checkpoint, epochBase)
    // ST5 inside the epoch: the margin cut is a broadcast join on the
    // (static) batch frame — the epoch stays fully distributed
    val cut = belowTip(s, dir, tipMargin)
    (base, start(Streams.sink(transform(
      txStream(s, dir, watermark, maxFilesPerTrigger))) { (batch, epoch) =>
      ChainStore.writeTransactionsEpoch(cut(batch), out, base + epoch)
    }))
  }

  /** The orders stream with every 97th tx re-delivered as an exact
    * replay — what the dedup ingests must drop. */
  private def withReplays(tx: DataFrame): DataFrame =
    tx.unionByName(tx.filter(col("tx_id") % 97 === 0))

  /** ST3 production shape: stream → [[Streams.sink]] → deterministic
    * dynamic overwrite of (bucket, epoch) partitions via the ChainStore
    * sink. Exactly-once per epoch without a transactional sink: an
    * epoch's partition set is a pure function of (its data, its batch
    * id), so replaying the epoch rewrites exactly its own partitions to
    * the same content — and because the epoch id is IN the partition
    * key, a bucket whose rows span several micro-batches keeps every
    * batch's rows (a bucket-only overwrite would wipe the earlier ones).
    * `maxFilesPerTrigger` caps epoch size — at 100 TB an AvailableNow
    * catch-up run must bound its epochs or the first one is the backlog.
    *
    * Epoch ids land at `base + batch id`, `base` as [[landingBase]]
    * picks it (at least `epochBase`); returns `base`. */
  def ingestToStore(s: SparkSession, dir: String, out: String,
      watermark: Long, tipMargin: Long = 0L,
      maxFilesPerTrigger: Option[Int] = None,
      checkpoint: Option[String] = None,
      epochBase: Long = 0L): Long =
    ingestTxs(s, dir, out, watermark, tipMargin, maxFilesPerTrigger,
      checkpoint, epochBase)(identity)(Streams.runOnce(_, checkpoint))._1

  /** ST4 recovery, step 2 — the full reorg-recovery path the reference
    * operator runs after the guard trips (blocksci_export.py:492-495
    * refuses; the documented manual remedy is "roll the keyspace back
    * below the fork point and re-export"): roll the sink back to the
    * surviving tip, then re-ingest the replacement range from the
    * post-reorg source with a FRESH checkpoint, landing in an epoch
    * namespace above everything already in the store so the recovery
    * run can never dynamic-overwrite a surviving partition.
    *
    * Returns the recovery run's epoch base: every row with
    * `ingest_epoch >= base` was landed BY the recovery (the namespace
    * membership test callers use to verify exactly the orphaned range
    * was rewritten — epoch VALUES are run-relative, never stable
    * constants: a multi-batch or multi-run history shifts them). */
  def recoverFromReorg(s: SparkSession, dir: String, out: String,
      newTip: Long, checkpoint: Option[String] = None): Long = {
    ChainStore.rollbackAbove(s, out, newTip)
    // the deepest reorg (fork below every landed block) leaves an EMPTY
    // store, which resumeGuard reports as no epoch: base 0
    ingestToStore(s, dir, out, watermark = newTip, checkpoint = checkpoint)
  }

  /** Stateful streaming dedup (W2 in motion): the source re-delivers
    * every 97th tx as an exact replay; `dropDuplicates("tx_hash")` keeps
    * one copy per hash across micro-batches through the dedup state
    * store, and the surviving rows land through the same idempotent
    * epoch-keyed sink. State here is UNBOUNDED (full hash history) —
    * fine for an AvailableNow catch-up run; a continuously-running
    * deployment uses [[dedupedIngestBounded]]. */
  def dedupedIngest(s: SparkSession, dir: String, out: String,
      watermark: Long): Unit =
    ingestTxs(s, dir, out, watermark, 0L, None, None, 0L)(
      withReplays(_).dropDuplicates("tx_hash"))(Streams.runOnce(_, None))

  /** Bounded-state streaming dedup — the continuous-deployment form:
    * event time = the tx timestamp, `delay` of allowed lateness, and
    * `dropDuplicatesWithinWatermark` so each hash's dedup state is
    * EVICTED once the watermark passes its event time + delay. Replays
    * arriving within the window are dropped (same result as the
    * unbounded form on an in-order source); a replay arriving after its
    * original's state expired lands again — the explicit trade-off that
    * keeps state O(events-per-delay-window) instead of O(history), which
    * is what makes the query safe to leave running forever.
    * StreamingSpec exercises both sides of that boundary. */
  def dedupedIngestBounded(s: SparkSession, dir: String, out: String,
      watermark: Long, delay: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): Unit =
    ingestTxs(s, dir, out, watermark, 0L, maxFilesPerTrigger, None, 0L)(
      withReplays(_)
        .withColumn("tsc", timestamp_seconds(col("ts")))
        .withWatermark("tsc", delay)
        .dropDuplicatesWithinWatermark("tx_hash")
        .drop("tsc"))(Streams.runOnce(_, None))

  /** The SAME ingest query left running: a processing-time trigger
    * instead of AvailableNow, returned as a live handle so the caller
    * owns the lifecycle — new source files are picked up every 500 ms
    * and land through the identical epoch-keyed sink, with the same ST5
    * margin cut as the catch-up path (SCALE.md's "same query left
    * running = real-time sync", demonstrated as tested fact in
    * StreamingSpec). Its private checkpoint is deleted when the query
    * terminates. */
  def ingestContinuously(s: SparkSession, dir: String, out: String,
      watermark: Long, tipMargin: Long = 0L): StreamingQuery = {
    val ckpt = s"target/tmp/${Streams.freshName("ckpt_cont")}"
    ingestTxs(s, dir, out, watermark, tipMargin, None, Some(ckpt), 0L)(
      identity)(w => Streams.startOwningCheckpoint(s,
        w.trigger(Trigger.ProcessingTime(500L)), ckpt))._2
  }

  /** The watermarked hourly window aggregation over a streaming events
    * source: [[graft.queries.EventQueries.hourlyWindows]], the same
    * function the batch `events_window_agg` query calls, so the two
    * sinks below and the batch query aggregate identically (the repo's
    * shared-projection convention, cf. Chain.txProjection). */
  private def windowedEventAggFrame(s: SparkSession, dir: String)
      : DataFrame = {
    val stream = Streams.files(s, dir, "events")
    EventQueries.hourlyWindows(stream
      .withColumn("tsc", timestamp_seconds(
        graft.functions.TimeColumns.epochSeconds(stream)))
      .withWatermark("tsc", "1 hour"))
  }

  /** Complete-mode `frame` run once into a parquet table at `out` that
    * each commit overwrites whole, checkpointed beside it. */
  private def overwriteEachCommit(frame: DataFrame, out: String): Unit =
    Streams.runOnce(Streams.sink(frame)((batch, _) =>
      batch.write.mode("overwrite").parquet(out)).outputMode("complete"),
      Some(s"$out-ckpt"))

  /** The windowed aggregation through the PRODUCTION dashboard-sink
    * path: a complete-mode sink overwriting a parquet summary table per
    * commit — the standard "continuously maintained aggregate table"
    * deployment, AvailableNow here so the final overwrite equals the
    * batch answer exactly (it shares the batch `events_window_agg`
    * oracle). No memory sink, no driver collect; the summary is
    * |windows|×|types| rows, so the per-commit overwrite stays tiny at
    * any input scale. */
  def windowedEventAgg(s: SparkSession, dir: String, out: String): Unit =
    overwriteEachCommit(windowedEventAggFrame(s, dir), out)

  /** The same aggregation run synchronously into a memory sink for
    * test-side parity checks (complete mode so the still-open tail
    * window is emitted too). The same query with `outputMode("append")`
    * + a real trigger is the continuous deployment. */
  def hourlyEventCounts(s: SparkSession, dir: String): DataFrame = {
    val name = Streams.freshName("win")
    Streams.runOnce(windowedEventAggFrame(s, dir)
      .select("hour_ts", "event_type", "n_events")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete"), None)
    s.table(name)
  }

  /** Gap-based sessionization on the streaming events source through
    * the NATIVE session_window operator — the merging-interval state
    * the engine maintains incrementally (an arriving event extends any
    * session whose end it touches, merging neighbors; watermark evicts
    * sessions once no event can reach them). Same complete-mode
    * overwrite deployment as [[windowedEventAgg]], and AvailableNow
    * makes the final overwrite equal the batch answer — it shares
    * `events_sessionize_native`'s oracle, so stream == batch is
    * driver-proven. The aggregation is
    * [[graft.queries.EventQueries.sessionWindows]], the batch query's
    * own. */
  def sessionizedEvents(s: SparkSession, dir: String, out: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "1 hour"): Unit = {
    val stream = Streams.files(s, dir, "events", maxFilesPerTrigger)
    overwriteEachCommit(EventQueries.sessionWindows(stream
      .withColumn("user_id", col("user_id").cast("long"))
      .withColumn("ets", graft.functions.TimeColumns.epochSeconds(stream))
      .withColumn("tsc", timestamp_seconds(col("ets")))
      .withWatermark("tsc", watermarkDelay)), out)
  }

  /** Hash-bucket count of the CDC store — the co-partitioning unit a
    * batch's merge touches (at 100 TB this is the store's real bucket
    * scheme; the key formula must match between the initial write and
    * every apply). */
  val CdcBuckets = 64L

  /** The CDC store's bucket column. */
  def cdcBucket(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(k, lit(CdcBuckets))

  /** Write the initial CDC store: keyed rows under hash-bucket
    * partition dirs, the layout [[cdcApply]] prunes and overwrites. */
  def cdcStoreInit(df: DataFrame, store: String): Unit =
    ChainStore.clustered(df.withColumn("kb", cdcBucket(col("k"))), Seq("kb"),
      col("k")).parquet(store)

  /** Streaming CDC apply — the lakehouse MERGE run continuously, and
    * BUCKET-SCOPED: each micro-batch of change rows (op = U/D/I,
    * keyed by k) derives its touched hash buckets (a bounded ≤
    * CdcBuckets driver list), reads ONLY those partition dirs of the
    * store (pruned at file listing), merges through one full-outer
    * equi-join (matched+U rewrites, matched+D drops, unmatched-I
    * inserts, unmatched-base carries over), and dynamic-overwrites
    * exactly the touched buckets. Per-batch cost ∝ the buckets the
    * batch touches — never the store (a whole-store merge-on-write
    * measured 7.5× worse at 30×, scaling with store size). The merged
    * frame is materialized (lineage severed) before the overwrite so
    * the buckets being read can be rewritten; per-key convergence
    * needs no cross-batch ordering because each key carries at most
    * one op, and replays are idempotent because ops carry absolute
    * values. A micro-batch runs on a cloned session, so the store read
    * goes through the batch frame's session. */
  def cdcApply(s: SparkSession, changesDir: String, store: String): Unit =
    Streams.runOnce(Streams.sink(
        Streams.files(s, changesDir, "changes", Some(1))) { (batch, _) =>
      val b = batch.withColumn("kb", cdcBucket(col("k")))
      val touched = b.select(col("kb")).distinct()
        .collect().map(_.getLong(0))
      if (touched.nonEmpty) {
        val cur = b.sparkSession.read.parquet(store)
          .filter(col("kb").isin(touched: _*))
        val merged = cur.join(b, Seq("kb", "k"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("kb"), col("k"),
            when(col("op").isNotNull, col("new_price"))
              .otherwise(col("price")).as("price"),
            when(col("op").isNotNull, col("new_status"))
              .otherwise(col("status")).as("status"))
        ChainStore.overwritePartitions(graft.operators.Materialize
          .truncate(merged.repartition(col("kb"))), "kb").parquet(store)
      }
    }, Some(s"$store-ckpt"))

  /** Per-micro-batch bottom-k (priority, value) quantile samples through
    * the idempotent epoch sink — the streaming face of
    * `events_quantile_sketch`. Each epoch lands its batch's per-type
    * bottom-256 sample (≤ k·|types| rows however large the batch) under
    * an `ingest_epoch` partition, dynamic-overwritten so replays are
    * idempotent. Bottom-k over pairs is a semilattice morphism, so the
    * union of the landed epoch samples re-pruned once
    * ([[graft.queries.EventQueries.quantileFromSamples]]) equals the
    * one-pass batch sample EXACTLY — stream == batch is provable, not
    * approximate, which is why `stream_quantile` shares the batch
    * oracle. The sampling projection is
    * [[graft.queries.EventQueries.samplePairs]] — the same Catalyst
    * expressions as the batch query, the repo's shared-projection
    * convention. */
  def quantileSampleIngest(s: SparkSession, dir: String, out: String,
      maxFilesPerTrigger: Option[Int] = None): Unit =
    Streams.runOnce(Streams.sink(
        Streams.files(s, dir, "events", maxFilesPerTrigger)
          .select(col("event_id"), col("event_type"), col("value"))) {
      (batch, epoch) => ChainStore.landEpoch(
        EventQueries.samplePairs(s, batch), out, epoch, Nil)
    }, None)
}
