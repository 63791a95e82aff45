package graft

import org.apache.spark.sql.functions._

import graft.chain.Chain
import graft.streaming.IncrementalIngest

/** Streaming incremental ingest must agree with the batch path (ST2) and
  * the reorg guard must hold (ST4). */
class StreamingSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** The live queries' `target/tmp/ckpt_cont_*` checkpoints, once every
    * termination event has reached its listeners. */
  private def liveCkpts(): Set[String] = {
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    Option(new java.io.File("target/tmp").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("ckpt_cont_")).toSet
  }

  test("stream AvailableNow equals batch filter above watermark") {
    val dir = sf("sf0.001")
    val wm = 1500L
    val streamed = IncrementalIngest.newTxsBeyond(spark, dir, wm)
    val batch = Chain.transactions(spark, dir).filter(col("block_id") > wm)
    assert(streamed.count() === batch.count())
    assert(streamed.agg(sum("tx_id")).as[Long].head() ===
      batch.agg(sum("tx_id")).as[Long].head())
  }

  test("watermarked windowed stream agg equals batch hourly counts") {
    val dir = sf("sf0.001")
    val streamed = IncrementalIngest.hourlyEventCounts(spark, dir)
    val batch = SparkEntry.queries("events_window_agg")(spark, dir)
      .select("hour_ts", "event_type", "n_events")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("session windows merge correctly across micro-batches") {
    val dir = sf("sf0.001")
    // split the events table into 3 time-range files so sessions SPAN
    // micro-batch boundaries (maxFilesPerTrigger=1 → three batches):
    // the merging-interval state must stitch a session whose events
    // arrive in different batches, and the final complete-mode output
    // must equal the one-shot batch sessionization exactly.
    val src = tempDir("sessrc_")
    val ev = spark.read.parquet(s"$dir/events.parquet")
    ev.withColumn("__e", graft.functions.TimeColumns.epochSeconds(ev))
      .repartitionByRange(3, col("__e")).drop("__e")
      .write.mode("overwrite").parquet(s"$src/events.parquet")
    assert(new java.io.File(s"$src/events.parquet")
      .listFiles().count(_.getName.endsWith(".parquet")) === 3)
    val out = s"$src/sessout"
    // huge watermark delay: micro-batch file order is listing-dependent,
    // and a later-range batch arriving first would otherwise advance the
    // watermark past earlier batches (late-drop) — this test pins the
    // cross-batch MERGE, not eviction
    IncrementalIngest.sessionizedEvents(spark, src, out,
      maxFilesPerTrigger = Some(1), watermarkDelay = "3650 days")
    val streamed = spark.read.parquet(out)
    val batch = SparkEntry.queries("events_sessionize_native")(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("CDC apply replay converges: absolute-assignment merges are " +
      "idempotent") {
    val dir = sf("sf0.001")
    val out = tempDir("cdcrep_")
    val base = graft.queries.RelQueries.cdcBase(spark, dir)
    IncrementalIngest.cdcStoreInit(
      base.select("k", "price", "status"), s"$out/store")
    graft.queries.RelQueries.cdcChanges(base).coalesce(1)
      .write.mode("overwrite").parquet(s"$out/changes.parquet")
    IncrementalIngest.cdcApply(spark, out, s"$out/store")
    val once = spark.read.parquet(s"$out/store")
      .agg(sum(col("k")), sum(col("price")), count(lit(1))).collect().toSeq
    // a fresh checkpoint replays the whole change stream against the
    // ALREADY-MERGED store — U/D/I rows carry absolute values, so the
    // re-application must be a fixpoint, not a second increment
    graft.ops.Tiers.deleteRecursively(new java.io.File(s"$out/store-ckpt"))
    IncrementalIngest.cdcApply(spark, out, s"$out/store")
    val twice = spark.read.parquet(s"$out/store")
      .agg(sum(col("k")), sum(col("price")), count(lit(1))).collect().toSeq
    assert(twice === once)
  }

  test("foreachBatch bucket sink is exactly-once under replay") {
    val dir = sf("sf0.001")
    val out = tempDir("ing_")
    val wm = 2000L
    IncrementalIngest.ingestToStore(spark, dir, out, wm)
    val once = graft.chain.ChainStore.readTransactions(spark, out)
    val expect = Chain.transactions(spark, dir).filter(col("block_id") > wm)
    assert(once.count() === expect.count())
    // an in-place re-ingest below the sink max is REFUSED: a fresh
    // run's epoch numbering restarts, so it could leave stale epoch
    // partitions from the first run next to its own rewrites
    intercept[IllegalArgumentException] {
      IncrementalIngest.ingestToStore(spark, dir, out, wm)
    }
    // resuming AT the sink max is legal and a no-op
    val sinkMax = once.agg(max("block_id")).as[Long].head()
    IncrementalIngest.ingestToStore(spark, dir, out, sinkMax)
    assert(graft.chain.ChainStore.readTransactions(spark, out).count() ===
      expect.count())
    // full rebuild path: wipe the store, redo with a fresh checkpoint —
    // must converge to the identical state
    graft.ops.Tiers.deleteRecursively(new java.io.File(s"$out/transaction"))
    IncrementalIngest.ingestToStore(spark, dir, out, wm)
    val redo = graft.chain.ChainStore.readTransactions(spark, out)
    assert(redo.count() === expect.count())
    assert(redo.agg(sum("tx_id")).as[Long].head() ===
      expect.agg(sum("tx_id")).as[Long].head())
  }

  test("multi-batch epochs stay additive in a shared bucket") {
    val dir = sf("sf0.001")
    val src = tempDir("mbsrc_")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    // two source files = two micro-batches under maxFilesPerTrigger=1;
    // every sf0.001 tx lands in tx bucket 0, so a bucket-keyed overwrite
    // would wipe batch 1's rows when batch 2 lands
    orders.filter(col("o_orderkey") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/orders.parquet")
    orders.filter(col("o_orderkey") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/orders2.parquet")
    val out = tempDir("mb_")
    IncrementalIngest.ingestToStore(spark, src, out, -1L, 0L,
      maxFilesPerTrigger = Some(1))
    val raw = spark.read.parquet(s"$out/transaction")
    assert(raw.select("ingest_epoch").distinct().count() >= 2,
      "expected the source to split into multiple epochs")
    val got = graft.chain.ChainStore.readTransactions(spark, out)
    assert(got.count() === orders.count())
    assert(got.agg(sum("tx_id")).as[Long].head() ===
      Chain.txProjection(orders).agg(sum("tx_id")).as[Long].head())
  }

  test("a resumed Graft.ingest lands above the first run's epochs") {
    val dir = sf("sf0.001")
    val out = tempDir("resume_")
    val derived = Chain.transactions(spark, dir)
    val tip = derived.agg(max("block_id")).as[Long].head()
    // head: every block up to the middle height; each run gets a fresh
    // checkpoint, so both runs number their batches from 0 and every
    // sf0.001 tx shares tx bucket 0
    Graft.ingest(spark, dir, out, -1L, tipMargin = tip / 2)
    val head = graft.chain.ChainStore.readTransactions(spark, out)
    val headMax = head.agg(max("block_id")).as[Long].head()
    assert(head.count() === derived.filter(col("block_id") <= headMax).count())
    // tail: resumes at the sink max and must not overwrite the head
    Graft.ingest(spark, dir, out, headMax)
    val epochs = spark.read.parquet(s"$out/transaction")
      .select(col("ingest_epoch").cast("long")).distinct().as[Long]
      .collect().sorted.toSeq
    assert(epochs.size >= 2 && epochs.head === 0L, s"epochs: $epochs")
    val got = graft.chain.ChainStore.readTransactions(spark, out)
      .select(derived.columns.toIndexedSeq.map(col): _*)
    assert(got.count() === derived.count())
    assert(got.exceptAll(derived).isEmpty && derived.exceptAll(got).isEmpty)
  }

  test("Graft.ingestLive after a catch-up Graft.ingest keeps every row") {
    val dir = sf("sf0.001")
    val out = tempDir("live_")
    val derived = Chain.transactions(spark, dir)
    val tip = derived.agg(max("block_id")).as[Long].head()
    // the catch-up run lands the head in epoch 0; the live query's own
    // checkpoint numbers its batches from 0 again
    Graft.ingest(spark, dir, out, -1L, tipMargin = tip / 2)
    val headMax = graft.chain.ChainStore.readTransactions(spark, out)
      .agg(max("block_id")).as[Long].head()
    val ckptsBefore = liveCkpts()
    val q = Graft.ingestLive(spark, dir, out, headMax)
    try q.processAllAvailable() finally q.stop()
    assert(liveCkpts() -- ckptsBefore === Set.empty[String],
      "the stopped live query's checkpoint must be deleted")
    val got = graft.chain.ChainStore.readTransactions(spark, out)
      .select(derived.columns.toIndexedSeq.map(col): _*)
    assert(got.count() === derived.count())
    assert(got.exceptAll(derived).isEmpty && derived.exceptAll(got).isEmpty)
  }

  test("a resumed checkpoint keeps the epoch base it was started with") {
    val dir = sf("sf0.001")
    val out = tempDir("ckbase_")
    val ckpt = s"$out-ckpt"
    val tx = Chain.transactions(spark, dir)
    val tip = tx.agg(max("block_id")).as[Long].head()
    graft.chain.ChainStore.writeTransactionsEpoch(
      tx.filter(col("block_id") <= tip / 2), out, 0L)
    // a new checkpoint lands above the store's newest epoch...
    assert(IncrementalIngest.ingestToStore(spark, dir, out, tip / 2,
      checkpoint = Some(ckpt)) === 1L)
    // ...and keeps that base when resumed, whatever landed since
    graft.chain.ChainStore.writeTransactionsEpoch(
      tx.filter(col("block_id") === tip), out, 7L)
    assert(IncrementalIngest.ingestToStore(spark, dir, out, tip,
      checkpoint = Some(ckpt)) === 1L)
    // a checkpoint started without the record keeps the given base
    graft.ops.Tiers.deleteRecursively(
      new java.io.File(s"$ckpt/_graft_epoch_base"))
    assert(IncrementalIngest.ingestToStore(spark, dir, out, tip,
      checkpoint = Some(ckpt), epochBase = 3L) === 3L)
  }

  test("ChainStore and Graft.ingest leave the caller's overwrite mode alone") {
    val dir = sf("sf0.001")
    val key = "spark.sql.sources.partitionOverwriteMode"
    // a session of its own, so the check sees only what these calls did
    val s = spark.newSession()
    val before = s.conf.get(key)
    val tx = Chain.transactions(s, dir)
    val out = tempDir("mode_")
    graft.chain.ChainStore.writeTransactions(tx, out)
    assert(s.conf.get(key) === before)
    // still a dynamic overwrite: a second bucket lands beside the first
    graft.chain.ChainStore.writeTransactions(
      tx.withColumn("tx_id_group", lit(7L)), out)
    assert(graft.chain.ChainStore.readTransactions(s, out).count() ===
      2 * tx.count())
    Graft.ingest(s, dir, tempDir("modeingest_"), -1L)
    assert(s.conf.get(key) === before)
  }

  test("runs without a checkpoint leave no checkpoint behind") {
    val dir = sf("sf0.001")
    def ckpts(): Set[String] =
      Option(new java.io.File("target/tmp").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("ckpt_")).toSet
    val before = ckpts()
    Graft.ingest(spark, dir, tempDir("nockpt_"), -1L)
    assert(IncrementalIngest.newTxsBeyond(spark, dir, 1500L).count() > 0)
    assert(IncrementalIngest.hourlyEventCounts(spark, dir).count() > 0)
    assert(ckpts() -- before === Set.empty[String])
  }

  test("quantile sample merges across epochs to the exact batch sketch") {
    val dir = sf("sf0.001")
    val src = tempDir("qssrc_")
    val events = spark.read.parquet(s"$dir/events.parquet")
    // two source files = two micro-batches: the landed per-epoch
    // samples must re-prune to EXACTLY the one-pass batch sample
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$src/events.parquet")
    events.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$src/events2.parquet")
    val out = tempDir("qs_")
    IncrementalIngest.quantileSampleIngest(spark, src, out,
      maxFilesPerTrigger = Some(1))
    val landed = spark.read.parquet(out)
    assert(landed.select("ingest_epoch").distinct().count() >= 2,
      "expected the source to split into multiple epochs")
    val got = graft.queries.EventQueries
      .quantileFromSamples(spark, landed)
    val want = graft.queries.EventQueries.quantileFromSamples(spark,
      graft.queries.EventQueries.samplePairs(spark,
        events.select(col("event_id"), col("event_type"), col("value"))))
    assert(got.orderBy("event_type").collect().toSeq ===
      want.orderBy("event_type").collect().toSeq,
      "merged epoch samples must equal the one-pass batch sketch")
  }

  test("continuous processing-time trigger catches up with new files") {
    val dir = sf("sf0.001")
    val src = tempDir("contsrc_")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val first = orders.filter(col("o_orderkey") % 2 === 0)
    val second = orders.filter(col("o_orderkey") % 2 === 1)
    first.coalesce(1).write.parquet(s"$src/orders.parquet")
    val out = tempDir("cont_")
    val ckptsBefore = liveCkpts()
    val q = IncrementalIngest.ingestContinuously(spark, src, out, -1L)
    try {
      q.processAllAvailable()
      assert(graft.chain.ChainStore.readTransactions(spark, out).count() ===
        first.count())
      // feed a second file while the query is live: the running trigger
      // must pick it up and the store must catch up to the full set
      second.coalesce(1).write.parquet(s"$src/orders2.parquet")
      q.processAllAvailable()
      assert(graft.chain.ChainStore.readTransactions(spark, out).count() ===
        orders.count())
    } finally q.stop()
    assert(liveCkpts() -- ckptsBefore === Set.empty[String],
      "the stopped live query's checkpoint must be deleted")
  }

  test("bounded dedup drops within-watermark replays, accepts post-eviction ones") {
    val dir = sf("sf0.001")
    val src = tempDir("ddbsrc_")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val sample = orders.filter(col("o_orderkey") % 250 === 0)
    val filler = orders.filter(col("o_orderkey") % 250 === 1)
    // batch 1: the sample. batch 2: disjoint filler keys dated +15 days —
    // advances the watermark so batch 1's dedup state gets evicted.
    // batch 3: the sample's order keys again (same tx_hash), re-dated
    // +1700 days so the replays sit ABOVE the post-filler watermark —
    // a replay dated below it would be discarded as late data before
    // the dedup operator ever saw it, which is a different (also
    // correct) bounded-state outcome than the eviction path under test.
    sample.coalesce(1).write.parquet(s"$src/orders.parquet")
    filler.withColumn("o_orderdate", date_add(col("o_orderdate"), 15))
      .coalesce(1).write.parquet(s"$src/orders2.parquet")
    sample.withColumn("o_orderdate", date_add(col("o_orderdate"), 1700))
      .coalesce(1).write.parquet(s"$src/orders3.parquet")
    val out = tempDir("ddb_")
    IncrementalIngest.dedupedIngestBounded(spark, src, out, -1L,
      delay = "1 hour", maxFilesPerTrigger = Some(1))
    val tx1 = Chain.txProjection(sample)
    val n1 = tx1.count()
    val maxTs = tx1.agg(max("ts")).as[Long].head()
    // hashes strictly older than the sample's newest day are certainly
    // evicted before batch 3, so their replays MUST land again (bounded
    // state's explicit trade-off); whether the newest-day hash was also
    // evicted depends on the eviction boundary, so bound, don't pin it
    val expectTwiceAtLeast = tx1.filter(col("ts") < maxTs).count()
    val byHash = graft.chain.ChainStore.readTransactions(spark, out)
      .groupBy("tx_hash").count()
    val twice = byHash.filter(col("count") === 2).count()
    assert(byHash.count() === n1 + filler.count())
    assert(twice >= expectTwiceAtLeast && expectTwiceAtLeast >= 1,
      s"post-eviction replays must land again (got $twice twice-landed, " +
        s"expected >= $expectTwiceAtLeast)")
    assert(byHash.agg(max("count")).as[Long].head() <= 2,
      "no hash may land more than twice in this scenario")
  }

  test("stream-stream attribution join equals the batch join and replays clean") {
    val dir = sf("sf0.001")
    val out = tempDir("attr_")
    graft.streaming.StreamJoin.attributionJoin(spark, dir, out)
    val w = graft.streaming.StreamJoin.AttributionWindowSec
    val raw = Chain.table(spark, dir, "events")
    val e = raw.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"), col("event_type"),
      graft.functions.TimeColumns.epochSeconds(raw).as("ets"))
    val batch = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ets").as("view_ets"))
      .join(e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ets").as("purchase_ets")),
        Seq("user_id"))
      .filter(col("view_ets") >= col("purchase_ets") - w &&
        col("view_ets") <= col("purchase_ets"))
      .select("user_id", "view_id", "purchase_id", "view_ets", "purchase_ets")
    def pairs() = graft.streaming.StreamJoin.readPairs(spark, out)
      .select("user_id", "view_id", "purchase_id", "view_ets", "purchase_ets")
    assert(pairs().count() > 0)
    assert(pairs().exceptAll(batch).count() === 0)
    assert(batch.exceptAll(pairs()).count() === 0)
    // full replay (fresh checkpoint, same store): epoch overwrite must
    // leave the identical pair set, never duplicates
    graft.streaming.StreamJoin.attributionJoin(spark, dir, out)
    assert(pairs().exceptAll(batch).count() === 0)
    assert(batch.exceptAll(pairs()).count() === 0)
  }

  test("resume guard refuses a batch-layout store") {
    val dir = sf("sf0.001")
    val out = tempDir("mix_")
    // batch layout: partition dirs are tx_id_group only — an epoch-keyed
    // streaming resume into this root would mix partition-dir depths and
    // break parquet partition discovery on the next read
    graft.chain.ChainStore.writeTransactions(
      Chain.transactions(spark, dir), out)
    // the same store as a file: URI must be probed through its own
    // FileSystem, not seen as absent
    Seq(out, s"file:${new java.io.File(out).getAbsolutePath}").foreach { o =>
      val ex = intercept[IllegalArgumentException] {
        IncrementalIngest.resumeGuard(spark, o, Long.MaxValue)
      }
      assert(ex.getMessage.contains("batch layout"), o)
    }
    // and the ingest entry points are guarded the same way
    intercept[IllegalArgumentException] {
      IncrementalIngest.ingestToStore(spark, dir, out, Long.MaxValue)
    }
  }

  test("reorg guard refuses sink ahead of source") {
    IncrementalIngest.reorgGuard(sourceTip = 100L, sinkMax = 100L)
    intercept[IllegalArgumentException] {
      IncrementalIngest.reorgGuard(sourceTip = 100L, sinkMax = 101L)
    }
  }

  test("rollback retry converges after a crash in the worst window") {
    val dir = sf("sf0.001")
    val out = tempDir("reorgcrash_")
    IncrementalIngest.ingestToStore(spark, dir, out, 0L,
      checkpoint = Some(s"$out-ckpt"))
    val full = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val newTip = full.map(_._2).max - 3
    // die after staging completed but before any live partition moved:
    // the live store must be byte-identical to pre-rollback state
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip,
      crashAfterStaging = true)
    assert(new java.io.File(
      s"$out/transaction__rollback/_GRAFT_STAGED").exists())
    val mid = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mid === full, "crash before the swap must leave live intact")
    // the retry resumes the swap first, then completes the rollback
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip)
    val after = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === full.filter(_._2 <= newTip))
    assert(!new java.io.File(s"$out/transaction__rollback").exists(),
      "staging discarded after the completed retry")
  }

  test("rollback retry converges after a crash HALFWAY through the swap") {
    val dir = sf("sf0.001")
    val out = tempDir("reorgmidswap_")
    IncrementalIngest.ingestToStore(spark, dir, out, 0L,
      checkpoint = Some(s"$out-ckpt"))
    val full = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val newTip = full.map(_._2).max - 3
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip,
      crashAfterStaging = true)
    // simulate dying mid-swap: move exactly ONE staged partition into
    // the live tree (delete target + rename, what finishRollbackSwap
    // does per partition) and leave the marker + the rest staged
    val staging = new java.io.File(s"$out/transaction__rollback")
    val staged = for {
      g <- staging.listFiles().toSeq if g.isDirectory
      e <- g.listFiles().toSeq if e.isDirectory
    } yield (g.getName, e.getName)
    assert(staged.nonEmpty, "fixture must stage at least one partition")
    val (g0, e0) = staged.head
    val target = new java.io.File(s"$out/transaction/$g0/$e0")
    graft.ops.Tiers.deleteRecursively(target)
    assert(new java.io.File(s"$staging/$g0/$e0")
      .renameTo(target), "manual partial swap failed")
    // the retry must finish the remaining swaps and converge
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip)
    val after = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === full.filter(_._2 <= newTip),
      "mid-swap crash retry must converge to the rolled-back store")
    assert(!staging.exists(), "staging discarded after the completed retry")
  }

  test("reorg rollback is bucket-scoped and recovery converges") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val out = tempDir("reorg_")
    // two-epoch history, the long-lived-store shape: epoch 0 is the old
    // chain body (everything at least 1000 blocks below tip), epoch 1
    // the recent range — a shallow reorg then only touches the recent
    // epoch's partitions
    val tip = Chain.transactions(spark, dir)
      .agg(org.apache.spark.sql.functions.max(col("block_id")))
      .head().getLong(0)
    IncrementalIngest.ingestToStore(spark, dir, out, 0L, tipMargin = 1000L,
      checkpoint = Some(s"$out-ckpt0"))
    IncrementalIngest.ingestToStore(spark, dir, out, tip - 1000L,
      checkpoint = Some(s"$out-ckpt1"), epochBase = 1L)
    val store = s"$out/transaction"
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    val full = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val newTip = tip - 3
    // the guard trips with the sink ahead of the post-reorg tip
    intercept[IllegalArgumentException] {
      IncrementalIngest.reorgGuard(newTip, sinkMax = tip)
    }
    // rollback removes exactly the orphaned range...
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip)
    val after = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === full.filter(_._2 <= newTip))
    // ...and is BUCKET-SCOPED: every parquet file of an unaffected
    // (tx_id_group, ingest_epoch) partition is the same file (same
    // path, same mtime) — only orphan-bearing partitions (all in the
    // recent epoch here) were rewritten
    val untouched = before.filter { case (p, _) =>
      !p.contains("ingest_epoch=1") }
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, m) =>
      assert(files().get(p).contains(m), s"unaffected file rewritten: $p")
    }
    // rollback is idempotent
    graft.chain.ChainStore.rollbackAbove(spark, out, newTip)
    // recovery re-ingests the replacement range in a fresh epoch
    // namespace and converges to the full chain
    IncrementalIngest.recoverFromReorg(spark, dir, out, newTip,
      checkpoint = Some(s"$out-ckpt2"))
    val recovered = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered === full)
    // the recovered range landed ABOVE the surviving epochs, so the
    // recovery run cannot have dynamic-overwritten surviving partitions
    val gens = spark.read.parquet(store)
      .groupBy((col("block_id") > newTip).as("replaced"))
      .agg(countDistinct(col("ingest_epoch")).as("n"),
        max(col("ingest_epoch").cast("long")).as("mx"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(gens(true)._2 > gens(false)._2)
  }

  test("deepest reorg (fork below every landed block) recovers from an empty store") {
    val dir = sf("sf0.001")
    val out = tempDir("reorgdeep_")
    IncrementalIngest.ingestToStore(spark, dir, out, 0L,
      checkpoint = Some(s"$out-ckpt"))
    val full = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fork point below the earliest landed block: rollback EMPTIES the
    // store, so the recovery epoch-base read must treat the unreadable
    // (schema-less) store as base 0 instead of failing
    val newTip = full.map(_._2).min - 1
    val base = IncrementalIngest.recoverFromReorg(spark, dir, out, newTip,
      checkpoint = Some(s"$out-ckpt2"))
    assert(base === 0L, "empty store must restart the epoch namespace at 0")
    val recovered = graft.chain.ChainStore.readTransactions(spark, out)
      .select("tx_id", "block_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered === full.filter(_._2 > newTip),
      "recovery from the deepest reorg must re-land the whole chain")
  }

  test("streamed all-pairs across two micro-batches equals one-shot, " +
      "and an epoch replay is a fixpoint") {
    import graft.streaming.CorpusIngest
    // sf0.01: the %13 arriving slice carries a genuine CROSS-batch pair
    // ((26, 455) — 26 lands in batch 0, 455 in batch 1), so the later
    // batch's probe against the earlier one's landed prefix is
    // exercised with a real qualifying pair, not vacuously
    val dir = sf("sf0.01")
    val out = tempDir("ap_")
    val mod = CorpusIngest.AllPairsBatchMod
    val docs = Chain.table(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val arriving = docs.filter(col("doc_id") % mod === 0)
    // split the arriving slice in two so cross-batch pairs exist and
    // must be generated by the LATER batch against the earlier one's
    // landed prefix
    val b0 = arriving.filter(col("doc_id") % (2 * mod) === 0)
    val b1 = arriving.filter(col("doc_id") % (2 * mod) =!= 0)
    CorpusIngest.applyAllPairsBatch(spark, dir, out, b0, 0L)
    CorpusIngest.applyAllPairsBatch(spark, dir, out, b1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("doc_a", "doc_b", "overlap")
        .as[(Long, Long, Long)].collect().toSet
    val oneShot = rows(graft.api.Text.allPairsCosine(
      graft.ops.TextCorpus.docShingles(spark, dir)))
    def landedState(): Set[(Long, Long, Long)] =
      rows(graft.ops.DedupMaterialize.allPairsBaseTable(spark, dir, mod)
        .unionByName(spark.read.parquet(s"$out/pairs")
          .select("doc_a", "doc_b", "overlap", "na", "nb", "cos_sq_bps")))
    val afterTwo = landedState()
    assert(afterTwo === oneShot,
      "base + two landed batches must equal the one-shot join")
    val cross = afterTwo.filter { case (a, b, _) =>
      (a % (2 * mod) == 0) != (b % (2 * mod) == 0) &&
        a % mod == 0 && b % mod == 0
    }
    assert(cross.nonEmpty, "fixture must exercise a cross-batch pair")
    // replaying epoch 1 (failed-commit rerun) must not change the state:
    // the landed reads are restricted to strictly prior epochs, so the
    // replay recomputes identical pairs and dynamic-overwrites its own
    // partition
    CorpusIngest.applyAllPairsBatch(spark, dir, out, b1, 1L)
    assert(landedState() === oneShot, "epoch replay must be a fixpoint")
  }
}
