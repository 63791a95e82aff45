package graft.chain

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame,
  DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The sink side of the reference contract: partitioned, ordered,
  * idempotently-overwritable table storage (S5/ST3, schema.cql PK design).
  *
  * Cassandra's `(bucket, id)` primary keys become Hive-style partition
  * directories on the bucket column, each file sorted on the clustering
  * column ([[clustered]]) — a point lookup prunes to one bucket directory
  * and one parquet row group (min/max stats on the sorted id column).
  *
  * Idempotence (the reference's INSERT-by-PK last-write-wins, ST3) is
  * dynamic partition overwrite: re-ingesting a block range rewrites only
  * the touched buckets, so replays converge to the same state.
  *
  * 100 TB partition math: tx buckets are 25k txs ≈ a few MB of scalars —
  * at full history (~1e9 txs) that is ~40k directories, fine for a real
  * metastore; the nested-io transaction table at ~1 KB/tx makes a bucket
  * ~25 MB ≈ one comfortable parquet row group per bucket.
  *
  * This object is also the one place that touches a store's files: the
  * probes, one-number markers and absent-or-empty reads below, both
  * crash-safe rewrites ([[stagedRewrite]], [[rollbackAbove]]), and the
  * reader of immutable inputs ([[parquet]]).
  */
object ChainStore extends ChainSink {

  /** `path` on its OWN Hadoop FileSystem: hdfs://, s3a:// and file: URIs
    * all resolve, where a java.io.File probe sees every non-local store
    * as absent (a resume would then restart at block or epoch 0). */
  private def fileSystem(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def exists(s: SparkSession, path: String): Boolean = {
    val (fs, p) = fileSystem(s, path)
    fs.exists(p)
  }

  /** Recursive delete; an absent path is a no-op. */
  private[graft] def delete(s: SparkSession, path: String): Unit = {
    val (fs, p) = fileSystem(s, path)
    fs.delete(p, true); ()
  }

  /** A one-number marker file (decimal UTF-8); None when absent. */
  private[graft] def readLong(s: SparkSession, path: String): Option[Long] = {
    val (fs, p) = fileSystem(s, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Write a marker in [[readLong]]'s format; without `overwrite` an
    * existing marker makes the create fail. */
  private[graft] def writeLong(s: SparkSession, path: String, v: Long,
      overwrite: Boolean): Unit = {
    val (fs, p) = fileSystem(s, path)
    val o = fs.create(p, overwrite)
    try o.write(v.toString.getBytes(UTF_8)) finally o.close()
  }

  /** The parquet table `out/name`, or None when the directory is absent
    * or holds no parquet file — the state a rollback below every landed
    * block, or an epoch that landed no rows, leaves behind. */
  private[graft] def table(s: SparkSession, out: String,
      name: String): Option[DataFrame] =
    if (!exists(s, s"$out/$name")) None
    else
      try Some(s.read.parquet(s"$out/$name"))
      catch {
        case e: AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }

  /** What a remembered schema was inferred under: the top-level listing
    * (name, length, mtime) and the session's explicitly set parquet
    * confs. */
  private final case class Stamp(listing: Seq[(String, Long, Long)],
      confs: Map[String, String])

  /** One remembered schema per qualified path, replaced when its stamp
    * changes, so the memo never outgrows the set of paths read. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  /** A parquet input whose content does not change under a given
    * listing — a fixture table or a parked tier — read with the schema
    * Spark inferred the first time it saw this path with this listing
    * and these parquet confs: a repeat read starts no schema-inference
    * job, while a rewritten table, a re-parked tier or a session that
    * reads parquet under other settings infers again. Mutable stores
    * (sink tables, stream outputs) change their listing with every
    * write and read through [[table]] / [[readTransactions]] instead.
    * Two threads racing on one miss may both infer, which is harmless. A
    * missing path raises Spark's own `PATH_NOT_FOUND`. */
  private[graft] def parquet(s: SparkSession, path: String): DataFrame = {
    val (fs, p) = fileSystem(s, path)
    val listing =
      try Some(fs.listStatus(p).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sorted)
      catch { case _: FileNotFoundException => None }
    listing.fold(s.read.parquet(path)) { files =>
      val stamp = Stamp(files, s.conf.getAll.filter(_._1.contains("parquet")))
      val key = fs.makeQualified(p).toString
      Option(schemas.get(key)).filter(_._1 == stamp) match {
        case Some((_, known)) => s.read.schema(known).parquet(path)
        case None =>
          val df = s.read.parquet(path)
          schemas.put(key, (stamp, df.schema))
          df
      }
    }
  }

  /** The idempotent partitioned overwrite: rewrites exactly the `cols`
    * partitions `df` holds and keeps every other one. Dynamic mode is an
    * option of this one write (Spark reads it before the session
    * default), so no session changes — neither the caller's nor a
    * stream batch's clone. */
  private[graft] def overwritePartitions(df: DataFrame,
      cols: String*): DataFrameWriter[Row] =
    df.write.option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").partitionBy(cols: _*)

  /** The one bucket layout, schema.cql's `(bucket, id)` primary keys as
    * files: rows hash-partitioned on the partition-directory columns
    * `dirs`, so one task writes each directory's one file, and sorted
    * inside each task by `dirs` first and `clustering` after, then
    * written as [[overwritePartitions]]. Leading with every directory
    * column is what lets the clustering order reach the files: Spark's
    * planned write sorts its input by the partition columns unless that
    * input already is, and its sort replaces any other (a
    * `sortWithinPartitions(id)` alone comes out as one `Sort [bucket
    * ASC]`). Either way each write runs exactly one Sort. */
  private[graft] def clustered(df: DataFrame, dirs: Seq[String],
      clustering: Column*): DataFrameWriter[Row] = {
    val keys = dirs.map(col)
    overwritePartitions(
      df.repartition(keys: _*).sortWithinPartitions(keys ++ clustering: _*),
      dirs: _*)
  }

  /** The one epoch landing: `df` tagged `ingest_epoch = epoch` and
    * dynamic-overwritten into `path` under that partition, so replaying
    * an epoch rewrites exactly its own directories and other epochs
    * stay. With `buckets` the epoch sits below them in the
    * [[clustered]] layout; without, the rows keep their partitioning. */
  private[graft] def landEpoch(df: DataFrame, path: String, epoch: Long,
      buckets: Seq[String], clustering: Column*): Unit = {
    val tagged = df.withColumn("ingest_epoch", lit(epoch))
    (if (buckets.isEmpty) overwritePartitions(tagged, "ingest_epoch")
     else clustered(tagged, buckets :+ "ingest_epoch", clustering: _*))
      .parquet(path)
  }

  /** transaction table: partition dirs by tx_id_group, rows ordered by
    * tx_id inside each bucket. */
  def writeTransactions(tx: DataFrame, out: String): Unit =
    clustered(tx, Seq("tx_id_group"), col("tx_id"))
      .parquet(s"$out/transaction")

  /** Streaming-epoch variant of [[writeTransactions]]: partitions on
    * (tx_id_group, ingest_epoch) so successive micro-batches that touch
    * the SAME tx bucket stay additive — dynamic overwrite rewrites only
    * this epoch's sub-partitions, so replaying an epoch after a failure
    * is still idempotent, while other epochs' rows in a shared bucket
    * survive (a plain bucket-keyed overwrite would wipe them; at 100 TB
    * an epoch almost never covers whole buckets). Read the store back
    * through [[readTransactions]], which hides the epoch column. */
  def writeTransactionsEpoch(tx: DataFrame, out: String, epoch: Long): Unit =
    landEpoch(tx, s"$out/transaction", epoch, Seq("tx_id_group"), col("tx_id"))

  /** Transaction store reader that works against both layouts: the batch
    * bucket-only layout and the epoch-keyed streaming layout. */
  def readTransactions(s: SparkSession, out: String): DataFrame = {
    val df = s.read.parquet(s"$out/transaction")
    if (df.schema.fieldNames.contains("ingest_epoch")) df.drop("ingest_epoch")
    else df
  }

  /** Time-travel read of the epoch-keyed store: the table as it stood
    * after batch `epoch` landed. `ingest_epoch` is a PARTITION column,
    * so the as-of predicate prunes whole epoch directories at file
    * listing — a snapshot read costs the snapshot's size, never the
    * store's full history, and no data is ever rewritten to serve it
    * (the epoch layout IS the version log, the way a log-structured
    * table format keeps snapshots). */
  def readTransactionsAsOf(s: SparkSession, out: String,
      epoch: Long): DataFrame = {
    val df = s.read.parquet(s"$out/transaction")
    // layout check, not an afterthought: a compacted (or batch-written)
    // store has collapsed its epoch history — an as-of read against it
    // has no snapshot to serve, and must say so rather than surface a
    // generic unresolved-column error (or, worse, a full-table read if
    // a future refactor made the filter optional).
    require(df.schema.fieldNames.contains("ingest_epoch"),
      s"store at $out/transaction is not epoch-keyed (batch layout or " +
        "already compacted): its version history is gone, so a time-" +
        "travel read cannot be served. Read it with readTransactions, " +
        "or keep the epoch layout (skip compaction) where as-of reads " +
        "are needed.")
    // expired-snapshot guard: after a history vacuum the earliest
    // serveable snapshot is the fold epoch — a request below it would
    // silently return a partial table. The floor comes from the marker
    // [[vacuumTransactionsBelow]] records, NOT from the minimum epoch
    // present: a store whose epoch numbering simply starts above 0 has
    // never vacuumed anything, and an as-of read below its first epoch
    // is a valid (empty) snapshot, not an error.
    vacuumFloor(s, out).foreach { floor =>
      require(epoch >= floor,
        s"snapshot $epoch expired: history below epoch $floor was " +
          "vacuumed from the store — the oldest serveable snapshot is " +
          s"$floor")
    }
    df.filter(col("ingest_epoch") <= epoch)
      .drop("ingest_epoch")
  }

  private def vacuumFloorPath(out: String) = s"$out/transaction_vacuum_floor"

  /** The recorded vacuum floor: the oldest epoch whose snapshot is
    * still serveable, None when the store has never been vacuumed.
    *
    * MIGRATION — stores vacuumed before the marker existed: such a
    * store has folded history but no marker, so the expired-snapshot
    * guard in [[readTransactionsAsOf]] is silently absent until its
    * next [[vacuumTransactionsBelow]] (which records the new floor
    * monotonically). The min epoch present CANNOT be auto-backfilled
    * as the floor — a never-vacuumed store whose epoch numbering
    * starts above 0 is indistinguishable from a folded one, and its
    * below-min as-of reads are valid empty snapshots, not errors. An
    * operator who KNOWS the store was vacuumed pre-upgrade runs
    * [[backfillVacuumFloor]] once as the migration step. */
  def vacuumFloor(s: SparkSession, out: String): Option[Long] =
    readLong(s, vacuumFloorPath(out))

  /** Migration step for stores vacuumed BEFORE the floor marker
    * existed (see [[vacuumFloor]]'s scaladoc): records the observed
    * minimum ingest epoch as the floor, restoring the expired-snapshot
    * guard. Deliberately explicit — only the operator knows whether
    * the store's min epoch is a fold epoch (pre-marker vacuum) or just
    * a numbering that starts high (never vacuumed, below-min as-of
    * reads valid and empty) — and monotone: a marker already present
    * and higher is kept. No-op on an empty or batch-layout store. */
  def backfillVacuumFloor(s: SparkSession, out: String): Option[Long] =
    table(s, out, "transaction")
      .filter(_.schema.fieldNames.contains("ingest_epoch"))
      .map(_.agg(min(col("ingest_epoch").cast("long"))).head())
      .filterNot(_.isNullAt(0))
      .map { r =>
        val floor = math.max(r.getLong(0),
          vacuumFloor(s, out).getOrElse(Long.MinValue))
        writeLong(s, vacuumFloorPath(out), floor, overwrite = true)
        floor
      }

  /** Maintenance: compact a transaction store into the sealed batch
    * layout — epoch sub-partitions (and any small-file accumulation from
    * many micro-batches) collapse to one sorted file per bucket. A long-
    * running ingest at 100 TB accretes one file per (bucket, epoch);
    * reads stay correct but degrade with file count, so compaction is
    * the periodic maintenance step, exactly as Cassandra compacts the
    * reference keyspace's SSTables. Staged + swapped through the Hadoop
    * FileSystem API (never an in-place overwrite of a path being read);
    * a crash anywhere is recoverable: the next call restores the
    * swapped-out copy if the swap died between renames, and incomplete
    * staging is always discarded. Requires the ingest QUIESCED — a
    * changed partition listing between read and swap aborts before any
    * rename (a concurrent epoch would otherwise be dropped). The result
    * is the batch layout: "sealed" — `resumeGuard` refuses further
    * epoch ingest into it by design. */
  def compactTransactions(s: SparkSession, out: String): Unit =
    stagedRewrite(s, out) { (df, staged) =>
      clustered(df.drop("ingest_epoch"), Seq("tx_id_group"), col("tx_id"))
        .parquet(staged)
    }

  /** Maintenance: expire time-travel history below `floor` — every
    * epoch ≤ floor folds into epoch `floor` in one staged rewrite;
    * epochs above it are carried through intact. As-of reads for
    * e ≥ floor are unchanged (the fold performs exactly the union the
    * ≤-filter used to), snapshots below the floor are gone, and
    * [[readTransactionsAsOf]] refuses them loudly via its min-epoch
    * guard instead of serving a silently partial table. This is the
    * retention knob a long-running ingest needs: with compaction the
    * history is all-or-nothing, with vacuum it is a sliding window —
    * store cost O(retained epochs), not O(every epoch ever landed) —
    * and the store stays epoch-keyed, so ingest resume and future
    * vacuums keep working. */
  def vacuumTransactionsBelow(s: SparkSession, out: String,
      floor: Long): Unit = {
    // the floor marker is recorded BEFORE the rewrite and is monotone
    // (repeat vacuums never lower it): a crash mid-rewrite then refuses
    // below-floor reads conservatively — history may still be intact,
    // but a partial snapshot is never served
    require(s.read.parquet(s"$out/transaction").schema.fieldNames
        .contains("ingest_epoch"),
      s"store at $out/transaction is not epoch-keyed: nothing to vacuum")
    val recorded = math.max(vacuumFloor(s, out).getOrElse(Long.MinValue),
      floor)
    writeLong(s, vacuumFloorPath(out), recorded, overwrite = true)
    stagedRewrite(s, out) { (df, staged) =>
      require(df.schema.fieldNames.contains("ingest_epoch"),
        s"store at $out/transaction is not epoch-keyed: nothing to vacuum")
      clustered(df.withColumn("ingest_epoch",
          greatest(col("ingest_epoch").cast("long"), lit(floor))),
        Seq("tx_id_group", "ingest_epoch"), col("tx_id"))
        .parquet(staged)
    }
  }

  /** Shared staged-swap protocol for store maintenance (compaction and
    * history vacuum): read the live table, rewrite through `rewrite`
    * into a staging dir, then swap via two renames. Crash-safe BEFORE
    * any destructive step — a crash between the renames leaves `old`
    * holding the only copy, restored on the next call; leftover staged
    * dirs are always incomplete work and discarded. Requires the
    * ingest QUIESCED: a changed partition listing between read and
    * swap aborts before any rename (a concurrent epoch would otherwise
    * be dropped silently). */
  private def stagedRewrite(s: SparkSession, out: String)(
      rewrite: (DataFrame, String) => Unit): Unit = {
    val (fs, root) = fileSystem(s, out)
    val live = new Path(root, "transaction")
    val staged = new Path(root, "transaction__compacting")
    val old = new Path(root, "transaction__old")
    if (!fs.exists(live)) {
      require(fs.exists(old),
        s"store rewrite: no store at $live and no $old to recover from")
      require(fs.rename(old, live), s"store rewrite: cannot recover $old")
    }
    fs.delete(staged, true); fs.delete(old, true)
    def snapshot(): Set[String] =
      fs.globStatus(new Path(live, "*/*"))
        .map(_.getPath.toString).toSet
    val seen = snapshot()
    rewrite(s.read.parquet(live.toString), staged.toString)
    require(snapshot() == seen,
      s"store rewrite: store at $live changed while rewriting — quiesce " +
        "the ingest and re-run (nothing was swapped; staged output kept " +
        s"at $staged until the next run)")
    require(fs.rename(live, old), s"store rewrite: cannot stage out $live")
    require(fs.rename(staged, live), s"store rewrite: cannot swap in $staged")
    fs.delete(old, true)
    ()
  }

  /** Staging-complete marker for [[rollbackAbove]]'s swap protocol. */
  private val StagedMarker = "_GRAFT_STAGED"

  /** ST4 recovery, step 1 — bucket-scoped rollback of an orphaned block
    * range: remove every landed row with `block_id > tip`, rewriting ONLY
    * the (tx_id_group, ingest_epoch) partitions that contain such rows.
    * The affected-partition list is partition-level metadata (buckets ×
    * epochs, never row-scale), so collecting it is a catalog operation;
    * the surviving rows of each affected partition are staged to a side
    * directory first and swapped in afterwards, so a crash at any point
    * leaves either the pre-rollback store (staging incomplete, discarded
    * on retry) or a resumable swap (staging complete — the next call
    * finishes moving it before recomputing). Untouched partitions are
    * never read, rewritten, or listed beyond partition pruning —
    * at 100 TB a 6-block reorg touches a handful of directories.
    *
    * `crashAfterStaging` is a test failpoint: return once staging is
    * complete but before any live partition is touched — the worst
    * crash window; StreamingSpec proves a retry converges from it. */
  def rollbackAbove(s: SparkSession, out: String, tip: Long,
      crashAfterStaging: Boolean = false): Unit = {
    val live = s"$out/transaction"
    val staging = s"$out/transaction__rollback"
    val (fs, stPath) = fileSystem(s, staging)

    // resume a swap that a previous crash left half-done: the explicit
    // marker is written only after the staging write returned (Spark's
    // own _SUCCESS is committer-config-dependent under dynamic
    // partition overwrite, so it is not the contract here) — every
    // kept row is safely off the live tree, finishing the swap first
    // is always correct
    if (fs.exists(new Path(s"$staging/$StagedMarker")))
      finishRollbackSwap(fs, staging, live)
    else fs.delete(stPath, true) // incomplete staging from a dead run

    // a store an earlier rollback emptied has nothing to roll back
    val df = table(s, out, "transaction") match {
      case Some(df) => df
      case None => return
    }
    require(df.schema.fieldNames.contains("ingest_epoch"),
      s"store at $live is not epoch-keyed; bucket-scoped rollback " +
        "needs the streaming layout (a batch store is rebuilt, not " +
        "rolled back)")
    // partition columns come back integer-inferred from the directory
    // names — normalize to long before collecting the partition list
    val affected = df.filter(col("block_id") > tip)
      .select(col("tx_id_group").cast("long").as("tx_id_group"),
        col("ingest_epoch").cast("long").as("ingest_epoch")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (affected.isEmpty) return

    // stage the survivors of the affected partitions (rows ≤ tip) —
    // the live tree is untouched until staging is complete
    import s.implicits._
    val affDf = affected.toSeq.toDF("tx_id_group", "ingest_epoch")
    clustered(df.join(broadcast(affDf), Seq("tx_id_group", "ingest_epoch"))
      .filter(col("block_id") <= tip), Seq("tx_id_group", "ingest_epoch"),
      col("tx_id")).parquet(staging)
    fs.create(new Path(s"$staging/$StagedMarker"), true).close()

    if (crashAfterStaging) return // failpoint: die before touching live

    // drop the orphan-bearing partitions, then swap the staged
    // survivors into place
    affected.foreach { case (g, e) =>
      fs.delete(new Path(s"$live/tx_id_group=$g/ingest_epoch=$e"), true)
    }
    finishRollbackSwap(fs, staging, live)
  }

  /** Move every staged survivor partition into the live tree (a swap
    * target left by a crashed previous attempt is replaced — staged
    * content is authoritative), then discard staging. */
  private def finishRollbackSwap(fs: FileSystem,
      staging: String, live: String): Unit = {
    val stRoot = new Path(staging)
    fs.listStatus(stRoot).filter(_.isDirectory).foreach { gDir =>
      fs.listStatus(gDir.getPath).filter(_.isDirectory).foreach { eDir =>
        val target = new Path(
          s"$live/${gDir.getPath.getName}/${eDir.getPath.getName}")
        fs.delete(target, true)
        fs.mkdirs(target.getParent)
        fs.rename(eDir.getPath, target)
      }
    }
    fs.delete(stRoot, true)
  }

  /** block table: clustering ORDER BY (block_id DESC) of schema.cql:13 →
    * descending sort inside each bucket. */
  def writeBlocks(blocks: DataFrame, out: String): Unit =
    clustered(blocks, Seq("block_id_group"), col("block_id").desc)
      .parquet(s"$out/block")

  /** hash→id index (schema.cql:36-41). The reference fans out to 16^5
    * prefix partitions; as directories that would be 1M tiny dirs, and
    * any fixed directory fan-out makes every write cost per directory,
    * not per row — the index is rebuilt on each `--continue`. So the
    * table is ONE globally sorted run of files: a range-partitioned
    * `orderBy(tx_prefix, tx_hash)` whose file count AQE's partition
    * coalescing sets from the data size, each file covering a disjoint,
    * contiguous prefix range. A point lookup prunes on the parquet
    * footers' min/max statistics of the sorted tx_prefix column (whole
    * files, then row groups). The stored columns are exactly
    * [[Schemas.transactionByTxPrefix]]; the plain overwrite (no
    * partition columns, so never a dynamic one) replaces an index of
    * any earlier layout whole. */
  def writePrefixIndex(tx: DataFrame, out: String): Unit =
    tx.select(
      substring(col("tx_hash"), 1, Chain.PrefixLen).as("tx_prefix"),
      col("tx_hash"),
      // storage-fidelity blob form (schema.cql:38): 32 bytes vs 64 hex
      // chars — halves the hash storage at 100 TB
      unhex(col("tx_hash")).as("tx_hash_bin"),
      col("tx_id"))
      .orderBy(col("tx_prefix"), col("tx_hash"))
      .write.mode("overwrite")
      .parquet(s"$out/transaction_by_tx_prefix")

  /** block_transactions table: same layout as block (bucketed dirs,
    * block_id DESC inside, schema.cql:51-56). */
  def writeBlockTransactions(bt: DataFrame, out: String): Unit =
    clustered(bt, Seq("block_id_group"), col("block_id").desc)
      .parquet(s"$out/block_transactions")

  /** exchange_rates: one row per day — a single file regardless of
    * history length (a century is ~37k rows). */
  def writeExchangeRates(rates: DataFrame, out: String): Unit =
    rates.coalesce(1).write.mode("overwrite")
      .parquet(s"$out/exchange_rates")

  /** summary_statistics: the 1-row keyspace summary. */
  def writeSummaryStatistics(stats: DataFrame, out: String): Unit =
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"$out/summary_statistics")

  /** configuration: the 1-row bucket/prefix parameter record. */
  def writeConfiguration(conf: DataFrame, out: String): Unit =
    conf.coalesce(1).write.mode("overwrite")
      .parquet(s"$out/configuration")

  /** Point lookup by full hash: the tx_prefix predicate skips every
    * file and row group whose footer min/max range misses the prefix,
    * and the final equality is on the binary hash (F1's unhex direction
    * in the lookup path). Indexes written before the binary column
    * existed fall back to hex-string equality — same pruning, 2× the
    * hash-column bytes scanned. */
  def lookupByHash(s: SparkSession, out: String, hashHex: String): DataFrame = {
    val idx = s.read.parquet(s"$out/transaction_by_tx_prefix")
    val finalEq =
      if (idx.schema.fieldNames.contains("tx_hash_bin"))
        col("tx_hash_bin") === unhex(lit(hashHex))
      else col("tx_hash") === lit(hashHex)
    idx.filter(
      col("tx_prefix") === hashHex.substring(0, Chain.PrefixLen) && finalEq)
  }

  /** Point lookup by tx id: partition-pruned on the bucket column. */
  def lookupByTxId(s: SparkSession, out: String, txId: Long): DataFrame =
    s.read.parquet(s"$out/transaction")
      .filter(col("tx_id_group") === txId / Chain.TxBucketSize &&
        col("tx_id") === txId)

  /** Multi-chain keyspace: one currency partition per chain (the
    * reference's keyspace-per-coin, §2.7), unioned with a `currency`
    * column so cross-chain queries are a partition-pruned scan. */
  def writeMultiChain(chains: Map[String, DataFrame], out: String): Unit = {
    val tagged = chains.map { case (cur, df) =>
      df.withColumn("currency", lit(cur))
    }.reduce(_ unionByName _)
    clustered(tagged, Seq("currency", "tx_id_group"), col("tx_id"))
      .parquet(s"$out/multichain_transaction")
  }

  /** Spark-bucketed (CLUSTERED BY) tables for co-located joins: both
    * sides bucketed on the join key join WITHOUT a shuffle — the
    * pre-partitioning strategy for repeated large-fact joins at 100 TB.
    * Requires saveAsTable (bucket metadata lives in the catalog);
    * `path` makes the table external at an explicit location (keeps
    * data under target/ instead of the session warehouse). */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
      nBuckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }
}
