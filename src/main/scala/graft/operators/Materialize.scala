package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Per-round lineage truncation for iterative DataFrame loops (connected
  * components, PageRank, k-core, label propagation, BPE training…).
  *
  * Every iterative operator here must cut its logical plan each round or
  * the fixpoint re-executes the whole prefix per iteration (and the plan
  * grows without bound). HOW to cut depends on deployment:
  *
  *  - single node / tests: `localCheckpoint(true)` — block-manager only,
  *    no filesystem round-trip, but blocks die with their executor;
  *  - real cluster (dynamic allocation, spot executors): reliable
  *    `checkpoint()` into `sparkContext.getCheckpointDir` — survives
  *    executor loss, required for long-running jobs at 100 TB.
  *
  * [[truncate]] is the ONE switch point: it picks the reliable path
  * exactly when the session has a checkpoint directory configured
  * (`spark.sparkContext.setCheckpointDir(...)`), so cluster deployments
  * opt in with one driver-side line and no operator changes.
  */
object Materialize {

  /** Eagerly materialize `df` and truncate its lineage — reliable
    * `checkpoint()` if a checkpoint dir is set, else
    * `localCheckpoint(true)`. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint() // eager, replicated, survives lost executors
    else df.localCheckpoint(true)

  /** [[truncate]] for loops whose NEXT statement is itself an action
    * over the result (a convergence probe, a count): the local path
    * marks for checkpointing lazily so the caller's action materializes
    * blocks and computes its answer in ONE job instead of two — per
    * round of an iterative fixpoint that halves the fixed job/stage
    * scheduling cost, which dominates once the per-round data is small.
    * The reliable-checkpoint path stays EAGER: a non-eager reliable
    * checkpoint recomputes the whole round a second time to write the
    * checkpoint files, which is worse than the extra job it saves. */
  def truncateBeforeAction(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint(false)

  /** Free the storage behind a [[truncate]]d frame that no later round
    * references.
    *
    * Checkpoint storage is only reclaimed when the driver GARBAGE
    * COLLECTS the RDD (ContextCleaner) — on a large heap that can be
    * never, so a session running many fixpoints accumulates every
    * round's footprint and degrades with session AGE, not with the
    * running query. The footprint lives in different places per path:
    * local checkpoints hold block-manager blocks (freed by unpersist),
    * reliable checkpoints hold an rdd-N directory of FILES under the
    * checkpoint dir — ContextCleaner only deletes those when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false) AND the RDD is GC'd, so without the explicit delete below a
    * cluster session leaks one directory per fixpoint round for its
    * lifetime. [[Fixpoint]] calls this on round N−1 once round N is
    * materialized; the final round (referenced by the returned lazy
    * frame) must NOT be released.
    *
    * Reaches through the checkpointed plan's LogicalRDD (the public
    * Spark class both truncation paths produce) — blocking=false, so
    * the unpersist never stalls the loop. A non-checkpointed frame is
    * left untouched. */
  def release(df: DataFrame): Unit = leaf(df).foreach(releaseRdd)

  /** Release EVERY checkpointed leaf inside a consumed plan, once per
    * RDD (a self-joined round appears several times in its plan) — the
    * consumer-side free for operators that pin their inputs under a
    * product-sized lazy result (PrefixCarry's shard manifest / global
    * shuffle, a [[Fixpoint]] result): once the result has been fully
    * materialized (written, counted into a sink), the pins it reads are
    * dead weight until the driver GCs them. Only for plans the caller
    * OWNS end to end: a leaf shared with a still-live frame must not be
    * released. */
  def releasePinnedLeaves(df: DataFrame): Unit =
    leaves(df).foreach(releaseRdd)

  /** The checkpoint `df` is, if it is one. */
  private[operators] def leaf(df: DataFrame): Option[LogicalRDD] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l)
      case _ => None
    }

  /** The distinct checkpoints `df`'s plan reads, one per RDD. */
  private[operators] def leaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l }
      .distinctBy(_.rdd.id)

  private[operators] def releaseRdd(l: LogicalRDD): Unit = {
    val rdd = l.rdd
    rdd.getCheckpointFile.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(rdd.sparkContext.hadoopConfiguration)
        .delete(path, true)
      // the delete is destructive on contract misuse (releasing a
      // round a later frame still reads) — name the path so a
      // FileNotFoundException post-mortem is a grep, not a hunt
      org.slf4j.LoggerFactory.getLogger(getClass)
        .info(s"released checkpoint $p")
    }
    rdd.unpersist(blocking = false); ()
  }
}
