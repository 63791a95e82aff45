package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared maintenance for the parked intermediate tiers (the
  * `target/intermediate` trees the *Materialize objects write). */
object Tiers {

  /** The `<sanitised dir>_<max mtime>` part of a tier key over the
    * `$dir/<table>.parquet` sources: a regenerated fixture changes the
    * stamp, so its tiers invalidate naturally. A directory's stamp is
    * the newest of itself and its files (listFiles is empty for a bare
    * directory, null on an I/O error). */
  def sourceStamp(dir: String, tables: String*): String = {
    val mtime = tables.map { t =>
      val f = new File(s"$dir/$t.parquet")
      (f.lastModified() +:
        Option(f.listFiles()).toSeq.flatten.map(_.lastModified())).max
    }.max
    s"${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$mtime"
  }

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Park a tier at `root` once: the one place the "build once per key"
    * decision is made for every tier under `target/intermediate`.
    *
    * The tier's key is its root path (each caller folds its sources'
    * [[sourceStamp]], its parameters and a format version into it), so
    * a changed input lands at a new root instead of being read stale.
    * Writes are idempotent (deterministic content, overwrite mode).
    * One lock per root: different tiers build concurrently, while a
    * second request for the same root waits and then finds the marker.
    * If `root/_SUCCESS` is missing, `write(root)` runs and this method
    * writes the marker itself, so it does not matter whether the writer
    * emits one (a dynamic partition overwrite does not). A `write` that
    * throws leaves no marker, and the next call rebuilds.
    *
    * A `write` may request other tiers, but only upstream ones: the
    * tiers form a DAG, so nested per-root locks are always taken in
    * dependency order and cannot deadlock. */
  def park(root: String)(write: String => Unit): String = {
    val marker = new File(root, "_SUCCESS")
    locks.computeIfAbsent(root, _ => new Object).synchronized {
      if (!marker.exists()) {
        try write(root)
        catch { case e: Throwable => marker.delete(); throw e }
        marker.createNewFile()
      }
    }
    root
  }

  /** [[park]] `df` as parquet at `root` (overwrite), then scan it. */
  def parquet(s: SparkSession, root: String)(df: => DataFrame): DataFrame =
    s.read.parquet(park(root)(df.write.mode("overwrite").parquet(_)))

  /** Null-guarded recursive delete: `File.listFiles` returns null on an
    * I/O or permission error — the naive recursion then NPEs and kills
    * the caller (a bench run dying before timing anything). */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Wipe every parked tier — the deterministic-cold-build switch the
    * bench mains flip before timing tier construction. */
  def wipe(): Unit = {
    val tiers = new File("target/intermediate")
    if (tiers.exists()) deleteRecursively(tiers)
  }

  /** Ceiling on concurrent tier-build driver threads. Each build is one
    * Spark job whose parallelism comes from its own tasks — the driver
    * threads only overlap job SCHEDULING, so a handful is plenty and a
    * large tier list must not fan out unboundedly. Overridable via
    * SPARK_GRAFT_BUILD_THREADS (deployment knob: small fixtures are
    * scheduling-latency-bound and benefit from more in-flight jobs;
    * at cluster scale each job saturates executors and 4 suffices). */
  val MaxConcurrentBuilds: Int = {
    // malformed or non-positive env values fall back to the computed
    // default instead of throwing inside object init (an opaque
    // ExceptionInInitializerError) or flowing 0 into the pool size
    graft.Session.positive(sys.env.get("SPARK_GRAFT_BUILD_THREADS"))
      .getOrElse {
        // scale with the session's core budget, bounded [4, 8]: measured
        // r13 at sf0.1/32 cores, ann_build (11 independent tier jobs)
        // runs ~25 % faster at 8 in-flight jobs than 4 (the jobs are
        // small, so overlap hides scheduling latency); beyond 8 the
        // driver threads contend and the curve flattens
        math.min(8, math.max(4, graft.Session.cpus / 4))
      }
  }

  /** Run independent tier builds as concurrent Spark jobs — ONE switch
    * point for how build parallelism works: a bounded fixed-size pool
    * (min(tasks, [[MaxConcurrentBuilds]]) driver threads), and FAILURE
    * AGGREGATION — every task runs to completion and every failure is
    * reported (the first as the thrown exception, the rest suppressed
    * on it), so one broken tier never masks its siblings' errors.
    * [[park]]'s per-root locks serialize same-tier requests. */
  def buildConcurrently(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, MaxConcurrentBuilds))
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] =
            try { t(); None } catch { case e: Throwable => Some(e) }
        }))
      val failures = futures.flatMap(_.get())
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
