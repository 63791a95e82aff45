package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of parked tiers, declared next to the derivations it
  * parks: the one place a tier's key comes from.
  *
  * Tier `sub` of the family parks at
  * `target/intermediate/<name>_v<version>[_<upstream id>...]_<stamp>/<sub>`,
  * where each upstream declaration adds its own name and version
  * (recursively) and `<stamp>` is one [[Tier.sourceStamp]] over the
  * union of this family's and its upstream's source tables (a family
  * with no sources has none). A bumped version, a re-keyed upstream or
  * a regenerated source table therefore lands at a new root instead of
  * being read stale. Bump `version` on any change to the family's
  * derivations, and name as `upstream` every family whose parked
  * accessor one of its builds reads. */
final case class Tier(name: String, version: Int, sources: Seq[String],
    upstream: Tier*) {

  private def id: String =
    (s"${name}_v$version" +: upstream.map(_.id)).mkString("_")

  private def tables: Seq[String] =
    (sources ++ upstream.flatMap(_.tables)).distinct

  /** Root of tier `sub` over the source tables under `dir`. */
  def root(dir: String, sub: String): String = {
    val stamp =
      if (tables.isEmpty) "" else "_" + Tier.sourceStamp(dir, tables)
    s"${Tiers.Root}/$id$stamp/$sub"
  }

  /** Park tier `sub` once ([[Tier.park]]) by `write(root)`; the root. */
  def park(dir: String, sub: String)(write: String => Unit): String =
    Tier.park(root(dir, sub))(write)

  /** [[park]] `df` as parquet (overwrite), then scan it. */
  def parquet(s: SparkSession, dir: String, sub: String)(
      df: => DataFrame): DataFrame =
    Tier.read(s, park(dir, sub)(df.write.mode("overwrite").parquet(_)))
}

object Tier {

  /** Scan the parquet tier parked at `root`: its content never changes
    * under its listing, so it reads with its remembered schema. */
  private[ops] def read(s: SparkSession, root: String): DataFrame =
    graft.chain.ChainStore.parquet(s, root)

  /** The `<sanitised dir>_<max mtime>` part of a tier key over the
    * `$dir/<table>.parquet` sources: a regenerated fixture changes the
    * stamp, so its tiers invalidate naturally. A directory's stamp is
    * the newest of itself and its files (listFiles is empty for a bare
    * directory, null on an I/O error). */
  private def sourceStamp(dir: String, tables: Seq[String]): String = {
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
    * The tier's key is its root path ([[Tier.root]]), so a changed
    * input lands at a new root instead of being read stale. Writes are
    * idempotent (deterministic content, overwrite mode). One lock per
    * root: different tiers build concurrently, while a second request
    * for the same root waits and then finds the marker. If
    * `root/_SUCCESS` is missing, `write(root)` runs and this method
    * writes the marker itself, so it does not matter whether the writer
    * emits one (a dynamic partition overwrite does not). A `write` that
    * throws leaves no marker, and the next call rebuilds.
    *
    * A `write` may request other tiers, but only upstream ones: the
    * tiers form a DAG, so nested per-root locks are always taken in
    * dependency order and cannot deadlock. */
  private def park(root: String)(write: String => Unit): String = {
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
}

/** Shared maintenance for the parked tiers. */
object Tiers {

  /** Where every [[Tier]] parks (under target/, so `sbt clean` clears
    * it). */
  private[ops] val Root = "target/intermediate"

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
    val tiers = new File(Root)
    if (tiers.exists()) deleteRecursively(tiers)
  }

  /** Ceiling on concurrent tier-build driver threads. Each build is one
    * Spark job whose parallelism comes from its own tasks — the driver
    * threads only overlap job SCHEDULING, so a handful is plenty and a
    * large tier list must not fan out unboundedly. Scales with the
    * session's core budget, bounded [4, 8]: measured r13 at sf0.1/32
    * cores, ann_build (11 independent tier jobs) runs ~25 % faster at 8
    * in-flight jobs than 4 (the jobs are small, so overlap hides
    * scheduling latency); beyond 8 the driver threads contend and the
    * curve flattens. */
  val MaxConcurrentBuilds: Int =
    math.min(8, math.max(4, graft.Session.cpus / 4))

  /** Run independent tier builds as concurrent Spark jobs — ONE switch
    * point for how build parallelism works: a bounded fixed-size pool
    * (min(tasks, [[MaxConcurrentBuilds]]) driver threads), and FAILURE
    * AGGREGATION — every task runs to completion and every failure is
    * reported (the first as the thrown exception, the rest suppressed
    * on it), so one broken tier never masks its siblings' errors.
    * [[Tier.park]]'s per-root locks serialize same-tier requests. */
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
