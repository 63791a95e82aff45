package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time the materialized-tier BUILDS cold (tier root wiped
  * first) at an arbitrary sf dir — the per-build scale datapoints for
  * SCALE.md. Usage:
  *   runMain graft.BuildBench [--repeat=N] [sfDir] [buildName...]
  * Builds run in [[Bench.coldBuilds]] order; build names filter which
  * tiers build (default: all); --repeat wipes and rebuilds N times
  * INSIDE one session — the flatness probe for the Materialize.release
  * discipline (a leaking session drifts upward round over round). */
object BuildBench {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val repeat = flags.find(_.startsWith("--repeat="))
      .map(_.drop("--repeat=".length).toInt).getOrElse(1)
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val only = rest.drop(1).toSet
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    for (r <- 1 to repeat) {
      graft.ops.Tiers.wipe()
      graft.queries.RefQueries.invalidateBucketedCache()
      for ((name, build) <- Bench.coldBuilds if only.isEmpty || only(name)) {
        val t0 = System.nanoTime()
        build(spark, sfDir)
        val tag = if (repeat > 1) s" round$r" else ""
        println(f"[buildbench] $name$tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
