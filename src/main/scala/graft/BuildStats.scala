package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Dev tool: run one named build (or any SparkEntry query, or a named
  * phase probe) cold and print NOISE-FREE work totals (input
  * bytes/records, shuffle read/write bytes/records, total task time,
  * job/stage counts) accumulated from stage metrics — the
  * wall-clock-independent before/after evidence for path optimizations
  * on a noisy box. A build name is a [[Bench.coldBuilds]] entry.
  * Usage: runMain graft.BuildStats [sfDir] <buildName|queryName> [cpus]
  */
object BuildStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val which = args.lift(1).getOrElse("allpairs_base_build")
    val cpus = args.lift(2).getOrElse("32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val inB = new AtomicLong; val inR = new AtomicLong
    val swB = new AtomicLong; val swR = new AtomicLong
    val srB = new AtomicLong; val taskMs = new AtomicLong
    val stages = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          inB.addAndGet(m.inputMetrics.bytesRead)
          inR.addAndGet(m.inputMetrics.recordsRead)
          swB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          swR.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          srB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          taskMs.addAndGet(m.executorRunTime)
          stages.incrementAndGet()
        }
        ()
      }
    })
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // listener events are async: settle before zeroing the counters
    def reset(): Unit = {
      drainUntilStable(stages)
      inB.set(0); inR.set(0); swB.set(0); swR.set(0); srB.set(0)
      taskMs.set(0); stages.set(0)
    }
    // builds are probed COLD (tier root wiped, bench policy); plain
    // query probes run WARM — one untimed pass parks whatever tiers
    // the query consumes (bench policy: builds precede queries), then
    // the measured pass starts from parked scans
    val build = Bench.coldBuilds.toMap.get(which)
    if (build.isDefined) {
      graft.ops.Tiers.wipe()
      graft.queries.RefQueries.invalidateBucketedCache()
    } else if (SparkEntry.queries.contains(which)) {
      SparkEntry.queries(which)(spark, sfDir).count(); ()
    } else sys.error(s"unknown build/query $which")
    // consumption-grain probe: park the upstream label tier OUTSIDE
    // the measured region (the bench times it under entity_build)
    if (which == "entityflow_build")
      graft.queries.RefQueries.buildEntityTiers(spark, sfDir)
    reset()
    val t0 = System.nanoTime()
    build match {
      case Some(b) => b(spark, sfDir)
      case None => SparkEntry.queries(which)(spark, sfDir).count()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    drainUntilStable(stages)
    println(f"[buildstats] $which wall=$wall%.2fs taskTime=${taskMs.get / 1000.0}%.1fs " +
      f"input=${inB.get / 1e6}%.1fMB/${inR.get / 1e6}%.2fMrec " +
      f"shufW=${swB.get / 1e6}%.1fMB/${swR.get / 1e6}%.2fMrec shufR=${srB.get / 1e6}%.1fMB " +
      f"stages=${stages.get}")
    spark.stop()
  }

  /** Listener events are posted asynchronously; a fixed sleep
    * undercounts on a loaded box. Poll until the stage counter is
    * quiet for 1 s (bounded at 15 s). */
  private def drainUntilStable(stages: AtomicLong): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline && stages.get != last) {
      last = stages.get
      Thread.sleep(1000)
    }
  }
}
