package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.col

import graft.ops.Tiers

/** buildConcurrently: bounded fan-out, and failures aggregate instead of
  * the first masking its siblings. park: one build per root, a failed
  * build leaves nothing parked, and the marker does not depend on the
  * writer. */
class TiersSpec extends SparkSpec with TempDirs {

  test("park runs write exactly once for 8 concurrent callers") {
    val root = s"${tempDir("park_")}/tier"
    val writes = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Tiers.park(root) { r =>
              writes.incrementAndGet()
              Thread.sleep(50) // hold the lock while the others arrive
              new File(r).mkdirs()
              java.nio.file.Files.writeString(new File(r, "data").toPath, "x")
              ()
            }
          }
        }))
      start.countDown()
      assert(futures.map(_.get()).toSet === Set(root))
    } finally pool.shutdown()
    assert(writes.get() === 1)
    assert(new File(root, "_SUCCESS").exists())
  }

  test("a write that throws leaves no marker; the next call rebuilds") {
    val root = s"${tempDir("park_")}/tier"
    intercept[RuntimeException] {
      Tiers.park(root) { r =>
        // a writer that commits (marker included) and then fails
        spark.range(3).write.mode("overwrite").parquet(r)
        throw new RuntimeException("build broke")
      }
    }
    assert(!new File(root, "_SUCCESS").exists())
    val writes = new AtomicInteger(0)
    Tiers.park(root) { r =>
      writes.incrementAndGet()
      spark.range(3).write.mode("overwrite").parquet(r)
    }
    assert(writes.get() === 1)
    assert(new File(root, "_SUCCESS").exists())
    assert(spark.read.parquet(root).count() === 3)
  }

  test("a write that emits no Spark _SUCCESS is still parked once") {
    val root = s"${tempDir("park_")}/tier"
    val writes = new AtomicInteger(0)
    val emitted = new AtomicInteger(0)
    def write(r: String): Unit = {
      writes.incrementAndGet()
      // the transaction store's write: dynamic partition overwrite
      spark.range(10).withColumn("p", col("id") % 2)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("p").parquet(r)
      if (new File(r, "_SUCCESS").exists()) emitted.incrementAndGet()
      ()
    }
    Tiers.park(root)(write)
    Tiers.park(root)(write)
    assert(emitted.get() === 0, "the writer emitted its own marker")
    assert(writes.get() === 1)
    assert(spark.read.parquet(root).count() === 10)
  }

  test("entity flows over different label tiers park at different roots") {
    import graft.ops.{EntityMaterialize, GraphMaterialize}
    val dir = tempDir("efkey_")
    val windows = Seq(None, Some(1L), Some(2L))
    assert(windows.map(EntityMaterialize.labelKey).distinct.size === 3)
    val roots = windows.map(GraphMaterialize.entityFlowRoot(dir, _))
    assert(roots.distinct.size === 3)
    // the parked tier lands at the root of the label tier its build reads
    val root = GraphMaterialize.entityFlowRoot(dir,
      Some(graft.queries.RefQueries.EntityWindow))
    try {
      GraphMaterialize.entityFlowTable(spark, dir)(
        spark.range(1).toDF("tx_id")).count()
      assert(new File(root, "_SUCCESS").exists())
    } finally Tiers.deleteRecursively(new File(root))
  }

  test("two failing builds both surface; survivors still run") {
    val ran = new AtomicInteger(0)
    val ex = intercept[RuntimeException] {
      Tiers.buildConcurrently(Seq(
        () => { ran.incrementAndGet(); () },
        () => throw new RuntimeException("tier A broke"),
        () => { ran.incrementAndGet(); () },
        () => throw new RuntimeException("tier B broke")))
    }
    val all = (ex +: ex.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(all === Set("tier A broke", "tier B broke"))
    assert(ran.get() === 2)
  }

  test("driver-thread fan-out never exceeds the bound") {
    val live = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Tiers.buildConcurrently((1 to 16).map(_ => () => {
      val n = live.incrementAndGet()
      peak.updateAndGet(math.max(_, n))
      Thread.sleep(20)
      live.decrementAndGet(); ()
    }))
    assert(peak.get() <= Tiers.MaxConcurrentBuilds)
    assert(peak.get() >= 2) // and it genuinely overlaps
  }

  test("empty task list is a no-op") {
    Tiers.buildConcurrently(Nil)
  }
}
