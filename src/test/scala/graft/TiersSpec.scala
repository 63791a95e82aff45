package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions.col

import graft.ops.{Tier, Tiers}

/** buildConcurrently: bounded fan-out, and failures aggregate instead of
  * the first masking its siblings. park: one build per root, a failed
  * build leaves nothing parked, and the marker does not depend on the
  * writer. Keys: a declaration's root covers its version, its upstream
  * declarations and every source table it reads. */
class TiersSpec extends SparkSpec with TempDirs {

  /** A throwaway declaration over a fresh temp source dir (so its root
    * is unique to the test): `body(dir, root)` parks tier `tier`, and
    * the family dir is deleted afterwards. */
  private def onFreshRoot(body: (Tier, String, String) => Unit): Unit = {
    val t = Tier("tiers_spec", 1, Seq("src"))
    val dir = tempDir("park_")
    val root = t.root(dir, "tier")
    try body(t, dir, root)
    finally Tiers.deleteRecursively(new File(root).getParentFile)
  }

  test("park runs write exactly once for 8 concurrent callers") {
    onFreshRoot { (t, dir, root) =>
      val writes = new AtomicInteger(0)
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val futures = (1 to 8).map(_ => pool.submit(
          new java.util.concurrent.Callable[String] {
            def call(): String = {
              start.await()
              t.park(dir, "tier") { r =>
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
  }

  test("a write that throws leaves no marker; the next call rebuilds") {
    onFreshRoot { (t, dir, root) =>
      intercept[RuntimeException] {
        t.park(dir, "tier") { r =>
          // a writer that commits (marker included) and then fails
          spark.range(3).write.mode("overwrite").parquet(r)
          throw new RuntimeException("build broke")
        }
      }
      assert(!new File(root, "_SUCCESS").exists())
      val writes = new AtomicInteger(0)
      t.park(dir, "tier") { r =>
        writes.incrementAndGet()
        spark.range(3).write.mode("overwrite").parquet(r)
      }
      assert(writes.get() === 1)
      assert(new File(root, "_SUCCESS").exists())
      assert(spark.read.parquet(root).count() === 3)
    }
  }

  test("a write that emits no Spark _SUCCESS is still parked once") {
    onFreshRoot { (t, dir, root) =>
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
      t.park(dir, "tier")(write)
      t.park(dir, "tier")(write)
      assert(emitted.get() === 0, "the writer emitted its own marker")
      assert(writes.get() === 1)
      assert(spark.read.parquet(root).count() === 10)
    }
  }

  test("entity flows over different label tiers park at different roots") {
    import graft.queries.GraphQueries.EntityFlowTier
    import graft.queries.RefQueries.{EntityTier, EntityWindow, windowSub}
    val dir = tempDir("efkey_")
    val windows = Seq(None, Some(1L), Some(2L)).map(windowSub)
    assert(windows.map(EntityTier.root(dir, _)).distinct.size === 3)
    val roots = windows.map(EntityFlowTier.root(dir, _))
    assert(roots.distinct.size === 3)
    // the flows name the label declaration their build reads
    assert(EntityFlowTier.upstream === Seq(EntityTier))
    val sub = windowSub(Some(EntityWindow))
    val root = EntityFlowTier.root(dir, sub)
    try {
      EntityFlowTier.parquet(spark, dir, sub)(
        spark.range(1).toDF("tx_id")).count()
      assert(new File(root, "_SUCCESS").exists())
    } finally Tiers.deleteRecursively(new File(root).getParentFile) // the family dir
  }

  test("bumping an upstream version re-keys every declaration naming it") {
    val dir = tempDir("bump_")
    def chain(v: Int): Seq[Tier] = {
      val a = Tier("a", v, Seq("x"))
      val b = Tier("b", 1, Seq("y"), a)
      Seq(a, b, Tier("c", 1, Nil, b), Tier("d", 1, Seq("x")))
    }
    val before = chain(1).map(_.root(dir, "t"))
    val after = chain(2).map(_.root(dir, "t"))
    // a, b (names a) and c (names b, so a through it) re-key; d does not
    assert(before.zip(after).map { case (x, y) => x != y } ===
      Seq(true, true, true, false))

    // the same over the real declarations: a bumped label tier re-keys
    // the entity flows that read it, and not the address edge tiers
    import graft.queries.GraphQueries.{EntityFlowTier, GraphTier}
    import graft.queries.RefQueries.EntityTier
    val labels = Tier(EntityTier.name, EntityTier.version + 1,
      EntityTier.sources)
    val flows = Tier(EntityFlowTier.name, EntityFlowTier.version,
      EntityFlowTier.sources, labels)
    assert(labels.root(dir, "w1") !== EntityTier.root(dir, "w1"))
    assert(flows.root(dir, "w1") !== EntityFlowTier.root(dir, "w1"))
    val edges = Tier(GraphTier.name, GraphTier.version, GraphTier.sources)
    assert(edges.root(dir, "edges") === GraphTier.root(dir, "edges"))
  }

  test("touching one source table re-keys exactly the tiers that read it") {
    val dir = tempDir("touch_")
    val tables = Seq("lineitem", "orders", "documents", "embeddings", "x")
    tables.foreach { t =>
      val d = new File(dir, s"$t.parquet")
      d.mkdirs()
      java.nio.file.Files.writeString(new File(d, "part-0").toPath, t)
    }
    val x = Tier("tx", 1, Seq("x"))
    val declared = Seq(graft.queries.GraphQueries.GraphTier,
      graft.queries.GraphQueries.EntityFlowTier,
      graft.queries.RefQueries.EntityTier,
      graft.queries.RelQueries.OrdersFileTier,
      graft.queries.SimilarityQueries.AnnTier,
      graft.ops.DedupMaterialize.DedupTier,
      graft.ops.TextCorpus.DocsFileTier,
      graft.ops.StoreMaterialize.StoreTier,
      graft.chain.ChainConfig.ConfigTier,
      x, Tier("over_x", 1, Seq("documents"), x))
    def roots() = declared.map(t => t.name -> t.root(dir, "t")).toMap
    var step = 0L
    def rekeyedBy(table: String): Set[String] = {
      val before = roots()
      step += 1
      // mtime granularity can be a whole second: move it well past it
      new File(dir, s"$table.parquet/part-0")
        .setLastModified(System.currentTimeMillis() + step * 60000L)
      val after = roots()
      before.keySet.filter(n => before(n) != after(n))
    }
    assert(rekeyedBy("lineitem") ===
      Set("graph", "entityflow", "entity", "store"))
    assert(rekeyedBy("orders") ===
      Set("graph", "entityflow", "entity", "store", "orders_src"))
    assert(rekeyedBy("documents") === Set("dedup_s8b2", "docs_src", "over_x"))
    assert(rekeyedBy("embeddings") === Set("ann"))
    // a table listed only through an upstream declaration re-keys too
    assert(rekeyedBy("x") === Set("tx", "over_x"))
  }

  test("graph_kcore reads the edge root the cold graph builds park") {
    import graft.queries.GraphQueries.GraphTier
    val dir = sf("sf0.001")
    graft.queries.GraphQueries.buildGraphTier(spark, dir)
    graft.queries.GraphQueries.buildFlowTier(spark, dir)
    val edges = new File(GraphTier.root(dir, "edges"))
    def markers(): Map[String, Long] =
      Option(edges.getParentFile.listFiles()).toSeq.flatten
        .map(new File(_, "_SUCCESS")).filter(_.exists())
        .map(m => m.getParent -> m.lastModified()).toMap
    val parked = markers()
    assert(parked.contains(edges.toString), s"no edge tier in $parked")
    SparkEntry.queries("graph_kcore")(spark, dir).count()
    // had the query derived another root, it would have parked it here
    assert(markers() === parked, "graph_kcore built a graph tier")
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
