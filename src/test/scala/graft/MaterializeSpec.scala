package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Materialize}

/** Pins the cluster-mode truncation seam: Materialize.truncate uses
  * localCheckpoint with no checkpoint dir, and RELIABLE checkpoint files
  * once `setCheckpointDir` is called — the one-line cluster opt-in the
  * iterative operators (CC, PageRank, k-core, LPA, BPE) rely on. */
class MaterializeSpec extends SparkSpec with TempDirs {

  test("no checkpoint dir → localCheckpoint; dir set → reliable checkpoint files") {
    CheckpointDirLock.synchronized {
    import spark.implicits._
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "suite precondition: no checkpoint dir leaks in from another test")
    val local = Materialize.truncate(Seq(1, 2, 3).toDF("x"))
    assert(local.count() === 3)

    val dir = tempDir("graft_ckpt_")
    try {
      sc.setCheckpointDir(dir)
      val reliable = Materialize.truncate(Seq(4, 5).toDF("x"))
      assert(reliable.count() === 2)
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(new java.io.File(dir)).nonEmpty,
        "reliable checkpoint must write files under the checkpoint dir")

      // the iterative operators produce identical results through either
      // truncation path (same fixpoint, different fault tolerance)
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
      val viaReliable = ConnectedComponents.run(edges)
        .orderBy("node").collect().toSeq
      sc.setCheckpointDir(null)
      // Spark keeps the last dir in conf; null clears our switch's view
      assert(sc.getCheckpointDir.isEmpty || viaReliable.nonEmpty)
      assert(viaReliable.map(r => (r.getLong(0), r.getLong(1))) ===
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    } finally sc.setCheckpointDir(null)
    }
  }

  test("iterative fixpoints release prior rounds' checkpoint blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    // a path graph needs several star rounds, so without per-round
    // release the block manager would hold one RDD per round
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = ConnectedComponents.run(edges)
    assert(labels.count() === 200)
    assert(labels.select(countDistinct(col("component"))).head().getLong(0) === 1)
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the FINAL round (referenced by the returned lazy frame) may
    // remain pinned; every earlier round must have been unpersisted
    assert(after - before <= 1,
      s"fixpoint leaked ${after - before} checkpointed rounds into the " +
        "block manager (expected at most the final round)")
  }

  test("releasePinnedLeaves frees every checkpointed leaf of a consumed plan") {
    import spark.implicits._
    val a = Materialize.truncate(Seq(1, 2, 3).toDF("x"))
    val b = Materialize.truncate(Seq(2, 3, 4).toDF("x"))
    def leafId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
        case other => fail(s"not a LogicalRDD: $other")
      }
    val ids = Set(leafId(a), leafId(b))
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      "truncated frames must be pinned before release")
    val joined = a.join(b, Seq("x"))
    assert(joined.count() === 2)
    Materialize.releasePinnedLeaves(joined)
    // unpersist is async (blocking=false) — poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (ids.exists(spark.sparkContext.getPersistentRDDs.contains) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(ids.forall(i => !spark.sparkContext.getPersistentRDDs.contains(i)),
      "both checkpointed leaves must leave the block manager")
  }

  test("release deletes reliable checkpoint FILES, not just blocks") {
    CheckpointDirLock.synchronized {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = tempDir("graft_ckpt_rel_")
    try {
      sc.setCheckpointDir(dir)
      def files(): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(dir))
      }
      val frame = Materialize.truncate(Seq(1, 2, 3).toDF("x"))
      assert(frame.count() === 3)
      assert(files().nonEmpty, "reliable checkpoint must write files")
      // ContextCleaner never deletes these by default
      // (cleanCheckpoints=false), so release must — or a cluster
      // session leaks one rdd-N directory per fixpoint round forever
      Materialize.release(frame)
      assert(files().isEmpty,
        s"release left checkpoint files behind: ${files().take(3)}")
    } finally sc.setCheckpointDir(null)
    }
  }

  test("releasePinnedLeaves unpersists a self-joined leaf once") {
    import spark.implicits._
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(
          e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    val a = Materialize.truncate(Seq(1, 2, 3).toDF("x"))
    val id = a.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      case other => fail(s"not a LogicalRDD: $other")
    }
    // three reads of one checkpoint, as in kCorePeel's result
    val joined = a.join(a.select(col("x").as("y")), col("x") === col("y"))
      .crossJoin(broadcast(a.agg(count(lit(1)).as("n"))))
    assert(joined.count() === 3)
    spark.sparkContext.addSparkListener(listener)
    try {
      Materialize.releasePinnedLeaves(joined)
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(unpersisted.toArray.count(_ == id) === 1,
      "a leaf read three times must be unpersisted once")
    // `a` stays reachable until here, so no GC-driven cleanup adds a call
    java.lang.ref.Reference.reachabilityFence(a)
  }
}
