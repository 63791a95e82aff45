package graft

import org.apache.spark.sql.functions._

import graft.operators.PrefixCarry

/** The two-phase distributed carry must equal the serial prefix scan it
  * replaces — across range-partition boundaries, through null runs
  * longer than a partition, and in both directions. */
class PrefixCarrySpec extends SparkSpec with TempDirs {
  import spark.implicits._

  // sparse payloads: only every 7th ord carries one, so several range
  // partitions (4 in tests) contain no payload at all near the edges
  private def fixture = (0L until 200L).map { i =>
    (i, if (i % 7 == 0) Some(i * 10) else None)
  }.toDF("ord", "pv")
    .withColumn("payload",
      when(col("pv").isNotNull, struct(col("ord"), col("pv"))))
    .drop("pv")

  test("backward carry equals the serial prefix scan") {
    val got = PrefixCarry.exclusiveCarry(fixture, "ord", "payload")
      .select(col("ord"), col("carry").getField("pv").as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    (0L until 200L).foreach { i =>
      val want = (0L until i).filter(_ % 7 == 0).lastOption.map(_ * 10)
      assert(got(i) === want, s"ord $i")
    }
  }

  test("forward carry equals the serial suffix scan") {
    val got = PrefixCarry.exclusiveCarry(fixture, "ord", "payload",
        forward = true)
      .select(col("ord"), col("carry").getField("pv").as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    (0L until 200L).foreach { i =>
      val want = ((i + 1) until 200L).find(_ % 7 == 0).map(_ * 10)
      assert(got(i) === want, s"ord $i")
    }
  }

  test("global rank equals the serial row_number, ties broken by the second key") {
    // many ties on the leading key — the rank must still be a total
    // order because the tie-break column completes it
    val df = (0L until 300L).map(i => (i % 7, i)).toDF("k", "id")
    val got = PrefixCarry.globalRank(df, Seq("k", "id"))
      .select("k", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = (0L until 300L).map(i => (i % 7, i)).sorted.zipWithIndex
      .map { case (p, i) => p -> (i + 1L) }.toMap
    assert(got === want)
  }

  test("exclusive prefix sum equals the serial cumsum") {
    val df = (0L until 500L).map(i => (i, i % 13)).toDF("ord", "v")
    val got = PrefixCarry.exclusivePrefixSum(df, "ord", "v")
      .select("ord", "prefix_sum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    (0L until 500L).foreach { i =>
      assert(got(i) === acc, s"ord $i")
      acc += i % 13
    }
  }

  test("pin takes the RELIABLE checkpoint path under a set dir; seal deletes it") {
    CheckpointDirLock.synchronized {
      val sc = spark.sparkContext
      assert(sc.getCheckpointDir.isEmpty,
        "suite precondition: no checkpoint dir leaks in from another test")
      val dir = tempDir("graft_pc_ckpt_")
      try {
        sc.setCheckpointDir(dir)
        val c = PrefixCarry.exclusiveCarryCarried(fixture, "ord", "payload")
        val ckptFile = c.pinned.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.getCheckpointFile
          case other => fail(s"pinned frame is not a LogicalRDD: $other")
        }
        assert(ckptFile.isDefined,
          "with a checkpoint dir set the pin must be a RELIABLE " +
            "checkpoint (executor loss survivable), not a local one")
        val sealedCarry = c.seal()
        // correctness is unchanged through the reliable path + seal
        val got = sealedCarry
          .select(col("ord"), col("carry").getField("pv").as("c"))
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        (0L until 200L).foreach { i =>
          val want = (0L until i).filter(_ % 7 == 0).lastOption.map(_ * 10)
          assert(got(i) === want, s"ord $i")
        }
        // seal must delete the pin's checkpoint FILES (ContextCleaner
        // never does by default) — the session leaks one rdd-N dir per
        // carry otherwise
        val p = new org.apache.hadoop.fs.Path(ckptFile.get)
        assert(!p.getFileSystem(sc.hadoopConfiguration).exists(p),
          "seal left the pinned input's checkpoint files behind")
      } finally sc.setCheckpointDir(null)
    }
  }

  test("sealed carries leave the session storage-flat") {
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 5).foreach { _ =>
      val c = PrefixCarry.exclusiveCarryCarried(fixture, "ord", "payload")
      assert(c.seal().count() === 200)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    // ≤, not ==: ContextCleaner may concurrently GC-release OTHER
    // suites' leftovers, shrinking the count below the baseline — the
    // invariant under test is only that sealed carries add nothing
    assert(after <= before,
      s"${after - before} pinned inputs survived their seal() — " +
        "repeat-invocation sessions would grow with query count")
  }

  test("ranges whose values are ALL null sum as zero (no driver NPE)") {
    // 400 ords over 4 range partitions with every value below 250 null:
    // the first partitions' totals are null sums — the driver prefix
    // scan must treat them as 0, not getLong an SQL NULL
    val df = (0L until 400L)
      .map(i => (i, if (i < 250) None else Some(i % 5))).toDF("ord", "v")
    val got = PrefixCarry.exclusivePrefixSum(df, "ord", "v")
      .select("ord", "prefix_sum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var acc = 0L
    (0L until 400L).foreach { i =>
      assert(got(i) === acc, s"ord $i")
      if (i >= 250) acc += i % 5
    }
  }

  test("all-null payloads carry nothing; original columns survive") {
    val df = (0L until 50L).map(i => (i, s"k$i")).toDF("ord", "tag")
      .withColumn("payload",
        when(lit(false), struct(col("ord"))))
    val out = PrefixCarry.exclusiveCarry(df, "ord", "payload")
    assert(out.columns.toSeq.sorted === Seq("carry", "ord", "payload", "tag"))
    assert(out.filter(col("carry").isNotNull).count() === 0)
    assert(out.count() === 50)
  }
}
