package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Fixpoint, Hits, Materialize, PageRank}
import graft.queries.GraphQueries

/** The loop lifecycle [[Fixpoint]] owns: while a round's step runs, only
  * the previous round and the declared inputs are pinned; once the
  * result is built, only what it reads stays pinned, and every loop
  * operator's consumed result leaves the block manager as it found it. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def pinned(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a LogicalRDD: $other")
  }

  /** Every `unpersist` the context sees, by RDD id — the ContextCleaner's
    * included, so only ids of frames the test still holds are exact. */
  private object Unpersists extends SparkListener {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      ids.add(e.rddId)
    def during(body: => Unit): Seq[Int] = {
      ListenerBridge.addOnce(spark.sparkContext, this)
      ListenerBridge.drain(spark.sparkContext)
      ids.clear()
      body
      ListenerBridge.drain(spark.sparkContext)
      ids.asScala.toSeq
    }
  }

  /** Pinned RDDs that `before` did not hold; unpersist is asynchronous
    * on the block manager side, so poll briefly. */
  private def addedSince(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    while ((pinned() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    pinned() -- before
  }

  test("a step runs with at most one round plus the declared inputs pinned") {
    val before = pinned()
    val input = Materialize.truncate((1L to 20L).toDF("x"))
    val init = Materialize.truncate(Seq(0L).toDF("x"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    // held here so no GC-driven cleanup can unpersist them behind the loop
    val rounds = scala.collection.mutable.ArrayBuffer(init, input)
    val unpersisted = Unpersists.during {
      val out = Fixpoint.run(init, 6, Seq(input)) { (i, cur) =>
        seen += (pinned() -- before).size
        rounds += cur
        cur.unionByName(input.filter(col("x") === i)).distinct()
      } { (_, cur) => rounds += cur; cur }
      assert(out.count() === 7)
      Materialize.releasePinnedLeaves(out)
    }
    assert(seen.size === 6)
    assert(seen.forall(_ <= 2), s"pinned per step: $seen")
    assert(addedSince(before) === Set.empty[Int])
    val ids = rounds.map(rddId).toSet
    assert(ids.size === 8)
    assert(unpersisted.filter(ids).sorted === ids.toSeq.sorted,
      s"every round and the input released exactly once: $unpersisted")
  }

  test("the final predecessor survives only when the result reads it") {
    def runReading(readPrev: Boolean): (Int, Int, DataFrame) = {
      val input = Materialize.truncate((1L to 5L).toDF("x"))
      var last = -1
      val out = Fixpoint.run(Seq(0L).toDF("x"), 3, Seq(input)) { (_, cur) =>
        cur.select((col("x") + 1L).as("x"))
      } { (prev, cur) =>
        last = rddId(prev)
        if (readPrev) cur.crossJoin(prev.select(col("x").as("p"))) else cur
      }
      (last, rddId(input), out)
    }
    val (prevKept, inputKept, withPrev) = runReading(readPrev = true)
    assert(pinned().contains(prevKept), "a result that reads prev keeps it")
    assert(!pinned().contains(inputKept), "an unread input is released")
    assert(withPrev.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((3L, 2L)))
    Materialize.releasePinnedLeaves(withPrev)
    val (prevGone, _, curOnly) = runReading(readPrev = false)
    assert(!pinned().contains(prevGone),
      "a result that does not read prev must not keep it pinned")
    assert(curOnly.collect().map(_.getLong(0)).toSeq === Seq(3L))
    Materialize.releasePinnedLeaves(curOnly)
  }

  private val path = (1 to 12).map(i => (s"n$i", s"n${i + 1}")) ++
    Seq(("n3", "n1"), ("n8", "n5"), ("m1", "m2"), ("m2", "m1"))

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "ConnectedComponents.run" -> (() =>
      ConnectedComponents.run(path.toDF("u", "v"))),
    "PageRank.runFromEdges" -> (() =>
      PageRank.runFromEdges(path.toDF("src", "dst"), 4)),
    "PageRank.runWeightedFromEdges" -> (() =>
      PageRank.runWeightedFromEdges(path.map { case (a, b) =>
        (a, b, a.length.toLong) }.toDF("src", "dst", "v"), 4)),
    "Hits.runFromEdges" -> (() => Hits.runFromEdges(path.toDF("src", "dst"), 3)),
    "kCorePeel" -> (() => GraphQueries.kCorePeel(path.toDF("src", "dst"), 2, 3)),
    "taintPropagate" -> (() => GraphQueries.taintPropagate(
      path.toDF("src", "dst"), Seq("n1", "m1").toDF("node"), 3)),
    "labelPropagate" -> (() =>
      GraphQueries.labelPropagate(path.toDF("src", "dst"), 3)),
    "minReach" -> (() => {
      val e = path.toDF("src", "dst")
      GraphQueries.minReach(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), e, 3)
    }))

  for ((name, loop) <- loops)
    test(s"$name leaves nothing pinned once its result is consumed") {
      val before = pinned()
      val out = loop()
      assert(out.collect().nonEmpty)
      Materialize.releasePinnedLeaves(out)
      val left = addedSince(before)
      assert(left === Set.empty[Int], s"$name left RDDs $left pinned")
    }
}
