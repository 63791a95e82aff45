package graft

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine work of one measured scope, summed over the stages its
  * jobs ran. `outputRecords` is the rows its writes wrote: the
  * reference's progress counter (A7, blocksci_export.py:74,146-149). */
final case class Work(jobs: Long, stages: Long, taskMs: Long,
    inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    outputRecords: Long)

object Work {
  val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The one work meter: a single listener that sums [[Work]] per measured
  * scope. A scope tags its jobs through a local property, which threads
  * started inside it inherit (Tiers.buildConcurrently's pool, stream
  * executions), so jobs of other threads never count. Scopes do not
  * nest: a job counts toward the innermost one. */
object WorkMeter extends SparkListener {
  private val Key = "graft.workmeter.scope"
  /** Open scope -> its work so far. */
  private val scopes = new ConcurrentHashMap[String, Work]()
  /** Submitted, not yet completed stage -> its scope. */
  private val stageScopes = new ConcurrentHashMap[Int, String]()

  private def scope(p: Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Key)))

  /** Folds into an open scope; a closed scope's late jobs are dropped. */
  private def update(scope: String)(f: Work => Work): Unit =
    scopes.computeIfPresent(scope, (_, w) => f(w))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    scope(e.properties).foreach(update(_)(w => w.copy(jobs = w.jobs + 1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    scope(e.properties).foreach(stageScopes.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for {
      sc <- Option(stageScopes.remove(e.stageInfo.stageId))
      m <- Option(e.stageInfo.taskMetrics)
    } update(sc)(w => w.copy(stages = w.stages + 1,
      taskMs = w.taskMs + m.executorRunTime,
      inputBytes = w.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = w.inputRecords + m.inputMetrics.recordsRead,
      shuffleReadBytes = w.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords =
        w.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
      outputRecords = w.outputRecords + m.outputMetrics.recordsWritten))

  /** Runs `body` as one scope and returns its result with the work its
    * jobs did, read after the listener bus has drained, so no completed
    * stage is missed or counted late. */
  def measure[T](s: SparkSession)(body: => T): (T, Work) = {
    val sc = s.sparkContext
    ListenerBridge.addOnce(sc, this)
    val tag = java.util.UUID.randomUUID().toString
    val outer = sc.getLocalProperty(Key)
    scopes.put(tag, Work.zero)
    try {
      sc.setLocalProperty(Key, tag)
      val r = try body finally sc.setLocalProperty(Key, outer)
      ListenerBridge.drain(sc)
      (r, scopes.get(tag))
    } finally scopes.remove(tag)
  }
}
