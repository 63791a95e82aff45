package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Progress accounting (A7): the reference keeps a locked shared counter
  * updated per row and printed every 10^4 (blocksci_export.py:74,146-149).
  * The Spark-native form is a SparkListener over task output metrics —
  * zero cost in the row path, exact at task granularity.
  */
object Progress {

  final class RowCounter(reportEvery: Long,
      report: Long => Unit) extends SparkListener {
    val rows = new AtomicLong(0L)
    private val lastReported = new AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        val n = rows.addAndGet(m.outputMetrics.recordsWritten)
        val last = lastReported.get()
        if (n - last >= reportEvery && lastReported.compareAndSet(last, n))
          report(n)
      }
    }
  }

  /** Run `body` with a row counter attached; returns (result, rowsWritten). */
  def countingWrites[T](s: SparkSession, reportEvery: Long = 10000L,
      report: Long => Unit = n => System.err.println(s"[progress] $n rows"))(
      body: => T): (T, Long) = {
    val counter = new RowCounter(reportEvery, report)
    s.sparkContext.addSparkListener(counter)
    try {
      val r = body
      // the listener bus is async: let every task end posted so far
      // reach the counter
      ListenerBridge.drain(s.sparkContext)
      (r, counter.rows.get())
    } finally s.sparkContext.removeSparkListener(counter)
  }
}
