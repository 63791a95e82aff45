package graft

import java.util.concurrent.CountDownLatch

/** The one work meter: deterministic work numbers for a repeated warm
  * query, nothing for a body that runs no job, and only the jobs of the
  * measured scope — its own thread and the threads it starts. */
class WorkMeterSpec extends SparkSpec {
  private def jobsOf(body: => Unit): Long = WorkMeter.measure(spark)(body)._2.jobs

  test("two warm runs of a query read and shuffle the same bytes and records") {
    val q1 = Seq("q1_pricing" -> SparkEntry.queries("q1_pricing"))
    Bench.queryPass(spark, sf("sf0.001"), q1)
    val Seq(a, b) = Seq.fill(2)(Bench.queryPass(spark, sf("sf0.001"), q1).head.work)
    def io(w: Work) = (w.inputBytes, w.inputRecords, w.shuffleReadBytes,
      w.shuffleWriteBytes, w.shuffleWriteRecords)
    assert(a.jobs > 0 && a.stages > 0 && a.inputRecords > 0, a)
    assert(io(a) === io(b))
  }

  test("a body that starts no job measures zero") {
    val (_, w) = WorkMeter.measure(spark)(spark.range(10).toDF("x").schema)
    assert(w === Work.zero)
  }

  test("only jobs of the scope's thread and the threads it starts count") {
    def job(): Unit = { spark.range(100).count(); () }
    val own = jobsOf(job())
    assert(own > 0)
    // a thread started before the scope runs its job while the scope is open
    val go, done = new CountDownLatch(1)
    val outside = new Thread(() => { go.await(); job(); done.countDown() })
    outside.start()
    assert(jobsOf { go.countDown(); done.await() } === 0)
    outside.join()
    // a thread started inside the scope inherits it
    assert(jobsOf {
      val inside = new Thread(() => job())
      inside.start()
      inside.join()
    } === own)
  }
}
