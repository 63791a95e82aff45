package graft

import org.apache.spark.sql.functions.{col, udf}

/** Bench's pass policy, the one `Probe time` runs too: an entry that
  * throws is reported as -1 and counted as failed, and a -1 in either
  * pass wins over the other pass's time. */
class BenchSpec extends SparkSpec {
  test("a throwing build or query reports -1 and counts as failed") {
    val dir = sf("sf0.001")
    var coldPasses, queryPasses = 0
    val builds: Seq[(String, Bench.Build)] = Seq(
      "ok_build" -> ((s, d) => { chain.Chain.table(s, d, "lineitem").count(); () }),
      "first_pass_build" -> ((_, _) => if (coldPasses == 1) sys.error("pass 1")),
      "broken_build" -> ((_, _) => sys.error("always")))
    val boom = udf((x: Long) => if (x >= 0) sys.error("always") else x)
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok_query" -> ((s, _) => s.range(5).toDF("x")),
      "second_pass_query" -> ((s, _) =>
        if (queryPasses == 2) sys.error("pass 2") else s.range(3).toDF("x")),
      "broken_query" -> ((s, _) => s.range(3).filter(boom(col("id")) > 0).toDF()))
    def coldPass() = { coldPasses += 1; Bench.coldPass(spark, dir, builds) }
    def queryPass() = { queryPasses += 1; Bench.queryPass(spark, dir, queries) }
    val (b1, b2, q1, q2) = (coldPass(), coldPass(), queryPass(), queryPass())

    // each failed run reads -1; a run that passed keeps its time
    assert(b1.map(_.secs >= 0) === Seq(true, false, false))
    assert(b2.map(_.secs >= 0) === Seq(true, true, false))
    assert(q1.map(_.secs >= 0) === Seq(true, true, false))
    assert(q2.map(_.secs >= 0) === Seq(true, false, false))
    assert(q1.head.rows === Some(5L) && b1.head.rows === None)
    // min-of-2: the -1 wins over the other pass's time
    val builtMin = Bench.minOf2(b1, b2).toMap
    assert(builtMin("ok_build") === math.min(b1.head.secs, b2.head.secs))
    assert(builtMin("first_pass_build") === -1.0)
    assert(builtMin("broken_build") === -1.0)
    val queryMin = Bench.minOf2(q1, q2).toMap
    assert(queryMin("ok_query") >= 0)
    assert(queryMin("second_pass_query") === -1.0)
    assert(queryMin("broken_query") === -1.0)
    // every failed entry counts once, first failure first
    assert(Bench.failures(b1 ++ b2 ++ q1 ++ q2) === Seq("first_pass_build",
      "broken_build", "broken_query", "second_pass_query"))
  }
}
