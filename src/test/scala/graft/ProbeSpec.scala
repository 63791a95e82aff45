package graft

import java.io.{ByteArrayOutputStream, File}

/** Each graft.Probe command once on sf0.001, on the shared session:
  * commands print their measurement and leave the caller's session
  * running. */
class ProbeSpec extends SparkSpec with TempDirs {
  private def printed(body: => Unit): String = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(body)
    assert(!spark.sparkContext.isStopped, "a probe command stopped the session")
    buf.toString("UTF-8")
  }

  private val totals =
    """ taskTime=\S+s input=\S+MB/\S+Mrec shufW=\S+MB/\S+Mrec shufR=\S+MB stages=\d+$""".r

  test("time prints stage totals for a cold build and a warm query") {
    val out = printed(Probe.run(spark, Seq("time", sf("sf0.001"),
      "dedup_materialize_bands", "q1_pricing")))
    val lines = out.linesIterator.toSeq
    val build = lines.filter(_.startsWith("[probe] dedup_materialize_bands run1 "))
    val query = lines.filter(_.startsWith("[probe] q1_pricing run1 "))
    assert(build.size === 1 && totals.findFirstIn(build.head).isDefined, out)
    assert(query.size === 1 && totals.findFirstIn(query.head).isDefined, out)
    val rows = SparkEntry.queries("q1_pricing")(spark, sf("sf0.001")).count()
    assert(query.head.contains(s" rows=$rows "), out)
  }

  test("explain writes the formatted plan file") {
    val root = tempDir("probe_plans_")
    val out = printed(Probe.explain(spark, sf("sf0.001"), "spec", "before",
      Seq("q1_pricing"), root))
    assert(new File(s"$root/spec/q1_pricing_before.txt").length() > 0)
    assert(out.contains("HashAggregate="), out)
  }

  test("plans writes the executed plans") {
    val file = s"${tempDir("probe_plans_md_")}/PLANS.md"
    printed(Probe.plans(spark, sf("sf0.001"), file, Seq("q1_pricing")))
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(file)), "UTF-8")
    assert(md.contains("## q1_pricing") && md.contains("HashAggregate"))
  }

  test("continue prints its JSON line and removes its exports") {
    def exports = Option(new File("target").list()).toSeq.flatten
      .count(_.startsWith("contbench_"))
    val before = exports
    val out = printed(Probe.run(spark, Seq("continue", sf("sf0.001"), "spec")))
    assert(out.contains("\"metric\":\"continue_bench\",\"label\":\"spec\""), out)
    assert(exports === before)
  }

  test("count prints the declared inventory") {
    assert(printed(Probe.run(spark, Seq("count"))).contains("queries=238"))
  }
}
