package perfbench

import java.nio.file.{Files, Paths}

/** Writes a run's raw samples as one JSON document: set-up time,
  * passes, every timed call with its output's row count and hash, the
  * checks, peak memory, and (traced runs) per-layer values, engine and
  * streaming counters per tag, and the spans. */
object Report {

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
  }

  def write(run: Main.Run, out: String, info: Map[String, String]): Unit = {
    val t = run.trace
    val engine = t.engine.synchronized {
      t.engine.byStep.toSeq.map(_ -> "step") ++
        t.engine.bySpan.toSeq.map(_ -> "span")
    }.collect { case ((tag, c), kind) if tag.nonEmpty =>
      s"$kind:$tag" -> obj(Seq(
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "task_s" -> num(c.taskMs / 1e3),
        "shuffle_write_mb" -> num(c.shuffleWriteBytes / 1048576.0),
        "job_intervals" -> arr(c.jobIntervals.map { case (a, b) =>
          arr(Seq(num(a), num(b))) })))
    }
    val stream = t.stream.synchronized(t.stream.byStep.toSeq).map {
      case (tag, m) => tag -> obj(m.toSeq.map { case (k, v) => k -> v.toString })
    }
    val doc = obj(Seq(
      "workload" -> str(run.workload),
      "seed" -> run.seed.toString,
      "run_id" -> str(t.runId),
      "traced" -> t.enabled.toString,
      "config" -> obj(Seq(
        "master" -> str(s"local[${run.cpus}]"),
        "shuffle_partitions" -> run.cpus.toString,
        "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
        "inputs" -> obj(Seq("fixture" -> str("sf0.001"),
          "chain_factor" -> Main.ChainFactor.toString)))),
      "info" -> obj(info.map { case (k, v) => k -> str(v) }),
      "setup_s" -> num(run.setupS),
      "passes" -> arr(run.passes.map(num)),
      "ops" -> arr(run.ops.map(o => obj(Seq(
        "name" -> str(o.name), "pass" -> o.pass.toString, "ms" -> num(o.ms),
        "ok" -> o.ok.toString, "rows" -> o.rows.toString,
        "hash" -> str(o.hash))))),
      "checks" -> run.checks.toString,
      "mismatches" -> arr(run.mismatches.map(str)),
      "peak_rss_mb" -> num(peakRssMb()),
      "drain_s" -> num(t.drainNs / 1e9),
      "layers" -> obj(run.layers.map { case (k, v) => k -> num(v) }),
      "engine" -> obj(engine),
      "stream" -> obj(stream),
      "spans" -> arr(t.spans.map(sp => obj(Seq(
        "id" -> sp.id.toString, "name" -> str(sp.name), "tag" -> str(sp.tag),
        "parent" -> sp.parent.toString, "start" -> num(sp.start),
        "end" -> num(sp.end)))))))
    Files.writeString(Paths.get(out), doc)
  }
}
