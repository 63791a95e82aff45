package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Export, Graft, SparkEntry}
import graft.chain.{Chain, ChainSink, ChainStore}

/** One benchmark run: set up, prepare the workload, then run it in a
  * closed loop (one client, each call after the previous one returns)
  * until the time is up, check the outputs, and write every raw sample
  * to a JSON file. `run.py` launches this program, reduces the samples
  * to metrics and prints the result line.
  *
  * {{{
  * Main --generate 1 --fixture DIR --data DIR
  * Main --workload W --seed N --seconds S --trace 0|1 --fixture DIR
  *      --data DIR --tiers A,B --short A,B --loop A,B --warm-tiers A,B
  *      --warm-queries A,B --out FILE
  * }}}
  *
  * `--fixture` is the library's sf0.001 test fixture; `--data` holds
  * what `--generate` derives from it. The tier entries and query names
  * come from `spec.py`, the benchmark's one list of them.
  *
  * The working directory belongs to the run: the library's relative
  * `target/intermediate`, `target/bucketed` and `target/tmp` trees land
  * there. */
object Main {

  /** `export_sync`'s chain: the fixture's orders and line items
    * replicated this many times by `graft.ScaleUp`'s chain mode. */
  val ChainFactor = 8

  final case class Op(name: String, pass: Int, ms: Double, ok: Boolean,
      rows: Long = -1L, hash: String = "")

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val fixture: String, val dataDir: String, val trace: Trace,
      val cpus: Int) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Double] // wall seconds
    var setupS = Double.NaN
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var checks = 0
    val mismatches = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = _
    /** Off during the warm-up: calls are neither timed nor kept, outputs
      * are not checked, and no per-layer value is taken; a call that
      * throws still counts as a failure. */
    var recording = true
    def dir(name: String) = s"$dataDir/$name"

    /** Times one call into the library; a throw is a failed op. */
    def op[T](name: String, pass: Int, isStep: Boolean = false)(
        body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = try Some(trace.span(name, isStep)(body)) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          e.printStackTrace()
          None
      }
      if (recording)
        ops += Op(name, pass, (System.nanoTime() - t0) / 1e6, r.isDefined)
      else if (r.isEmpty) mismatches += s"warm-up: $name failed"
      r
    }

    def setLast(f: Op => Op): Unit =
      if (recording) ops(ops.size - 1) = f(ops.last)

    def check(what: String)(ok: => Boolean): Unit = if (recording) {
      checks += 1
      val good = try ok catch {
        case e: Throwable => System.err.println(s"[perfbench] $what: $e"); false
      }
      if (!good) {
        mismatches += what
        System.err.println(s"[perfbench] MISMATCH $what")
      }
    }

    /** A per-layer value, kept from the first pass of a traced run only,
      * so traced runs of different lengths report comparable numbers. */
    def layer(name: String, v: => Double): Unit =
      if (recording && trace.enabled && !layers.contains(name)) layers(name) = v

    /** Runs `body` as the warm-up. */
    def warmUp(body: => Unit): Unit = {
      recording = false
      try trace.span("warm_up", isStep = true)(body) finally recording = true
    }
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir",
        new File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.queries.RefQueries.invalidateBucketedCache()
  }

  def delete(path: String): Unit =
    graft.ops.Tiers.deleteRecursively(new File(path))

  def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(root))
  }

  def bytes(root: String): Long = files(root).map(_.length).sum

  def copy(from: String, to: String): Unit = {
    val src = new File(from).toPath
    files(from).foreach { f =>
      val dst = new File(to).toPath.resolve(src.relativize(f.toPath))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f.toPath, dst)
    }
  }

  /** Distinct block heights of a chain directory, ascending. */
  def blockHeights(s: SparkSession, dir: String): Array[Long] =
    Chain.transactions(s, dir).select(org.apache.spark.sql.functions.col(
      "block_id")).distinct().orderBy("block_id").collect().map(_.getLong(0))

  // ------------------------------------------------------- export_sync

  /** A [[ChainSink]] that delegates to the parquet store and times each
    * write under the table names the per-layer metrics use. */
  final class TimedSink(run: Run) extends ChainSink {
    val seconds = mutable.LinkedHashMap(
      Seq("tx", "prefix_index", "block", "block_tx", "stats").map(_ -> 0.0): _*)
    private def timed(table: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      run.trace.span(s"chain.sink.$table")(body)
      seconds(table) += (System.nanoTime() - t0) / 1e9
    }
    def writeTransactions(tx: DataFrame, out: String): Unit =
      timed("tx")(ChainStore.writeTransactions(tx, out))
    def writeBlocks(b: DataFrame, out: String): Unit =
      timed("block")(ChainStore.writeBlocks(b, out))
    def writePrefixIndex(tx: DataFrame, out: String): Unit =
      timed("prefix_index")(ChainStore.writePrefixIndex(tx, out))
    def writeBlockTransactions(bt: DataFrame, out: String): Unit =
      timed("block_tx")(ChainStore.writeBlockTransactions(bt, out))
    def writeExchangeRates(r: DataFrame, out: String): Unit =
      timed("stats")(ChainStore.writeExchangeRates(r, out))
    def writeSummaryStatistics(st: DataFrame, out: String): Unit =
      timed("stats")(ChainStore.writeSummaryStatistics(st, out))
    def writeConfiguration(c: DataFrame, out: String): Unit =
      timed("stats")(ChainStore.writeConfiguration(c, out))
  }

  object ExportSync {
    /** The tails a seed picks from: the last 5, 10 or 15 % of heights. */
    val TailPercents = Seq(5, 10, 15)

    def tailPercent(seed: Long): Int =
      TailPercents((seed % TailPercents.size).toInt)

    def cut(heights: Array[Long], pct: Int): Long =
      heights(math.max(0, heights.length * (100 - pct) / 100 - 1))

    /** The fingerprints of the full export's tables (`full/<table>`) and
      * of the derived tx rows (`derived`), as [[writeHeads]] stored them. */
    def readPrints(heads: String): Map[String, (Long, String)] =
      scala.io.Source.fromFile(s"$heads/prints.tsv").getLines().map { l =>
        val Array(k, rows, hash) = l.split('\t'); k -> (rows.toLong, hash)
      }.toMap

    /** The tip height and, per tail percent, the cut, as [[writeHeads]]
      * stored them. */
    def readCuts(heads: String): (Long, Map[Int, Long]) = {
      val kv = scala.io.Source.fromFile(s"$heads/cuts.tsv").getLines()
        .map { l => val Array(k, v) = l.split('\t'); k -> v.toLong }.toMap
      (kv("tip"), (kv - "tip").map { case (k, v) => k.toInt -> v })
    }

    /** The full export the runs compare against, with its fingerprints,
      * and the chain up to each cut, exported (the store `--continue`
      * resumes) and ingested into an epoch store (the store the tail
      * ingest resumes); written once by the same code the runs time. */
    def writeHeads(s: SparkSession, chain: String, heads: String,
        pcts: Seq[Int]): Unit = {
      val h = blockHeights(s, chain)
      new File(heads).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        s"$heads/cuts.tsv"), (s"tip\t${h.last}\n" +: pcts.map(pct =>
          s"$pct\t${cut(h, pct)}\n")).mkString)
      Export.run(s, Export.Args(config = chain, out = s"$heads/full"))
      val tables = Option(new File(s"$heads/full").list()).toSeq.flatten
        .filterNot(_.startsWith("."))
      val prints = Checks.fingerprints(tables.map(t =>
        s"full/$t" -> s.read.parquet(s"$heads/full/$t")) :+
        ("derived" -> Chain.transactions(s, chain)))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        s"$heads/prints.tsv"), prints.toSeq.sorted.map { case (k, (r, h)) =>
          s"$k\t$r\t$h\n" }.mkString)
      for (pct <- pcts) {
        Export.run(s, Export.Args(config = chain, out = s"$heads/tail$pct",
          endIndex = cut(h, pct)))
        Graft.ingest(s, chain, s"$heads/store$pct", -1L,
          tipMargin = h.last - cut(h, pct))
      }
    }
  }

  /** `--continue` from the chain's head, and the streaming ingest of the
    * same tail after the head with compaction, over the last `pct` % of
    * `chain`'s heights; `heads` holds what [[ExportSync.writeHeads]]
    * wrote for that chain. */
  final class ExportSync(run: Run, chain: String, heads: String,
      val pct: Int) {
    private val s = run.spark
    val (tip: Long, cut: Long) = {
      val (tip, cuts) = ExportSync.readCuts(heads)
      (tip, cuts(pct))
    }

    private def lifecycle(step: String, args: Export.Args): Unit = {
      val sink = new TimedSink(run)
      val t0 = System.nanoTime()
      run.op(step, run.passes.size, isStep = true)(Export.run(s, args, sink))
      val wall = (System.nanoTime() - t0) / 1e9
      val phase = step.stripPrefix("export_")
      sink.seconds.foreach { case (t, v) => run.layer(s"chain.sink.${t}_s.$phase", v) }
      run.layer(s"export.driver_s.$phase", wall - sink.seconds.values.sum)
      run.layer(s"export.${phase}_s", wall)
    }

    def pass(): Unit = {
      val p = run.passes.size
      copy(s"$heads/tail$pct", "exp_inc")
      val headBytes = bytes("exp_inc")
      lifecycle("export_continue",
        Export.Args(config = chain, out = "exp_inc", continueIngest = true))
      run.layer("chain.bytes_written.continue",
        (bytes("exp_inc") - headBytes).toDouble)

      // the tail through the streaming ingest into a copy of the head's
      // epoch store, in its own epoch namespace, then compaction
      copy(s"$heads/store$pct", "store")
      val t0 = System.nanoTime()
      run.trace.span("ingest", isStep = true) {
        run.op("ingest_tail", p)(graft.streaming.IncrementalIngest
          .ingestToStore(s, chain, "store", cut, epochBase = 1L))
        run.op("compact", p)(Graft.compactStore(s, "store"))
        run.layer("streaming.compact_s", run.ops.last.ms / 1e3)
      }
      run.layer("streaming.ingest_s", (System.nanoTime() - t0) / 1e9)

      // the full export must equal head + --continue, table by table,
      // and the compacted store must hold exactly the derived tx rows
      // (the warm-up is not checked)
      if (run.recording) {
        val expected = ExportSync.readPrints(heads)
        val tables = expected.keys.filter(_.startsWith("full/")).toSeq.sorted
        val seen = Checks.fingerprints(tables.map { k =>
          k -> s.read.parquet(s"exp_inc/${k.stripPrefix("full/")}")
        } :+ ("derived" -> ChainStore.readTransactions(s, "store")
          .select(Chain.transactions(s, chain).columns
            .map(org.apache.spark.sql.functions.col): _*)))
        def same(k: String) = seen.get(k).exists(expected.get(k).contains)
        run.check(s"pass $p: export wrote the full export's 7 tables")(
          tables.size == 7 && Option(new File("exp_inc").list()).toSeq.flatten
            .filterNot(_.startsWith(".")).map("full/" + _).sorted == tables)
        for (t <- tables)
          run.check(s"pass $p: $t full == head + continue")(same(t))
        run.check(s"pass $p: compacted store == derived tx rows")(
          same("derived"))
      }
      Seq("exp_inc", "store").foreach(delete)
    }
  }

  // ------------------------------------------------------------- tiers

  /** The `graft.Bench` cold-build entries the benchmark can time, by
    * their names there. */
  def tierEntry(s: SparkSession, dir: String, name: String): () => Unit = {
    import graft.ops.DedupMaterialize._
    name match {
      case "dedup_materialize_bands" => () => { bandTable(s, dir).count(); () }
      case "dedup_materialize_components" =>
        () => { componentTable(s, dir).count(); () }
      case "graph_build" =>
        () => graft.queries.GraphQueries.buildGraphTier(s, dir)
      case "flow_build" => () => graft.queries.GraphQueries.buildFlowTier(s, dir)
      case "store_build" => () => {
        graft.ops.StoreMaterialize.transactionStore(s, dir)(out =>
          ChainStore.writeTransactions(Chain.transactions(s, dir), out)); ()
      }
    }
  }

  def parquetFiles(): Set[String] =
    files(".").map(_.getPath).filter(_.endsWith(".parquet")).toSet

  /** Rows in the parquet files, from their footers. */
  def footerRows(s: SparkSession, paths: Iterable[String]): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    paths.iterator.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new File(p).getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Builds `entries` cold (tier roots wiped first), timing each and
    * counting the rows it wrote. */
  def buildTiers(run: Run, entries: Seq[String]): Unit = {
    val s = run.spark
    val p = run.passes.size
    graft.ops.Tiers.wipe()
    val t0 = System.nanoTime()
    run.trace.span("tier_build", isStep = true) {
      for (name <- entries) {
        val before = parquetFiles()
        run.op(name, p)(tierEntry(s, run.fixture, name)())
        run.layer(s"ops.${name}_s", run.ops.last.ms / 1e3)
        val rows = footerRows(s, parquetFiles() -- before)
        run.setLast(_.copy(rows = rows))
      }
    }
    run.layer("ops.tier_build_s", (System.nanoTime() - t0) / 1e9)
    run.layer("ops.bytes_written", bytes("target/intermediate").toDouble)
  }

  // ----------------------------------------------------------- queries

  /** One pass of `short` queries, then each `loop` query, over the
    * tiers built just before. A timed call ends when a no-op sink has
    * consumed every column of every row; each output's row count and hash
    * are taken afterwards, outside the timed calls and the step spans. */
  final class QueryMix(run: Run, short: Seq[String], loop: Seq[String]) {
    private def tierDirs(): Set[String] =
      Option(new File("target/intermediate").list()).toSeq.flatten.toSet

    def pass(): Unit = {
      val s = run.spark
      val p = run.passes.size
      val before = tierDirs()
      var defineS = 0.0
      /** Runs `q`; returns its frame and the index of its op. */
      def one(q: String, isStep: Boolean): Option[(DataFrame, Int)] = {
        var df: DataFrame = null
        val r = run.op(q, p, isStep) {
          val t0 = System.nanoTime()
          df = run.trace.span("queries.define")(
            SparkEntry.queries(q)(s, run.fixture))
          defineS += (System.nanoTime() - t0) / 1e9
          df.write.format("noop").mode("overwrite").save()
        }
        run.layer(s"queries.${q}_s", run.ops.last.ms / 1e3)
        Option(df).map(_ -> (if (r.isDefined) run.ops.size - 1 else -1))
      }
      def fingerprint(done: Seq[(DataFrame, Int)]): Unit = {
        if (run.recording)
          Checks.fingerprints(done.collect { case (df, i) if i >= 0 =>
            i.toString -> df }).foreach { case (i, (rows, hash)) =>
              run.ops(i.toInt) = run.ops(i.toInt).copy(rows = rows, hash = hash)
          }
        done.foreach(d =>
          graft.operators.Materialize.releasePinnedLeaves(d._1))
      }
      fingerprint(run.trace.span("short", isStep = true) {
        short.flatMap(one(_, isStep = false))
      })
      run.layer("queries.define_s.short", defineS)
      var loopS = 0.0
      for (q <- loop) {
        val l0 = System.nanoTime()
        val done = one(q, isStep = true)
        loopS += (System.nanoTime() - l0) / 1e9
        fingerprint(done.toSeq)
      }
      run.layer("queries.loop_pass_s", loopS)
      val created = (tierDirs() -- before).size
      run.layer("ops.tiers_created_warm", created.toDouble)
      run.check(s"pass $p: no tier built while querying")(created == 0)
    }
  }

  // ------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def names(key: String): Seq[String] =
      a.get(key).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val cpus = a.get("--cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val fixture = new File(a("--fixture")).getAbsolutePath
    val dataDir = new File(a("--data")).getAbsolutePath
    if (a.contains("--generate")) {
      // ScaleUp runs in a session of its own, which it stops when done
      graft.ScaleUp.main(Array(fixture, s"$dataDir/chain",
        ChainFactor.toString, "chain"))
      val s = session(cpus)
      try {
        ExportSync.writeHeads(s, s"$dataDir/chain", s"$dataDir/heads",
          ExportSync.TailPercents)
      } finally stop(s)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dataDir/_READY"), "")
      return
    }

    val workload = a("--workload")
    val seed = a("--seed").toLong
    val traced = a.getOrElse("--trace", "0") == "1"
    val run = new Run(workload, seed, a("--seconds").toDouble, fixture,
      dataDir, new Trace(traced,
        s"$workload-$seed-${System.currentTimeMillis()}"), cpus)
    run.spark = session(cpus)
    run.trace.attach(run.spark)

    // set-up: the session, and an untimed warm-up of the workload's own
    // calls on a small input: for export_sync the smallest tail
    val info = mutable.LinkedHashMap.empty[String, String]
    val pass: () => Unit = workload match {
      case "export_sync" =>
        run.warmUp(new ExportSync(run, run.dir("chain"), run.dir("heads"),
          ExportSync.TailPercents.min).pass())
        val e = new ExportSync(run, run.dir("chain"), run.dir("heads"),
          ExportSync.tailPercent(seed))
        info ++= Seq("tail_percent" -> e.pct.toString, "cut" -> e.cut.toString,
          "tip" -> e.tip.toString)
        () => e.pass()
      case "tier_query" =>
        run.warmUp {
          buildTiers(run, names("--warm-tiers"))
          new QueryMix(run, names("--warm-queries"), Nil).pass()
        }
        graft.ops.Tiers.wipe()
        graft.queries.RefQueries.invalidateBucketedCache()
        val queries = new QueryMix(run, names("--short"), names("--loop"))
        val tiers = names("--tiers")
        () => { buildTiers(run, tiers); queries.pass() }
    }
    run.setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // whole passes until the time is up
    val t0 = System.nanoTime()
    while (run.passes.isEmpty || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      run.trace.pass = s"p${run.passes.size}"
      val p0 = System.nanoTime()
      run.trace.span("pass", isStep = true)(pass())
      run.passes += (System.nanoTime() - p0) / 1e9
    }
    run.trace.detach()
    Report.write(run, a("--out"), info.toMap)
    stop(run.spark)
  }
}
