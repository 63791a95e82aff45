package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.DedupMaterialize._
import graft.queries.{GraphQueries, RefQueries, SimilarityQueries}

object Bench {
  /** Headline queries: the flagship of each operator family, timed first
    * and reported as "queries" (comparable round-over-round); the rest of
    * the inventory is then timed too and reported in "all_queries".
    * Order: cheap scans first so scheduler warmup lands on small work. */
  val headline: Seq[String] = Seq(
    "block_table",            // scan + bucket agg
    "tx_by_prefix",           // projection + hash derivation
    "q1_pricing",             // partial-agg benchmark classic
    "q3_shipping",            // 3-way broadcast join + top-k
    "block_transactions",     // collect_list per group
    "transaction_table",      // nested io arrays, single shuffle
    "rate_join",              // broadcast dim join
    "io_address",             // explode + distinct agg
    "bip30_dedup",            // window dedup
    "events_sessionize",      // two-pass window sessionization
    "dedup_exact",            // content-hash dedup
    "dedup_minhash_pairs",    // LSH band join
    "embed_cosine_topk",      // brute-force ANN
    "embed_lsh_ann",          // bucketed ANN
    "text_quality",           // narrow per-doc scoring
    "stream_incremental")     // AvailableNow streaming ingest

  /** A build that parks `tables` in order, counting each. */
  private def counts(tables: ((SparkSession, String) => DataFrame)*)
      : (SparkSession, String) => Unit =
    (s, dir) => tables.foreach(_(s, dir).count())

  /** The cold-build inventory: one entry per parked tier (family), by
    * entry name, in build order — the one list Bench's cold passes and
    * `Probe time` run. Order matters: components derive from bands, and
    * entity flows read the entity labels. */
  val coldBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup_materialize_bands" -> counts(bandTable),
    // the cluster tiers: dedup_components/dedup_keep_one and the
    // incremental-maintenance query then measure consumption of the
    // parked fixpoints, not the CC builds
    "dedup_materialize_components" -> counts(componentTable),
    "dedup_materialize_base" -> counts(componentBaseTable),
    // window-fingerprint tier consumed by text_dup_windows
    "text_winfp_build" -> counts(windowFpTable),
    // pre-batch frequency + score tiers consumed by the incremental
    // dup-window maintenance query
    "text_winfp_base_build" -> counts(winfpGdfBaseTable, winfpScoreBaseTable),
    // segment tier consumed by text_segment_dedup
    "text_segment_build" -> counts(segmentTable),
    // pre-batch segment frequency + output tiers consumed by the
    // incremental segment-dedup maintenance query
    "text_segment_base_build" -> counts(segFreqBaseTable, segScoreBaseTable),
    // pre-batch media fingerprint band + cluster-label tiers
    // consumed by the incremental pHash cluster maintenance query
    "phash_base_build" ->
      counts(phashBandBaseTable, phashClusterBaseTable),
    // full-corpus media cluster labels consumed by the batch
    // cluster rollup
    "phash_build" -> counts(phashClusterTable),
    // pre-batch packed-stream manifest consumed by the incremental
    // shard-packing maintenance query
    "pack_manifest_build" -> counts(packManifestBaseTable),
    // pre-batch all-pairs result + frequency order consumed by the
    // incremental exact-similarity maintenance query
    "allpairs_base_build" -> counts(allPairsBaseTable(_, _),
      allPairsDfBaseTable(_, _), allPairsPrefixBaseTable(_, _)),
    // full-corpus similarity-pair table consumed by the keep-one
    // rollup (the measured PPJoin pipeline stays
    // text_allpairs_cosine)
    "allpairs_build" -> counts(allPairsTable),
    "bucketed_build" -> RefQueries.buildBucketedTables _,
    "entity_build" -> RefQueries.buildEntityTiers _,
    // the parked entity-flow frame consumed by entity_graph /
    // entity_pagerank / entity_hits / entity_taint (r14) — after
    // entity_build so the label tier it reads is already parked
    "entityflow_build" -> GraphQueries.buildEntityFlowTier _,
    "graph_build" -> GraphQueries.buildGraphTier _,
    // the flow projection of the parked timed tier, split out of
    // graph_build so both numbers compare round-over-round (r11:
    // riding it on the graph wave read as a graph regression)
    "flow_build" -> GraphQueries.buildFlowTier _,
    // ann_recall's parked inputs: the six ANN variants' neighbor
    // sets + brute-force ground truth (each variant's query entry
    // still measures its own pipeline; this measures the one-time
    // sweep materialization)
    "ann_build" -> SimilarityQueries.buildAnnTiers _,
    // the serving-layout transaction store consumed by
    // store_keyset_page's pure-read pagination
    "store_build" -> { (s: SparkSession, dir: String) =>
      graft.ops.StoreMaterialize.transactionStore(s, dir)(out =>
        graft.chain.ChainStore.writeTransactions(
          graft.chain.Chain.transactions(s, dir), out)); ()
    })

  type Build = (SparkSession, String) => Unit
  type Query = (SparkSession, String) => DataFrame

  /** One timed entry of a pass: its seconds, or -1 when it threw (a
    * failed build or query must never masquerade as a fast time), the
    * query's row count, the persistent RDDs left after it, and the
    * engine work it ran. */
  final case class Run(name: String, secs: Double, rows: Option[Long],
      pins: Int, work: Work)

  /** Runs one entry of a pass, its engine work measured; a query's
    * operator-pinned inputs are freed after the timed span. */
  private def entry(s: SparkSession, name: String)(
      timed: => Option[(DataFrame, Long)]): Run = {
    val ((secs, rows), work) = WorkMeter.measure(s) {
      try {
        val t0 = System.nanoTime()
        val out = timed
        val secs = (System.nanoTime() - t0) / 1e9
        out.foreach(o => graft.operators.Materialize.releasePinnedLeaves(o._1))
        (secs, out.map(_._2))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        (-1.0, None)
      }
    }
    Run(name, secs, rows, s.sparkContext.getPersistentRDDs.size, work)
  }

  /** Untimed warm-up: session, codegen and parquet-footer costs are
    * one-time and not attributable to the first entry that runs. */
  def warmUp(s: SparkSession, sfDir: String): Unit =
    try {
      graft.chain.Chain.table(s, sfDir, "lineitem")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }

  /** One cold pass: every parked tier root and the bucketed-table cache
    * wiped, then `builds` (entries of [[coldBuilds]], in its order) run
    * one by one. The parked tiers are keyed by fixture mtime, so whether
    * a build ran warm or cold would otherwise depend on what ran before
    * it (r06 vs r07 "regressions" were cache illusions). */
  def coldPass(s: SparkSession, sfDir: String,
      builds: Seq[(String, Build)]): Seq[Run] = {
    graft.ops.Tiers.wipe()
    RefQueries.invalidateBucketedCache()
    builds.map { case (name, build) =>
      entry(s, name) {
        build(s, sfDir)
        None
      }
    }
  }

  /** One warm pass over `queries`: each is constructed and counted (the
    * timed span), then its operator-pinned inputs are freed untimed, so
    * a 400-invocation bench session stays storage-flat. */
  def queryPass(s: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Seq[Run] =
    queries.map { case (name, query) =>
      entry(s, name) {
        val frame = query(s, sfDir)
        Some((frame, frame.count()))
      }
    }

  /** Min-of-2 per entry over two passes of the same entries; a failure
    * in EITHER pass reports the entry as -1, never the other pass's
    * time. The two passes are interleaved (one runs every entry before
    * the other starts), so a contention window on a shared box shorter
    * than a pass cannot inflate both samples of one entry (r11: four
    * headline queries read 10-30x their quiet times when sampled back
    * to back). */
  def minOf2(a: Seq[Run], b: Seq[Run]): Seq[(String, Double)] =
    a.zip(b).map { case (x, y) =>
      x.name -> (if (x.secs < 0 || y.secs < 0) -1.0 else math.min(x.secs, y.secs))
    }

  /** The entries that failed in any of `runs`, first failure first. */
  def failures(runs: Seq[Run]): Seq[String] =
    runs.filter(_.secs < 0).map(_.name).distinct

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    warmUp(spark, sfDir)
    // every entry's RAW pass samples, emitted into target/bench.json —
    // when a shared-box contention window inflates a number, the pass
    // pair makes the contamination visible in the artifact itself
    val rawPasses =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val runs = scala.collection.mutable.ArrayBuffer.empty[Run]
    def twice(pass: => Seq[Run]): Seq[(String, Double)] = {
      val a = pass
      val b = pass
      runs ++= a ++= b
      a.zip(b).foreach { case (x, y) => rawPasses(x.name) = (x.secs, y.secs) }
      minOf2(a, b)
    }
    // one-time builds run up front, each reported as its own entry, so
    // the queries that use them measure query latency on the built tiers
    // instead of burying a build in whichever query runs first. Builds
    // are ALWAYS cold and queries always warm; builds are ~85 % of the
    // total, and single-shot cold timings on a shared machine swung the
    // round headline 1.5x (r10: 86 s driver vs 59 s quiet rerun)
    val builds = twice(coldPass(spark, sfDir, coldBuilds))
    val queries = SparkEntry.queries
    def time(names: Seq[String]): Seq[(String, Double)] =
      twice(queryPass(spark, sfDir, names.map(n => n -> queries(n))))
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

    // headline set (comparable round-over-round), then the full
    // inventory so per-family regressions are visible in every round
    val headlineTimes = time(headline)
    val results = builds ++ headlineTimes
    val rest = time((queries.keySet -- headline.toSet).toSeq.sorted)
    val allResults = results ++ rest
    // failed entries (-1) must not reduce the totals
    val total = results.map(_._2).filter(_ >= 0).sum
    val allTotal = allResults.map(_._2).filter(_ >= 0).sum
    // decomposed totals: builds are COLD by policy, queries warm — a
    // round-over-round reader must be able to separate "tier
    // construction cost moved" from "query latency moved"
    val buildTotal = builds.map(_._2).filter(_ >= 0).sum
    val headlineQueryTotal = headlineTimes.map(_._2).filter(_ >= 0).sum
    val errors = failures(runs.toSeq)
    val errJson =
      errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val passesJson = rawPasses
      .map { case (k, (a, b)) => s"\"$k\":[$a,$b]" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","build_total_sec":$buildTotal,"headline_query_sec":$headlineQueryTotal,"queries":${json(results)},"all_total_sec":$allTotal,"all_queries":${json(allResults)},"raw_passes":$passesJson,"failed":${errors.size},"errors":$errJson,"sf":"$sfDir"}"""
    // durable copy first (the full inventory is long and consoles
    // truncate), then the compact headline line LAST so a tail-capture
    // always gets the parseable totals; the file write must never take
    // the timed results down with it (e.g. foreign cwd without target/)
    val wroteFull =
      try {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get("target"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("target/bench.json"), full)
        true
      } catch { case _: Throwable => false }
    println(full)
    // only advertise the artifact when it was actually written — a stale
    // or missing pointer is worse than none
    val fullPtr = if (wroteFull) "\"target/bench.json\"" else "null"
    // top-5 pass skews surfaced in the tail itself: a large (passA,
    // passB) ratio on an entry is the contention fingerprint (one pass
    // hit a busy window on the shared box, the other didn't) — visible
    // without fetching target/bench.json. Both-pass-positive only;
    // failures are already reported via "failed"/"errors".
    rawPasses.toSeq
      .collect { case (n, (a, b)) if a > 0 && b > 0 =>
        (n, math.max(a, b) / math.min(a, b), a, b) }
      .sortBy(-_._2)
      .take(5)
      .foreach { case (n, r, a, b) =>
        println(f"[bench] pass-skew $n: ${r}%.2fx (passA=$a%.2fs, passB=$b%.2fs)")
      }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"failed":${errors.size},"sf":"$sfDir","full":$fullPtr}""")
    spark.stop()
  }
}
