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
      counts(phashBandBaseTable(_, _), phashClusterBaseTable(_, _)),
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // untimed warmup: session/codegen/parquet-footer costs are one-time
    // and not attributable to the first query in iteration order
    try {
      graft.chain.Chain.table(spark, sfDir, "lineitem")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // a failed build/query must never masquerade as a fast time: record
    // failures per-entry (value -1) and count them into the summary
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // one-time builds run up front, each reported as its own entry —
    // the queries that use them then measure query latency on the built
    // architecture instead of burying the build in whichever query runs
    // first: the dedup intermediate tier and the CLUSTERED BY tables.
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        errors += name; false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    // Deterministic cache policy: the parked tiers (graft.ops.Tier)
    // are keyed by fixture mtime, so whether a build
    // ran warm or cold depended on what ran before it — r06 vs r07
    // "regressions" were cache illusions. Build entries are ALWAYS cold
    // (tier root wiped first) and query entries always warm (builds
    // precede them). Each cold pass runs the whole build inventory;
    // TWO passes run and the per-entry MIN is reported — single-shot
    // cold timings on a shared machine swung the driver's round
    // headline 1.5× (r10: 86 s driver vs 59 s quiet rerun), and builds
    // are ~85 % of the total.
    def coldBuildPass(): Seq[(String, Double)] = {
      graft.ops.Tiers.wipe()
      graft.queries.RefQueries.invalidateBucketedCache()
      coldBuilds.map { case (name, build) => timed(name)(build(spark, sfDir)) }
    }
    // every entry's RAW pass samples, emitted into target/bench.json —
    // when a shared-box contention window inflates a number, the pass
    // pair makes the contamination visible in the artifact itself
    val rawPasses =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    val pass1 = coldBuildPass()
    val pass2 = coldBuildPass()
    // min-of-2 per entry; a failure in EITHER pass reports the entry
    // failed — never the other pass's time. The two build passes are
    // ALREADY interleaved (pass 1 runs the whole inventory before pass
    // 2 starts), so a contention window shorter than a full pass can't
    // inflate both samples of one entry.
    val builds = pass1.zip(pass2).map { case ((n, a), (_, b)) =>
      rawPasses(n) = (a, b)
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }

    // query entries: warm (builds already ran), best-of-2 with the two
    // samples INTERLEAVED (pass A over every entry, then pass B, min
    // per entry) — back-to-back sampling let one multi-minute
    // contention window on the shared driver box inflate BOTH samples
    // of the same entries (r11: four headline queries reported 10-30×
    // their quiet times). Pass A also absorbs residual JIT/page-cache
    // noise. A failure in EITHER pass records the entry as failed
    // (-1), never as a fast time.
    def time(names: Seq[String]): Seq[(String, Double)] = {
      def onePass(name: String): Double =
        try {
          val t0 = System.nanoTime()
          val frame = SparkEntry.queries(name)(spark, sfDir)
          frame.count()
          val secs = (System.nanoTime() - t0) / 1e9
          // untimed post-consumption free of operator-pinned inputs —
          // a 400-invocation bench session stays storage-flat
          graft.operators.Materialize.releasePinnedLeaves(frame)
          secs
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errors += name
          -1.0
        }
      val passA = names.map(n => n -> onePass(n))
      val passB = names.map(n => n -> onePass(n))
      passA.zip(passB).map { case ((n, a), (_, b)) =>
        rawPasses(n) = (a, b)
        n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
      }
    }
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

    // headline set (comparable round-over-round), then the full
    // inventory so per-family regressions are visible in every round
    val headlineTimes = time(headline)
    val results = builds ++ headlineTimes
    val rest = time(
      (SparkEntry.queries.keySet -- headline.toSet).toSeq.sorted)
    val allResults = results ++ rest
    // failed entries (-1) must not reduce the totals
    val total = results.map(_._2).filter(_ >= 0).sum
    val allTotal = allResults.map(_._2).filter(_ >= 0).sum
    // decomposed totals: builds are COLD by policy, queries warm — a
    // round-over-round reader must be able to separate "tier
    // construction cost moved" from "query latency moved"
    val buildTotal = builds.map(_._2).filter(_ >= 0).sum
    val headlineQueryTotal = headlineTimes.map(_._2).filter(_ >= 0).sum
    val errJson =
      errors.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val passesJson = rawPasses
      .map { case (k, (a, b)) => s"\"$k\":[$a,$b]" }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","build_total_sec":$buildTotal,"headline_query_sec":$headlineQueryTotal,"queries":${json(results)},"all_total_sec":$allTotal,"all_queries":${json(allResults)},"raw_passes":$passesJson,"failed":${errors.distinct.size},"errors":$errJson,"sf":"$sfDir"}"""
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
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"failed":${errors.distinct.size},"sf":"$sfDir","full":$fullPtr}""")
    spark.stop()
  }
}
