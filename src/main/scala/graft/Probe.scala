package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, max}

/** Dev probes, one command per measurement, over one local session:
  *
  *   runMain graft.Probe <cmd> <sfDir> [args...]
  *
  *  - `time [--repeat=N] <name...>`: per timed pass, wall time, rows, the
  *    block-manager pin count after `Materialize.releasePinnedLeaves`,
  *    and the [[WorkMeter]] totals (task time, input, shuffle read and
  *    write, stages). Input and shuffle bytes/records are the run-to-run
  *    deterministic work numbers only at a fixed build concurrency
  *    (`SPARK_GRAFT_CPUS`): concurrent builds read more input than serial
  *    ones (`graph_build` 85.8 MB vs 57.7 MB at sf0.1), and even at one
  *    cpu count a concurrent build's input bytes can move between
  *    passes while its records hold (`graph_build` 79.4-89.0 MB). Task
  *    time and the stage count vary between identical passes, so compare
  *    stages as the min over `--repeat` passes. The passes are Bench's:
  *    a [[Bench.coldBuilds]] name runs in [[Bench.coldPass]] — each round
  *    wipes the tier root, then runs the named builds in `coldBuilds`
  *    order (name a build's upstream too to keep its cost out of the
  *    build's own pass); a [[SparkEntry]] query runs in
  *    [[Bench.queryPass]], warm after one untimed pass. `--repeat` is
  *    the flatness probe: a leaking session drifts upward round over
  *    round.
  *  - `explain <tag> <suffix> <query...>`: writes `.explain("formatted")`
  *    to `plans/<tag>/<q>_<suffix>.txt`, then runs the query and prints
  *    its executed plan's operator counts.
  *  - `plans`: writes the executed [[headlinePlans]] to `PLANS.md`.
  *  - `continue <label>`: the `--continue` cost on a 10 % tail vs the
  *    full export, as one JSON line (pair with a ScaleUp-amplified dir
  *    for the store-size ladder: the block-local tables resume in
  *    O(tail + one boundary bucket), the prefix index scans everything
  *    ≤ end by design).
  *  - `count`: the declared query and oracle counts.
  *
  * Commands run on the caller's session; only [[main]] creates and
  * stops one. */
object Probe {
  /** The headline-plan list: dumped to PLANS.md per round AND swept by
    * PlanSpec's single-partition-funnel audit (every query here gets a
    * structural guarantee that no non-scalar data funnels through one
    * partition). Batch queries only — streaming entries execute jobs at
    * construction and have no single final plan to audit. */
  val headlinePlans: Seq[String] = Seq("q1_pricing", "rate_join", "prefix_lookup",
      "embed_lsh_ann", "ann_recall",
      "transaction_table", "embed_cosine_topk", "rate_asof_custom",
      "rate_asof", "dedup_minhash_pairs", "dedup_simhash_pairs",
      "bip30_dedup_agg", "embed_ivf_kmeans",
      "dedup_keep_one", "text_decontaminate", "text_tfidf_topk",
      "pipeline_corpus", "address_stats", "entity_graph",
      "graph_pagerank", "graph_triangles", "text_dup_windows",
      "text_dup_windows_incremental", "text_segment_dedup",
      "embed_semdedup",
      "corpus_mix", "inverted_index",
      "ts_gapfill", "merge_upsert", "orders_running_total",
      "dedup_editdist", "dedup_containment", "corpus_split",
      "doc_chunks", "graph_degree_dist",
      "dedup_incremental", "dedup_components_incremental",
      "events_cohort", "events_rolling_dau",
      "q5_local_supplier", "orders_mom_growth", "text_lm_score",
      "entity_components_incremental",
      "text_heavy_hitters", "corpus_overlap_kmv",
      "corpus_overlap_kmv_incremental", "bpe_merges", "graph_labelprop",
      "hll_tier_union", "embed_decontaminate", "bpe_encode",
      "range_join_binned", "sample_weighted_priority", "graph_kcore",
      "layout_zorder", "events_decay_score", "record_linkage",
      "layout_zorder_probe", "bloom_blocklist", "text_classifier_score",
      "multimodal_align", "graph_taint", "join_size_estimate",
      "events_anomaly", "embed_rproj", "graph_links_jaccard",
      "cdc_merge", "graph_taint_haircut",
      "multimodal_phash_pairs", "source_quality_profile",
      "source_dedup_rate", "corpus_mix_domain_quota",
      "corpus_split_leakfree", "corpus_split_leak_audit",
      "address_balance_history", "entity_balance_history",
      "graph_round_trips",
      "events_quantile_sketch", "text_collocations",
      "graph_peel_chains", "entity_tags", "graph_ppr_tagged",
      "graph_flow_concentration",
      "rate_asof_forward", "pipeline_shards_global", "entity_tags_src",
      "token_count_jsonl",
      "source_orc_roundtrip", "dedup_band_plan", "text_classifier_train",
      "graph_taint_timed", "graph_scc", "events_sessionize_native",
      "graph_cycle3", "events_markov",
      "dedup_minhash_planned", "corpus_curriculum", "multimodal_scene_cuts",
      "quality_constraints", "entity_taint",
      "store_checksum", "store_snapshot_diff",
      "store_checksum_incremental", "graph_hits", "text_allpairs_cosine",
      "store_compact", "graph_clustering_coeff", "entity_hits",
      "text_allpairs_cosine_incremental", "stream_allpairs", "graph_pagerank_value", "text_allpairs_keep_one", "store_keyset_page",
      "ann_candidates", "chain_params", "stream_tip_margin_multichain",
      "pack_sequences", "embed_ivf_incremental",
      "store_keyset_page_bounded", "embed_ivfpq_rerank",
      "embed_pq_incremental", "multimodal_phash_incremental")

  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(s: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("time", sfDir, rest @ _*) => time(s, sfDir, rest)
    case Seq("explain", sfDir, tag, suffix, names @ _*) =>
      explain(s, sfDir, tag, suffix, names)
    case Seq("plans", sfDir) => plans(s, sfDir)
    case Seq("continue", sfDir, label) => continueBench(s, sfDir, label)
    case Seq("count", _*) => count()
    case _ => sys.error(s"usage: graft.Probe time|explain|plans|continue|" +
      s"count <sfDir> ... (got ${args.mkString(" ")})")
  }

  def time(s: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--repeat="))
    val repeat = flags.lastOption.fold(1)(_.stripPrefix("--repeat=").toInt)
    val builds = Bench.coldBuilds.filter { case (n, _) => names.contains(n) }
    val queries = SparkEntry.queries
    val warm = names.filterNot(builds.map(_._1).contains).map { n =>
      n -> queries.getOrElse(n, sys.error(s"unknown build or query $n"))
    }
    def show(r: Int)(run: Bench.Run): Unit = {
      val w = run.work
      println(f"[probe] ${run.name} run$r wall=${run.secs}%.2fs" +
        run.rows.fold("")(n => s" rows=$n") + s" pins=${run.pins} " +
        f"taskTime=${w.taskMs / 1000.0}%.1fs " +
        f"input=${w.inputBytes / 1e6}%.1fMB/${w.inputRecords / 1e6}%.2fMrec " +
        f"shufW=${w.shuffleWriteBytes / 1e6}%.1fMB/${w.shuffleWriteRecords / 1e6}%.2fMrec " +
        f"shufR=${w.shuffleReadBytes / 1e6}%.1fMB stages=${w.stages}")
    }
    Bench.warmUp(s, sfDir)
    for (r <- 1 to repeat if builds.nonEmpty)
      Bench.coldPass(s, sfDir, builds).foreach(show(r))
    for (q <- warm) {
      Bench.queryPass(s, sfDir, Seq(q))
      for (r <- 1 to repeat) Bench.queryPass(s, sfDir, Seq(q)).foreach(show(r))
    }
  }

  def explain(s: SparkSession, sfDir: String, tag: String, suffix: String,
      names: Seq[String], root: String = "plans"): Unit = {
    Files.createDirectories(Paths.get(s"$root/$tag"))
    for (n <- names) {
      val df = SparkEntry.queries(n)(s, sfDir)
      val file = s"$root/$tag/${n}_$suffix.txt"
      Files.writeString(Paths.get(file),
        df.queryExecution.explainString(FormattedMode))
      df.count()
      val plan = df.queryExecution.executedPlan.toString
      println(s"[probe] wrote $file; counts " + Seq("FileScan",
        "ReusedExchange", "Exchange hashpartitioning", "BroadcastExchange",
        "HashAggregate", "SortMergeJoin", "BroadcastHashJoin", "Generate",
        "WholeStageCodegen")
        .map(p => s"$p=${p.r.findAllIn(plan).size}").mkString(" | "))
    }
  }

  def plans(s: SparkSession, sfDir: String, out: String = "PLANS.md",
      names: Seq[String] = headlinePlans): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of headline queries " +
      s"(${Paths.get(sfDir).getFileName}, AQE final)\n\n")
    sb.append("Generated by `graft.Probe plans`; regenerate after " +
      "plan-affecting changes.\n")
    for (n <- names) {
      val df = SparkEntry.queries(n)(s, sfDir)
      df.count()
      sb.append(s"\n## $n\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(6000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[probe] wrote $out")
  }

  def continueBench(s: SparkSession, sfDir: String, label: String): Unit = {
    val dirs = Seq.fill(4)(Files.createTempDirectory(
      Paths.get("target"), "contbench_").toString)
    val Seq(outFull, outStaged, outFullBlk, outBlk) = dirs
    def export(out: String, tables: Seq[String], endIndex: Long = -1L,
        continueIngest: Boolean = false): (Export.Report, Double) = {
      val t0 = System.nanoTime()
      val r = Export.run(s, Export.Args(config = sfDir, out = out,
        endIndex = endIndex, continueIngest = continueIngest,
        tables = Some(tables)))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val tx = chain.Chain.transactions(s, sfDir)
      val lastParsed = tx.agg(max(col("block_id"))).head().getLong(0)
      val head90 = (lastParsed * 9L) / 10L
      // warm the source page cache so full vs continue compare I/O-fairly
      tx.count()
      val (_, fullSec) = export(outFull, Seq("tx"))
      val (_, headSec) = export(outStaged, Seq("tx"), head90)
      val (r, contSec) =
        export(outStaged, Seq("tx"), continueIngest = true)
      // the block-local-only pair isolates the two cost components: the
      // `tx` path above includes the prefix-index rewrite (O(store) by
      // design — hash-partitioned, no block locality), while the
      // bucket-complete refill of a block-local table costs
      // O(tail + boundary bucket) and must stay flat in store size
      val blk = Seq("block", "block_tx")
      val (_, fullBlkSec) = export(outFullBlk, blk)
      export(outBlk, blk, head90)
      val (_, contBlkSec) = export(outBlk, blk, continueIngest = true)
      println(s"""{"metric":"continue_bench","label":"$label",""" +
        s""""last_parsed":$lastParsed,"tail_blocks":${r.blocksIngested},""" +
        f""""full_sec":$fullSec%.2f,"head90_sec":$headSec%.2f,""" +
        f""""continue_sec":$contSec%.2f,""" +
        f""""continue_vs_full":${contSec / fullSec}%.2f,""" +
        f""""full_blk_sec":$fullBlkSec%.2f,"continue_blk_sec":$contBlkSec%.2f,""" +
        f""""continue_vs_full_blk":${contBlkSec / fullBlkSec}%.2f}""")
    } finally dirs.foreach(d => ops.Tiers.deleteRecursively(new java.io.File(d)))
  }

  def count(): Unit =
    println(s"queries=${SparkEntry.queries.size} " +
      s"oracles=${SparkEntry.oracleSql.size}")
}
