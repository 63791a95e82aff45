package graft

/** Physical-plan assertions (SURVEY.md §4): the optimizations we rely on
  * for 100 TB must actually be present in the executed plans. */
class PlanSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.collect() // run so AQE finalizes its plan
    df.queryExecution.executedPlan.toString
  }

  test("every single-partition exchange in the headline plans is a scalar funnel") {
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
      SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

    // deep traversal that descends through AQE wrappers and query stages
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case r: ReusedExchangeExec => Seq(r) // audited at its original site
      case other => other +: other.children.flatMap(flatten)
    }
    // a SinglePartition exchange is benign iff what it funnels is
    // row-bounded by construction: a scalar (no-grouping) aggregate or
    // a limit — one row (or k rows) per upstream partition, never data
    def benign(e: ShuffleExchangeExec): Boolean =
      flatten(e.child).exists {
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _: GlobalLimitExec | _: CollectLimitExec |
             _: TakeOrderedAndProjectExec => true
        case _ => false
      }
    Probe.headlinePlans.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      df.collect() // run so AQE finalizes its stages
      val nodes = flatten(df.queryExecution.executedPlan)
      val offenders = nodes.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition && !benign(e) => e
      }
      assert(offenders.isEmpty,
        s"$name funnels non-scalar data through ONE partition — the " +
          s"global-sort smell this engine bans:\n${offenders.headOption}")
      // and the zero-UDF claim, structurally: interpreted black-box
      // functions break whole-stage codegen in exactly the plans that
      // must stay fused at 100 TB
      val udfs = nodes.flatMap(_.expressions).filter(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
      assert(udfs.isEmpty, s"$name contains a ScalaUDF: ${udfs.headOption}")
    }
  }

  test("rate_join broadcasts the rates dimension") {
    assert(executedPlan("rate_join").contains("BroadcastHashJoin"))
  }

  test("q3 broadcasts the filtered customer dim") {
    assert(executedPlan("q3_shipping").contains("BroadcastHashJoin"))
  }

  test("shard packing windows stay partitioned (no global-order funnel)") {
    val plan = executedPlan("pipeline_shards")
    assert(plan.contains("Window"))
    assert(!plan.contains("SinglePartition"),
      "the packing cumsum must run per pack group, never globally")
    // the EXACT global packing runs the serial cumsum through the
    // two-phase PrefixCarry scan — same guarantee, no global funnel
    val global = executedPlan("pipeline_shards_global")
    assert(global.contains("Window"))
    assert(!global.contains("SinglePartition"),
      "the global packing must use the two-phase scan, never one partition")
    // and the global training-order shuffle (rank over the whole corpus)
    val shuffle = executedPlan("corpus_shuffle")
    assert(!shuffle.contains("SinglePartition"),
      "the global rank must use the two-phase scan, never one partition")
  }

  test("corpus_mix broadcasts the per-source quota table") {
    // quotas are one row per source (a tiny dim even at 100 TB); the
    // corpus side must not shuffle for the quota join — its only
    // exchange is the per-source rank window
    assert(executedPlan("corpus_mix").contains("BroadcastHashJoin"))
  }

  test("ngram_bigrams takes top-k distributed, never a global sort") {
    val plan = executedPlan("ngram_bigrams")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("decontamination broadcasts the benchmark shingle set") {
    // the corpus side must never shuffle its text: the benchmark join is
    // a broadcast, the only corpus exchange is the per-doc overlap agg
    assert(executedPlan("text_decontaminate").contains("BroadcastHashJoin"))
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val plan = executedPlan("q1_pricing")
    assert(plan.contains("PushedFilters") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate.*"))
  }

  test("io_address prunes unused lineitem columns at the scan") {
    val plan = executedPlan("io_address")
    assert(plan.contains("ReadSchema"))
    // query needs keys/price/linenumber; must not read dates or flags
    assert(!plan.contains("l_shipdate") && !plan.contains("l_returnflag"),
      s"column pruning failed:\n$plan")
  }

  test("similarity hot path uses the custom codegen dot product") {
    assert(executedPlan("embed_cosine_topk").contains("dot_product_long"))
  }

  test("point lookup keeps whole-stage codegen") {
    val plan = executedPlan("prefix_lookup")
    // compact plan strings mark codegen stages with "*(n)"
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("))
  }

  test("last-write-wins agg form partial-aggregates before the shuffle") {
    val plan = executedPlan("bip30_dedup_agg")
    assert(plan.contains("partial_max"),
      s"no map-side combine before the exchange:\n$plan")
  }

  test("dedup pairs read the materialized band tier, not the corpus") {
    val plan = executedPlan("dedup_minhash_pairs")
    assert(plan.contains("target/intermediate"),
      s"pairs plan recomputes the shingle chain:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"pairs plan still scans the raw corpus:\n$plan")
  }

  test("q5 six-way join broadcasts the region/nation dims") {
    val plan = executedPlan("q5_local_supplier")
    assert(plan.contains("BroadcastHashJoin"),
      s"dims not broadcast in the 6-way join:\n$plan")
  }

  test("levenshtein filter gains the length-difference prefilter") {
    val df = SparkEntry.queries("dedup_editdist")(spark, sf("sf0.001"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("abs(") && opt.contains("length("),
      s"no length guard ahead of the levenshtein DP:\n$opt")
    // and the guard must not have broken the result (oracle pins the
    // exact rows; here just a sanity count against the unguarded form)
    df.collect() // must evaluate without error
  }

  test("levenshtein prefilter matches cast-wrapped and reversed forms") {
    import org.apache.spark.sql.functions.expr
    graft.plans.LevenshteinPrefilter.ensureRegistered(spark)
    // parquet source so the optimizer can't constant-fold the filter
    // away before the plan is inspectable
    val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .selectExpr("text AS x", "substr(text, 3) AS y")
    // expected count via a PROJECTION (the rule only rewrites
    // filter/join conditions, so this path is guard-free by design)
    val expect = df.selectExpr("levenshtein(x, y) AS d")
      .collect().count(_.getInt(0) <= 2)
    // forms the bare Levenshtein<=Literal pattern does NOT cover: an
    // explicit double cast, and the literal on the left
    val shapes = Seq(
      df.filter(expr("cast(levenshtein(x, y) as double) <= 2.0")),
      df.filter(expr("2 >= levenshtein(x, y)")),
      df.filter(expr("cast(levenshtein(x, y) as bigint) < 3")))
    shapes.zipWithIndex.foreach { case (q, i) =>
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("abs(") && opt.contains("length("),
        s"shape $i missing the length guard:\n$opt")
      assert(q.count() === expect, s"shape $i changed the result")
    }
    // nested numeric casts are looked through recursively
    val nested = df.filter(expr(
      "cast(cast(levenshtein(x, y) as int) as double) <= 2.0"))
    assert(nested.queryExecution.optimizedPlan.toString.contains("abs("),
      "nested-cast shape missing the length guard")
    assert(nested.count() === expect)
  }

  test("levenshtein prefilter refuses narrowing casts (ANSI-off wraparound)") {
    import org.apache.spark.sql.functions.expr
    graft.plans.LevenshteinPrefilter.ensureRegistered(spark)
    // cast(lev AS TINYINT) wraps under ANSI-off: a true distance of 256
    // casts to 0 and SATISFIES `<= 2` — a length-difference guard would
    // silently drop such rows, so these shapes must get NO guard. y is
    // 300+ chars longer than x, forcing distances past the tinyint range.
    // (ANSI-on turns the wrap into a runtime error; the rule must be
    // sound under BOTH, so it never looks through a narrowing cast.)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
        .selectExpr("substr(text, 1, 4) AS x",
          "repeat(text, 1 + CAST(320 / greatest(length(text), 1) AS INT)) AS y")
      for (shape <- Seq("cast(levenshtein(x, y) as tinyint) <= 2",
          "cast(levenshtein(x, y) as smallint) < 3",
          "cast(levenshtein(x, y) as decimal(3, 0)) <= 2.0")) {
        val q = df.filter(expr(shape))
        val opt = q.queryExecution.optimizedPlan.toString
        assert(!(opt.contains("abs(") && opt.contains("length(")),
          s"narrowing-cast shape '$shape' must not gain a guard:\n$opt")
        // and the semantics stay the user's (wraparound included):
        // compare against the projection-computed expected set
        val expected = df.selectExpr(s"$shape AS keep")
          .collect().count(r => !r.isNullAt(0) && r.getBoolean(0))
        assert(q.count() === expected, s"'$shape' changed the result")
      }
      // sanity: at least one wrapped row actually satisfies the tinyint
      // predicate here, i.e. the hazard this test pins is real
      val wrapped = df.selectExpr(
        "levenshtein(x, y) AS d", "cast(levenshtein(x, y) as tinyint) AS t")
        .collect().count(r => r.getInt(0) > 2 && !r.isNullAt(1) &&
          r.getByte(1) <= 2)
      assert(wrapped > 0, "fixture produced no wraparound witnesses")
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
  }

  test("segment dedup reads the parked segment tier, not the corpus") {
    val plan = executedPlan("text_segment_dedup")
    assert(plan.contains("target/intermediate"),
      s"segment dedup recomputes the corpus explode:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"segment dedup still scans the raw corpus:\n$plan")
  }

  test("graph queries read the materialized edge tier, not the io rows") {
    val plan = executedPlan("graph_degree_dist")
    assert(plan.contains("target/intermediate"),
      s"degree dist recomputes the flow-edge derivation:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"degree dist still scans the raw io rows:\n$plan")
  }

  test("segmented rate_asof has NO unpartitioned window in either direction") {
    import org.apache.spark.sql.execution.window.WindowExec
    // disable AQE for this run so the executed plan is a plain tree the
    // assertions can traverse (query-stage leaves hide their subtrees)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("rate_asof", "rate_asof_forward").foreach { name =>
        val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
        df.collect()
        val plan = df.queryExecution.executedPlan
        val wins = plan.collect { case w: WindowExec => w }
        val (globalWins, partedWins) = wins.partition(_.partitionSpec.isEmpty)
        // every window — fact-side bucket scan AND PrefixCarry's
        // within-range carry — must be partitioned; the cross-range
        // carry travels through the driver prefix + broadcast, so no
        // single-partition sort exists anywhere in the plan
        assert(globalWins.isEmpty,
          s"$name: unpartitioned window in the plan:\n$plan")
        assert(partedWins.nonEmpty &&
          partedWins.forall(_.partitionSpec.exists(e =>
            e.toString.contains("b#") || e.toString.contains("__pid"))),
          s"$name: window not bucket/range-partitioned:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    import org.apache.spark.sql.functions._
    // at cluster scale Spark's InjectRuntimeFilter turns a selective dim
    // predicate into a bloom filter applied at the fact scan, cutting the
    // shuffle before the join. The size thresholds that gate it are tuned
    // for real tables, so pin them down to fixture scale and force the
    // shuffle join the rule targets — then assert the filter really lands.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val dir = sf("sf0.001")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("LSH bucket assignment is shuffle-free (broadcast plane literals)") {
    val e = graft.api.Similarity.quantize(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
        .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding"))
    val b = graft.api.Similarity.lshBuckets(spark, e)
    b.collect()
    val plan = b.queryExecution.executedPlan.toString
    // the bucket key must exist map-side: scan → project, no exchange,
    // no generate (explode), no aggregation
    assert(!plan.contains("Exchange"), s"bucket assignment shuffles:\n$plan")
    assert(!plan.contains("Generate"), s"bucket assignment explodes:\n$plan")
    assert(plan.contains("dot_product_long"),
      s"bucket bits not computed via the codegen dot product:\n$plan")
  }

  test("classifier scoring broadcasts the hashed weight table") {
    // the model dim (4096 rows) must broadcast; the corpus side's only
    // exchanges are the distinct-feature and per-doc aggs
    assert(executedPlan("text_classifier_score")
      .contains("BroadcastHashJoin"))
  }

  test("bloom probe is a broadcast of one bitmap row, not a key join") {
    val plan = executedPlan("bloom_blocklist")
    // the m-bit filter arrives as a single broadcast row (nested-loop
    // over exactly one row = pure column arithmetic per probe); the
    // exact key join happens only on the confirmed candidates
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
