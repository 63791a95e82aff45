package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import graft.chain.Chain.table
import graft.chain.ChainSql.withCtes

/** General relational coverage the engine inherits from Spark (SURVEY.md
  * §2.4 note: grouping sets / rollup / distinct-agg are free) exercised on
  * the raw TPC-H-ish fixtures: multi-way joins, rollup, ranking windows,
  * semi/anti joins, top-k with deterministic tie-breaks.
  *
  * Cross-engine float policy: any SUM over a non-integer double goes
  * through exact DECIMAL accumulation and is cast to DOUBLE at the end —
  * double accumulation order differs between engines, decimal sums don't.
  */
object RelQueries {
  type Q = (SparkSession, String) => DataFrame

  private val price  = col("l_extendedprice").cast(DecimalType(12, 2))
  private val disc   = col("l_discount").cast(DecimalType(3, 2))
  private val tax    = col("l_tax").cast(DecimalType(3, 2))

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-shaped pricing summary: the canonical partial-agg benchmark
    // (map-side combine; one shuffle on the 6-value group key).
    "q1_pricing" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(price).cast("double").as("sum_base_price"),
          sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
          sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double")
            .as("sum_charge"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(price).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3-shaped: 3-way join, filter on each side, top-10 revenue.
    // customer is the small side → broadcast; deterministic tie-break on
    // o_orderkey makes LIMIT stable across engines.
    "q3_shipping" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val li = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(sum(price * (lit(1) - disc)).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderpriority", "revenue")
    }),

    // ranking window: top-2 orders per customer (deterministic tie-break)
    "top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // NTILE quartiles: equal-frequency bucketing of order totals per
    // priority (deterministic order: totalprice then key)
    "order_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("o_totalprice").cast(DecimalType(12, 2))).cast("double")
            .as("max_price"))
    }),

    // FULL OUTER reconciliation of two snapshots: orders present only
    // in the "old" cut, only in the "new" cut, or in both — the
    // standard diff-two-feeds shape.
    "full_outer_recon" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val old = o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val neu = o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice").as("new_price"))
      old.join(neu, Seq("o_orderkey"), "full_outer")
        .select(
          when(col("old_price").isNull, "added")
            .when(col("new_price").isNull, "removed")
            .otherwise("kept").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // grouping sets via ROLLUP (status × priority + subtotals + grand total)
    "rollup_orders" -> ((s, dir) =>
      table(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double")
            .as("total_price"))),

    // full grouping-set lattice via CUBE
    "cube_orders" -> ((s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double")
            .as("total_price"))),

    // exact distinct aggregation (Expand-based rewrite in Spark)
    "distinct_aggs" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),

    // HLL sketch distinct (approx_count_distinct): the 100 TB cardinality
    // path. The sketch estimate itself is engine-specific, so the
    // hashable contract is the HLL's accuracy GUARANTEE: the exact
    // count plus a within-±5% boolean (default rsd is 5%) — the oracle
    // computes the exact count and asserts the boolean, so a drifting
    // sketch breaks the hash instead of hiding behind rows-only.
    "approx_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("within_tolerance"))),

    // mergeable-sketch TIER: one Datasketches HLL per group, rolled up
    // to a global estimate by UNIONING REGISTERS (hll_union_agg) — no
    // rescan of the data. This is the 100 TB cardinality architecture:
    // per-day/per-source sketch tiers are parked once (each a few KB),
    // and any rollup — global, per-week, cross-source — is a
    // register-wise max over the tier, never a second pass over rows.
    // Contract check like approx_distinct: the estimate itself is
    // engine-specific, so the hashable columns are the exact counts
    // plus a within-±5% boolean at BOTH levels — the union'd sketch
    // must stay inside the same tolerance as the per-group ones, which
    // is exactly the mergeability guarantee.
    "hll_tier_union" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val tier = li.groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_agg(l_partkey, 12)").as("sk"),
          countDistinct(col("l_partkey")).as("exact_parts"))
      val per = tier.select(col("l_returnflag"), col("exact_parts"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact_parts"))
          <= col("exact_parts") * 0.05).as("within_tolerance"))
      val globExact = li.agg(
        countDistinct(col("l_partkey")).as("exact_parts"))
      val glob = tier
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(globExact)
        .select(lit("ALL").as("l_returnflag"), col("exact_parts"),
          (abs(col("est") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("within_tolerance"))
      per.unionByName(glob)
    }),

    // scalar string-function breadth (§2.8 beyond the chain derivations):
    // all verified bit-identical across engines
    "string_funcs" -> ((s, dir) =>
      table(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
        .withColumn("upper_name", upper(col("c_name")))
        .withColumn("name_len", length(col("c_name")).cast("long"))
        .withColumn("rev", reverse(col("c_name")))
        .withColumn("padded_key",
          lpad(col("c_custkey").cast("string"), 8, "0"))
        .withColumn("edit_dist",
          levenshtein(col("c_name"), reverse(col("c_name"))).cast("long"))
        .withColumn("first_char_code",
          ascii(substring(col("c_name"), 1, 1)).cast("long"))),

    // exact percentiles (sort-based): median + p90 per status. Linear
    // interpolation between adjacent sorted values is the same arithmetic
    // in both engines → deterministic doubles.
    "order_quantiles" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"),
          count(lit(1)).as("n_orders"))),

    // sketch quantiles (approx_percentile / KLL-style): the 100 TB
    // percentile path, checked the same way as approx_distinct — the
    // estimate itself is engine-specific, so the hashable contract is
    // the sketch's RANK guarantee: with accuracy 100 (rank error ≤ 1%),
    // the approximate p50/p90 must lie between the exact p45–p55 /
    // p85–p95 values; the oracle computes the exact brackets and
    // asserts the booleans, so a drifting sketch breaks the hash.
    "approx_quantiles" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("approx_percentile(o_totalprice, array(0.5, 0.9), 100)")
            .as("ap"),
          expr("percentile(o_totalprice, array(0.45, 0.55, 0.85, 0.95))")
            .as("ep"),
          expr("percentile(o_totalprice, 0.5)").as("median_price"),
          expr("percentile(o_totalprice, 0.9)").as("p90_price"))
        .select(col("o_orderstatus"), col("median_price"), col("p90_price"),
          (element_at(col("ap"), 1) >= element_at(col("ep"), 1) &&
            element_at(col("ap"), 1) <= element_at(col("ep"), 2))
            .as("p50_within"),
          (element_at(col("ap"), 2) >= element_at(col("ep"), 3) &&
            element_at(col("ap"), 2) <= element_at(col("ep"), 4))
            .as("p90_within"))),

    // relational set ops: INTERSECT / EXCEPT over the two chains'
    // output-address sets (§2.7 beyond union)
    "set_ops" -> ((s, dir) => {
      val io = graft.chain.Chain.io(s, dir)
        .filter(!col("is_input"))
        .select((col("tx_id") % 2).as("side"), col("base_addr"))
      val a = io.filter(col("side") === 1).select("base_addr").distinct()
      val b = io.filter(col("side") === 0).select("base_addr").distinct()
      val both = a.intersect(b).agg(count(lit(1)).as("n_shared"))
      val onlyA = a.except(b).agg(count(lit(1)).as("n_only_btc"))
      val onlyB = b.except(a).agg(count(lit(1)).as("n_only_ltc"))
      both.crossJoin(onlyA).crossJoin(onlyB)
    }),

    // pivot: order counts per priority pivoted on status (explicit value
    // list keeps the output schema deterministic)
    "pivot_status" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))),

    // semi + anti join in one row: customers with vs without orders
    "semi_anti" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
      val ord  = table(s, dir, "orders").select(col("o_custkey"))
      val withOrders = cust
        .join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n_with_orders"))
      val withoutOrders = cust
        .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_without_orders"))
      withOrders.crossJoin(withoutOrders)
    }),

    // MERGE-style upsert as one declarative plan: apply a change-set
    // (updates + inserts) to a target via FULL OUTER on the key +
    // COALESCE — matched rows take the source values, unmatched target
    // rows pass through, unmatched source rows are the inserts. On a
    // cluster this is ONE shuffle on the merge key (or zero against a
    // bucketed target store), with AQE free to broadcast a small
    // change-set — the standard incremental-snapshot maintenance shape.
    "merge_upsert" -> ((s, dir) => {
      val target = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(12, 2)).as("price"))
      val updates = target.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit("U").as("s_status"),
          (col("price") + lit(BigDecimal("10.00")).cast(DecimalType(12, 2)))
            .cast(DecimalType(12, 2)).as("s_price"))
      // insert keys live in the negative key space: structurally
      // disjoint from real orderkeys at ANY scale factor (a fixed
      // positive offset collides once keys outgrow it)
      val inserts = target.filter(col("o_orderkey") % 1000 === 0)
        .select((-col("o_orderkey") - lit(1L)).as("o_orderkey"),
          lit("I").as("s_status"),
          lit(BigDecimal("1.00")).cast(DecimalType(12, 2)).as("s_price"))
      target.join(updates.unionByName(inserts), Seq("o_orderkey"),
          "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("s_status"), col("o_orderstatus")).as("status"),
          coalesce(col("s_price"), col("price")).cast("double").as("price"))
    }),

    // TPC-H Q5-shaped 6-way join: revenue by nation for one region/year.
    // The join-order stress test: region/nation are broadcast dims,
    // customer/supplier co-key on nationkey, and Catalyst is free to
    // reorder — the plan the optimizer picks IS the point at 100 TB.
    "q5_local_supplier" -> ((s, dir) => {
      val nat = table(s, dir, "nation")
        .join(broadcast(table(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      table(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(table(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(price * (lit(1) - disc)).cast("double").as("revenue"))
    }),

    // month-over-month revenue growth: month totals (decimal-exact),
    // then the PREVIOUS CALENDAR month re-enters via an equi-join on
    // month arithmetic instead of an unpartitioned lag window — the
    // last global-sort window outside PrefixCarry is gone, and the
    // join key makes the "previous month" semantics explicit (a gap
    // month yields null growth, which lag would silently bridge).
    "orders_mom_growth" -> ((s, dir) => {
      val m = table(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
          .as("revenue"))
      m.join(
          m.select(add_months(col("month"), 1).as("month"),
            col("revenue").as("prev")),
          Seq("month"), "left")
        .select(unix_timestamp(col("month")).as("month_ts"),
          col("revenue").cast("double").as("revenue"),
          (col("revenue").cast("double") / col("prev").cast("double") - 1)
            .as("mom_growth"))
    }),

    // running-frame window: cumulative revenue per customer in order-date
    // order (ROWS UNBOUNDED PRECEDING). Partitioned by customer — the
    // frame never crosses partitions, so the sort is per-customer and
    // the operator scales with customer cardinality, not a global order.
    "orders_running_total" -> ((s, dir) => {
      val run = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).over(run)
            .cast("double").as("running_total"))
    }),

    // Z-ORDER data layout (multi-dimensional clustering): the 100 TB
    // file-layout decision made measurable. Each row's two cluster
    // keys are equal-width-binned (32 bins from data min/max), the bin
    // bits are interleaved into a z-value, and the z-curve is cut into
    // 32 fixed shards; the query emits every shard's (min, max) zone
    // map in BOTH dimensions — the ranges a scan's file-skipping
    // prunes on. The linear layout (range partition on x alone) is the
    // control: its shards bound x tightly but span all of y, so a
    // predicate on y can never skip a shard. All fixed-point integer
    // arithmetic from the data's min/max — no global sort, no sampled
    // range boundaries, fully distributed and bit-reproducible.
    "layout_zorder" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey").cast("long").as("x"),
          col("l_suppkey").cast("long").as("y"))
      val st = li.agg(min("x").as("xmin"), max("x").as("xmax"),
        min("y").as("ymin"), max("y").as("ymax"))
      val binned = li.crossJoin(broadcast(st))
        .withColumn("bx", expr("((x - xmin) * 32) div (xmax - xmin + 1)"))
        .withColumn("bv", expr("((y - ymin) * 32) div (ymax - ymin + 1)"))
      // the codegen'd Morton interleave (one fused loop) — the DSL
      // fold alternative is 2·nBits shift/mask/add terms
      val z = graft.functions.VectorFunctions
        .bit_interleave(col("bx"), col("bv"), 5)
      def shardStats(in: DataFrame, layout: String): DataFrame = in
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .select(lit(layout).as("layout"), col("shard"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"))
      shardStats(binned.withColumn("z", z)
          .withColumn("shard", expr("z div 32")), "zorder")
        .unionByName(
          shardStats(binned.withColumn("shard", col("bx")), "linear"))
    }),

    // zone-map PRUNING probe — the consumption side of layout_zorder:
    // a 2-D box predicate (the second quarter of each dimension's
    // range, derived from data min/max in exact integer math) is
    // tested against every shard's zone map; a shard is READ only if
    // its (min,max) box intersects the predicate box. Emits per
    // layout: shards_total, shards_read, rows_scanned (rows in read
    // shards) and rows_matched (exact predicate hits — identical
    // across layouts, the soundness witness: pruning never loses a
    // matching row). The z-order layout skips shards on BOTH
    // dimensions; the linear control must read every shard the
    // x-range admits with no help from y — the measured gap is the
    // file-skipping payoff the layout buys at 100 TB.
    "layout_zorder_probe" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_partkey").cast("long").as("x"),
          col("l_suppkey").cast("long").as("y"))
      val st = li.agg(min("x").as("xmin"), max("x").as("xmax"),
          min("y").as("ymin"), max("y").as("ymax"))
        .withColumn("xlo", expr("xmin + (xmax - xmin + 1) div 4"))
        .withColumn("xhi", expr("xmin + (xmax - xmin + 1) div 2"))
        .withColumn("ylo", expr("ymin + (ymax - ymin + 1) div 4"))
        .withColumn("yhi", expr("ymin + (ymax - ymin + 1) div 2"))
      val binned = li.crossJoin(broadcast(st))
        .withColumn("bx", expr("((x - xmin) * 32) div (xmax - xmin + 1)"))
        .withColumn("bv", expr("((y - ymin) * 32) div (ymax - ymin + 1)"))
      val z = graft.functions.VectorFunctions
        .bit_interleave(col("bx"), col("bv"), 5)
      def probe(in: DataFrame, layout: String): DataFrame = in
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .crossJoin(broadcast(st))
        .withColumn("is_read",
          !(col("max_x") < col("xlo") || col("min_x") > col("xhi") ||
            col("max_y") < col("ylo") || col("min_y") > col("yhi")))
        .agg(count(lit(1)).as("shards_total"),
          sum(col("is_read").cast("long")).as("shards_read"),
          sum(when(col("is_read"), col("n_rows")).otherwise(lit(0L)))
            .as("rows_scanned"))
        .select(lit(layout).as("layout"), col("shards_total"),
          col("shards_read"), col("rows_scanned"))
      val matched = li.crossJoin(broadcast(st))
        .filter(col("x").between(col("xlo"), col("xhi")) &&
          col("y").between(col("ylo"), col("yhi")))
        .agg(count(lit(1)).as("rows_matched"))
      probe(binned.withColumn("z", z)
          .withColumn("shard", expr("z div 32")), "zorder")
        .unionByName(
          probe(binned.withColumn("shard", col("bx")), "linear"))
        .crossJoin(broadcast(matched))
    }),

    // record linkage ACROSS relations (entity resolution): customers
    // and suppliers are different tables with no shared key, linked by
    // name similarity. The two-stage shape every 100 TB linkage uses:
    // BLOCK on selective derived keys (two digit-substring probes,
    // OR'd — each an EQUI-join, so candidates ∝ true matches, never
    // |A|×|B|), then VERIFY candidates only with trigram Jaccard over
    // the normalized name. The dedup family's LSH band+verify pattern,
    // applied to a two-relation join.
    "record_linkage" -> ((s, dir) => {
      val cust = table(s, dir, "customer").select(
        col("c_custkey").cast("long").as("cust_id"),
        regexp_replace(col("c_name"), "[^0-9]", "").as("cd"))
      val supp = table(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("supp_id"),
        regexp_replace(col("s_name"), "[^0-9]", "").as("sd"))
      val cb = cust.select(col("cust_id"),
          explode(array(substring(col("cd"), 6, 4),
            substring(col("cd"), 3, 4))).as("bkey")).distinct()
      val sb = supp.select(col("supp_id"),
          explode(array(substring(col("sd"), 6, 4),
            substring(col("sd"), 3, 4))).as("bkey")).distinct()
      val cand = cb.join(sb, Seq("bkey"))
        .select("cust_id", "supp_id").distinct()
      val ctr = cust
        .select(col("cust_id"),
          explode(sequence(lit(1), lit(7))).as("i"), col("cd"))
        .select(col("cust_id"), expr("substring(cd, i, 3)").as("tri"))
        .distinct()
      val str = supp
        .select(col("supp_id"),
          explode(sequence(lit(1), lit(7))).as("i"), col("sd"))
        .select(col("supp_id"), expr("substring(sd, i, 3)").as("tri"))
        .distinct()
      val cn = ctr.groupBy(col("cust_id")).agg(count(lit(1)).as("na"))
      val sn = str.groupBy(col("supp_id")).agg(count(lit(1)).as("nb"))
      cand.join(ctr, Seq("cust_id")).join(str, Seq("supp_id", "tri"))
        .groupBy(col("cust_id"), col("supp_id"))
        .agg(count(lit(1)).as("nc"))
        .join(cn, Seq("cust_id")).join(sn, Seq("supp_id"))
        .withColumn("j_trigram", col("nc").cast("double") /
          (col("na") + col("nb") - col("nc")))
        .filter(col("j_trigram") >= 0.8)
        .select(col("cust_id"), col("supp_id"), col("j_trigram"))
    }),

    // pre-flight JOIN-SIZE estimation (the decision input for
    // broadcast-vs-shuffle and shuffle-partition sizing at 100 TB):
    // |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated from a 1/16 hash-sample
    // of the KEY SPACE — both sides filter to the same sampled keys AT
    // THE SCAN, so the estimate branch aggregates 1/16 of each table,
    // and ×16 unbiases it. Key-space sampling is the part that makes
    // the estimator honest: a key keeps its FULL frequency mass on
    // both sides (independent row-sampling would bias f_A·f_B down
    // quadratically). The exact size rides along as the audit; a
    // production pre-flight runs only the sampled branch.
    "join_size_estimate" -> ((s, dir) => {
      def freqs(t: String, k: String, sampled: Boolean): DataFrame = {
        val base = table(s, dir, t).select(col(k).cast("long").as("k"))
        val kept = if (sampled) base.filter(expr(
          "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 10), 16, 10) AS BIGINT) % 16 = 0"))
        else base
        kept.groupBy(col("k")).agg(count(lit(1)).as("f"))
      }
      val est = freqs("orders", "o_orderkey", sampled = true)
        .join(freqs("lineitem", "l_orderkey", sampled = true)
          .withColumnRenamed("f", "g"), Seq("k"))
        .agg((sum(col("f") * col("g")) * 16).as("est_join_size"),
          count(lit(1)).as("n_sampled_keys"))
      val exact = freqs("orders", "o_orderkey", sampled = false)
        .join(freqs("lineitem", "l_orderkey", sampled = false)
          .withColumnRenamed("f", "g"), Seq("k"))
        .agg(sum(col("f") * col("g")).as("exact_join_size"))
      est.crossJoin(exact)
        .select(col("n_sampled_keys"), col("est_join_size"),
          col("exact_join_size"),
          (col("est_join_size").cast("double") / col("exact_join_size"))
            .as("est_ratio"))
    }),

    // ANALYZE-style column profiling in ONE scan: all per-column
    // statistics (non-null/distinct counts, min/max) compute in a
    // single aggregation pass over the integer key columns, then
    // unpivot (stack) to the catalog's (column_name, stats…) shape.
    // These are the numbers every planning decision reads — broadcast
    // eligibility, AQE skew thresholds, bucketing counts — collected
    // the way a 100 TB ANALYZE must be: one pass, no per-column scans.
    "table_stats" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__n"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("long").as(s"${c}__min"),
        max(col(c)).cast("long").as(s"${c}__max")))
      table(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(col("n_rows"), expr(
          "stack(4, " + cols.map(c =>
            s"'$c', ${c}__n, ${c}__nd, ${c}__min, ${c}__max")
            .mkString(", ") +
          ") AS (column_name, n_nonnull, n_distinct, min_val, max_val)"))
    }),

    // text-format SOURCE coverage: the orders table written through CSV
    // (header, default quoting) and read back with an EXPLICIT schema —
    // never inferSchema, which costs an extra full pass and types by
    // luck — then aggregated. Sharing the parquet-side oracle makes the
    // round trip itself the assertion: every value survived the
    // text encoding (doubles via shortest-round-trip formatting). The
    // deterministic per-fixture path + overwrite keeps reruns clean.
    "source_csv_roundtrip" -> ((s, dir) => sourceRoundtrip(s, dir, "csv")),

    // same contract through JSON-lines — the interchange format the
    // raw side of an ingest pipeline actually lands (one object per
    // line splits cleanly, so a 100 TB read parallelizes like any
    // line-oriented source).
    "source_jsonl_roundtrip" -> ((s, dir) => sourceRoundtrip(s, dir, "json")),

    // and through ORC — Spark's other built-in columnar format (the
    // lakehouse-migration source: Hive-era warehouses land ORC). Same
    // parquet-side oracle, so equality proves the vectorized ORC
    // reader path returns the identical values; explicit schema skips
    // the footer-merge schema inference pass, like the text formats.
    "source_orc_roundtrip" -> ((s, dir) => sourceRoundtrip(s, dir, "orc")),

    // declarative DATA-QUALITY constraint suite (the validation gate a
    // corpus passes before training jobs consume it): completeness,
    // domain-range, primary-key uniqueness, and referential-integrity
    // checks computed as THREE aggregation passes however many checks
    // run — the per-table conditional sums share one scan each, the FK
    // check is one anti-join — then stacked to the (check, metric,
    // passed) report shape. All metrics are exact integer counts, so
    // the report is engine-portable.
    "quality_constraints" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val ord = table(s, dir, "orders")
      val liAgg = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
          .as("null_ok"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("qty_bad"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("disc_bad"))
      val dup = ord.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(count(lit(1)).as("dups"))
      val orphans = li.select(col("l_orderkey").as("k")).distinct()
        .join(ord.select(col("o_orderkey").as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("orphans"))
      liAgg.crossJoin(broadcast(dup)).crossJoin(broadcast(orphans))
        .select(expr(
          "stack(6, " +
            "'rows_nonempty', n, n > 0, " +
            "'l_orderkey_not_null', null_ok, null_ok = 0, " +
            "'quantity_in_range', qty_bad, qty_bad = 0, " +
            "'discount_in_range', disc_bad, disc_bad = 0, " +
            "'orders_pk_unique', dups, dups = 0, " +
            "'lineitem_fk_orders', orphans, orphans = 0" +
            ") AS (check_name, metric, passed)"))
    }),

    // MERGE INTO semantics (the lakehouse CDC apply) as one declarative
    // plan: a change batch of updates / deletes / inserts (here
    // hash-derived from the base so the oracle regenerates it) lands on
    // the keyed base table via ONE full-outer equi-join — matched+U
    // rewrites, matched+D drops, unmatched-change inserts, unmatched-
    // base carries over. At scale the join co-partitions with the
    // store's bucketing (writeBucketed) so a daily CDC apply shuffles
    // only the change batch; price math stays DECIMAL-exact end to end
    // (a double `+100` would round differently per engine at the sum).
    "cdc_merge" -> ((s, dir) => {
      val base = cdcBase(s, dir)
      base.select("k", "price", "status")
        .join(cdcChanges(base), Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k"),
          when(col("op").isNotNull, col("new_price"))
            .otherwise(col("price")).as("m_price"),
          when(col("op").isNotNull, col("new_status"))
            .otherwise(col("status")).as("m_status"))
        .groupBy(col("m_status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_key"),
          sum(col("m_price")).cast("double").as("sum_price"))
    }),

    // ANTI-ENTROPY checksum table: per-bucket (row count, order-
    // independent content fingerprint) over the keyed store — the
    // merkle-style summary two replicas exchange to find divergent
    // buckets without shipping rows (a 100 TB store syncs on a
    // KB-sized checksum table; only disagreeing buckets ever move
    // data). bit_xor of a 60-bit md5-derived row hash is commutative
    // and overflow-free, so the fingerprint is insensitive to row
    // order and partial-agg merge order — and md5 makes it ENGINE-
    // PORTABLE: the DuckDB oracle computes the identical fingerprints,
    // proving the checksum itself is a portable replica contract, not
    // a Spark-internal artifact.
    "store_checksum" -> ((s, dir) =>
      cdcBase(s, dir).groupBy(col("hb"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).as("sum_key"),
          expr("bit_xor(CAST(conv(substr(md5(concat_ws('|', " +
            "CAST(k AS STRING), CAST(price AS STRING), status)), " +
            "1, 15), 16, 10) AS BIGINT))").as("fingerprint"))),

    // SNAPSHOT DIFF — cdc_merge's inverse: given two landed versions
    // of the keyed table and NO change log, recover the I/U/D change
    // feed (the lakehouse "table_changes between versions" read, and
    // the repair step after anti-entropy flags divergence). The scale
    // shape: per-bucket fingerprints of both snapshots first (xxhash64
    // + bit_xor — Spark-internal is fine here, both sides are ours),
    // then the row-level full-outer diff runs ONLY inside buckets
    // whose (fingerprint, count) pairs disagree — clean buckets are
    // dismissed at checksum cost, never row cost. The oracle diffs the
    // two snapshots FLAT, so the compare proves the pruning loses no
    // changed row and the recovered feed equals the feed that was
    // applied (updates surface as U with both images, price+100 always
    // differs so no U degenerates to unchanged).
    "store_snapshot_diff" -> ((s, dir) => {
      val base = cdcBase(s, dir)
      val v0 = base.select(col("k"), col("price"), col("status"))
      val v1 = v0.join(cdcChanges(base), Seq("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(col("k"),
          when(col("op").isNotNull, col("new_price"))
            .otherwise(col("price")).as("price"),
          when(col("op").isNotNull, col("new_status"))
            .otherwise(col("status")).as("status"))
      def bucketed(df: DataFrame): DataFrame =
        df.withColumn("hb2", pmod(xxhash64(col("k")), lit(16L)))
      def fingerprints(df: DataFrame): DataFrame =
        bucketed(df).groupBy(col("hb2"))
          .agg(expr("bit_xor(xxhash64(k, price, status))").as("fp"),
            count(lit(1)).as("n"))
      val dirty = fingerprints(v0).as("a")
        .join(fingerprints(v1).as("b"), Seq("hb2"), "full_outer")
        .filter(!(col("a.fp") <=> col("b.fp")) ||
          !(col("a.n") <=> col("b.n")))
        .select(col("hb2"))
      val d0 = bucketed(v0).join(broadcast(dirty), Seq("hb2"), "left_semi")
        .withColumn("in0", lit(true))
      val d1 = bucketed(v1).join(broadcast(dirty), Seq("hb2"), "left_semi")
        .withColumn("in1", lit(true))
      d0.as("o").join(d1.as("n"), Seq("k"), "full_outer")
        .filter(col("o.in0").isNull || col("n.in1").isNull ||
          !(col("o.price") <=> col("n.price")) ||
          !(col("o.status") <=> col("n.status")))
        .select(col("k"),
          when(col("o.in0").isNull, "I")
            .when(col("n.in1").isNull, "D")
            .otherwise("U").as("op"),
          // DOUBLE cast (the cdc_merge convention): the values are
          // DECIMAL(12,2)-exact in both engines, but decimal RENDERING
          // differs across serializers in the driver's canonical-hash
          // stage (r11: rows/schema green, hash red on exactly these
          // two nullable DECIMAL columns). Doubles serialize
          // identically: decimal→double is correctly rounded in both
          // engines, so values well under 2^53 convert bit-identically
          // (deterministic, not exact — 0.01 has no finite binary form).
          col("o.price").cast("double").as("old_price"),
          col("n.price").cast("double").as("new_price"),
          col("o.status").as("old_status"),
          col("n.status").as("new_status"))
    }),

    // INCREMENTAL checksum maintenance — the anti-entropy table kept
    // current from the change feed at O(|changes|) cost, never a store
    // rescan: xor is its own inverse, so a U xors out the old row hash
    // and xors in the new one, a D xors out + decrements, an I xors in
    // + increments. The change-batch delta rows union with the prior
    // checksum table (bucket-count-sized, the KB artifact replicas
    // exchange) and one tiny re-aggregation yields the new table. The
    // oracle recomputes the checksum FLAT over the merged state, so the
    // compare proves incremental maintenance == full recompute — a 100
    // TB store's daily checksum refresh costs the day's changes plus a
    // bucket-count-sized agg.
    "store_checksum_incremental" -> ((s, dir) => {
      val base = cdcBase(s, dir)
      def rowHash(k: String, price: String, status: String) = expr(
        s"CAST(conv(substr(md5(concat_ws('|', CAST($k AS STRING), " +
          s"CAST($price AS STRING), $status)), 1, 15), 16, 10) AS BIGINT)")
      val hbOfK = expr(
        "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 10), 16, 10) " +
          "AS BIGINT) % 10")
      // prior checksum table (at scale: a parked KB-sized artifact)
      val checksum0 = base.groupBy(col("hb"))
        .agg(count(lit(1)).as("dn"), sum(col("k")).as("dk"),
          expr("bit_xor(CAST(conv(substr(md5(concat_ws('|', " +
            "CAST(k AS STRING), CAST(price AS STRING), status)), " +
            "1, 15), 16, 10) AS BIGINT))").as("dfp"))
      // change rows joined back to their old image (U/D need the old
      // hash to xor out; I rows have no old image and land in the
      // bucket their NEW key hashes to)
      val ch = cdcChanges(base).join(
        base.select(col("k"), col("price").as("old_price"),
          col("status").as("old_status"), col("hb")), Seq("k"), "left")
      val delta = ch.select(
        coalesce(col("hb"), hbOfK).as("hb"),
        when(col("op") === "I", 1L).when(col("op") === "D", -1L)
          .otherwise(0L).as("dn"),
        when(col("op") === "I", col("k")).when(col("op") === "D", -col("k"))
          .otherwise(0L).as("dk"),
        when(col("op") === "I", rowHash("k", "new_price", "new_status"))
          .when(col("op") === "D", rowHash("k", "old_price", "old_status"))
          .otherwise(rowHash("k", "old_price", "old_status")
            .bitwiseXOR(rowHash("k", "new_price", "new_status")))
          .as("dfp"))
      checksum0.unionByName(delta)
        .groupBy(col("hb"))
        .agg(sum(col("dn")).as("n_rows"), sum(col("dk")).as("sum_key"),
          expr("bit_xor(dfp)").as("fingerprint"))
        // a fully-emptied bucket has no row in a recomputed table
        .filter(col("n_rows") > 0)
    }))

  /** cdc_merge's keyed base table (hb = the hash bucket the change ops
    * derive from) — shared with the streaming CDC apply, which must
    * converge to the identical merged state. */
  private[graft] def cdcBase(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").select(
      col("o_orderkey").cast("long").as("k"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("price"),
      col("o_orderstatus").as("status"))
      .withColumn("hb", expr(
        "CAST(conv(substr(md5(CAST(k AS STRING)), 1, 10), 16, 10) AS BIGINT) % 10"))

  /** cdc_merge's deterministic change batch: updates / deletes / inserts
    * hash-derived from the base (each key carries at most one op). */
  private[graft] def cdcChanges(base: DataFrame): DataFrame = {
    val updates = base.filter(col("hb") === 0)
      .select(col("k"), lit("U").as("op"),
        (col("price") + 100).cast(DecimalType(12, 2)).as("new_price"),
        col("status").as("new_status"))
    val deletes = base.filter(col("hb") === 1)
      .select(col("k"), lit("D").as("op"),
        lit(null).cast(DecimalType(12, 2)).as("new_price"),
        lit(null).cast("string").as("new_status"))
    val inserts = base.filter(col("hb") === 2)
      .select((col("k") + 20000000L).as("k"), lit("I").as("op"),
        col("price").as("new_price"), lit("N").as("new_status"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  /** The orders extract in each alternate source format (one tier per
    * format: `csv`, `json`, `orc`), parked once per fixture so the
    * source-roundtrip queries only READ it (same convention as the
    * TagPack CSV / JSONL corpus fixtures). Bump on any change to the
    * extract. */
  private[graft] val OrdersFileTier =
    graft.ops.Tier("orders_src", 1, Seq("orders"))

  /** Write orders through an alternate source format (CSV / JSONL /
    * ORC), read back with explicit schema, aggregate — the shared body
    * of the source-roundtrip queries. */
  private def sourceRoundtrip(s: SparkSession, dir: String,
      fmt: String): DataFrame = {
    val out = OrdersFileTier.park(dir, fmt)(
      table(s, dir, "orders").select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").format(fmt)
        .option("header", "true").save(_))
    s.read.schema("o_orderkey LONG, o_custkey LONG, " +
        "o_totalprice DOUBLE, o_orderstatus STRING")
      .format(fmt).option("header", "true").load(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double")
          .as("sum_price"))
  }

  /** The z-value bit-interleave as DuckDB arithmetic — term-for-term
    * the Spark shiftleft/shiftright fold in layout_zorder. */
  private val zTermsSql: String = (0 until 5).map(i =>
    s"((bx // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
      s"((bv // ${1L << i}) % 2) * ${1L << (2 * i)}").mkString(" + ")

  /** The (l_partkey, l_suppkey) bounds of lineitem, for the z-order
    * oracles. */
  private val zBoundsSql: String =
    """st AS (
      |  SELECT CAST(min(l_partkey) AS BIGINT) AS xmin,
      |         CAST(max(l_partkey) AS BIGINT) AS xmax,
      |         CAST(min(l_suppkey) AS BIGINT) AS ymin,
      |         CAST(max(l_suppkey) AS BIGINT) AS ymax
      |  FROM lineitem)""".stripMargin

  /** Each lineitem's 32×32 grid cell (bx, bv) over a CTE holding the
    * bounds, and its z-value zv. */
  private def zCellsSql(bounds: String): Seq[String] = Seq(
    s"""b AS (
       |  SELECT CAST(l_partkey AS BIGINT) AS x,
       |         CAST(l_suppkey AS BIGINT) AS y,
       |         ((CAST(l_partkey AS BIGINT) - xmin) * 32)
       |           // (xmax - xmin + 1) AS bx,
       |         ((CAST(l_suppkey AS BIGINT) - ymin) * 32)
       |           // (ymax - ymin + 1) AS bv
       |  FROM lineitem, $bounds)""".stripMargin,
    s"z AS (SELECT x, y, bx, ($zTermsSql) AS zv FROM b)")

  /** Order count and total price per (status, priority) grouping set
    * of a ROLLUP or CUBE. */
  private def groupingSetsSql(kind: String): String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(count(*) AS BIGINT) AS n_orders,
       |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
       |FROM orders
       |GROUP BY $kind (o_orderstatus, o_orderpriority)""".stripMargin

  /** CDC base `b`: each order's key, price and status, and the md5
    * bucket hb (0-9) that picks its change. */
  private val cdcBaseSql: String =
    """b AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |         o_orderstatus AS status,
      |         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10))::BIGINT
      |           % 10 AS hb
      |  FROM orders)""".stripMargin

  /** [[cdcBaseSql]], its change set `ch` (hb 0 updated, 1 deleted, 2
    * inserted under a shifted key) and the merged table `m`, whose value
    * columns are `<pre>price` and `<pre>status`. */
  private def cdcMergeSql(pre: String): Seq[String] = Seq(cdcBaseSql,
    """ch AS (
      |  SELECT k, 'U' AS op, CAST(price + 100 AS DECIMAL(12,2)) AS new_price,
      |         status AS new_status
      |  FROM b WHERE hb = 0
      |  UNION ALL
      |  SELECT k, 'D', CAST(NULL AS DECIMAL(12,2)), CAST(NULL AS VARCHAR)
      |  FROM b WHERE hb = 1
      |  UNION ALL
      |  SELECT k + 20000000, 'I', price, 'N' FROM b WHERE hb = 2)""".stripMargin,
    s"""m AS (
       |  SELECT coalesce(c.k, b.k) AS k,
       |    CASE WHEN c.op IS NOT NULL THEN c.new_price ELSE b.price END
       |      AS ${pre}price,
       |    CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END
       |      AS ${pre}status
       |  FROM b FULL OUTER JOIN ch c ON b.k = c.k
       |  WHERE c.op IS NULL OR c.op != 'D')""".stripMargin)

  /** Per hb group of (k, price, status) rows: row count, key sum and an
    * order-independent md5 fingerprint. */
  private def cdcChecksumSql(hb: String, table: String): String =
    s"""SELECT $hb,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(k) AS BIGINT) AS sum_key,
       |  CAST(bit_xor(('0x' || substr(md5(
       |      CAST(k AS VARCHAR) || '|' || CAST(price AS VARCHAR) || '|' ||
       |      status), 1, 15))::BIGINT) AS BIGINT) AS fingerprint
       |FROM $table GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> withCtes(zBoundsSql +: zCellsSql("st"): _*)(
      """SELECT 'zorder' AS layout, CAST(zv // 32 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(x) AS min_x, max(x) AS max_x,
        |  min(y) AS min_y, max(y) AS max_y
        |FROM z GROUP BY zv // 32
        |UNION ALL
        |SELECT 'linear', CAST(bx AS BIGINT), CAST(count(*) AS BIGINT),
        |  min(x), max(x), min(y), max(y)
        |FROM b GROUP BY bx""".stripMargin),

    "layout_zorder_probe" -> withCtes(Seq(zBoundsSql,
      """box AS (
        |  SELECT *, xmin + (xmax - xmin + 1) // 4 AS xlo,
        |         xmin + (xmax - xmin + 1) // 2 AS xhi,
        |         ymin + (ymax - ymin + 1) // 4 AS ylo,
        |         ymin + (ymax - ymin + 1) // 2 AS yhi
        |  FROM st)""".stripMargin) ++ zCellsSql("box") ++ Seq(
      """shards AS (
        |  SELECT 'zorder' AS layout, zv // 32 AS shard,
        |         count(*) AS n_rows, min(x) AS min_x, max(x) AS max_x,
        |         min(y) AS min_y, max(y) AS max_y
        |  FROM z GROUP BY zv // 32
        |  UNION ALL
        |  SELECT 'linear', bx, count(*), min(x), max(x), min(y), max(y)
        |  FROM b GROUP BY bx)""".stripMargin,
      """m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS rows_matched
        |  FROM b, box
        |  WHERE x BETWEEN xlo AND xhi AND y BETWEEN ylo AND yhi)""".stripMargin): _*)(
      """SELECT layout, CAST(count(*) AS BIGINT) AS shards_total,
        |  CAST(sum(CASE WHEN NOT (max_x < xlo OR min_x > xhi
        |                       OR max_y < ylo OR min_y > yhi)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS shards_read,
        |  CAST(sum(CASE WHEN NOT (max_x < xlo OR min_x > xhi
        |                       OR max_y < ylo OR min_y > yhi)
        |           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  rows_matched
        |FROM shards, box, m
        |GROUP BY layout, rows_matched""".stripMargin),

    "record_linkage" ->
      """WITH cd AS (SELECT CAST(c_custkey AS BIGINT) AS cust_id,
        |        regexp_replace(c_name, '[^0-9]', '', 'g') AS d
        |      FROM customer),
        |sd AS (SELECT CAST(s_suppkey AS BIGINT) AS supp_id,
        |        regexp_replace(s_name, '[^0-9]', '', 'g') AS d
        |      FROM supplier),
        |cb AS (SELECT DISTINCT cust_id, k FROM (
        |        SELECT cust_id, substr(d, 6, 4) AS k FROM cd
        |        UNION ALL SELECT cust_id, substr(d, 3, 4) FROM cd)),
        |sb AS (SELECT DISTINCT supp_id, k FROM (
        |        SELECT supp_id, substr(d, 6, 4) AS k FROM sd
        |        UNION ALL SELECT supp_id, substr(d, 3, 4) FROM sd)),
        |cand AS (SELECT DISTINCT cust_id, supp_id FROM cb JOIN sb USING (k)),
        |ctr AS (SELECT DISTINCT cust_id, substr(d, CAST(i AS INT), 3) AS tri
        |        FROM cd, range(1, 8) AS t(i)),
        |str AS (SELECT DISTINCT supp_id, substr(d, CAST(i AS INT), 3) AS tri
        |        FROM sd, range(1, 8) AS t(i)),
        |cn AS (SELECT cust_id, CAST(count(*) AS BIGINT) AS na
        |       FROM ctr GROUP BY cust_id),
        |sn AS (SELECT supp_id, CAST(count(*) AS BIGINT) AS nb
        |       FROM str GROUP BY supp_id),
        |ov AS (SELECT c.cust_id, c.supp_id, CAST(count(*) AS BIGINT) AS nc
        |       FROM cand c
        |       JOIN ctr ON ctr.cust_id = c.cust_id
        |       JOIN str ON str.supp_id = c.supp_id AND str.tri = ctr.tri
        |       GROUP BY c.cust_id, c.supp_id)
        |SELECT ov.cust_id, ov.supp_id,
        |  CAST(nc AS DOUBLE) / (na + nb - nc) AS j_trigram
        |FROM ov JOIN cn USING (cust_id) JOIN sn USING (supp_id)
        |WHERE CAST(nc AS DOUBLE) / (na + nb - nc) >= 0.8""".stripMargin,

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 2""".stripMargin,

    "order_ntile" ->
      """SELECT o_orderpriority, quartile,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
        |FROM (
        |  SELECT o_orderpriority, o_totalprice,
        |    CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
        |  FROM orders)
        |GROUP BY o_orderpriority, quartile""".stripMargin,

    "full_outer_recon" ->
      """SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              ELSE 'kept' END AS status
        |  FROM (SELECT o_orderkey, o_totalprice FROM orders
        |        WHERE o_orderkey % 3 != 0) o
        |  FULL OUTER JOIN (SELECT o_orderkey, o_totalprice FROM orders
        |                   WHERE o_orderkey % 2 != 0) n
        |    ON o.o_orderkey = n.o_orderkey)
        |GROUP BY status""".stripMargin,

    "rollup_orders" -> groupingSetsSql("ROLLUP"),
    "cube_orders" -> groupingSetsSql("CUBE"),

    "distinct_aggs" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the oracle asserts the HLL accuracy contract: exact count, and
    // "the estimate landed within ±5%" must be TRUE for every group
    "approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS within_tolerance
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // both tier levels must satisfy the tolerance contract: per-group
    // sketches AND their register-union rollup
    "hll_tier_union" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS within_tolerance
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'ALL' AS l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS within_tolerance
        |FROM lineitem""".stripMargin,

    "string_funcs" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |  upper(c_name) AS upper_name,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  reverse(c_name) AS rev,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
        |  CAST(levenshtein(c_name, reverse(c_name)) AS BIGINT) AS edit_dist,
        |  CAST(ascii(substr(c_name, 1, 1)) AS BIGINT) AS first_char_code
        |FROM customer""".stripMargin,

    "order_quantiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    // the oracle asserts the sketch's rank-error contract: exact
    // quantiles, and "the estimate landed inside its ±5% rank bracket"
    // must be TRUE for every group
    "approx_quantiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  TRUE AS p50_within,
        |  TRUE AS p90_within
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "set_ops" ->
      """WITH io AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS tx_id,
        |         (l_linenumber % 2 = 1) AS is_input,
        |         'a' || CAST(l_suppkey AS VARCHAR) AS base_addr
        |  FROM lineitem),
        |a AS (SELECT DISTINCT base_addr FROM io
        |      WHERE NOT is_input AND tx_id % 2 = 1),
        |b AS (SELECT DISTINCT base_addr FROM io
        |      WHERE NOT is_input AND tx_id % 2 = 0)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT base_addr FROM a INTERSECT SELECT base_addr FROM b)) AS n_shared,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT base_addr FROM a EXCEPT SELECT base_addr FROM b)) AS n_only_btc,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM (SELECT base_addr FROM b EXCEPT SELECT base_addr FROM a)) AS n_only_ltc"""
        .stripMargin,

    "pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
        |  CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "semi_anti" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_with_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_without_orders""".stripMargin,

    "merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |src AS (
        |  SELECT o_orderkey, 'U' AS s_status,
        |         CAST(price + CAST(10.00 AS DECIMAL(12,2)) AS DECIMAL(12,2))
        |           AS s_price
        |  FROM target WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, 'I',
        |         CAST(1.00 AS DECIMAL(12,2))
        |  FROM target WHERE o_orderkey % 1000 = 0)
        |SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  COALESCE(s.s_status, t.o_orderstatus) AS status,
        |  CAST(COALESCE(s.s_price, t.price) AS DOUBLE) AS price
        |FROM target t FULL OUTER JOIN src s USING (o_orderkey)""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |              AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "orders_mom_growth" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT CAST(date_diff('second', TIMESTAMP '1970-01-01',
        |       CAST(c.month AS TIMESTAMP)) AS BIGINT) AS month_ts,
        |  CAST(c.revenue AS DOUBLE) AS revenue,
        |  CAST(c.revenue AS DOUBLE) / CAST(p.revenue AS DOUBLE) - 1
        |    AS mom_growth
        |FROM m c
        |LEFT JOIN m p ON p.month + INTERVAL 1 MONTH = c.month""".stripMargin,

    "orders_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders""".stripMargin,

    "join_size_estimate" ->
      """WITH est AS (
        |  SELECT CAST(sum(a.f * b.g) * 16 AS BIGINT) AS est_join_size,
        |         CAST(count(*) AS BIGINT) AS n_sampled_keys
        |  FROM (SELECT o_orderkey AS k, count(*) AS f FROM orders
        |        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10))::BIGINT
        |              % 16 = 0
        |        GROUP BY 1) a
        |  JOIN (SELECT l_orderkey AS k, count(*) AS g FROM lineitem
        |        WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 10))::BIGINT
        |              % 16 = 0
        |        GROUP BY 1) b USING (k)),
        |ex AS (
        |  SELECT CAST(sum(a.f * b.g) AS BIGINT) AS exact_join_size
        |  FROM (SELECT o_orderkey AS k, count(*) AS f FROM orders GROUP BY 1) a
        |  JOIN (SELECT l_orderkey AS k, count(*) AS g FROM lineitem GROUP BY 1) b
        |    USING (k))
        |SELECT n_sampled_keys, est_join_size, exact_join_size,
        |  CAST(est_join_size AS DOUBLE) / exact_join_size AS est_ratio
        |FROM est, ex""".stripMargin,

    "table_stats" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(l_orderkey) AS BIGINT) AS n1,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d1,
        |    CAST(min(l_orderkey) AS BIGINT) AS mn1,
        |    CAST(max(l_orderkey) AS BIGINT) AS mx1,
        |    CAST(count(l_partkey) AS BIGINT) AS n2,
        |    CAST(count(DISTINCT l_partkey) AS BIGINT) AS d2,
        |    CAST(min(l_partkey) AS BIGINT) AS mn2,
        |    CAST(max(l_partkey) AS BIGINT) AS mx2,
        |    CAST(count(l_suppkey) AS BIGINT) AS n3,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d3,
        |    CAST(min(l_suppkey) AS BIGINT) AS mn3,
        |    CAST(max(l_suppkey) AS BIGINT) AS mx3,
        |    CAST(count(l_linenumber) AS BIGINT) AS n4,
        |    CAST(count(DISTINCT l_linenumber) AS BIGINT) AS d4,
        |    CAST(min(l_linenumber) AS BIGINT) AS mn4,
        |    CAST(max(l_linenumber) AS BIGINT) AS mx4
        |  FROM lineitem)
        |SELECT n_rows, 'l_orderkey' AS column_name, n1 AS n_nonnull,
        |  d1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM a
        |UNION ALL
        |SELECT n_rows, 'l_partkey', n2, d2, mn2, mx2 FROM a
        |UNION ALL
        |SELECT n_rows, 'l_suppkey', n3, d3, mn3, mx3 FROM a
        |UNION ALL
        |SELECT n_rows, 'l_linenumber', n4, d4, mn4, mx4 FROM a""".stripMargin) ++ {
    // the roundtrips share ONE parquet-side oracle: equality proves the
    // text encodings lossless, not just self-consistent
    val rt =
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin
    Map("source_csv_roundtrip" -> rt, "source_jsonl_roundtrip" -> rt,
      "source_orc_roundtrip" -> rt)
  } + ("quality_constraints" ->
    """WITH la AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS null_ok,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |             THEN 1 ELSE 0 END) AS BIGINT) AS qty_bad,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |             THEN 1 ELSE 0 END) AS BIGINT) AS disc_bad
      |  FROM lineitem),
      |du AS (
      |  SELECT CAST(count(*) AS BIGINT) AS dups FROM (
      |    SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)),
      |orp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM (
      |    SELECT DISTINCT l_orderkey FROM lineitem
      |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
      |SELECT 'rows_nonempty' AS check_name, n AS metric, n > 0 AS passed
      |FROM la
      |UNION ALL
      |SELECT 'l_orderkey_not_null', null_ok, null_ok = 0 FROM la
      |UNION ALL
      |SELECT 'quantity_in_range', qty_bad, qty_bad = 0 FROM la
      |UNION ALL
      |SELECT 'discount_in_range', disc_bad, disc_bad = 0 FROM la
      |UNION ALL
      |SELECT 'orders_pk_unique', dups, dups = 0 FROM du
      |UNION ALL
      |SELECT 'lineitem_fk_orders', orphans, orphans = 0 FROM orp""".stripMargin
  ) + ("cdc_merge" -> withCtes(cdcMergeSql("m_"): _*)(
    """SELECT m_status, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(k) AS BIGINT) AS sum_key,
      |  CAST(sum(m_price) AS DOUBLE) AS sum_price
      |FROM m GROUP BY 1""".stripMargin)
  ) + ("store_checksum" -> withCtes(cdcBaseSql)(cdcChecksumSql("hb", "b"))
  ) + ("store_snapshot_diff" -> withCtes(cdcMergeSql(""): _*)(
    """SELECT coalesce(o.k, n.k) AS k,
      |  CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
      |    ELSE 'U' END AS op,
      |  CAST(o.price AS DOUBLE) AS old_price,
      |  CAST(n.price AS DOUBLE) AS new_price,
      |  o.status AS old_status, n.status AS new_status
      |FROM b o FULL OUTER JOIN m n ON o.k = n.k
      |WHERE o.k IS NULL OR n.k IS NULL
      |   OR o.price IS DISTINCT FROM n.price
      |   OR o.status IS DISTINCT FROM n.status""".stripMargin)
  ) + ("store_checksum_incremental" -> withCtes(cdcMergeSql(""): _*)(
    cdcChecksumSql(
      """('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 10))::BIGINT % 10
        |    AS hb""".stripMargin, "m")))
}
