package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed exclusive carry ("latest non-null payload strictly before
  * me" in `ord` order) with NO single-partition sort at any input size —
  * the scalable replacement for `Window.orderBy(ord)` carry scans.
  *
  * A global-window prefix scan funnels the whole frame through one
  * partition; this operator uses the classic two-phase scan instead:
  *
  *  1. range-partition by `ord` (contiguous, ordered ranges);
  *  2. WITHIN each partition, an ordinary partitioned window computes
  *     the exclusive within-range carry;
  *  3. ACROSS partitions, only each range's latest non-null payload
  *     (ONE row per partition — the same bounded-by-construction
  *     driver set as [[graft.plans.AsOfJoin]]'s range bounds) is
  *     collected, prefix-scanned on the driver, and broadcast back.
  *
  * The cross-partition carry needs no payload comparisons: ranges are
  * ordered, so "latest over preceding ranges" is the payload of the
  * nearest preceding range that has one. Works symmetrically forward
  * ("earliest non-null strictly after me") for next-quote semantics.
  *
  * The range-partitioned frame is pinned through
  * [[Materialize.truncate]] so the summary job and the result plan see
  * the identical partitioning — i.e. the operator MATERIALIZES its
  * input once. On a session with a checkpoint directory configured the
  * pin is a reliable `checkpoint()` (survives executor loss — the
  * cluster-deployment requirement); otherwise an eager local
  * checkpoint, like every iterative operator here.
  *
  * Freeing the pin: [[exclusiveCarry]]'s callers pass bounded summaries
  * (the as-of carries: one row per time bucket), so it returns its
  * result SEALED — collected into a driver-local relation, with the pin
  * released at once — and a session running many carries stays
  * storage-flat instead of GC-dependent. The prefix-sum and rank scans
  * build products (the shard manifest, the shuffle order) and return
  * the lazy result over the single pinned copy; a caller that
  * materializes it frees the pin with [[Materialize.releasePinnedLeaves]]
  * (the parked-tier builds and the query harness do).
  */
object PrefixCarry {

  /** Append column `prefix_sum` = the EXCLUSIVE running sum of `value`
    * (long) in `ord` order — the serial cumsum made distributed with
    * the same two-phase shape as [[exclusiveCarry]]: range-partition by
    * `ord`, partitioned window for the within-range exclusive sum, one
    * total per partition collected and prefix-summed on the driver,
    * broadcast back. No single-partition sort at any input size. */
  def exclusivePrefixSum(df: DataFrame, ord: String,
      value: String): DataFrame =
    exclusivePrefixSum(df, Seq(ord), value)

  /** Multi-column ordering form: `ords` together must be a total order
    * (ties across the boundary columns would make tied rows' sums
    * partition-placement-dependent). */
  def exclusivePrefixSum(df: DataFrame, ords: Seq[String],
      value: String): DataFrame = {
    val s = df.sparkSession
    val ordCols = ords.map(col)
    val ranged = Materialize.truncate(df
      .repartitionByRange(ordCols: _*)
      .withColumn("__pid", spark_partition_id()))

    // null-safe total per range: a range whose values are all NULL
    // sums to NULL — carry 0 for it instead of NPE-ing the driver scan
    val totals = ranged.groupBy(col("__pid"))
      .agg(coalesce(sum(col(value)), lit(0L)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val nParts = ranged.rdd.getNumPartitions
    var acc = 0L
    val baseRows = (0 until nParts).map { pid =>
      val row = Row(pid, acc)
      acc += totals.getOrElse(pid, 0L)
      row
    }
    val base = s.createDataFrame(
      s.sparkContext.parallelize(baseRows, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__base", LongType, nullable = false))))

    val wIn = Window.partitionBy(col("__pid"))
      .orderBy(ordCols.map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("__in",
        coalesce(sum(col(value)).over(wIn), lit(0L)))
      .join(broadcast(base), Seq("__pid"))
      .withColumn("prefix_sum", col("__in") + col("__base"))
      .drop("__pid", "__in", "__base")
  }

  /** Global 1-based rank under the total order `ords` — the terasort
    * primitive (deterministic global positions with NO single-partition
    * sort): an exclusive prefix COUNT plus one. */
  def globalRank(df: DataFrame, ords: Seq[String]): DataFrame =
    exclusivePrefixSum(df.withColumn("__one", lit(1L)), ords, "__one")
      .withColumn("rank", col("prefix_sum") + 1L)
      .drop("__one", "prefix_sum")

  /** Append column `carry` = the latest (backward) / earliest (forward)
    * non-null `payload` over rows strictly before / after the current
    * row in `ord` order. `ord` must be non-null; ties within `ord` are
    * not supported (callers pass distinct-keyed summaries). The result
    * is SEALED: collected into a driver-local relation before the
    * pinned input is released, so it must fit on the driver — the
    * bound its consumers already assume (they `broadcast()` it, and
    * the local relation makes that broadcast a no-shuffle build). */
  def exclusiveCarry(df: DataFrame, ord: String, payload: String,
      forward: Boolean = false): DataFrame = {
    val s = df.sparkSession
    val ranged = Materialize.truncate(df
      .repartitionByRange(col(ord))
      .withColumn("__pid", spark_partition_id()))

    // one row per range: that range's boundary payload (latest for the
    // backward scan, earliest for the forward one)
    val edgeAgg =
      if (forward) min_by(col(payload), col(ord))
      else max_by(col(payload), col(ord))
    val edges = ranged.filter(col(payload).isNotNull)
      .groupBy(col("__pid")).agg(edgeAgg.as("p"))
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap

    // driver-side exclusive scan over the (≤ #partitions) range edges:
    // range i's cross carry = the nearest preceding (following, if
    // forward) range's edge payload
    val nParts = ranged.rdd.getNumPartitions
    val ids = if (forward) (nParts - 1) to 0 by -1 else 0 until nParts
    var latest: Any = null
    val crossRows = ids.map { pid =>
      val row = Row(pid, latest)
      edges.get(pid).foreach(latest = _)
      row
    }
    val payloadField = df.schema(payload).copy(name = "__cross",
      nullable = true)
    val cross = s.createDataFrame(
      s.sparkContext.parallelize(crossRows, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        payloadField)))

    // within-range exclusive carry: a PARTITIONED window over one
    // bounded range — never a global sort
    val wIn = Window.partitionBy(col("__pid"))
      .orderBy(if (forward) col(ord).desc else col(ord).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val result = ranged
      .withColumn("__in", last(col(payload), ignoreNulls = true).over(wIn))
      .join(broadcast(cross), Seq("__pid"), "left")
      .withColumn("carry", coalesce(col("__in"), col("__cross")))
      .drop("__pid", "__in", "__cross")
    val rows = result.collect() // before release: the plan reads the pin
    Materialize.release(ranged)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }
}
