package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions

/** Frame-based similarity-search API. Input contract: `raw` embeddings
  * are (vec_id bigint, embedding array<float>); all internal math runs
  * on the integer quantization (floor(x·1000)) so scores are exact and
  * order-independent.
  */
object Similarity {

  /** Quantize embeddings once: q = floor(x·1000) per component (bigint),
    * n2 = |q|² — downstream dot/norm math is exact integer. */
  def quantize(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT))").as("q"))
      .withColumn("n2", expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))

  /** Exact cosine + per-query top-k over given (query_id, neighbor_id)
    * pairs. `data` is a quantized frame. */
  def cosTopK(data: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    val qd = data.select(col("vec_id").as("query_id"), col("q").as("qv"),
      col("n2").as("qn"))
    val nd = data.select(col("vec_id").as("neighbor_id"), col("q").as("nv"),
      col("n2").as("nn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.join(qd, Seq("query_id")).join(nd, Seq("neighbor_id"))
      // custom codegen expression: fused integer dot-product loop
      .withColumn("dot",
        VectorFunctions.dot_product_long(col("qv"), col("nv")))
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("qn") * col("nn")).cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Hyperplane coefficient h(j, i): 2·hexval(md5("j_i")[0]) − 15, an odd
    * integer in [−15, 15] — the same deterministic family the DuckDB
    * oracle mirrors derive in SQL, computed driver-side so the planes can
    * ship as literals. */
  private def hyperCoeff(j: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_${i}".getBytes("UTF-8"))
    2L * ((d(0) >> 4) & 0xf) - 15L
  }

  /** The `bits` × `dim` hyperplane table as plain arrays (row j = plane j,
    * component p = coefficient for vector position p). */
  def hyperplanes(bits: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(bits)(j => Array.tabulate(dim)(p => hyperCoeff(j, p + 1)))

  /** Sign-LSH buckets: `bits` deterministic md5-derived hyperplanes over
    * `dim`-component vectors → 2^bits buckets. Size bits to the corpus:
    * at ~1e9 vectors, 8 bits (256 buckets) leaves ~4M vectors/bucket —
    * widen to 16-20 bits and recover recall with multi-probe.
    *
    * Bucket assignment is ZERO-shuffle: each plane is a broadcast array
    * literal and each sign bit is one fused-codegen [[DotProductLong]]
    * pass over the vector, so the bucket key exists map-side before any
    * exchange — `bits` × `dim` multiply-adds per row, no explode, no
    * join, no aggregation. Bit weights are built as Scala `1L << j`, so
    * any width up to 62 is exact (no 32-bit shift wraparound). */
  def lshBuckets(s: SparkSession, e: DataFrame, bits: Int = 8,
      dim: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits $bits outside [1, 62]")
    val planes = hyperplanes(bits, dim)
    val bucket = (0 until bits).map { j =>
      when(VectorFunctions.dot_product_long(
        col("q"), typedLit(planes(j).toSeq)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    // null/empty vectors are excluded (the exploded formulation dropped
    // them structurally); keeping them would park every degenerate row
    // in bucket 0 and surface NaN cosines at re-rank time
    e.filter(col("q").isNotNull && size(col("q")) > 0)
      .select(col("vec_id"), bucket.as("bucket"))
  }

  /** XOR masks of Hamming weight ≤ `maxHamming` over `bits` planes
    * (weight 0 = the row's own bucket). Bounded driver-side list —
    * 1 + bits + bits·(bits−1)/2 longs at maxHamming = 2 — shipped as a
    * literal, and the SAME list the DuckDB oracle mirrors interpolate. */
  def probeMasks(bits: Int, maxHamming: Int): Seq[Long] = {
    require(bits >= 1 && bits <= 62 && maxHamming >= 1 && maxHamming <= 2,
      s"probeMasks($bits, $maxHamming) outside supported range")
    val singles = (0 until bits).map(j => 1L << j)
    val pairs =
      if (maxHamming < 2) Seq.empty
      else for { j <- 0 until bits; k <- 0 until j }
        yield (1L << j) | (1L << k)
    0L +: (singles ++ pairs)
  }

  /** Multi-probe expansion: each row also probes every bucket within
    * Hamming distance `maxHamming` of its own (flip up to that many
    * hyperplane bits) — recovers the recall a single-bucket probe
    * loses while the candidate step stays an equi-join on the probe
    * key. The probe fan-out is the literal mask list (no join, no
    * shuffle to expand); at width 24 / Hamming 2 that is 301 probes of
    * 16.7M buckets — a ~2e-5 deterministic scan fraction. */
  def multiProbes(buckets: DataFrame, bits: Int = 8,
      maxHamming: Int = 1): DataFrame =
    buckets
      .withColumn("mask", explode(typedLit(probeMasks(bits, maxHamming))))
      .withColumn("probe", expr("bucket ^ mask"))
      .drop("mask")

  /** Deterministic distributed k-means (Lloyd) over a quantized frame:
    * seed centroids = the vectors with `vec_id < k`, then `iters`
    * rounds of [[lloyd]] with the whole vector as the one subspace. All
    * arithmetic is exact, so the trained centroids are reproducible
    * across engines and cluster sizes. Returns (cent_id, cq, cn2) for
    * [[ivfCandidates]]. */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"bad k=$k / iters=$iters")
    lloyd(whole(e), asCentroids(whole(e.filter(col("vec_id") < k))), iters)
  }

  /** A quantized frame as points (vec_id, sq, sn2) of one subspace. */
  private def whole(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("q").as("sq"), col("n2").as("sn2"))

  /** Points (vec_id, [m,] sq, sn2) as centroids (cent_id, [m,] cq, cn2). */
  private def asCentroids(points: DataFrame): DataFrame =
    points.withColumnRenamed("vec_id", "cent_id")
      .withColumnRenamed("sq", "cq").withColumnRenamed("sn2", "cn2")

  /** The subspace key of a points frame: `m` for [[pqSubvectors]], none
    * for whole vectors. A whole-vector frame carries no constant `m`:
    * grouping by one would leave its assignments partitioned by
    * (vec_id, m), and the IVF candidate step would shuffle them again. */
  private def subspace(points: DataFrame): Seq[String] =
    points.columns.toSeq.intersect(Seq("m"))

  /** Exact integer squared L2 of every point (vec_id, [m,] sq, sn2) to
    * every (broadcast) centroid (cent_id, [m,] cq, cn2) of its subspace:
    * dist² = |sq|² + |cq|² − 2·sq·cq (fused-codegen dot) →
    * (vec_id, [m,] cent_id, dist2). */
  private def dists(points: DataFrame, centroids: DataFrame): DataFrame = {
    val sub = subspace(points)
    points.join(broadcast(centroids), sub)
      .withColumn("dist2", col("sn2") + col("cn2") -
        lit(2L) * VectorFunctions.dot_product_long(col("sq"), col("cq")))
      .select(("vec_id" +: sub :+ "cent_id" :+ "dist2").map(col): _*)
  }

  /** Each point's nearest centroid of its subspace → (vec_id, [m,]
    * cent_id, dist2). The argmin is a lexicographic
    * min(struct(dist2, cent_id)): the same dist2-then-cent_id tie-break
    * as `ORDER BY dist2, cent_id`, but map-side combinable — the shuffle
    * carries one candidate per (point, mapper) instead of sorting every
    * point × centroid row in a ranking window. Per-point independent
    * given frozen centroids, which is what makes IVF and PQ index
    * MAINTENANCE ingest-sized: a new batch assigns against the
    * broadcast centroids and appends. */
  private def nearest(points: DataFrame, centroids: DataFrame): DataFrame =
    dists(points, centroids)
      .groupBy(("vec_id" +: subspace(points)).map(col): _*)
      .agg(min(struct(col("dist2"), col("cent_id"))).as("mn"))
      .withColumn("cent_id", col("mn.cent_id"))
      .withColumn("dist2", col("mn.dist2")).drop("mn")

  /** `iters` deterministic Lloyd rounds over points (vec_id, [m,] sq,
    * sn2) from `seeds` (cent_id, [m,] cq, cn2): each round one
    * assignment pass ([[nearest]]) and one integer-floor mean update per
    * (centroid, subspace, component). Empty centroids vanish. Each round
    * is collected into a literal frame: the centroids are k·m rows,
    * exactly the payload the next round broadcasts anyway, and the
    * collect severs the lineage, so plan depth stays O(1) in `iters`
    * instead of re-evaluating every prior round under each broadcast
    * (the arithmetic is exact, so determinism is unaffected). */
  private def lloyd(points: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val s = points.sparkSession
    val sub = subspace(points)
    val comps = points.select(("vec_id" +: sub).map(col) :+
      posexplode(col("sq")).as(Seq("pos", "v")): _*)
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val updated = comps.join(nearest(points, cents), "vec_id" +: sub)
        .groupBy(("cent_id" +: sub :+ "pos").map(col): _*)
        .agg(expr("CAST(floor(sum(v) / count(*)) AS BIGINT)").as("cv"))
        .groupBy(("cent_id" +: sub).map(col): _*)
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("cq"))
        .withColumn("cn2", expr("aggregate(cq, 0L, (acc, x) -> acc + x * x)"))
      s.createDataFrame(
        s.sparkContext.parallelize(updated.collect().toIndexedSeq, 1),
        updated.schema)
    }
  }

  /** Inverted-list assignment: each vector to its [[nearest]] centroid
    * of (cent_id, cq, cn2) — seed vectors or [[kmeansCentroids]]
    * output, broadcast. */
  def assignLists(e: DataFrame, centroids: DataFrame): DataFrame =
    nearest(whole(e), centroids).select(col("vec_id"), col("cent_id"))

  /** IVF candidate generation: every vector joins the inverted list of
    * its nearest centroid ([[assignLists]], exact integer L2); each
    * query probes its `probes` nearest lists, so the candidate step is
    * an equi-join on cent_id. */
  def ivfCandidates(e: DataFrame, centroids: DataFrame,
      isQuery: Column, probes: Int = 2): DataFrame = {
    // list assignment over the FULL corpus
    val lists = assignLists(e, centroids)
      .select(col("vec_id").as("neighbor_id"), col("cent_id"))
    // top-`probes` needs ranks beyond 1, so it keeps the window — but
    // only over the QUERY subset (|corpus| / stride rows), re-scanned
    // cheaply rather than dragging every corpus row through the sort
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2"), col("cent_id"))
    val probeSet = dists(whole(e.filter(isQuery)), centroids)
      .withColumn("crank", row_number().over(byVec))
      .filter(col("crank") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    probeSet.join(lists, Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** Product-quantization subvectors: split each quantized vector into
    * `m` contiguous subspaces of `subDim` components → (vec_id, m, sq,
    * sn2). Pure map-side explode of a bounded factor `m`. */
  def pqSubvectors(e: DataFrame, m: Int = 4, subDim: Int = 16): DataFrame =
    e.select(col("vec_id"),
        explode(expr(s"sequence(0, ${m - 1})")).as("m"), col("q"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(q, m * $subDim + 1, $subDim)").as("sq"))
      .withColumn("sn2", expr("aggregate(sq, 0L, (acc, x) -> acc + x * x)"))

  /** Per-subspace PQ codebooks seeded from the subvectors of the vectors
    * with `vec_id < k` (the same deterministic seed rule as the IVF seed
    * centroids) → (cent_id, m, cq, cn2); k·m rows, always broadcast. */
  def pqCentroids(e: DataFrame, k: Int = 16, m: Int = 4,
      subDim: Int = 16): DataFrame =
    asCentroids(pqSubvectors(e.filter(col("vec_id") < k), m, subDim))

  /** TRAINED per-subspace PQ codebooks: the [[pqCentroids]] seeds
    * refined by `iters` rounds of the same [[lloyd]] loop k-means runs,
    * over [[pqSubvectors]] — bit-identical across engines and cluster
    * sizes. Empty codewords vanish, like empty k-means clusters.
    * Training cost per round is one corpus scan; at 100 TB the
    * codebooks train on a sample and freeze, like the IVF centroids. */
  def pqTrainedCentroids(e: DataFrame, k: Int, m: Int, subDim: Int,
      iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0, s"bad k=$k / iters=$iters")
    lloyd(pqSubvectors(e, m, subDim), pqCentroids(e, k, m, subDim), iters)
  }

  /** PQ encode: each vector → its per-subspace [[nearest]] centroid id —
    * `m` small codes instead of `dim` bigints (the 16× compression that
    * lets a 100 TB corpus ADC-rank from an in-memory code tier); the
    * shuffle carries (vec_id, m, code) triples only. Encode once and
    * park (like the dedup band tier) — every query then starts from the
    * code scan. */
  def pqCodes(e: DataFrame, cents: DataFrame, m: Int = 4,
      subDim: Int = 16): DataFrame =
    nearest(pqSubvectors(e, m, subDim), cents)
      .select(col("vec_id"), col("m"), col("cent_id").as("code"))

  /** Asymmetric-distance (ADC) top-k: each query's exact distance to
    * every centroid becomes a broadcast lookup table (|queries|·m·k
    * rows); a neighbor's approximate dist² is the sum of its codes'
    * lut entries, so ranking touches codes only — the corpus is never
    * decompressed. The per-(query, neighbor) sum is map-side combined
    * (m rows → 1); at 100 TB the candidate set comes from an IVF probe
    * (ivfCandidates) rather than the full corpus, and the final ranking
    * shuffle can be bounded with BottomKAgg exactly like the brute-force
    * twin. Returns (query_id, neighbor_id, rank, adist2) — adist2 is
    * exact integer, so results are engine- and partitioning-independent. */
  def pqAdcTopK(e: DataFrame, cents: DataFrame, isQuery: Column,
      k: Int = 3, m: Int = 4, subDim: Int = 16): DataFrame =
    pqAdcRanked(e, cents, isQuery, m, subDim)
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adist2")

  /** ADC shortlist: the top-`shortlist` (query_id, neighbor_id) pairs
    * by approximate distance — the candidate cut the production PQ
    * search feeds into an EXACT re-rank (ADC scans only the compressed
    * code tier; the exact pass then touches `shortlist` raw vectors
    * per query, a fixed corpus-independent budget). */
  def pqAdcShortlist(e: DataFrame, cents: DataFrame, isQuery: Column,
      shortlist: Int, m: Int = 4, subDim: Int = 16): DataFrame =
    pqAdcRanked(e, cents, isQuery, m, subDim)
      .filter(col("rank") <= shortlist)
      .select("query_id", "neighbor_id")

  /** IVF-PQ composed serving: candidates from the IVF probe
    * ([[ivfCandidates]] over `ivfCents`), ADC-ranked WITHIN the probed
    * lists only, top-`shortlist` re-ranked exactly by the caller. The
    * 100 TB serving shape end-to-end: candidate generation is an
    * equi-join on cent_id (the probed ~probes/k corpus fraction), the
    * ranking join touches the compressed code tier of those candidates
    * only (never raw vectors, never the unprobed lists), and the exact
    * pass downstream reads `shortlist` raw vectors per query — every
    * stage's cost is probe- or budget-bounded, none is corpus-sized.
    * Returns (query_id, neighbor_id) shortlist pairs. */
  def ivfPqShortlist(e: DataFrame, ivfCents: DataFrame,
      pqCents: DataFrame, isQuery: Column, shortlist: Int,
      m: Int, subDim: Int, probes: Int): DataFrame = {
    val cand = ivfCandidates(e, ivfCents, isQuery, probes)
    val codes = pqCodes(e, pqCents, m, subDim)
      .withColumnRenamed("vec_id", "neighbor_id")
    val lut = dists(pqSubvectors(e.filter(isQuery), m, subDim), pqCents)
      .select(col("vec_id").as("query_id"), col("m"),
        col("cent_id").as("code"), col("dist2").as("pdist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("neighbor_id"))
    cand.join(codes, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("pdist2")).as("adist2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= shortlist)
      .select("query_id", "neighbor_id")
  }

  private def pqAdcRanked(e: DataFrame, cents: DataFrame, isQuery: Column,
      m: Int, subDim: Int): DataFrame = {
    val codes = pqCodes(e, cents, m, subDim)
    val lut = dists(pqSubvectors(e.filter(isQuery), m, subDim), cents)
      .select(col("vec_id").as("query_id"), col("m"),
        col("cent_id").as("code"), col("dist2").as("pdist2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("neighbor_id"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdist2")).as("adist2"))
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Embedding near-duplicate pairs: same LSH bucket + exact cosine above
    * `threshold` (the vector analog of MinHash-LSH + Jaccard verify). */
  def nearDuplicates(s: SparkSession, e: DataFrame,
      threshold: Double, bits: Int = 8): DataFrame = {
    val buckets = lshBuckets(s, e, bits)
    val a = buckets.select(col("vec_id").as("query_id"), col("bucket"))
    val b = buckets.select(col("vec_id").as("neighbor_id"), col("bucket"))
    val cand = a.join(b, Seq("bucket"))
      .filter(col("query_id") < col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val qd = e.select(col("vec_id").as("query_id"), col("q").as("qv"),
      col("n2").as("qn"))
    val nd = e.select(col("vec_id").as("neighbor_id"), col("q").as("nv"),
      col("n2").as("nn"))
    cand.join(qd, Seq("query_id")).join(nd, Seq("neighbor_id"))
      .withColumn("dot",
        VectorFunctions.dot_product_long(col("qv"), col("nv")))
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("qn") * col("nn")).cast("double")))
      .filter(col("cos") >= threshold)
      .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"),
        col("cos"))
  }

  /** SemDeDup-style semantic deduplication: k-means-cluster the corpus,
    * elect one exemplar per cluster (closest to the trained centroid,
    * vec_id tie-break), and drop every other member whose cosine to its
    * cluster's exemplar is ≥ `threshold`. One corpus pass per stage:
    * assignment is a broadcast-centroid argmin, exemplar election a
    * map-side-combinable min(struct), and the verify join is
    * one-exemplar-per-cluster — so at corpus scale the cosine check is
    * |corpus| pairs, never |cluster|². Returns (vec_id, cent_id,
    * cos_to_exemplar, dropped); exemplars carry cos 1.0 and are never
    * dropped. `e` is a quantized frame; centroids come from
    * [[kmeansCentroids]] (or seeds), so the whole chain is exact-integer
    * deterministic except the final cosine division. */
  def semDedup(e: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = nearest(whole(e), centroids)
    val exemplar = assigned
      .groupBy(col("cent_id"))
      .agg(min(struct(col("dist2"), col("vec_id"))).as("m"))
      .select(col("cent_id"), col("m.vec_id").as("ex_id"))
    val member = e.select(col("vec_id"), col("q").as("mv"), col("n2").as("mn"))
    val exVec = e.select(col("vec_id").as("ex_id"), col("q").as("xv"),
      col("n2").as("xn"))
    assigned.join(exemplar, Seq("cent_id"))
      .join(member, Seq("vec_id"))
      .join(exVec, Seq("ex_id"))
      .withColumn("dot", VectorFunctions.dot_product_long(col("mv"), col("xv")))
      .withColumn("cos_to_exemplar",
        col("dot").cast("double") / sqrt((col("mn") * col("xn")).cast("double")))
      .withColumn("dropped",
        col("vec_id") =!= col("ex_id") && col("cos_to_exemplar") >= threshold)
      .select(col("vec_id"), col("cent_id"), col("cos_to_exemplar"),
        col("dropped"))
  }
}
