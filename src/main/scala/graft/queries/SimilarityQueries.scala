package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.chain.Chain.table
import graft.chain.ChainSql.withCtes

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Numeric contract: embeddings are quantized once (floor(x·1000) per
  * component → BIGINT) so dot products and norms are exact integer sums —
  * identical in any accumulation order and in both engines; cosine is a
  * single double division at the end.
  *
  * Scale design: brute-force is the correctness baseline (broadcast the
  * query set, one pass over the corpus, per-query top-k via ranking
  * window partitioned by query). The LSH variant is the 100 TB path:
  * 8 deterministic hyperplanes → 256 buckets; candidate generation is an
  * equi-join on the bucket key, so cost scales with bucket occupancy, not
  * |corpus| × |queries|. An IVF refinement would replace the hyperplanes
  * with k-means centroids — same join shape.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Every 50th vector is a query (10 queries / 30 ground-truth pairs
    * at sf0.01, 40 / 120 at sf0.1 — r11's stride of 250 left TWO
    * queries at the sf0.01 gate, so recall moved in 1/6 steps and one
    * lucky hit re-ranked a method). */
  private val QueryStride = 50

  /** Lloyd rounds for the learned-centroid IVF query (Spark side AND the
    * generated oracle CTE chain below use the same constant). */
  private val KmeansIters = 3

  /** IVF list count for the TRAINED index (and its incremental /
    * streaming maintainers): finer lists + proportionally more probes
    * beat 16-list/3-probe at equal scan fraction on the weakly
    * clustered fixture corpus (measured r12: 64/12 = 26/30 recall@3 at
    * a 21 % scan vs 15/30 at 19 % for 16/3). The seed-centroid control
    * (`ivf`) stays at 16 lists / [[IvfProbes]] to keep the ablation
    * comparable round-over-round. */
  private val KmeansK = 64

  /** Probes for the trained-IVF query (64-list index, ~19 % of the
    * corpus scanned — the honest scan fraction this corpus needs; see
    * ann_candidates, which logs it). */
  private val KmeansProbes = 12

  /** Hyperplane width for the SHIPPED multi-probe query: 6 bits / 64
    * buckets probed to Hamming ≤ 2 = 22 probe buckets (a fixed ~34 %
    * structural bucket fraction; at 1e9 vectors the same rule runs at
    * width 24 where Hamming ≤ 2 is 301 of 16.7M buckets). Measured
    * r12: 21/30 recall@3 at sf0.01 vs 16/30 for Hamming-1 at width 4
    * with MORE candidates. */
  private val MultiProbeBits = 6

  /** Probe Hamming radius for embed_lsh_multiprobe. */
  private val MultiProbeHamming = 2

  private def quantize(raw: DataFrame): DataFrame =
    graft.api.Similarity.quantize(raw)

  private def emb(s: SparkSession, dir: String): DataFrame =
    quantize(table(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding")))

  /** embeddings + injected exact duplicates (every 100th vector re-appears
    * under vec_id+1000000) so near-dup detection has guaranteed positives. */
  private def embCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    quantize(e.unionByName(
      e.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))))
  }

  /** Recall-tuned LSH width for the fixture corpus (see ann_recall). */
  private val TunedBits = 4

  /** IVF probe count (nearest inverted lists each query scans).
    * ann_recall drove the move from 2: with k = 16 lists, 3 probes
    * lifted seed-IVF recall while candidates stay ≈ 3/16 of corpus. */
  private val IvfProbes = 3

  /** Product-quantization geometry of the ABLATION CONTROL
    * (embed_pq_ann): 4 subspaces × 16 components, 16 seed centroids
    * per subspace → each 64-dim vector compresses to 4 codes. Kept as
    * the untrained/coarse baseline the shipped variant is measured
    * against. */
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 16

  /** Geometry of the SHIPPED PQ search (embed_pq_rerank): 16 subspaces
    * × 4 components, 32 codewords per subspace, codebooks refined by
    * [[PqTrainIters]] Lloyd rounds; ADC ranks the compressed code tier
    * and the top-[[PqShortlist]] shortlist is re-ranked with exact
    * cosine. Measured r12 (sf0.01, 30 truth pairs): 29/30 recall@3
    * with a 20-vector exact budget per query — vs 5/30 for the
    * untrained control. Finer subspaces cost 16 codes/vector instead
    * of 4 (still 4× compression at 5-bit codes); the recall cliff
    * between the two IS the ablation the control exists to show. */
  private[graft] val PqRM = 16
  private[graft] val PqRSubDim = 4
  private val PqRK = 32
  private val PqTrainIters = 3
  private val PqShortlist = 20

  /** 8-hyperplane sign buckets over a quantized embedding frame. */
  private def lshBuckets(s: SparkSession, e: DataFrame): DataFrame =
    graft.api.Similarity.lshBuckets(s, e)

  /** Single-probe LSH candidates at a given hyperplane width — the
    * candidate frame [[lshAnn]] re-ranks and ann_candidates counts
    * (ONE derivation, so the logged counts measure the shipped
    * method). */
  private def lshCandidates(s: SparkSession, dir: String,
      bits: Int): DataFrame = {
    val buckets = graft.api.Similarity.lshBuckets(s, emb(s, dir), bits)
    val qb = buckets.filter(col("vec_id") % QueryStride === 0)
      .select(col("vec_id").as("query_id"), col("bucket"))
    buckets.select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(qb, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
  }

  /** Multi-probe candidates (own bucket + all flips within Hamming
    * distance `maxHamming`) at a given width — shared by
    * embed_lsh_multiprobe and ann_candidates. */
  private def multiprobeCandidates(s: SparkSession, dir: String,
      bits: Int, maxHamming: Int = MultiProbeHamming): DataFrame = {
    val buckets = graft.api.Similarity.lshBuckets(s, emb(s, dir), bits)
    val probes = graft.api.Similarity.multiProbes(
      buckets.filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("query_id"), col("bucket")),
      bits, maxHamming)
      .select(col("query_id"), col("probe").as("bucket"))
    buckets.select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(probes, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  /** IVF candidates over the SEED centroids (first 16 vectors). */
  private def ivfSeedCandidates(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("n2").as("cn2"))
    graft.api.Similarity.ivfCandidates(
      e, cents, col("vec_id") % QueryStride === 0, probes = IvfProbes)
  }

  /** IVF candidates over LEARNED centroids — read from the PARKED
    * training artifact ([[ivfCentroidTable]], identical to an inline
    * kmeansCentroids run by construction): the
    * query measures SERVING against a trained index, the way a
    * deployment runs it; training cost lives in ann_build. */
  private def ivfKmeansCandidates(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.ivfCandidates(
      emb(s, dir), ivfCentroidTable(s, dir),
      col("vec_id") % QueryStride === 0, probes = KmeansProbes)

  /** Single-probe LSH ANN at a given hyperplane width: bucket keys,
    * same-bucket candidates, exact cosine top-3. */
  private def lshAnn(s: SparkSession, dir: String, bits: Int): DataFrame =
    cosTopK(emb(s, dir), lshCandidates(s, dir, bits), 3)

  private def cosTopK(data: DataFrame, pairs: DataFrame, k: Int): DataFrame =
    graft.api.Similarity.cosTopK(data, pairs, k)

  /** ADC shortlist of the shipped PQ search (trained 16×4/32
    * codebooks, top-[[PqShortlist]] by approximate distance) — the
    * candidate frame embed_pq_rerank re-ranks and ann_candidates
    * counts (ONE derivation, so the logged budget is the shipped
    * method's). */
  private def pqRerankShortlist(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.pqAdcShortlist(
      emb(s, dir), pqCodebookTable(s, dir),
      col("vec_id") % QueryStride === 0, PqShortlist,
      PqRM, PqRSubDim)

  /** IVF-PQ composed shortlist (the serving composition: kmeans-IVF
    * probe admits ~[[KmeansProbes]]/[[KmeansK]] of the corpus, ADC
    * ranks those candidates' compressed codes only, top-[[PqShortlist]]
    * re-ranked exactly) — the candidate frame embed_ivfpq_rerank
    * re-ranks and ann_candidates counts. IVF centroids come from the
    * PARKED training artifact like embed_ivf_kmeans; PQ codebooks are
    * the same trained 16×32 set as embed_pq_rerank. */
  private def ivfPqRerankShortlist(s: SparkSession,
      dir: String): DataFrame =
    graft.api.Similarity.ivfPqShortlist(
      emb(s, dir), ivfCentroidTable(s, dir), pqCodebookTable(s, dir),
      col("vec_id") % QueryStride === 0, PqShortlist,
      PqRM, PqRSubDim, probes = KmeansProbes)

  /** The ANN variants ann_recall scores: method label → query name —
    * the ONE declaration both the tier builder and the recall query
    * read (a second copy of the mapping could drift and MatchError at
    * ann_build time). */
  private val AnnMethodQueries: Seq[(String, String)] = Seq(
    "ivf" -> "embed_ivf_ann", "ivf_kmeans" -> "embed_ivf_kmeans",
    "lsh" -> "embed_lsh_ann", "lsh_tuned" -> "embed_lsh_ann_tuned",
    "multiprobe" -> "embed_lsh_multiprobe", "pq" -> "embed_pq_ann",
    "pq_rerank" -> "embed_pq_rerank",
    "ivfpq_rerank" -> "embed_ivfpq_rerank")

  private val AnnMethods: Seq[String] = AnnMethodQueries.map(_._1)

  /** Role of each variant in the shipped surface: `shipped` methods are
    * the ones a deployment serves with (all measured ≥ 0.67 recall@3
    * at the sf0.01 gate with corpus-sublinear candidate counts —
    * ann_candidates logs them); `ablation` methods are retained
    * CONTROLS that isolate one knob each (seed vs trained centroids,
    * hyperplane width, single vs multi probe, untrained full-ADC vs
    * trained shortlist+re-rank) so the tuning curve stays measured
    * round-over-round, never folklore. The role rides the ann_recall /
    * ann_candidates output rows — the artifact states it, not a doc. */
  private val AnnRoles: Map[String, String] = Map(
    "ivf" -> "ablation", "ivf_kmeans" -> "shipped",
    "lsh" -> "ablation", "lsh_tuned" -> "ablation",
    "multiprobe" -> "shipped", "pq" -> "ablation",
    "pq_rerank" -> "shipped", "ivfpq_rerank" -> "shipped")

  /** ann_recall's inputs — the brute-force ground truth and each ANN
    * variant's (query_id, neighbor_id) set — and the frozen training
    * artifacts the serving and maintenance queries read, parked once
    * per fixture. ann_recall previously re-ran every ANN pipeline (plus
    * the brute-force pass) inside one query — a diagnostic that in
    * production runs on a SAMPLE and whose per-variant neighbor sets
    * are exactly what a parameter sweep materializes anyway. Parking
    * turns the recall query into tiny semi-join aggregations over
    * two-bigint-column scans, while each variant's pipeline cost stays
    * visible in its own bench entry (and in `ann_build`). Bump on any
    * change to the variant set, their parameters or the training. */
  private[graft] val AnnTier = graft.ops.Tier("ann", 4, Seq("embeddings"))
  // (4, r13: + ivfpq_rerank (composed serving); 3, r12: QueryStride
  //  250→50, KmeansK 16→64, KmeansProbes 3→12, multiprobe width 6 /
  //  Hamming<=2, + pq_rerank tier)

  /** (query_id, neighbor_id) exact cosine top-3 — the recall
    * denominator. */
  private def groundTruthTable(s: SparkSession, dir: String): DataFrame =
    AnnTier.parquet(s, dir, "ground_truth") {
      val e = emb(s, dir)
      val qs = broadcast(e.filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("query_id")))
      val gtPairs = e.select(col("vec_id").as("neighbor_id")).crossJoin(qs)
        .filter(col("neighbor_id") =!= col("query_id"))
      cosTopK(e, gtPairs, 3).select("query_id", "neighbor_id")
    }

  /** (query_id, neighbor_id) for one ANN variant ([[AnnMethods]]). */
  private def neighborTable(s: SparkSession, dir: String,
      method: String): DataFrame =
    AnnTier.parquet(s, dir, s"method_$method")(
      queries(AnnMethodQueries.toMap.apply(method))(s, dir)
        .select("query_id", "neighbor_id"))

  /** FROZEN k-means centroids trained on the PRE-BATCH corpus (the
    * plain embeddings table) — the artifact IVF index maintenance holds
    * fixed while batches arrive (retraining is a periodic rebuild, not
    * an ingest step). */
  private[graft] def ivfCentroidTable(s: SparkSession,
      dir: String): DataFrame =
    AnnTier.parquet(s, dir, "ivf_centroids")(
      graft.api.Similarity.kmeansCentroids(emb(s, dir), k = KmeansK,
        iters = KmeansIters))

  /** FROZEN trained-PQ codebooks (16 subspaces × 32 codewords, 3 Lloyd
    * rounds, k·m rows): at 100 TB codebooks train on a sample and
    * FREEZE exactly like the IVF centroids (retraining is a periodic
    * rebuild, never a per-query step), so the PQ serving queries
    * (embed_pq_rerank, embed_ivfpq_rerank, ann_candidates) read the
    * parked rows and training cost lives in ann_build; the oracles
    * retrain from scratch, so parked == retrained is hash-proven on
    * every run. */
  private[graft] def pqCodebookTable(s: SparkSession,
      dir: String): DataFrame =
    AnnTier.parquet(s, dir, "pq_codebooks")(
      graft.api.Similarity.pqTrainedCentroids(
        emb(s, dir), PqRK, PqRM, PqRSubDim, PqTrainIters))

  /** PRE-BATCH compressed code tier (vec_id, m, code) under the frozen
    * codebooks — what embed_pq_incremental appends a batch onto. */
  private def pqCodesTable(s: SparkSession, dir: String): DataFrame =
    AnnTier.parquet(s, dir, "pq_codes")(
      graft.api.Similarity.pqCodes(emb(s, dir), pqCodebookTable(s, dir),
        PqRM, PqRSubDim))

  /** PRE-BATCH inverted lists (vec_id → cent_id) under the frozen
    * centroids — what embed_ivf_incremental appends a batch onto. */
  private def ivfListsTable(s: SparkSession, dir: String): DataFrame =
    AnnTier.parquet(s, dir, "ivf_lists")(
      graft.api.Similarity.assignLists(emb(s, dir),
        ivfCentroidTable(s, dir)))

  /** Build every ANN tier (the bench's `ann_build` entry). The
    * pipelines share nothing but the input scan, so they run as
    * concurrent jobs — multi-job scheduling within one application,
    * exactly what a cluster does with independent writes. (The code and
    * list tiers read the codebook and centroid tiers, so each builds
    * after its upstream in one task.) */
  def buildAnnTiers(s: SparkSession, dir: String): Unit =
    graft.ops.Tiers.buildConcurrently(
      Seq(
        () => { groundTruthTable(s, dir).count(); () },
        () => { pqCodebookTable(s, dir).count()
                pqCodesTable(s, dir).count(); () },
        () => { ivfCentroidTable(s, dir).count()
                ivfListsTable(s, dir).count(); () }) ++
        AnnMethods.map(m => () => { neighborTable(s, dir, m).count(); () }))

  val queries: Map[String, Q] = Map(
    // brute-force cosine top-5: query set × corpus, broadcast queries
    "embed_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val qs = broadcast(e.filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("query_id")))
      val pairs = e.select(col("vec_id").as("neighbor_id")).crossJoin(qs)
        .filter(col("neighbor_id") =!= col("query_id"))
      cosTopK(e, pairs, 5)
    }),

    // LSH-bucketed ANN: sign of 8 deterministic hyperplane projections →
    // bucket key; candidates = same bucket; exact cosine re-rank, top-3.
    "embed_lsh_ann" -> ((s, dir) => lshAnn(s, dir, bits = 8)),

    // the same ANN with `bits` SIZED TO THE CORPUS (ann_recall's
    // guidance made executable): 4 bits = 16 buckets over ~500 vectors
    // keeps ~30 per bucket, so a single probe actually holds neighbors.
    // At 1e9 vectors the identical query runs with bits≈24 — the width
    // is the one knob, and ann_recall measures what each setting buys.
    "embed_lsh_ann_tuned" -> ((s, dir) => lshAnn(s, dir, bits = TunedBits)),

    // IVF with learned centroids: deterministic Lloyd iterations on top
    // of the seed centroids (assign → integer-floor mean → reassign),
    // then probe the 2 nearest learned centroids. All arithmetic stays
    // exact (integer sums, one floor'd division) so the "training" is
    // reproducible across engines and cluster sizes. Each round is
    // materialized (k×dim bigints collected into literals), so the plan
    // depth stays O(1) in the iteration count.
    "embed_ivf_kmeans" -> ((s, dir) =>
      cosTopK(emb(s, dir), ivfKmeansCandidates(s, dir), 3)),

    // semantic decontamination (the embedding-level twin of
    // text_decontaminate): every training vector is LSH-bucketed
    // against the eval/benchmark set (every 250th base vector), bucket
    // collisions verified with exact cosine, and any training vector at
    // cos ≥ 0.99 to an eval vector is flagged as an eval leak. The
    // train corpus includes the injected duplicates, so the fixture has
    // guaranteed positives (an injected copy of an eval vector). Bucket
    // assignment is map-side (broadcast plane literals); the only
    // joins are the bucket equi-join (eval side is tiny → broadcast)
    // and the candidates-only verify — never train × eval.
    "embed_decontaminate" -> ((s, dir) => {
      val evalBase = col("vec_id") < 1000000L &&
        col("vec_id") % QueryStride === 0
      val evalSet = emb(s, dir).filter(col("vec_id") % QueryStride === 0)
      val train = embCorpus(s, dir).filter(!evalBase)
      val eb = graft.api.Similarity.lshBuckets(s, evalSet)
        .select(col("vec_id").as("eval_id"), col("bucket"))
      val tb = graft.api.Similarity.lshBuckets(s, train)
        .select(col("vec_id"), col("bucket"))
      val cand = tb.join(broadcast(eb), Seq("bucket"))
        .select(col("vec_id"), col("eval_id")).distinct()
      val tv = train.select(col("vec_id"), col("q").as("tq"),
        col("n2").as("tn"))
      val ev = evalSet.select(col("vec_id").as("eval_id"),
        col("q").as("eq"), col("n2").as("en"))
      val scored = cand.join(tv, Seq("vec_id")).join(broadcast(ev), Seq("eval_id"))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot_product_long(col("tq"), col("eq"))
            .cast("double") / sqrt((col("tn") * col("en")).cast("double")))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_candidates"), max(col("cos")).as("mc"))
      train.select(col("vec_id")).join(scored, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("mc"), lit(-1.0)).as("max_cos"),
          coalesce(col("mc") >= 0.99, lit(false)).as("contaminated"))
    }),

    // SemDeDup (semantic dedup): k-means clusters over the dup-injected
    // corpus, one exemplar per cluster (closest to the trained
    // centroid), members at cosine ≥ 0.99 to their exemplar dropped.
    // The verify join is one-exemplar-per-cluster, so the cosine stage
    // is |corpus| pairs — never |cluster|² — and the k-means chain is
    // the already-verified exact-integer Lloyd loop.
    "embed_semdedup" -> ((s, dir) => {
      val e = embCorpus(s, dir)
      val cents = graft.api.Similarity.kmeansCentroids(
        e, k = 16, iters = KmeansIters)
      graft.api.Similarity.semDedup(e, cents, threshold = 0.99)
    }),

    // multi-probe LSH, the SHIPPED form: width 6, every bucket within
    // Hamming distance 2 probed (1 + 6 + 15 = 22 of 64 buckets) —
    // still an equi-join on the probe key, with the probe fan-out a
    // literal 22-mask list. ann_recall drove the r12 retune from
    // width-4/Hamming-1 (16/30 at MORE candidates): wider planes +
    // deeper probing wins on this weakly clustered corpus; at 1e9
    // vectors the same rule runs at width≈24 where Hamming ≤ 2 is 301
    // of 16.7M buckets.
    "embed_lsh_multiprobe" -> ((s, dir) =>
      cosTopK(emb(s, dir), multiprobeCandidates(s, dir, MultiProbeBits), 3)),

    // brute-force top-5 again, but through the bounded TopKAgg instead of
    // a ranking window: partial top-k prunes candidates map-side, so the
    // shuffle carries ≤ k rows per (query, mapper) — the 100 TB shape.
    // Shares embed_cosine_topk's oracle → equivalence proven by the
    // driver compare.
    "embed_cosine_topk_agg" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val qs = broadcast(e.filter(col("vec_id") % QueryStride === 0)
        .select(col("vec_id").as("query_id"), col("q").as("qv"),
          col("n2").as("qn")))
      val scored = e.crossJoin(qs)
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("dot",
          graft.functions.VectorFunctions.dot_product_long(col("q"), col("qv")))
        .withColumn("cos",
          col("dot").cast("double") / sqrt((col("n2") * col("qn")).cast("double")))
        .select(col("query_id"), col("cos"), col("vec_id"))
        .as[(Long, Double, Long)]
      val topk = new graft.functions.TopKAgg(5)
      scored.groupByKey(_._1)
        .mapValues(r => graft.functions.TopKAgg.ScoredId(r._2, r._3))
        .agg(topk.toColumn.name("top"))
        .flatMap { case (qid, top) =>
          top.iterator.zipWithIndex.map { case (sc, i) =>
            (qid, sc.id, (i + 1).toLong, sc.cos)
          }
        }
        .toDF("query_id", "neighbor_id", "rank", "cos")
    }),

    // IVF-style ANN: 16 deterministic centroids (the first vectors),
    // inverted lists by nearest centroid (exact integer L2), queries
    // probe their 2 nearest lists, exact cosine re-rank top-3. The
    // centroid set is where k-means would plug in; the join/shuffle
    // shape — broadcast centroids, argmin window, candidate equi-join on
    // list id — is the production IVF shape.
    "embed_ivf_ann" -> ((s, dir) =>
      cosTopK(emb(s, dir), ivfSeedCandidates(s, dir), 3)),

    // product-quantization ANN: per-subspace codebooks (seeded like the
    // IVF centroids), each vector encoded as 4 codes, queries ranked by
    // asymmetric distance (sum of broadcast-LUT entries over the codes)
    // — the compressed-corpus search shape: ranking never touches raw
    // vectors, so at 100 TB the scan side is the parked 4-codes tier
    // (~16× smaller), composed with an IVF probe for the candidate cut.
    "embed_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = graft.api.Similarity.pqCentroids(e, PqK, PqM, PqSubDim)
      graft.api.Similarity.pqAdcTopK(
        e, cents, col("vec_id") % QueryStride === 0, 3, PqM, PqSubDim)
    }),

    // the SHIPPED PQ search: trained fine-grained codebooks (16×4
    // geometry, 32 codewords, 3 Lloyd rounds), ADC over the compressed
    // code tier for a top-20 shortlist, then EXACT cosine re-rank of
    // the shortlist — the production IVF-PQ serving shape (ranking
    // scans codes; raw vectors are touched for a fixed 20-per-query
    // budget however large the corpus). 29/30 recall@3 at the sf0.01
    // gate vs 5/30 for the untrained full-ADC control above — the
    // codebook-training + re-rank ablation ann_recall states per run.
    "embed_pq_rerank" -> ((s, dir) =>
      cosTopK(emb(s, dir), pqRerankShortlist(s, dir), 3)),

    // IVF-PQ composed serving (the full production stack in one query):
    // kmeans-IVF probe bounds the candidate set to ~probes/k of the
    // corpus, ADC ranks only those candidates' compressed codes, the
    // fixed-budget shortlist is re-ranked exactly. vs embed_pq_rerank
    // the ADC scan drops from the whole code tier to the probed slice;
    // vs embed_ivf_kmeans the exact math drops from every candidate to
    // the 20-pair budget — the two cost bounds composed, with the
    // recall cost of the composition measured by ann_recall per run.
    "embed_ivfpq_rerank" -> ((s, dir) =>
      cosTopK(emb(s, dir), ivfPqRerankShortlist(s, dir), 3)),

    // INCREMENTAL code-tier maintenance — the PQ twin of
    // embed_ivf_incremental: the arriving batch encodes against the
    // parked FROZEN codebooks and appends to the parked pre-batch code
    // tier; the old corpus is never re-encoded, so a growing 100 TB
    // vector store pays ingest-sized encode per batch. Per-(subspace,
    // codeword) rollup with the order-independent membership
    // fingerprint; the oracle re-trains the codebooks and re-encodes
    // the whole dup-injected corpus from scratch, so maintained ==
    // full rebuild is hash-proven like every incremental form here.
    "embed_pq_incremental" -> ((s, dir) => {
      val cents = pqCodebookTable(s, dir)
      val pre = pqCodesTable(s, dir)
      val batch = embCorpus(s, dir).filter(col("vec_id") >= 1000000L)
      val maintained = pre.unionByName(
        graft.api.Similarity.pqCodes(batch, cents, PqRM, PqRSubDim))
      maintained.groupBy(col("m").cast("long").as("m"), col("code"))
        .agg(count(lit(1)).as("n_vectors"),
          expr("bit_xor(CAST(conv(substr(md5(CAST(vec_id AS STRING)), " +
            "1, 15), 16, 10) AS BIGINT))").as("members_fp"))
    }),

    // embedding-cosine near-duplicate detection: all same-bucket pairs,
    // exact cosine, keep pairs above threshold (the vector analog of
    // MinHash-LSH + Jaccard verify).
    "dedup_embedding" -> ((s, dir) =>
      graft.api.Similarity.nearDuplicates(s, embCorpus(s, dir), 0.99)),

    // INCREMENTAL embedding dedup: the arriving batch (the injected
    // re-ingested copies, vec_id ≥ 1e6) is bucketed and probed against
    // the existing corpus's buckets — new×old plus new×new, never
    // old×old, so a growing 100 TB vector store pays ingest-sized
    // candidate generation per batch instead of re-bucketing the world
    // (the vector twin of Dedup.probePairs / the cluster-maintenance
    // contract). Equivalence IS the gate: the oracle is the full
    // dedup_embedding re-run restricted to batch-touching pairs, so
    // incremental == from-scratch is hash-checked like every other
    // incremental form in the repo.
    "dedup_embedding_incremental" -> ((s, dir) => {
      val all = embCorpus(s, dir)
      val Batch = 1000000L
      val buckets = graft.api.Similarity.lshBuckets(s, all)
      val nb = buckets.filter(col("vec_id") >= Batch)
      val ob = buckets.filter(col("vec_id") < Batch)
      val cand = nb.select(col("vec_id").as("doc_b"), col("bucket"))
        .join(ob.select(col("vec_id").as("doc_a"), col("bucket")),
          Seq("bucket"))
        .select("doc_a", "doc_b")
        .unionByName(
          nb.select(col("vec_id").as("doc_a"), col("bucket"))
            .join(nb.select(col("vec_id").as("doc_b"), col("bucket")),
              Seq("bucket"))
            .filter(col("doc_a") < col("doc_b"))
            .select("doc_a", "doc_b"))
      val qd = all.select(col("vec_id").as("doc_a"), col("q").as("qv"),
        col("n2").as("qn"))
      val nd = all.select(col("vec_id").as("doc_b"), col("q").as("nv"),
        col("n2").as("nn"))
      cand.join(qd, Seq("doc_a")).join(nd, Seq("doc_b"))
        .withColumn("dot",
          graft.functions.VectorFunctions.dot_product_long(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt((col("qn") * col("nn")).cast("double")))
        .filter(col("cos") >= 0.99)
        .select(col("doc_a"), col("doc_b"), col("cos"))
    }),

    // INCREMENTAL IVF index maintenance — the ANN family's ingest-cost
    // twin (every other candidate family already has one): the
    // arriving batch (the injected re-ingested copies, vec_id ≥ 1e6)
    // assigns against the PARKED frozen centroids (16 broadcast rows)
    // and appends to the PARKED pre-batch inverted lists — batch-sized
    // work, the old corpus is never re-scanned. The emitted per-list
    // rollup carries an order-independent md5 membership fingerprint,
    // and the oracle recomputes the WHOLE assignment from scratch
    // (train on pre-batch, assign pre ∪ batch), so maintained ==
    // full-rebuild is hash-proven, not assumed.
    "embed_ivf_incremental" -> ((s, dir) => {
      val cents = ivfCentroidTable(s, dir)
      val pre = ivfListsTable(s, dir)
      val batch = embCorpus(s, dir).filter(col("vec_id") >= 1000000L)
      val maintained = pre.unionByName(
        graft.api.Similarity.assignLists(batch, cents))
      maintained.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n_vectors"),
          expr("bit_xor(CAST(conv(substr(md5(CAST(vec_id AS STRING)), " +
            "1, 15), 16, 10) AS BIGINT))").as("members_fp"))
    }),

    // recall@3 of each ANN variant against the brute-force ground truth —
    // THE metric that justifies bits/probes/centroid choices at scale
    // (parameter tuning at 100 TB is driven by this curve, computed on a
    // sample exactly like here). Reuses the checked query definitions, so
    // the measured methods are the shipped methods.
    "ann_recall" -> ((s, dir) => {
      // ground truth and per-variant neighbor sets come from the parked
      // AnnTier (built once per fixture, `ann_build` in the
      // bench) — the recall query itself is six semi-join counts over
      // two-bigint-column scans; the measured methods are still the
      // shipped methods, because the tier is written BY those queries.
      val gt = groundTruthTable(s, dir)
      def recallOf(method: String): DataFrame =
        gt.join(
            neighborTable(s, dir, method),
            Seq("query_id", "neighbor_id"), "leftsemi")
          .agg(count(lit(1)).as("n_hits"))
          .crossJoin(gt.agg(count(lit(1)).as("n_truth")))
          .select(lit(method).as("method"),
            lit(AnnRoles(method)).as("role"),
            col("n_hits"), col("n_truth"),
            (col("n_hits").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      AnnMethods.map(recallOf).reduce(_.unionByName(_))
    }),

    // candidate-set sizes per ANN method — recall's other half: a
    // variant is only "approximate" if its candidates stay a small
    // corpus fraction (a method can always buy recall by probing
    // everything). Counts come from the SAME candidate derivations the
    // shipped queries re-rank, so the logged numbers are the methods'.
    // PQ has no candidate cut (ADC ranks the whole compressed corpus)
    // — its row states corpus−1 per query explicitly.
    "ann_candidates" -> ((s, dir) => {
      def countsOf(method: String, cand: DataFrame): DataFrame =
        cand.agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_candidates"))
          .select(lit(method).as("method"),
            lit(AnnRoles(method)).as("role"), col("n_queries"),
            col("n_candidates"),
            (col("n_candidates").cast("double") /
              col("n_queries").cast("double")).as("avg_candidates"))
      val pq = emb(s, dir).agg(count(lit(1)).as("n"),
          sum(when(col("vec_id") % QueryStride === 0, 1L).otherwise(0L))
            .as("nq"))
        .select(lit("pq").as("method"), lit(AnnRoles("pq")).as("role"),
          col("nq").as("n_queries"),
          (col("nq") * (col("n") - 1L)).as("n_candidates"),
          (col("n") - 1L).cast("double").as("avg_candidates"))
      Seq(
        countsOf("ivf", ivfSeedCandidates(s, dir)),
        countsOf("ivf_kmeans", ivfKmeansCandidates(s, dir)),
        countsOf("lsh", lshCandidates(s, dir, 8)),
        countsOf("lsh_tuned", lshCandidates(s, dir, TunedBits)),
        countsOf("multiprobe",
          multiprobeCandidates(s, dir, MultiProbeBits)),
        // the shipped PQ budget: the exact-re-rank shortlist (the ADC
        // pass scans the compressed CODE tier, never raw vectors — the
        // control `pq` row above states the uncompressed equivalent)
        countsOf("pq_rerank", pqRerankShortlist(s, dir)),
        // the composed IVF-PQ budget: same fixed exact-re-rank
        // shortlist, but its ADC pass scanned only the probed lists
        countsOf("ivfpq_rerank", ivfPqRerankShortlist(s, dir)))
        .reduce(_.unionByName(_)).unionByName(pq)
    }),

    // random-projection dimensionality reduction (Achlioptas ±1 / sign
    // JL): 64 quantized components → 8 projected, p_j = Σ_i sgn(i,j)·vᵢ
    // with the sign grid derived from md5('rp|i|j') IN the expression —
    // no weight matrix to ship, both engines regenerate it identically.
    // All-integer projections (no float matmul), computed as ONE
    // hash-agg over the 8-way dim-replicated explode; the emitted
    // norm_ratio = |p|²/(8·|v|²) is the JL length-preservation witness
    // (E[ratio] = 1) — the audit a 100 TB pipeline runs before swapping
    // its ANN to the cheaper projected space.
    "embed_rproj" -> ((s, dir) => {
      val e = emb(s, dir)
      val ee = e.select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "v")))
        .select(col("vec_id"), (col("i0") + 1).as("i"), col("v"))
      val dims = s.range(1, 9).select(col("id").cast("int").as("j"))
      val proj = ee.crossJoin(broadcast(dims))
        .withColumn("sgn", expr(
          "CASE WHEN instr('0123456789abcdef', " +
            "substr(md5(concat('rp|', i, '|', j)), 1, 1)) % 2 = 0 " +
          "THEN 1L ELSE -1L END"))
        .groupBy(col("vec_id"))
        .agg(
          sum(when(col("j") === 1, col("v") * col("sgn")).otherwise(0L)).as("p1"),
          (2 to 8).map(jj =>
            sum(when(col("j") === jj, col("v") * col("sgn")).otherwise(0L))
              .as(s"p$jj")): _*)
      val p2 = (1 to 8).map(jj => col(s"p$jj") * col(s"p$jj"))
        .reduce(_ + _)
      proj.join(e.select(col("vec_id"), col("n2")), Seq("vec_id"))
        .select(col("vec_id") +: (1 to 8).map(jj => col(s"p$jj")) :+
          (p2.cast("double") / (col("n2") * 8L).cast("double"))
            .as("norm_ratio"): _*)
    }))

  private[queries] val embSql: String =
    """emb AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |         list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** Quantized vectors `name` (vec_id, q) over an embedding CTE `src`
    * that already holds a BIGINT vec_id. */
  private def embOf(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
       |  FROM $src)""".stripMargin

  /** One (vec_id, i, v) row per component of a quantized-vector CTE. */
  private def eeOf(name: String, emb: String): String =
    s"""$name AS (
       |  SELECT vec_id, unnest(q) AS v, generate_subscripts(q, 1) AS i
       |  FROM $emb)""".stripMargin

  /** Squared norm n2 per vec_id of an exploded-vector CTE. */
  private def normOf(name: String, ee: String): String =
    s"$name AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS n2 FROM $ee GROUP BY vec_id)"

  private[queries] val eeSql: String = eeOf("ee", "emb")

  /** DuckDB mirror of [[embCorpus]] (dup-injected embeddings). */
  private val embcSql: String =
    """embc AS (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT CAST(vec_id + 1000000 AS BIGINT), embedding
      |  FROM embeddings WHERE vec_id % 100 = 0)""".stripMargin

  /** `emb` rebound over the dup-injected corpus, so the shared ee/norm
    * CTEs (and the k-means chain) run over embc. */
  private val embOverCorpusSql: String = embOf("emb", "embc")

  private[queries] val normSql: String = normOf("norm", "ee")

  /** Parameterized hyperplane CTE: `bits` md5-derived planes under the
    * given CTE name (the oracle mirror of Similarity.hyperplanes). */
  private[queries] def hyperSqlFor(bits: Int, hyper: String): String =
    s"""$hyper AS (
       |  SELECT j, i,
       |    2 * (instr('0123456789abcdef',
       |         substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) - 1) - 15 AS h
       |  FROM (SELECT unnest(range(0, $bits)) AS j),
       |       (SELECT unnest(range(1, 65)) AS i))""".stripMargin

  /** Sign-bucket CTE over an exploded-vector CTE `ee` against a named
    * hyperplane CTE. */
  private def bucketsSqlFor(hyper: String, buckets: String,
      ee: String): String =
    s"""$buckets AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN sdot > 0 THEN 1 << CAST(j AS INT) ELSE 0 END)
       |         AS BIGINT) AS bucket
       |  FROM (SELECT e.vec_id, h.j, sum(e.v * h.h) AS sdot
       |        FROM $ee e JOIN $hyper h ON e.i = h.i
       |        GROUP BY e.vec_id, h.j)
       |  GROUP BY vec_id)""".stripMargin

  /** The default 8-bit instances, shared with the cross-modal query in
    * MultimodalQueries. */
  private[queries] val hyperSql: String = hyperSqlFor(8, "hyper")
  private[queries] val bucketsSql: String = bucketsSqlFor("hyper", "buckets", "ee")

  /** `bits`-wide hyperplanes `<p>hyper` and their sign buckets
    * `<p>buckets` over `ee`. */
  private def lshCtes(p: String, bits: Int): Seq[String] = Seq(
    hyperSqlFor(bits, s"${p}hyper"),
    bucketsSqlFor(s"${p}hyper", s"${p}buckets", "ee"))

  /** Single-bucket LSH candidates: every other vector in a query's
    * bucket. */
  private def lshCandCte(cand: String, buckets: String): String =
    s"""$cand AS (
       |  SELECT qb.vec_id AS query_id, db.vec_id AS neighbor_id
       |  FROM $buckets qb
       |  JOIN $buckets db ON qb.bucket = db.bucket AND db.vec_id != qb.vec_id
       |  WHERE qb.vec_id % $QueryStride = 0)""".stripMargin

  /** Exact dot product `dots` of every (query_id, neighbor_id) pair of a
    * candidate CTE. */
  private def dotsCte(dots: String, cand: String): String =
    s"""$dots AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(sum(qe.v * de.v) AS BIGINT) AS dot
       |  FROM $cand c
       |  JOIN ee qe ON qe.vec_id = c.query_id
       |  JOIN ee de ON de.vec_id = c.neighbor_id AND de.i = qe.i
       |  GROUP BY 1, 2)""".stripMargin

  /** Exact cosine `cos` of every pair of a [[dotsCte]]-shaped CTE. */
  private def cosCte(cos: String, dots: String): String =
    s"""$cos AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(dot AS DOUBLE) / sqrt(CAST(nq.n2 * nd.n2 AS DOUBLE)) AS cos
       |  FROM $dots
       |  JOIN norm nq ON nq.vec_id = $dots.query_id
       |  JOIN norm nd ON nd.vec_id = $dots.neighbor_id)""".stripMargin

  /** The exact-cosine re-rank of a candidate CTE as `cdots` → `ccos`,
    * the chain every single-method ANN oracle ranks with. */
  private def ccosCtes(cand: String): Seq[String] =
    Seq(dotsCte("cdots", cand), cosCte("ccos", "cdots"))

  /** Oracle body: the top-`k` neighbors per query of a cosine CTE, ties
    * broken by neighbor_id. */
  private def cosTopK(cos: String, k: Int): String =
    s"""SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM $cos)
       |WHERE rank <= $k""".stripMargin

  /** Pin one oracle CTE to a single evaluation: DuckDB re-inlines plain
    * CTEs per REFERENCE, so a chain tail referenced twice (e.g. ranked3
    * by both klists and kprobes) re-evaluates its entire upstream chain
    * — the cost blowup class COVERAGE.md's oracle budget exists for.
    * Applied to whole CTE lists of the two recap oracles (ann_recall /
    * ann_candidates), which stack every method's chain in one WITH. */
  private def materializeCte(cte: String): String =
    cte.replaceFirst(" AS \\(", " AS MATERIALIZED (")

  /** Exact-cosine re-rank CTE chain over a (query_id, neighbor_id)
    * candidate CTE: `<p>dots` → `<p>cosv` → `<p>topk` (top-3), named
    * per method so the recall oracle can run it once per method. */
  private def rerankCtes(p: String, cand: String): Seq[String] = Seq(
    dotsCte(s"${p}dots", cand),
    cosCte(s"${p}cosv", s"${p}dots"),
    s"""${p}topk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ${p}cosv)
       |  WHERE rank <= 3)""".stripMargin)

  /** Oracle CTE chain for `iters` deterministic Lloyd rounds: seed
    * centroids cent0 = the first 16 vectors, then per round r the
    * argmin assignment (ranked{r} / assign{r}) and the integer-floor
    * mean update (cent{r+1} / cnorm{r+1}); the final ranked{iters}
    * drives the IVF lists/probes. Mirrors Similarity.kmeansCentroids
    * exactly — the round count is the only parameter. */
  private def kmeansRoundCtes(iters: Int, k: Int = 16): Seq[String] = {
    def ranked(r: Int): String = centroidCte(s"ranked$r",
      """row_number() OVER (PARTITION BY d.vec_id
        |      ORDER BY n.n2 + c.cn2 - 2 * d.dot, d.cent_id) AS crank""".stripMargin,
      "ee", "norm", r)
    val seed = Seq(
      s"""cent0 AS (
         |  SELECT vec_id AS cent_id, i, v AS cv FROM ee WHERE vec_id < $k)""".stripMargin,
      """cnorm0 AS (
        |  SELECT cent_id, CAST(sum(cv * cv) AS BIGINT) AS cn2
        |  FROM cent0 GROUP BY cent_id)""".stripMargin)
    val rounds = (0 until iters).flatMap { r =>
      Seq(
        ranked(r),
        s"assign$r AS (SELECT vec_id, cent_id FROM ranked$r WHERE crank = 1)",
        s"""cent${r + 1} AS (
           |  SELECT a.cent_id, e.i, CAST(floor(sum(e.v) / count(*)) AS BIGINT) AS cv
           |  FROM ee e JOIN assign$r a ON a.vec_id = e.vec_id
           |  GROUP BY a.cent_id, e.i)""".stripMargin,
        s"""cnorm${r + 1} AS (
           |  SELECT cent_id, CAST(sum(cv * cv) AS BIGINT) AS cn2
           |  FROM cent${r + 1} GROUP BY cent_id)""".stripMargin)
    }
    seed ++ rounds :+ ranked(iters)
  }

  /** Per (vector, round-`r` centroid) pair of an exploded-vector CTE `ee`
    * with norms `norm`: `d.dot`, `n.n2` and `c.cn2` in scope of the
    * `score` select expression. */
  private def centroidCte(name: String, score: String, ee: String,
      norm: String, r: Int): String =
    s"""$name AS (
       |  SELECT d.vec_id, d.cent_id, $score
       |  FROM (SELECT e.vec_id, c.cent_id, CAST(sum(e.v * c.cv) AS BIGINT) AS dot
       |        FROM $ee e JOIN cent$r c ON e.i = c.i
       |        GROUP BY e.vec_id, c.cent_id) d
       |  JOIN $norm n ON n.vec_id = d.vec_id
       |  JOIN cnorm$r c ON c.cent_id = d.cent_id)""".stripMargin

  /** IVF probing over a ranked-centroid CTE (crank per vec_id):
    * `<p>lists` (each vector's nearest centroid), `<p>probes` (each
    * query's `nprobe` nearest) and their join `<p>cand`. */
  private def ivfProbeCtes(p: String, ranked: String, nprobe: Int): Seq[String] = Seq(
    s"${p}lists AS (SELECT vec_id AS neighbor_id, cent_id FROM $ranked WHERE crank = 1)",
    s"""${p}probes AS (
       |  SELECT vec_id AS query_id, cent_id FROM $ranked
       |  WHERE crank <= $nprobe AND vec_id % $QueryStride = 0)""".stripMargin,
    s"""${p}cand AS (
       |  SELECT DISTINCT p.query_id, l.neighbor_id
       |  FROM ${p}probes p JOIN ${p}lists l ON p.cent_id = l.cent_id
       |  WHERE l.neighbor_id != p.query_id)""".stripMargin)

  /** IVF over the first 16 vectors as fixed centroids (the SQL twin of
    * [[ivfAnn]]): `<p>cdist` → `<p>ranked`, probed by [[ivfProbeCtes]]. */
  private def seedIvfCtes(p: String): Seq[String] = Seq(
    s"""${p}cdist AS (
       |  SELECT e.vec_id, c.vec_id AS cent_id,
       |         ne.n2 + nc.n2 - 2 * CAST(sum(e.v * c.v) AS BIGINT) AS dist2
       |  FROM ee e
       |  JOIN ee c ON c.vec_id < 16 AND c.i = e.i
       |  JOIN norm ne ON ne.vec_id = e.vec_id
       |  JOIN norm nc ON nc.vec_id = c.vec_id
       |  GROUP BY e.vec_id, c.vec_id, ne.n2, nc.n2)""".stripMargin,
    s"""${p}ranked AS (
       |  SELECT vec_id, cent_id,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY dist2, cent_id) AS crank
       |  FROM ${p}cdist)""".stripMargin) ++
    ivfProbeCtes(p, s"${p}ranked", IvfProbes)

  /** The learned-centroid IVF candidates `<p>cand`: the k-means round
    * chain probed at its last round. */
  private def kmeansIvfCtes(p: String): Seq[String] =
    kmeansRoundCtes(KmeansIters, KmeansK) ++
      ivfProbeCtes(p, s"ranked$KmeansIters", KmeansProbes)

  /** Multi-probe LSH candidates `<p>cand`: width-[[MultiProbeBits]]
    * buckets probed over the Hamming ≤ [[MultiProbeHamming]] masks. */
  private def multiprobeCandCtes(p: String): Seq[String] =
    lshCtes(p, MultiProbeBits) ++ Seq(
      multiprobeSqlFor(s"${p}buckets", s"${p}probes", MultiProbeBits,
        MultiProbeHamming),
      s"""${p}cand AS (
         |  SELECT DISTINCT p.query_id, db.vec_id AS neighbor_id
         |  FROM ${p}probes p
         |  JOIN ${p}buckets db ON p.bucket = db.bucket
         |  WHERE db.vec_id != p.query_id)""".stripMargin)

  /** PQ CTE chain under a name prefix: subvectors (subspace = (i−1) div
    * subDim) → per-subspace seed codebooks → exact subspace distances →
    * codes (argmin) + query LUT → ADC sums. Final CTE `<p>adc` holds
    * (query_id, neighbor_id, adist2) — the SQL twin of
    * Similarity.pqCodes/pqAdcTopK. */
  private def pqCtes(p: String): Seq[String] = subspaceCtes(p, "ee", PqSubDim) ++ Seq(
    s"${p}cent AS (SELECT vec_id AS cent_id, m, i, v FROM ${p}sub WHERE vec_id < $PqK)",
    s"""${p}centn AS (
       |  SELECT cent_id, m, CAST(sum(v * v) AS BIGINT) AS cn2
       |  FROM ${p}cent GROUP BY cent_id, m)""".stripMargin,
    s"""${p}dist AS (
       |  SELECT s.vec_id, c.cent_id, s.m,
       |         n.sn2 + cn.cn2 - 2 * CAST(sum(s.v * c.v) AS BIGINT) AS dist2
       |  FROM ${p}sub s
       |  JOIN ${p}cent c ON c.m = s.m AND c.i = s.i
       |  JOIN ${p}subn n ON n.vec_id = s.vec_id AND n.m = s.m
       |  JOIN ${p}centn cn ON cn.cent_id = c.cent_id AND cn.m = c.m
       |  GROUP BY s.vec_id, c.cent_id, s.m, n.sn2, cn.cn2)""".stripMargin,
    s"""${p}codes AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist2, cent_id) AS r
       |    FROM ${p}dist)
       |  WHERE r = 1)""".stripMargin,
    s"""${p}lut AS (
       |  SELECT vec_id AS query_id, m, cent_id, dist2 FROM ${p}dist
       |  WHERE vec_id % $QueryStride = 0)""".stripMargin,
    adcCte(p, p, None))

  /** TRAINED-PQ CTE chain under a name prefix — the SQL twin of
    * Similarity.pqTrainedCentroids + pqAdcShortlist: subvectors, seed
    * codebooks, `iters` per-subspace Lloyd rounds (argmin assignment
    * with the dist2-then-cent_id tie-break, integer-floor mean
    * update), final codes + query LUT + ADC, and the
    * top-[[PqShortlist]] shortlist `<p>short` (query_id, neighbor_id)
    * the caller re-ranks exactly. */
  private def pqTrainedCtes(p: String, k: Int, subDim: Int,
      iters: Int, shortlist: Int): Seq[String] =
    pqTrainCtes(p, k, subDim, iters) ++
      pqServeCtes(p, p, shortlist, None)

  /** Training + encode half of the trained-PQ chain: subvectors, seed
    * codebooks, `iters` Lloyd rounds, final `<p>codes` + query
    * `<p>lut`. Serving chains ([[pqServeCtes]]) read those two — one
    * training pays for any number of serve variants in the same WITH
    * (full-corpus ADC and IVF-bounded ADC share codebooks exactly as
    * the Spark side shares pqTrainedCentroids). */
  private def pqTrainCtes(p: String, k: Int, subDim: Int,
      iters: Int): Seq[String] = {
    def dist(r: Int): String = subspaceDistCte(s"${p}dist$r", p, p, r)
    val seed = subspaceCtes(p, "ee", subDim) ++ Seq(
      s"${p}cent0 AS (SELECT vec_id AS cent_id, m, i, v AS cv " +
        s"FROM ${p}sub WHERE vec_id < $k)",
      s"""${p}cn0 AS (
         |  SELECT cent_id, m, CAST(sum(cv * cv) AS BIGINT) AS cn2
         |  FROM ${p}cent0 GROUP BY cent_id, m)""".stripMargin)
    val rounds = (0 until iters).flatMap { r =>
      Seq(
        dist(r),
        s"""${p}assign$r AS (
           |  SELECT vec_id, m, cent_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
           |      ORDER BY dist2, cent_id) AS rr
           |    FROM ${p}dist$r)
           |  WHERE rr = 1)""".stripMargin,
        s"""${p}cent${r + 1} AS (
           |  SELECT a.cent_id, s.m, s.i,
           |         CAST(floor(sum(s.v) / count(*)) AS BIGINT) AS cv
           |  FROM ${p}sub s
           |  JOIN ${p}assign$r a ON a.vec_id = s.vec_id AND a.m = s.m
           |  GROUP BY a.cent_id, s.m, s.i)""".stripMargin,
        s"""${p}cn${r + 1} AS (
           |  SELECT cent_id, m, CAST(sum(cv * cv) AS BIGINT) AS cn2
           |  FROM ${p}cent${r + 1} GROUP BY cent_id, m)""".stripMargin)
    }
    val encode = Seq(
      dist(iters),
      subspaceCodesCte(s"${p}codes", s"${p}dist$iters"),
      s"""${p}lut AS (
         |  SELECT vec_id AS query_id, m, cent_id, dist2 FROM ${p}dist$iters
         |  WHERE vec_id % $QueryStride = 0)""".stripMargin)
    seed ++ rounds ++ encode
  }

  /** Subvectors `<p>sub` (subspace m = (i−1) div subDim) of an
    * exploded-vector CTE `ee`, and their squared norms `<p>subn`. */
  private def subspaceCtes(p: String, ee: String, subDim: Int): Seq[String] = Seq(
    s"""${p}sub AS (
       |  SELECT vec_id, CAST((i - 1) // $subDim AS BIGINT) AS m, i, v
       |  FROM $ee)""".stripMargin,
    s"""${p}subn AS (
       |  SELECT vec_id, m, CAST(sum(v * v) AS BIGINT) AS sn2
       |  FROM ${p}sub GROUP BY vec_id, m)""".stripMargin)

  /** Squared distance of every `<sp>sub` subvector to each round-`r`
    * codeword of a [[pqTrainCtes]] prefix `cp`. */
  private def subspaceDistCte(name: String, sp: String, cp: String, r: Int): String =
    s"""$name AS (
       |  SELECT s.vec_id, s.m, c.cent_id,
       |         n.sn2 + cn.cn2 - 2 * CAST(sum(s.v * c.cv) AS BIGINT) AS dist2
       |  FROM ${sp}sub s
       |  JOIN ${cp}cent$r c ON c.m = s.m AND c.i = s.i
       |  JOIN ${sp}subn n ON n.vec_id = s.vec_id AND n.m = s.m
       |  JOIN ${cp}cn$r cn ON cn.cent_id = c.cent_id AND cn.m = c.m
       |  GROUP BY s.vec_id, s.m, c.cent_id, n.sn2, cn.cn2)""".stripMargin

  /** Each subvector's code: its nearest codeword in a
    * [[subspaceDistCte]], ties broken by cent_id. */
  private def subspaceCodesCte(name: String, dist: String): String =
    s"""$name AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist2, cent_id) AS rr
       |    FROM $dist)
       |  WHERE rr = 1)""".stripMargin

  /** ADC + shortlist serve chain over a [[pqTrainCtes]] prefix `p`,
    * emitting `<sp>adc` / `<sp>short`. `candCte`, when set, bounds the
    * ADC to that CTE's (query_id, neighbor_id) pairs — the IVF-PQ
    * composition (the SQL twin of Similarity.ivfPqShortlist); None is
    * the full-corpus ADC of embed_pq_rerank. */
  private def pqServeCtes(p: String, sp: String, shortlist: Int,
      candCte: Option[String]): Seq[String] = Seq(
    adcCte(p, sp, candCte),
    s"""${sp}short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist2, neighbor_id) AS rr
       |    FROM ${sp}adc)
       |  WHERE rr <= $shortlist)""".stripMargin)

  /** `<sp>adc`: the asymmetric distance adist2 of each query in the
    * `<p>lut` to every other vector's `<p>codes`, over the pairs of
    * `candCte` when set. */
  private def adcCte(p: String, sp: String, candCte: Option[String]): String = {
    val candJoin = candCte.fold("")(cc =>
      s"\n  JOIN $cc cd ON cd.query_id = l.query_id AND cd.neighbor_id = c.vec_id")
    s"""${sp}adc AS (
       |  SELECT l.query_id, c.vec_id AS neighbor_id,
       |         CAST(sum(l.dist2) AS BIGINT) AS adist2
       |  FROM ${p}codes c
       |  JOIN ${p}lut l ON l.m = c.m AND l.cent_id = c.code$candJoin
       |  WHERE c.vec_id != l.query_id
       |  GROUP BY l.query_id, c.vec_id)""".stripMargin
  }

  /** Multi-probe probe CTE: the query buckets exploded over the SAME
    * literal XOR-mask list the Spark side ships
    * ([[graft.api.Similarity.probeMasks]]). */
  private def multiprobeSqlFor(buckets: String, probes: String,
      bits: Int, maxHamming: Int): String = {
    val masks = graft.api.Similarity.probeMasks(bits, maxHamming)
      .mkString(", ")
    s"""$probes AS (
       |  SELECT query_id, CAST(xor(bucket, mask) AS BIGINT) AS bucket
       |  FROM (SELECT vec_id AS query_id, bucket,
       |          unnest([$masks]) AS mask
       |        FROM $buckets WHERE vec_id % $QueryStride = 0))""".stripMargin
  }

  /** Single-probe LSH ANN oracle at a given hyperplane width — the SQL
    * twin of [[lshAnn]]. */
  private def lshAnnOracle(bits: Int): String =
    withCtes(Seq(embSql, eeSql, normSql) ++ lshCtes("", bits) ++
      Seq(lshCandCte("cand", "buckets")) ++ ccosCtes("cand"): _*)(
      cosTopK("ccos", 3))

  /** Brute-force exact-cosine top-5: one text for embed_cosine_topk and
    * its aggregate form. */
  private val cosineTopKOracle: String =
    withCtes(embSql, eeSql, normSql,
      s"""dots AS (
         |  SELECT qe.vec_id AS query_id, de.vec_id AS neighbor_id,
         |         CAST(sum(qe.v * de.v) AS BIGINT) AS dot
         |  FROM (SELECT * FROM ee WHERE vec_id % $QueryStride = 0) qe
         |  JOIN ee de ON qe.i = de.i AND de.vec_id != qe.vec_id
         |  GROUP BY 1, 2)""".stripMargin,
      cosCte("cosv", "dots"))(cosTopK("cosv", 5))

  /** Embedding near-duplicate pairs (cos ≥ 0.99) among the same-bucket
    * pairs of the dup-injected corpus; `candFilter` narrows the pairs
    * (the incremental form keeps those touching the batch). */
  private def dedupEmbeddingOracle(candFilter: String): String =
    withCtes(embcSql, embOverCorpusSql, eeSql, normSql, hyperSql, bucketsSql,
      s"""cand AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM buckets a
         |  JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id$candFilter)""".stripMargin,
      """cdots AS (
        |  SELECT c.doc_a, c.doc_b, CAST(sum(qe.v * de.v) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN ee qe ON qe.vec_id = c.doc_a
        |  JOIN ee de ON de.vec_id = c.doc_b AND de.i = qe.i
        |  GROUP BY 1, 2)""".stripMargin)(
      """SELECT doc_a, doc_b, cos FROM (
        |  SELECT doc_a, doc_b,
        |         CAST(dot AS DOUBLE) / sqrt(CAST(nq.n2 * nd.n2 AS DOUBLE)) AS cos
        |  FROM cdots
        |  JOIN norm nq ON nq.vec_id = cdots.doc_a
        |  JOIN norm nd ON nd.vec_id = cdots.doc_b)
        |WHERE cos >= 0.99""".stripMargin)

  /** The recap oracles' rows, one `UNION ALL` branch per (method, CTE
    * prefix): the method, its role and `cols(prefix)`; the first branch
    * names the columns `method`, `role` and `names`. */
  private def methodRows(methods: Seq[(String, String)], names: Seq[String])(
      cols: String => Seq[String]): String =
    methods.zipWithIndex.map { case ((m, p), i) =>
      val vals = Seq(s"'$m'", s"'${AnnRoles(m)}'") ++ cols(p)
      val named = if (i > 0) vals
        else vals.zip("method" +: "role" +: names).map { case (v, n) => s"$v AS $n" }
      named.mkString("  SELECT ", ",\n    ", "")
    }.mkString("\n  UNION ALL\n")

  val oracles: Map[String, String] = Map(
    "embed_cosine_topk" -> cosineTopKOracle,
    "embed_cosine_topk_agg" -> cosineTopKOracle,

    "embed_lsh_ann" -> lshAnnOracle(8),
    "embed_lsh_ann_tuned" -> lshAnnOracle(TunedBits),

    "embed_pq_ann" -> withCtes(
      Seq(embSql, eeSql) ++ pqCtes("pq"): _*)(
      """SELECT query_id, neighbor_id, rank, adist2 FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adist2, neighbor_id) AS BIGINT) AS rank
        |  FROM pqadc)
        |WHERE rank <= 3""".stripMargin),

    // trained-codebook PQ + ADC shortlist + exact re-rank: the round-
    // unrolled per-subspace Lloyd chain, then the exact-cosine rank of
    // the top-shortlist pairs (the same re-rank CTE shape every other
    // ANN oracle uses)
    "embed_pq_rerank" -> withCtes(
      ((Seq(embSql, eeSql, normSql) ++
        pqTrainedCtes("pr", PqRK, PqRSubDim, PqTrainIters, PqShortlist) ++
        rerankCtes("prr", "prshort")).map(materializeCte)): _*)(
      cosTopK("prrcosv", 3)),

    // IVF-PQ composed serving oracle: the kmeans-round chain yields the
    // probed candidate set (kcand, as in embed_ivf_kmeans), the trained
    // PQ chain yields codes + query LUT, and the ADC serve is BOUNDED
    // to kcand (pqServeCtes candCte) before the exact re-rank — the SQL
    // twin of Similarity.ivfPqShortlist, CTEs materialized (two heavy
    // chains stack in one WITH)
    "embed_ivfpq_rerank" -> withCtes(
      ((Seq(embSql, eeSql, normSql) ++ kmeansIvfCtes("k") ++
        pqTrainCtes("pr", PqRK, PqRSubDim, PqTrainIters) ++
        pqServeCtes("pr", "ip", PqShortlist, Some("kcand")) ++
        rerankCtes("ipr", "ipshort")).map(materializeCte)): _*)(
      cosTopK("iprcosv", 3)),

    "embed_ivf_kmeans" -> withCtes(Seq(embSql, eeSql, normSql) ++
      kmeansIvfCtes("") ++ ccosCtes("cand"): _*)(cosTopK("ccos", 3)),

    "embed_lsh_multiprobe" -> withCtes(Seq(embSql, eeSql, normSql) ++
      multiprobeCandCtes("") ++ ccosCtes("cand"): _*)(cosTopK("ccos", 3)),

    "embed_ivf_ann" -> withCtes(Seq(embSql, eeSql, normSql) ++
      seedIvfCtes("") ++ ccosCtes("cand"): _*)(cosTopK("ccos", 3)),

    "ann_recall" -> withCtes((Seq(embSql, eeSql, normSql, hyperSql, bucketsSql,
      // ground truth: brute-force pairs, same re-rank as the methods
      s"""gtcand AS (
         |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
         |  FROM emb q JOIN emb d ON d.vec_id != q.vec_id
         |  WHERE q.vec_id % $QueryStride = 0)""".stripMargin) ++
      rerankCtes("gt", "gtcand") ++
      // LSH single-bucket candidates (mirror of embed_lsh_ann)
      Seq(lshCandCte("lcand", "buckets")) ++ rerankCtes("l", "lcand") ++
      // recall-tuned width (mirror of embed_lsh_ann_tuned)
      lshCtes("t", TunedBits) ++
      Seq(lshCandCte("tcand", "tbuckets")) ++ rerankCtes("t", "tcand") ++
      // multi-probe candidates (mirror of embed_lsh_multiprobe)
      multiprobeCandCtes("mp") ++ rerankCtes("mp", "mpcand") ++
      // IVF candidates over the 16 seed centroids (mirror of embed_ivf_ann)
      seedIvfCtes("i") ++ rerankCtes("i", "icand") ++
      // learned-centroid IVF (mirror of embed_ivf_kmeans)
      kmeansIvfCtes("k") ++ rerankCtes("k", "kcand") ++
      // PQ ADC ranking (mirror of embed_pq_ann) — recall vs the COSINE
      // ground truth measures what the 16× code compression loses
      (pqCtes("pq") :+
      """pqtopk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist2, neighbor_id) AS rank
        |    FROM pqadc)
        |  WHERE rank <= 3)""".stripMargin) ++
      // trained-PQ shortlist + exact re-rank (mirror of embed_pq_rerank)
      pqTrainedCtes("pr", PqRK, PqRSubDim, PqTrainIters, PqShortlist) ++
      rerankCtes("prr", "prshort") ++
      // IVF-PQ composed serve (mirror of embed_ivfpq_rerank): the SAME
      // trained codebooks, ADC bounded to the kmeans-probe candidates
      pqServeCtes("pr", "ip", PqShortlist, Some("kcand")) ++
      rerankCtes("ipr", "ipshort")).map(materializeCte): _*)(
      s"""SELECT method, role, CAST(n_hits AS BIGINT) AS n_hits,
         |       CAST(n_truth AS BIGINT) AS n_truth,
         |       CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
         |FROM (
         |${methodRows(Seq("ivf" -> "i", "ivf_kmeans" -> "k", "lsh" -> "l",
             "lsh_tuned" -> "t", "multiprobe" -> "mp", "pq" -> "pq",
             "pq_rerank" -> "prr", "ivfpq_rerank" -> "ipr"),
           Seq("n_hits", "n_truth"))(p => Seq(
           s"""(SELECT count(*) FROM gttopk g JOIN ${p}topk a
              |       ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id)""".stripMargin,
           "(SELECT count(*) FROM gttopk)"))})""".stripMargin),

    // from-scratch IVF rebuild: centroids trained on the pre-batch
    // corpus (the shared kmeans chain over emb), then EVERY vector of
    // the dup-injected corpus assigned to its nearest frozen centroid
    // — the rollup the maintained index must hash-match
    "embed_ivf_incremental" -> withCtes((Seq(embSql, eeSql, normSql) ++
      kmeansRoundCtes(KmeansIters, KmeansK) ++ Seq(
      embcSql, embOf("cemb", "embc"), eeOf("cee", "cemb"),
      normOf("cnormf", "cee"),
      centroidCte("fdist", "n.n2 + c.cn2 - 2 * d.dot AS dist2", "cee", "cnormf",
        KmeansIters),
      """fass AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist2, cent_id) AS r
        |    FROM fdist)
        |  WHERE r = 1)""".stripMargin)): _*)(
      """SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |    1, 15))::BIGINT) AS BIGINT) AS members_fp
        |FROM fass GROUP BY cent_id""".stripMargin),

    // from-scratch PQ rebuild: codebooks trained on the pre-batch
    // corpus (the shared pqTrainCtes chain over emb), then EVERY vector
    // of the dup-injected corpus encoded against the frozen cent/cn
    // tables — the per-(subspace, codeword) rollup the maintained code
    // tier must hash-match
    "embed_pq_incremental" -> withCtes(((Seq(embSql, eeSql) ++
      pqTrainCtes("pr", PqRK, PqRSubDim, PqTrainIters) ++
      Seq(embcSql, embOf("cemb", "embc"), eeOf("cee", "cemb")) ++
      subspaceCtes("c", "cee", PqRSubDim) ++ Seq(
      subspaceDistCte("cdist", "c", "pr", PqTrainIters),
      subspaceCodesCte("ccodes", "cdist"))).map(materializeCte)): _*)(
      """SELECT m, code, CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(bit_xor(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
        |    1, 15))::BIGINT) AS BIGINT) AS members_fp
        |FROM ccodes GROUP BY m, code""".stripMargin),

    // candidate counts per method — the same cand CTE shapes as the
    // per-method oracles (8-bit + tuned single-bucket LSH, width-6
    // Hamming<=2 multiprobe, seed + learned IVF, trained-PQ re-rank
    // shortlist), counted instead of re-ranked; the full-ADC `pq`
    // control states corpus-1 per query (ADC ranks everything)
    "ann_candidates" -> withCtes((Seq(embSql, eeSql, normSql,
      hyperSql, bucketsSql) ++ lshCtes("t", TunedBits) ++ Seq(
      lshCandCte("lcand", "buckets"), lshCandCte("tcand", "tbuckets")) ++
      multiprobeCandCtes("mp") ++ seedIvfCtes("i") ++ kmeansIvfCtes("k") ++
      // trained-PQ shortlist — the shipped pq_rerank candidate budget
      pqTrainedCtes("pr", PqRK, PqRSubDim, PqTrainIters, PqShortlist) ++
      // IVF-PQ composed shortlist — same codebooks, kcand-bounded ADC
      pqServeCtes("pr", "ip", PqShortlist,
        Some("kcand"))).map(materializeCte): _*)(
      s"""SELECT method, role, CAST(n_queries AS BIGINT) AS n_queries,
         |       CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_candidates AS DOUBLE) / CAST(n_queries AS DOUBLE)
         |         AS avg_candidates
         |FROM (
         |${methodRows(Seq("ivf" -> "icand", "ivf_kmeans" -> "kcand",
             "lsh" -> "lcand", "lsh_tuned" -> "tcand", "multiprobe" -> "mpcand",
             "pq_rerank" -> "prshort", "ivfpq_rerank" -> "ipshort"),
           Seq("n_queries", "n_candidates"))(c => Seq(
           s"(SELECT count(DISTINCT query_id) FROM $c)", s"(SELECT count(*) FROM $c)"))}
         |  UNION ALL
         |  SELECT 'pq', '${AnnRoles("pq")}',
         |    (SELECT count(*) FROM emb WHERE vec_id % $QueryStride = 0),
         |    (SELECT count(*) FROM emb WHERE vec_id % $QueryStride = 0)
         |      * ((SELECT count(*) FROM emb) - 1))""".stripMargin),

    "embed_decontaminate" -> withCtes(
      embcSql,
      // train corpus: the dup-injected embeddings MINUS the base eval
      // rows; shared ee/norm CTEs then run over the train side
      s"""emb AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
         |  FROM embc
         |  WHERE NOT (vec_id < 1000000 AND vec_id % $QueryStride = 0))""".stripMargin,
      eeSql, normSql,
      s"""peval AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |         list_transform(embedding, x -> CAST(floor(x * 1000) AS BIGINT)) AS q
         |  FROM embeddings WHERE vec_id % $QueryStride = 0)""".stripMargin,
      eeOf("pee", "peval"), normOf("pnorm", "pee"), hyperSql,
      bucketsSqlFor("hyper", "tbuck", "ee"), bucketsSqlFor("hyper", "ebuck", "pee"),
      """dcand AS (SELECT DISTINCT t.vec_id, e.vec_id AS eval_id
        |          FROM tbuck t JOIN ebuck e USING (bucket))""".stripMargin,
      """ddots AS (
        |  SELECT c.vec_id, c.eval_id, CAST(sum(te.v * pe.v) AS BIGINT) AS dot
        |  FROM dcand c
        |  JOIN ee te ON te.vec_id = c.vec_id
        |  JOIN pee pe ON pe.vec_id = c.eval_id AND pe.i = te.i
        |  GROUP BY 1, 2)""".stripMargin,
      """dagg AS (
        |  SELECT d.vec_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |    max(CAST(d.dot AS DOUBLE) / sqrt(CAST(n.n2 * p.n2 AS DOUBLE)))
        |      AS max_cos
        |  FROM ddots d
        |  JOIN norm n ON n.vec_id = d.vec_id
        |  JOIN pnorm p ON p.vec_id = d.eval_id
        |  GROUP BY d.vec_id)""".stripMargin)(
      """SELECT t.vec_id,
        |  coalesce(a.n_candidates, 0) AS n_candidates,
        |  coalesce(a.max_cos, -1.0) AS max_cos,
        |  coalesce(a.max_cos >= 0.99, FALSE) AS contaminated
        |FROM (SELECT vec_id FROM emb) t LEFT JOIN dagg a USING (vec_id)""".stripMargin),

    "embed_semdedup" -> withCtes(
      Seq(embcSql, embOverCorpusSql, eeSql, normSql) ++
      kmeansRoundCtes(KmeansIters) ++ Seq(
      centroidCte("adist", "n.n2 + c.cn2 - 2 * d.dot AS dist2", "ee", "norm",
        KmeansIters),
      """sdassign AS (
        |  SELECT vec_id, cent_id, dist2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist2, cent_id) AS rn FROM adist)
        |  WHERE rn = 1)""".stripMargin,
      """sdex AS (
        |  SELECT cent_id, vec_id AS ex_id FROM (
        |    SELECT cent_id, vec_id, row_number() OVER (PARTITION BY cent_id
        |      ORDER BY dist2, vec_id) AS rn FROM sdassign)
        |  WHERE rn = 1)""".stripMargin,
      """sddots AS (
        |  SELECT a.vec_id, a.cent_id, x.ex_id,
        |    CAST(sum(me.v * xe.v) AS BIGINT) AS dot
        |  FROM sdassign a JOIN sdex x USING (cent_id)
        |  JOIN ee me ON me.vec_id = a.vec_id
        |  JOIN ee xe ON xe.vec_id = x.ex_id AND xe.i = me.i
        |  GROUP BY a.vec_id, a.cent_id, x.ex_id)""".stripMargin): _*)(
      """SELECT vec_id, cent_id, cos_to_exemplar,
        |  (vec_id != ex_id AND cos_to_exemplar >= 0.99) AS dropped
        |FROM (
        |  SELECT m.vec_id, m.cent_id, m.ex_id,
        |    CAST(m.dot AS DOUBLE) / sqrt(CAST(nm.n2 * nx.n2 AS DOUBLE))
        |      AS cos_to_exemplar
        |  FROM sddots m
        |  JOIN norm nm ON nm.vec_id = m.vec_id
        |  JOIN norm nx ON nx.vec_id = m.ex_id)""".stripMargin),

    "dedup_embedding" -> dedupEmbeddingOracle(""),

    // the incremental form shares the FULL recompute's derivation,
    // restricted to pairs touching the batch (doc_a < doc_b and batch
    // ids sit above 1e6, so doc_b ≥ 1e6 ⟺ the pair touches the batch)
    // — incremental == from-scratch is part of the gate
    "dedup_embedding_incremental" ->
      dedupEmbeddingOracle("\n  WHERE b.vec_id >= 1000000"),
    "embed_rproj" -> withCtes(embSql, eeSql, normSql,
      """sg AS (
        |  SELECT e.vec_id, e.v, d.j,
        |    CASE WHEN instr('0123456789abcdef',
        |      substr(md5('rp|' || e.i || '|' || d.j), 1, 1)) % 2 = 0
        |    THEN 1 ELSE -1 END AS sgn
        |  FROM ee e, (SELECT unnest(range(1, 9)) AS j) d)""".stripMargin,
      s"""pr AS (
         |  SELECT vec_id,
         |    ${(1 to 8).map(j =>
             s"CAST(sum(CASE WHEN j = $j THEN v * sgn ELSE 0 END) AS BIGINT) AS p$j")
             .mkString(",\n    ")}
         |  FROM sg GROUP BY vec_id)""".stripMargin)(
      s"""SELECT pr.vec_id, ${(1 to 8).map(j => s"p$j").mkString(", ")},
         |  CAST(${(1 to 8).map(j => s"p$j * p$j").mkString(" + ")} AS DOUBLE)
         |    / CAST(n.n2 * 8 AS DOUBLE) AS norm_ratio
         |FROM pr JOIN norm n USING (vec_id)""".stripMargin))
}
