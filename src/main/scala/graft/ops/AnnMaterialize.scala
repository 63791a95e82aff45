package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized tier for ann_recall's inputs: the brute-force ground
  * truth and each ANN variant's (query_id, neighbor_id) set, parked once
  * per fixture.
  *
  * ann_recall previously re-ran all six ANN pipelines (plus the
  * brute-force pass) inside one query — a diagnostic that in production
  * runs on a SAMPLE and whose per-variant neighbor sets are exactly what
  * a parameter sweep materializes anyway. Parking turns the recall query
  * into six tiny semi-join aggregations over two-bigint-column scans,
  * while each variant's pipeline cost stays visible in its own
  * bench entry (and in `ann_build`).
  *
  * Every tier here is parked by [[Tiers.park]]; the key is the
  * embeddings stamp + format version.
  */
object AnnMaterialize {

  /** Bump on any change to the ANN variant set or their parameters. */
  private val FormatVersion = 4 // r13: + ivfpq_rerank (composed serving)
  // (r12: QueryStride 250→50, KmeansK 16→64, KmeansProbes 3→12,
  //  multiprobe width 6 / Hamming<=2, + pq_rerank tier)

  private def tier(dir: String, sub: String): String =
    s"target/intermediate/ann_v${FormatVersion}_" +
      s"${Tiers.sourceStamp(dir, "embeddings")}/$sub"

  /** (query_id, neighbor_id) exact cosine top-3 — the recall denominator. */
  def groundTruthTable(s: SparkSession, dir: String): DataFrame =
    Tiers.parquet(s, tier(dir, "ground_truth"))(
      graft.queries.SimilarityQueries.bruteForceTop3(s, dir))

  /** (query_id, neighbor_id) for one ANN variant (see
    * [[graft.queries.SimilarityQueries.AnnMethods]]). */
  def neighborTable(s: SparkSession, dir: String, method: String): DataFrame =
    Tiers.parquet(s, tier(dir, s"method_$method"))(
      graft.queries.SimilarityQueries.annMethodQuery(method)(s, dir)
        .select("query_id", "neighbor_id"))

  /** FROZEN k-means centroids trained on the PRE-BATCH corpus — the
    * artifact IVF index maintenance holds fixed while batches arrive
    * (retraining is a periodic rebuild, not an ingest step). 16 rows. */
  def ivfCentroidTable(s: SparkSession, dir: String): DataFrame =
    Tiers.parquet(s, tier(dir, "ivf_centroids"))(
      graft.queries.SimilarityQueries.ivfFrozenCentroids(s, dir))

  /** FROZEN trained-PQ codebooks (k·m rows) — like the IVF centroids,
    * trained once per fixture and read by every PQ serving query
    * (embed_pq_rerank, embed_ivfpq_rerank, ann_candidates); the
    * oracles retrain from scratch, so parked == retrained is
    * hash-proven on every run. */
  def pqCodebookTable(s: SparkSession, dir: String): DataFrame =
    Tiers.parquet(s, tier(dir, "pq_codebooks"))(
      graft.queries.SimilarityQueries.pqFrozenCodebooks(s, dir))

  /** PRE-BATCH compressed code tier (vec_id, m, code) under the frozen
    * codebooks — what embed_pq_incremental appends a batch onto (the
    * code-tier analog of [[ivfListsTable]]). */
  def pqCodesTable(s: SparkSession, dir: String): DataFrame =
    Tiers.parquet(s, tier(dir, "pq_codes"))(
      graft.queries.SimilarityQueries.pqFrozenCodes(s, dir))

  /** PRE-BATCH inverted lists (vec_id → cent_id) under the frozen
    * centroids — what embed_ivf_incremental appends a batch onto. */
  def ivfListsTable(s: SparkSession, dir: String): DataFrame =
    Tiers.parquet(s, tier(dir, "ivf_lists"))(
      graft.queries.SimilarityQueries.ivfPreLists(s, dir))

  /** Build every tier (the bench's `ann_build` entry). The pipelines
    * share nothing but the input scan, so they run as concurrent
    * jobs — multi-job scheduling within one application, exactly what
    * a cluster does with independent writes. (The lists tier reads the
    * centroid tier, so it builds after it in its own task.) */
  def buildAll(s: SparkSession, dir: String): Unit =
    Tiers.buildConcurrently(
      Seq(
        () => { groundTruthTable(s, dir).count(); () },
        () => { pqCodebookTable(s, dir).count()
                pqCodesTable(s, dir).count(); () },
        () => { ivfCentroidTable(s, dir).count()
                ivfListsTable(s, dir).count(); () }) ++
        graft.queries.SimilarityQueries.AnnMethods
          .map(m => () => { neighborTable(s, dir, m).count(); () }))
}
