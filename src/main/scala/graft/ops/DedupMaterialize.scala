package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, xxhash64}

import graft.ops.TextCorpus._

/** Materialized intermediate tier for the MinHash-LSH dedup chain.
  *
  * The chain corpus → words → shingles → signatures → bands fans out to
  * several consumers (candidate pairs read bands twice per band key; the
  * Jaccard verify stage reads shingles twice more). Declaratively that
  * recomputes the shingle explosion per reference — harmless at sf0.1,
  * dominant at 100 TB where shingles are ~10× the corpus. This tier
  * computes shingles and bands ONCE per corpus and parks them as
  * parquet; every consumer then starts from a column-pruned scan.
  * Every tier here is parked as [[DedupTier]].
  */
object DedupMaterialize {

  /** Minhash parameters the parked tier was built with. */
  private val Seeds = 8
  private val Bands = 2

  /** The dedup tiers; the minhash parameters are part of the name, so
    * changing them invalidates instead of silently reusing a tier built
    * under the old family. Bump on any change to the derivations below
    * that is not visible in the parameters (hash family, shingle
    * width…). */
  private[graft] val DedupTier =
    Tier(s"dedup_s${Seeds}b$Bands", 3, Seq("documents"))

  /** (doc_id, shingle, sh_hash) — may contain duplicate shingles per
    * doc; sh_hash = xxhash64(shingle) for bigint-keyed overlap joins. */
  def shingleTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "shingles") {
      // sh_hash rides along so the verify-stage overlap joins shuffle
      // 8-byte bigints instead of trigram text; a 64-bit hash makes a
      // within-doc collision (the only thing that could skew an
      // overlap count) ~n²/2^65 — negligible at any corpus size that
      // fits a cluster, and the raw shingle stays in the tier for
      // consumers that need the string (column pruning keeps it off
      // the wire for those that don't)
      shingles(words(corpus(s, dir)))
        .withColumn("sh_hash", xxhash64(col("shingle")))
    }

  /** (doc_id, fp) — every 8-word window of the dup-injected corpus
    * fingerprinted to a BIGINT by [[graft.api.Text.windowFingerprints]].
    *
    * Parked for the same reason as the shingle tier: the repeated-window
    * detector consumes the fingerprints TWICE (once to count global
    * fingerprint frequency, once to score each doc's windows against
    * those counts), and declaratively that re-runs the corpus-sized
    * window explode per reference — the dominant cost of the text family
    * at 100 TB. Here the explode (and its one-md5-per-word hash) runs
    * once per corpus; every consumer starts from a two-bigint-column
    * pruned scan. */
  def windowFpTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "winfp")(
      graft.api.Text.windowFingerprints(words(corpus(s, dir))))

  /** Segment width (words) of the parked segment tier. */
  val SegmentWidth = 10

  /** (doc_id, seg_idx, seg, seg_h) — the corpus split into consecutive
    * 10-word segments. Parked because segment-level dedup consumes the
    * explode twice (global frequency + the per-doc probe side); both
    * consumers read pruned columns of one parquet tier instead of each
    * re-exploding the corpus. */
  def segmentTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"segments_w$SegmentWidth")(
      graft.api.Text.wordSegments(words(corpus(s, dir)), SegmentWidth))

  /** (seg_h, gdf) segment frequency over the corpus EXCLUDING the
    * arriving batch — pre-batch state for incremental segment-dedup
    * maintenance. */
  def segFreqBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir,
        s"seg_freq_base_w${SegmentWidth}_m$IncrementalBatchMod")(
      graft.api.Text.keyFrequency(
        segmentTable(s, dir)
          .filter(col("doc_id") % IncrementalBatchMod =!= 0), "seg_h"))

  /** (doc_id, n_tokens, stream_offset) — the packed-stream MANIFEST of
    * the corpus EXCLUDING the arriving batch: pre-batch state for
    * incremental shard packing. A training-data pipeline keeps exactly
    * this manifest as shards land (offsets are immutable once written);
    * a new batch appends at the parked total, so maintenance is
    * batch-sized while the manifest itself was built with the two-phase
    * PrefixCarry scan (no single-partition sort). */
  def packManifestBaseTable(s: SparkSession, dir: String): DataFrame = {
    val root = DedupTier.park(dir,
        s"pack_manifest_base_m$IncrementalBatchMod") { root =>
      // the PLAIN document stream (no injected dedup twins — packing
      // runs downstream of dedup, so the manifest never sees them)
      val plain = graft.chain.Chain.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val toks = words(plain)
        .filter(col("doc_id") % IncrementalBatchMod =!= 0)
        .select(col("doc_id"),
          org.apache.spark.sql.functions.size(col("w")).cast("long")
            .as("n_tokens"))
      // park the manifest, then free the scan's pinned input — the
      // parquet write IS the consumption point, so release is
      // deterministic here (no GC dependence)
      val c = graft.operators.PrefixCarry.exclusivePrefixSumCarried(
        toks, Seq("doc_id"), "n_tokens")
      c.result
        .withColumnRenamed("prefix_sum", "stream_offset")
        .write.mode("overwrite").parquet(root)
      c.releasePinned()
    }
    Tier.read(s, root)
  }

  /** Segment-dedup output over the corpus EXCLUDING the arriving
    * batch — the pre-batch result tier incremental maintenance keeps
    * verbatim for untouched docs. */
  def segScoreBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir,
        s"seg_score_base_w${SegmentWidth}_m$IncrementalBatchMod") {
      val old = segmentTable(s, dir)
        .filter(col("doc_id") % IncrementalBatchMod =!= 0)
      // frequency side = the PARKED pre-batch tier (identical by
      // construction: same keyFrequency over the same filtered rows) —
      // not a recomputation of it (guide §2.4)
      graft.api.Text.scoreSegments(old, segFreqBaseTable(s, dir))
    }

  /** (fp, gdf) global fingerprint frequency over the corpus EXCLUDING
    * the arriving batch — the pre-batch global state incremental
    * dup-window maintenance updates with the batch's delta counts. */
  def winfpGdfBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"winfp_gdf_base_m$IncrementalBatchMod")(
      graft.api.Text.windowFpFrequency(
        windowFpTable(s, dir)
          .filter(col("doc_id") % IncrementalBatchMod =!= 0)))

  /** Per-doc dup-window scores over the corpus EXCLUDING the arriving
    * batch — the pre-batch score tier: incremental maintenance keeps
    * these rows verbatim for every doc no crossing fingerprint touches,
    * and re-scores only the rest. */
  def winfpScoreBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"winfp_score_base_m$IncrementalBatchMod") {
      val old = windowFpTable(s, dir)
        .filter(col("doc_id") % IncrementalBatchMod =!= 0)
      // frequency side = the PARKED pre-batch gdf tier (identical by
      // construction), not a second corpus-sized frequency pass
      graft.api.Text.scoreWindowFps(old, winfpGdfBaseTable(s, dir))
    }

  /** (doc_id, band0, band1) LSH band keys. Signatures and bands derive
    * from the parked shingles — the explosion is never recomputed. */
  def bandTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "bands")(
      graft.api.Dedup.lshBands(
        graft.api.Dedup.minhashSignatures(shingleTable(s, dir), Seeds),
        Seeds, Bands))

  /** (node, component) near-dup cluster labels over the LSH candidate
    * pairs — the iterative connected-components fixpoint parked once per
    * corpus, exactly like the band tier: clusters feed several consumers
    * (labeling, keep-one, pair statistics) and the CC loop is the most
    * expensive stage of the chain, so recomputing it per reference would
    * dominate at scale. Derives from the parked band tier, so the
    * shingle explosion still happens exactly once. */
  def componentTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "components")(
      graft.operators.ConnectedComponents.labels(
        corpus(s, dir).select("doc_id"),
        graft.api.Dedup.candidatePairs(bandTable(s, dir), Bands)))

  /** Modulus selecting the simulated "arriving batch" for the
    * incremental dedup/clustering queries (doc_id % this == 0). */
  val IncrementalBatchMod = 97

  /** (node, component) labels over the corpus EXCLUDING the arriving
    * batch — the parked pre-batch state incremental cluster maintenance
    * folds new documents into. In a deployed pipeline this IS the label
    * tier as of the previous ingest; parking it keeps the checked
    * incremental query measuring ingest-sized work, not a from-scratch
    * rebuild of state it would already hold. */
  def componentBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"components_base_m$IncrementalBatchMod") {
      val batch = col("doc_id") % IncrementalBatchMod === 0
      graft.operators.ConnectedComponents.labels(
        corpus(s, dir).filter(!batch).select("doc_id"),
        graft.api.Dedup.candidatePairs(
          bandTable(s, dir).filter(!batch), Bands))
    }

  /** Parked FULL-corpus media cluster labels: connected components over
    * the verified pHash pairs with the pair-endpoint universe — the
    * label table the batch cluster rollup reads (park-once like
    * [[componentTable]]; the measured fingerprint→verify pipeline stays
    * multimodal_phash_pairs). */
  def phashClusterTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "phash_clusters") {
      // the self-join's two identical band subplans share one
      // ReusedExchange within the query — no persist (measured
      // slower; see allPairsTable)
      val bands = graft.queries.MultimodalQueries
        .phashBands(s, dir, lit(true))
      graft.operators.ConnectedComponents.run(
        graft.queries.MultimodalQueries
          .phashVerifiedPairs(bands, bands)
          .select(col("doc_a"), col("doc_b")))
    }

  /** Parked pre-batch MEDIA-fingerprint band tier (doc_id, phash, b,
    * bv) — the pHash analog of the text band tier: what a deployed
    * pipeline holds from its previous media ingest. The incremental
    * cluster maintenance probes arriving fingerprints against these
    * rows instead of re-fingerprinting the corpus. */
  def phashBandBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"phash_bands_base_m$IncrementalBatchMod")(
      graft.queries.MultimodalQueries.phashBands(s, dir,
        col("doc_id") % IncrementalBatchMod =!= 0))

  /** Parked pre-batch MEDIA cluster labels: connected components over
    * the pre-batch verified pHash pairs, with the FULL pre-batch doc
    * universe (singletons included) so incremental folding can contract
    * any old endpoint through its label. */
  def phashClusterBaseTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, s"phash_clusters_base_m$IncrementalBatchMod") {
      val bands = phashBandBaseTable(s, dir)
      graft.operators.ConnectedComponents.labels(
        corpus(s, dir).filter(col("doc_id") % IncrementalBatchMod =!= 0)
          .select("doc_id"),
        graft.queries.MultimodalQueries
          .phashVerifiedPairs(bands, bands)
          .select(col("doc_a"), col("doc_b")))
    }

  /** Parked FULL-corpus all-pairs result (the qualifying pairs at
    * τ = 4/5): the similarity-pair table every downstream consumer
    * (cluster/keep-one rollups) reads — nobody re-runs the PPJoin, the
    * same park-once contract as the component and band tiers. The
    * measured pipeline stays `text_allpairs_cosine`, which IS this
    * derivation. (NOT persisted: allPairsCosine consumes the shingle
    * frame three times within ONE query, and Spark's ReusedExchange
    * already shares the explode+distinct exchange across those
    * consumers — r13 measured a persist here at ~2× SLOWER, cache
    * materialization breaking the pipelined reuse.) */
  def allPairsTable(s: SparkSession, dir: String): DataFrame =
    DedupTier.parquet(s, dir, "allpairs")(
      graft.api.Text.allPairsCosine(graft.ops.TextCorpus.docShingles(s, dir)))

  /** Park the three pre-batch all-pairs tiers (df order, indexed
    * prefix, qualifying pairs) over ONE shingle frame, in dependency
    * order df → prefix → pairs, each later tier reading the parked
    * earlier one, and return the root of `sub`. Identical contents to
    * building each tier independently — allPairsCosine(sh) IS
    * allPairsFromPrefix(allPairsPrefix(sh, df(sh)), sh) by definition —
    * but the shingle explode+distinct runs once instead of three times
    * and the rank window once instead of twice (guide §2.4: shared
    * subplans computed once; r13 measured allpairs_base_build
    * 7.9 s → see OPTIMIZATION_r13.md). */
  private def allPairsBase(s: SparkSession, dir: String, mod: Int,
      sub: String): DataFrame = {
    lazy val sh = graft.ops.TextCorpus.docShingles(s, dir)
      .filter(col("doc_id") % mod =!= 0)
    val df = DedupTier.park(dir, s"allpairs_df_base_m$mod")(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(_))
    val pre = DedupTier.park(dir, s"allpairs_prefix_base_m$mod")(
      graft.api.Text.allPairsPrefix(sh, Tier.read(s, df))
        .write.mode("overwrite").parquet(_))
    DedupTier.park(dir, s"allpairs_base_m$mod")(
      graft.api.Text.allPairsFromPrefix(Tier.read(s, pre), sh, lit(true))
        .write.mode("overwrite").parquet(_))
    Tier.read(s, DedupTier.root(dir, s"${sub}_base_m$mod"))
  }

  /** Parked pre-batch ALL-PAIRS base for
    * text_allpairs_cosine_incremental: the old×old qualifying pairs at
    * τ = 4/5. In a deployed pipeline this IS the similarity-pair table
    * as of the previous ingest; the incremental query unions it with
    * its batch-probe pairs instead of re-running the old×old join. */
  def allPairsBaseTable(s: SparkSession, dir: String,
      mod: Int = IncrementalBatchMod): DataFrame =
    allPairsBase(s, dir, mod, "allpairs")

  /** Parked pre-batch shingle document frequencies — the global prefix
    * ORDER the incremental probe ranks the arriving batch by (the
    * lemmas need a shared total order, not a fresh count). */
  def allPairsDfBaseTable(s: SparkSession, dir: String,
      mod: Int = IncrementalBatchMod): DataFrame =
    allPairsBase(s, dir, mod, "allpairs_df")

  /** Parked pre-batch indexed PREFIX postings (ranked under the parked
    * order above): the incremental probe unions this with the arriving
    * batch's ingest-sized prefix, so per-batch candidate generation
    * never re-ranks the corpus. */
  def allPairsPrefixBaseTable(s: SparkSession, dir: String,
      mod: Int = IncrementalBatchMod): DataFrame =
    allPairsBase(s, dir, mod, "allpairs_prefix")

}
