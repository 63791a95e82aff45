package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextCorpus._
import graft.chain.ChainSql.{ccWalkCte, withCtes, withRecursiveCtes}

/** Document deduplication operators for the training-data pipeline:
  * exact (hash groupBy), MinHash+LSH (shingle → minhash → band →
  * bucket-join), candidate verification (n-gram Jaccard), and SimHash.
  *
  * Scale design: every stage is a hash-aggregate or equi-join on a derived
  * key — no global sorts, no driver-side loops. The LSH band join is the
  * 100 TB path: candidate generation cost is bounded by bucket sizes, not
  * |docs|²; pathological buckets (boilerplate docs) are dropped by the
  * `maxBucket` occupancy cap before the self-join (see
  * `dedup_minhash_pairs_capped`), and the shingle/signature/band chain is
  * computed once per corpus by `graft.ops.DedupMaterialize`.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** 8 MinHash permutations approximated by min(md5(seed || shingle)),
    * banded 4+4 for LSH. Hex-string min is order-isomorphic to a 128-bit
    * hash min and identical across engines. */
  private val Seeds = 0 until 8

  /** Signature budget of the planner-driven pair query (banded as
    * whatever `Dedup.planBands` picks at threshold 0.5 — 8×4). */
  private val PlannedSeeds = 32

  /** The incremental queries' simulated arriving batch (lockstep with
    * the parked pre-batch tier). */
  private val BatchMod = graft.ops.DedupMaterialize.IncrementalBatchMod

  /** Bucket-occupancy cap for the capped candidate query: band buckets
    * above this size are template/boilerplate clusters, not near-dup
    * candidates worth quadratic pair expansion. */
  private val MaxBucket = 2

  /** SimHash fingerprint width for the pairing query (4 bands of
    * bits/4). 48 keeps band buckets fine-grained (4096 per band). */
  private val SimHashBits = 48

  private def sigs(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.minhashSignatures(shingles(words(corpus(s, dir))))

  /** Pairs/verify start from the materialized shingle/band tier
    * (graft.ops.DedupMaterialize): the shingle explosion is computed
    * once per corpus, not once per plan reference. */
  private def candidatePairs(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.candidatePairs(
      graft.ops.DedupMaterialize.bandTable(s, dir))

  /** Exact shingle-overlap counts for the candidate pairs: (doc_a,
    * doc_b, i = |A∩B|, ca = |A|, cb = |B|) — the shared verify core
    * Jaccard and containment both score from.
    *
    * Joins on the tier's xxhash64(shingle) bigint, not the trigram
    * string: column pruning drops the text at the scan and the overlap
    * shuffle carries 8-byte keys. Counts are collision-exact for any
    * realistic corpus (a within-doc 64-bit collision is the only way a
    * count could differ from the string join — ~n²/2⁶⁵); the DuckDB
    * oracle intersects the strings and hash-matches. */
  private def pairOverlap(s: SparkSession, dir: String): DataFrame = {
    val ds = graft.ops.DedupMaterialize.shingleTable(s, dir)
      .select(col("doc_id"), col("sh_hash")).distinct()
    val cnt = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val inter = candidatePairs(s, dir)
      .join(ds.select(col("doc_id").as("doc_a"), col("sh_hash")), Seq("doc_a"))
      .join(ds.select(col("doc_id").as("doc_b"), col("sh_hash")),
        Seq("doc_b", "sh_hash"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("c").as("ca")),
        Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("c").as("cb")),
        Seq("doc_b"))
  }

  /** sig + bands CTE generator over whatever `shingles` CTE precedes
    * them, for any (seeds, bands) layout — the SQL mirror of
    * `Dedup.minhashSignatures` + `Dedup.lshBands` at the same
    * parameters. */
  private[queries] def sigBandCtesFor(seeds: Int, nBands: Int,
      sigName: String, bandName: String): Seq[String] = {
    val consts = graft.api.Dedup.minhashConsts(seeds)
    val m = graft.api.Dedup.MinHashMod
    val rows = seeds / nBands
    val sigCols = (0 until seeds).map { k =>
      val (a, b) = consts(k)
      s"CAST(min((h1 * $a + h2 * $b) % $m) AS BIGINT) AS s$k"
    }.mkString(",\n         ")
    def bandSql(ks: Range): String = ks
      .map(k => s"CAST(s$k AS VARCHAR)").mkString(" || '|' || ")
    val bandCols = (0 until nBands).map { b =>
      s"md5(${bandSql(b * rows until (b + 1) * rows)}) AS band$b"
    }.mkString(",\n         ")
    Seq(
      s"""$sigName AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM (SELECT doc_id,
         |          ('0x' || substr(md5(shingle), 1, 10))::BIGINT AS h1,
         |          ('0x' || substr(md5(shingle), 11, 10))::BIGINT AS h2
         |        FROM shingles)
         |  GROUP BY doc_id)""".stripMargin,
      s"""$bandName AS (
         |  SELECT doc_id, $bandCols
         |  FROM $sigName)""".stripMargin)
  }

  /** The default 8-seed / 2-band layout's CTEs — shared with the
    * composite pipeline query, which runs the same MinHash chain over
    * the plain (no injected dups) document set. */
  private[queries] val sigBandCtes: Seq[String] =
    sigBandCtesFor(Seeds.size, 2, "sig", "bands")

  /** Any-band-key candidate-pair CTE over `bandName` (nBands union
    * arms, doc_a < doc_b). */
  private def pairsCteFor(nBands: Int, bandName: String,
      pairName: String): String = {
    val arms = (0 until nBands).map { b =>
      s"""    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM $bandName a JOIN $bandName b
         |      ON a.band$b = b.band$b AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n    UNION ALL\n")
    s"""$pairName AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |$arms))""".stripMargin
  }

  private val sigSqlCtes: Seq[String] =
    Seq(corpusSql, wordsSql, shinglesSql) ++ sigBandCtes

  /** DuckDB mirror of [[graft.api.Dedup.simhash]] at `bits` width. */
  private def simhashSqlCte(bits: Int): String =
    s"""sh AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0
       |                  THEN CAST(1 AS BIGINT) << CAST(b AS INT)
       |                  ELSE 0 END) AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id, b, sum(v) AS s FROM (
       |      SELECT doc_id, b,
       |        CASE WHEN CAST(floor(
       |          (instr('0123456789abcdef',
       |                 substr(md5(word), CAST(floor(b / 4) AS INT) + 1, 1)) - 1)
       |          / (CASE CAST(b % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 2
       |                  WHEN 2 THEN 4 ELSE 8 END)) AS BIGINT) % 2 = 1
       |        THEN 1 ELSE -1 END AS v
       |      FROM (SELECT doc_id, unnest(w) AS word FROM words),
       |           (SELECT unnest(range(0, $bits)) AS b))
       |    GROUP BY doc_id, b)
       |  GROUP BY doc_id)""".stripMargin

  // DISTINCT over UNION ALL, never `A UNION B`: this CTE is also placed
  // under WITH RECURSIVE headers (dedup_components / pipeline_corpus),
  // where DuckDB gives any union-shaped body anchor/step semantics and
  // stops deduplicating (see ChainSql.ccWalkCte)
  /** DuckDB mirror of [[pairOverlap]] (candidate shingle-overlap counts). */
  private val overlapSqlCtes: Seq[String] = Seq(
    "ds AS (SELECT DISTINCT doc_id, shingle FROM shingles)",
    "cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM ds GROUP BY doc_id)",
    """inter AS (
      |  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
      |  FROM pairs p
      |  JOIN ds x ON x.doc_id = p.doc_a
      |  JOIN ds y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
      |  GROUP BY p.doc_a, p.doc_b)""".stripMargin)

  private[queries] val pairsSqlCte: String =
    """pairs AS (
      |  SELECT DISTINCT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |    FROM bands a JOIN bands b
      |      ON a.band0 = b.band0 AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT a.doc_id, b.doc_id
      |    FROM bands a JOIN bands b
      |      ON a.band1 = b.band1 AND a.doc_id < b.doc_id))""".stripMargin

  val queries: Map[String, Q] = Map(
    // exact dedup: content-hash groupBy, canonical = min doc_id.
    // One shuffle on the 128-bit fingerprint; at 100 TB this is the
    // standard first pass (hash is computed map-side, dedup is a pure
    // hash-agg, no text ever shuffles — only the 16-byte digest).
    "dedup_exact" -> ((s, dir) => graft.api.Dedup.exact(corpus(s, dir))),

    // MinHash signatures + LSH band keys per doc
    "dedup_minhash_sig" -> ((s, dir) => {
      val sg = sigs(s, dir)
      graft.api.Dedup.lshBands(sg)
        .join(sg.select(col("doc_id"), col("s0"), col("s7")), Seq("doc_id"))
        .select("doc_id", "band0", "band1", "s0", "s7")
    }),

    // LSH candidate pairs: equal band key in either band
    "dedup_minhash_pairs" -> ((s, dir) => candidatePairs(s, dir)),

    // the same pair generation with the bucket-occupancy cap in force:
    // band buckets holding > MaxBucket docs are dropped before the
    // self-join — the guard that keeps one boilerplate-heavy bucket
    // from going quadratic at web scale.
    "dedup_minhash_pairs_capped" -> ((s, dir) =>
      graft.api.Dedup.candidatePairs(
        graft.ops.DedupMaterialize.bandTable(s, dir),
        maxBucket = Some(MaxBucket))),

    // the band PLANNER made driver-checkable: for 32 minhash seeds at
    // target Jaccard 0.5 the planner picks the divisor layout whose
    // S-curve inflection (1/b)^(1/r) sits nearest the threshold, and
    // the query emits that layout plus the exact S-curve it buys —
    // candidate probability at similarity i/10, scaled to the integer
    // p·10^32 = 10^32 − (10^r − i^r)^b (r·b = 32 clears every
    // denominator) and computed in DECIMAL(38,0), so both engines
    // produce the identical digits with no floating point anywhere.
    // The oracle hardcodes (8, 4): a planner change breaks the hash —
    // the layout is pinned, not just typed.
    "dedup_band_plan" -> ((s, dir) => {
      val (b, r) = graft.api.Dedup.planBands(32, 0.5)
      // the scaled-integer encoding needs 10^r in a long and i^r
      // below 2^63 — loud guard instead of silent wraparound if the
      // planner's choice ever moves past r = 8 (the oracle's pinned
      // (8, 4) would catch it too, but as a hash mismatch)
      require(r <= 8, s"scaled S-curve encoding not valid for r=$r")
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val ir = (1 until r).foldLeft(col("id")) { (acc, _) => acc * col("id") }
      val j = (lit(math.pow(10, r.toDouble).toLong) - ir).cast(dec)
      val jb = (1 until b).foldLeft(j) { (acc, _) => (acc * j).cast(dec) }
      s.range(1, 10).select(
        col("id").as("sim_decile"),
        lit(b).as("bands"), lit(r).as("rows_per_band"),
        (lit(BigDecimal(10).pow(32)).cast(dec) - jb).cast("string")
          .as("p_scaled"))
    }),

    // the planner DRIVING a real pair generation: 32 seeds banded as
    // planBands' 8×4 (vs the default 2×4-over-8) — four-row bands
    // sharpen per-band selectivity while eight bands hold recall at
    // the 0.5 inflection dedup_band_plan pins. Same candidate shape as
    // dedup_minhash_pairs (equal key in any band, doc_a < doc_b); the
    // oracle regenerates the full 32-permutation chain at the planned
    // layout, so the planner's wiring — not just its arithmetic — is
    // driver-checked.
    "dedup_minhash_planned" -> ((s, dir) => {
      val (nBands, _) = graft.api.Dedup.planBands(PlannedSeeds, 0.5)
      val sg = graft.api.Dedup.minhashSignatures(
        shingles(words(corpus(s, dir))), seeds = PlannedSeeds)
      graft.api.Dedup.candidatePairs(
        graft.api.Dedup.lshBands(sg, PlannedSeeds, nBands), nBands)
    }),

    // exact word-trigram Jaccard over the LSH candidates (verify stage);
    // both the pair set and the shingle sets come from the materialized
    // tier — the corpus is exploded exactly once per fixture
    "dedup_jaccard_verify" -> ((s, dir) =>
      pairOverlap(s, dir)
        .select(col("doc_a"), col("doc_b"),
          col("i").as("intersection"),
          (col("ca") + col("cb") - col("i")).as("union_size"),
          (col("i").cast("double") / (col("ca") + col("cb") - col("i")))
            .as("jaccard"))),

    // asymmetric containment over the same candidates: i / min(|A|, |B|)
    // catches doc-inside-doc duplication (a wire story embedded in a
    // longer page) that symmetric Jaccard under-scores — the standard
    // second verify metric in web-corpus dedup. Same bounded shape:
    // only materialized candidates, only shingle-set sizes shuffle.
    "dedup_containment" -> ((s, dir) =>
      pairOverlap(s, dir)
        .select(col("doc_a"), col("doc_b"),
          (col("i").cast("double") / least(col("ca"), col("cb")))
            .as("containment"))
        .filter(col("containment") >= 0.5)),

    // INCREMENTAL dedup: every 97th doc plays the arriving batch; its
    // band keys compute map-side from the raw text while the rest of
    // the corpus is only ever touched through the parked band tier.
    // The only join is new-batch × band-bucket — old×old pairs are
    // never re-enumerated, which is what keeps a growing 100 TB corpus
    // deduplicated at ingest cost, not corpus cost.
    "dedup_incremental" -> ((s, dir) => {
      val newDocs = corpus(s, dir).filter(
        col("doc_id") % BatchMod === 0)
      val newBands = graft.api.Dedup.lshBands(
        graft.api.Dedup.minhashSignatures(shingles(words(newDocs))))
      val tier = graft.ops.DedupMaterialize.bandTable(s, dir)
        .filter(
          col("doc_id") % BatchMod =!= 0)
      graft.api.Dedup.probePairs(newBands, tier)
    }),

    // incremental CLUSTER maintenance: the batch's pairs (new×old from
    // the tier probe, new×new from the batch's own bands) are folded
    // into the existing clustering by contracting old components to
    // their labels and running the star fixpoint over a BATCH-sized
    // graph — cluster upkeep at ingest cost, not corpus cost. Shares
    // dedup_components' full-re-clustering oracle: the incremental
    // result must be EXACTLY the from-scratch clustering.
    "dedup_components_incremental" -> ((s, dir) => {
      val c = corpus(s, dir)
      val newSel = col("doc_id") % BatchMod === 0
      val oldBands = graft.ops.DedupMaterialize.bandTable(s, dir)
        .filter(!newSel)
      val newBands = graft.api.Dedup.lshBands(
        graft.api.Dedup.minhashSignatures(shingles(words(c.filter(newSel)))))
      // the parked pre-batch label tier: what a deployed pipeline holds
      // from its previous ingest
      val base = graft.ops.DedupMaterialize.componentBaseTable(s, dir)
      val touch = graft.api.Dedup.probePairs(newBands, oldBands)
        .unionByName(graft.api.Dedup.candidatePairs(newBands)
          .select(col("doc_a").as("new_id"), col("doc_b").as("old_id")))
      // validate = false: touch endpoints are batch docs × band-tier
      // docs, base's universe is the full pre-batch corpus and newNodes
      // the full batch — coverage by construction (operator contract);
      // the shared full-re-clustering oracle proves the result per run
      graft.operators.ConnectedComponents.incrementalLabels(
          base, c.filter(newSel).select("doc_id"), touch,
          validate = false)
        .select(col("node").as("doc_id"), col("component"))
    }),

    // edit-distance verify over the SAME candidate tier: character-level
    // near-dup confirmation on a bounded document head. Levenshtein is
    // O(len²) per pair, so at corpus scale it must only ever touch
    // LSH candidates (never all pairs) and only a fixed-width prefix —
    // both bounds are structural here: pairs come from the materialized
    // band tier and the 80-char head is cut before the join, so the
    // shuffle carries 80-char strings, not documents.
    "dedup_editdist" -> ((s, dir) => {
      // the LevenshteinPrefilter optimizer rule adds the implied
      // |len(a)-len(b)| <= k guard so the O(len²) DP short-circuits on
      // length-mismatched pairs (plan-asserted in PlanSpec)
      graft.plans.LevenshteinPrefilter.ensureRegistered(s)
      val heads = corpus(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 80).as("head"))
      candidatePairs(s, dir)
        .join(heads.select(col("doc_id").as("doc_a"),
          col("head").as("head_a")), Seq("doc_a"))
        .join(heads.select(col("doc_id").as("doc_b"),
          col("head").as("head_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("head_a"), col("head_b")).cast("long")
            .as("edit_dist"))
        .filter(col("edit_dist") <= 20)
    }),

    // pairs → CLUSTERS: connected components over the LSH candidate
    // pairs (graft.operators.ConnectedComponents, alternating
    // large-star/small-star — O(log n) rounds of pure hash shuffles).
    // Every doc gets a cluster label; docs with no near-dup candidate
    // are their own singleton. This is the step that turns a pair list
    // into actionable dedup groups at 100 TB, where a driver-side
    // union-find over the pair set cannot exist. Like the band tier,
    // the iterative fixpoint is parked once per corpus
    // (DedupMaterialize.componentTable) — every consumer reads labels,
    // nobody re-runs the loop.
    "dedup_components" -> ((s, dir) =>
      graft.ops.DedupMaterialize.componentTable(s, dir)
        .select(col("node").as("doc_id"), col("component"))),

    // keep-one-per-cluster: the surviving corpus after near-dup dedup —
    // the canonical representative (min doc_id = the component label)
    // with its cluster size, one hash-agg over the parked labels.
    // Anti-joining the corpus against the non-representatives is the
    // same frame filtered to n_members > 1.
    "dedup_keep_one" -> ((s, dir) =>
      graft.ops.DedupMaterialize.componentTable(s, dir)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("doc_id"), col("n_members"))),

    // cluster-keyed train/val/test split: the split KEY is the dedup
    // component, not the document, so a near-duplicate group lands
    // wholly in one split — a doc-keyed split scatters near-identical
    // text across train and test and silently contaminates every
    // evaluation trained on the corpus (see corpus_split_leak_audit
    // for how often that fires here). Same hash-stable md5 bucketing
    // as corpus_split, applied to the component label; costs two
    // hash-aggs over the parked label tier at any corpus scale. The
    // n_leaky_clusters column is a COMPUTED witness (clusters spanning
    // >1 split under this key), not an assumed zero.
    "corpus_split_leakfree" -> ((s, dir) => {
      val hx = "instr('0123456789abcdef', " +
        "substr(md5(CAST(component AS STRING)), %d, 1)) - 1"
      val bucket = expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})")
      val lab = graft.ops.DedupMaterialize.componentTable(s, dir)
        .select(col("node").as("doc_id"), col("component"))
        .withColumn("split",
          when(bucket < 204, "train").when(bucket < 230, "val")
            .otherwise("test"))
      val leaky = lab.groupBy(col("component"))
        .agg(countDistinct(col("split")).as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L))
          .as("n_leaky_clusters"))
      lab.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_clusters"))
        .crossJoin(broadcast(leaky))
    }),

    // the counter-factual audit: bucket by DOC id (what corpus_split
    // does, correctly, for a corpus with no duplicate structure) and
    // count the near-dup clusters that straddle splits — the eval-leak
    // mass the cluster-keyed split above removes. One row: total
    // clusters, leaky clusters, docs inside leaky clusters.
    "corpus_split_leak_audit" -> ((s, dir) => {
      val hx = "instr('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS STRING)), %d, 1)) - 1"
      val bucket = expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})")
      graft.ops.DedupMaterialize.componentTable(s, dir)
        .select(col("node").as("doc_id"), col("component"))
        .withColumn("split",
          when(bucket < 204, "train").when(bucket < 230, "val")
            .otherwise("test"))
        .groupBy(col("component"))
        .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("ns") > 1, 1L).otherwise(0L))
            .as("n_leaky_clusters"),
          sum(when(col("ns") > 1, col("nd")).otherwise(0L))
            .as("n_docs_in_leaky"))
    }),

    // the same keep-one derivation over the INCREMENTALLY maintained
    // labels — shares dedup_keep_one's oracle, closing the equivalence
    // chain: incremental labels == full labels (proven above) implies
    // identical representatives and cluster sizes.
    "dedup_keep_one_incremental" -> ((s, dir) =>
      queries("dedup_components_incremental")(s, dir)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("doc_id"), col("n_members"))),

    // per-PROVENANCE duplication profile: which domains bring the
    // redundancy — the number a data recipe uses to discount a source's
    // raw size to its effective (post-dedup) contribution. Reads the
    // parked label tier; the only new work is two hash-aggs and a join
    // to the domain map, so the profile is label-tier-sized at any
    // corpus scale. Injected duplicates inherit their original's source.
    "source_dedup_rate" -> ((s, dir) => {
      val comp = graft.ops.DedupMaterialize.componentTable(s, dir)
      val sizes = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      val base = graft.chain.Chain.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      val srcOf = base.unionByName(
        base.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + graft.ops.TextCorpus.DupOffset)
            .as("doc_id"), col("source")))
      comp.select(col("node").as("doc_id"), col("component"))
        .join(sizes, Seq("component"))
        .join(srcOf, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_members") > 1, 1L).otherwise(0L))
            .as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"))
    }),

    // 16-bit SimHash from per-word md5 nibbles: sum of ±1 votes per bit.
    // Pure hash-agg pipeline (words × 16 bit rows), codegen-friendly.
    "dedup_simhash" -> ((s, dir) =>
      graft.api.Dedup.simhash16(words(corpus(s, dir)))),

    // SimHash near-dup pairs by the pigeonhole banding: split a
    // SimHashBits-wide fingerprint into 4 bands — any pair at Hamming
    // distance ≤ 3 shares at least one unchanged band, so candidates =
    // equi-join on (band position, band value), then the exact
    // bit_count verify (kept at the tighter ≤ 1 cut). Band width sizes
    // bucket count to the corpus: 12-bit bands = 4096 buckets per band,
    // so occupancy — and pair cost — stays linear where 4-bit nibbles
    // went quadratic at ~50k docs. Same bucketed shape as MinHash-LSH.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val sh = graft.api.Dedup.simhash(words(corpus(s, dir)), SimHashBits)
      val w = SimHashBits / 4
      val bands = sh
        .select(col("doc_id"), col("simhash"),
          explode(expr("sequence(0, 3)")).as("i"))
        .withColumn("nv",
          expr(s"shiftright(simhash, CAST($w * i AS INT)) % ${1L << w}"))
      val cand = bands
        .select(col("doc_id").as("doc_a"), col("simhash").as("sa"),
          col("i"), col("nv"))
        .join(bands.select(col("doc_id").as("doc_b"),
          col("simhash").as("sb"), col("i"), col("nv")), Seq("i", "nv"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb").distinct()
      cand
        .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(col("hamming") <= 1)
        .select("doc_a", "doc_b", "hamming")
    }),

    // Bloom-filter blocklist prefilter — membership testing when the
    // blocklist outgrows a broadcastable exact set: the list (here a
    // hash-selected ~5% of content fingerprints, standing in for a
    // known-bad-content list) is folded into ONE m-bit bitmap
    // (BloomBitmapAgg: m/8 bytes broadcast regardless of list size),
    // every doc is probed with k=2 pure-column bit tests (no join, no
    // shuffle), and only the candidates — true matches plus the
    // filter's false positives — pay the exact confirm equi-join.
    // m = 512 is deliberately small for the fixture so the
    // false-positive path is exercised; at 100 TB m scales to keep
    // kn/m constant while staying kilobytes. Output = per-source
    // audit: total/candidates/matched/false-positives/kept.
    "bloom_blocklist" -> ((s, dir) => {
      val m = 512
      val k = 2
      val docs = graft.chain.Chain.table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("source"),
          md5(col("text")).as("fp"),
          expr("CAST(conv(substr(md5(text), 1, 10), 16, 10) AS BIGINT)")
            .as("h1"),
          expr("CAST(conv(substr(md5(text), 11, 10), 16, 10) AS BIGINT)")
            .as("h2"))
      val block = docs.filter(col("h1") % 20 === 0)
        .select("fp", "h1", "h2").distinct()
      val bm = graft.api.Dedup.bloomBitmap(block.select("h1", "h2"), m, k)
      val probed = graft.api.Dedup.bloomProbe(docs, bm, m, k)
      val matched = probed.filter(col("is_candidate"))
        .join(block.select("fp"), Seq("fp"), "leftsemi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_matched"))
      probed.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_total"),
          sum(col("is_candidate").cast("long")).as("n_candidates"))
        .join(matched, Seq("source"), "left")
        .select(col("source"), col("docs_total"), col("n_candidates"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          (col("n_candidates") - coalesce(col("n_matched"), lit(0L)))
            .as("n_false_pos"),
          (col("docs_total") - coalesce(col("n_matched"), lit(0L)))
            .as("n_kept"))
    }))

  /** The near-duplicate pairs walked over the corpus: `walk` reaches
    * each doc with every component label. */
  private val pairWalkCtes: Seq[String] = sigSqlCtes ++ Seq(
    pairsSqlCte,
    "nodes AS (SELECT doc_id AS node FROM corpus)",
    "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs)",
    ccWalkCte("nodes", "edges"))

  /** [[pairWalkCtes]] plus `cc`, each doc's component minimum. */
  private val pairComponentCtes: Seq[String] = pairWalkCtes :+
    """cc AS (SELECT node, min(comp) AS component
      |       FROM walk GROUP BY node)""".stripMargin

  /** Full-corpus clustering oracle — shared by `dedup_components` and
    * the incremental-maintenance form (which must equal it exactly). */
  private val componentsOracle: String = withRecursiveCtes(pairWalkCtes: _*)(
    """SELECT node AS doc_id, CAST(min(comp) AS BIGINT) AS component
      |FROM walk GROUP BY node""".stripMargin)

  private val keepOneOracle: String = withRecursiveCtes(pairComponentCtes: _*)(
    """SELECT CAST(component AS BIGINT) AS doc_id,
      |  CAST(count(*) AS BIGINT) AS n_members
      |FROM cc GROUP BY component""".stripMargin)

  /** cc labels + a split column bucketed on md5 of `keyExpr` — shared
    * scaffold of the leak-free split and its doc-keyed audit. */
  private def splitLabelCtes(keyExpr: String): Seq[String] =
    pairComponentCtes :+
      s"""labsplit AS (
         |  SELECT node, component,
         |    CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (
         |    SELECT node, component,
         |      (instr('0123456789abcdef',
         |             substr(md5(CAST($keyExpr AS VARCHAR)), 1, 1)) - 1) * 16
         |      + instr('0123456789abcdef',
         |              substr(md5(CAST($keyExpr AS VARCHAR)), 2, 1)) - 1 AS b
         |    FROM cc))""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> withCtes(corpusSql)(
      """SELECT md5(text) AS fingerprint,
        |  CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY md5(text)""".stripMargin),

    "dedup_minhash_sig" -> withCtes(sigSqlCtes: _*)(
      """SELECT sig.doc_id, band0, band1, s0, s7
        |FROM sig JOIN bands ON sig.doc_id = bands.doc_id""".stripMargin),

    "dedup_minhash_pairs" -> withCtes(sigSqlCtes :+ pairsSqlCte: _*)(
      "SELECT doc_a, doc_b FROM pairs"),

    "dedup_minhash_pairs_capped" -> withCtes(sigSqlCtes :+
      s"""pairs_capped AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band0 = b.band0 AND a.doc_id < b.doc_id
         |  WHERE a.band0 IN (SELECT band0 FROM bands
         |                    GROUP BY band0 HAVING count(*) <= $MaxBucket)
         |  UNION
         |  SELECT a.doc_id, b.doc_id
         |  FROM bands a JOIN bands b
         |    ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |  WHERE a.band1 IN (SELECT band1 FROM bands
         |                    GROUP BY band1 HAVING count(*) <= $MaxBucket))""".stripMargin: _*)(
      "SELECT doc_a, doc_b FROM pairs_capped"),

    // the full 32-permutation chain regenerated at the planned 8×4
    // layout
    "dedup_minhash_planned" -> withCtes(
      Seq(corpusSql, wordsSql, shinglesSql) ++
        sigBandCtesFor(PlannedSeeds, 8, "sig32", "bands32") :+
        pairsCteFor(8, "bands32", "pairs32"): _*)(
      "SELECT doc_a, doc_b FROM pairs32"),

    // exact-integer S-curve for the planner-chosen 8×4 layout over 32
    // seeds: HUGEINT mirrors Spark's DECIMAL(38,0) digit for digit
    "dedup_band_plan" ->
      """SELECT CAST(i AS BIGINT) AS sim_decile,
        |  8 AS bands, 4 AS rows_per_band,
        |  CAST(CAST('100000000000000000000000000000000' AS HUGEINT)
        |       - j*j*j*j*j*j*j*j AS VARCHAR) AS p_scaled
        |FROM (SELECT i, CAST(10000 - i*i*i*i AS HUGEINT) AS j
        |      FROM range(1, 10) t(i))""".stripMargin,

    "dedup_jaccard_verify" -> withCtes(
      sigSqlCtes ++ Seq(pairsSqlCte) ++ overlapSqlCtes: _*)(
      """SELECT i.doc_a, i.doc_b, i.i AS intersection,
        |  ca.c + cb.c - i.i AS union_size,
        |  CAST(i.i AS DOUBLE) / (ca.c + cb.c - i.i) AS jaccard
        |FROM inter i
        |JOIN cnt ca ON ca.doc_id = i.doc_a
        |JOIN cnt cb ON cb.doc_id = i.doc_b""".stripMargin),

    "dedup_containment" -> withCtes(
      sigSqlCtes ++ Seq(pairsSqlCte) ++ overlapSqlCtes: _*)(
      """SELECT doc_a, doc_b, containment FROM (
        |  SELECT i.doc_a, i.doc_b,
        |    CAST(i.i AS DOUBLE) / least(ca.c, cb.c) AS containment
        |  FROM inter i
        |  JOIN cnt ca ON ca.doc_id = i.doc_a
        |  JOIN cnt cb ON cb.doc_id = i.doc_b)
        |WHERE containment >= 0.5""".stripMargin),

    "dedup_incremental" -> withCtes(sigSqlCtes ++ Seq(
      s"newb AS (SELECT * FROM bands WHERE doc_id % $BatchMod = 0)",
      s"oldb AS (SELECT * FROM bands WHERE doc_id % $BatchMod != 0)"): _*)(
      """SELECT DISTINCT new_id, old_id FROM (
        |  SELECT n.doc_id AS new_id, o.doc_id AS old_id
        |  FROM newb n JOIN oldb o ON n.band0 = o.band0
        |  UNION ALL
        |  SELECT n.doc_id, o.doc_id
        |  FROM newb n JOIN oldb o ON n.band1 = o.band1)""".stripMargin),

    "dedup_editdist" -> withCtes(
      sigSqlCtes ++ Seq(pairsSqlCte,
        "heads AS (SELECT doc_id, substr(text, 1, 80) AS head FROM corpus)")
        : _*)(
      """SELECT p.doc_a, p.doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        |FROM pairs p
        |JOIN heads a ON a.doc_id = p.doc_a
        |JOIN heads b ON b.doc_id = p.doc_b
        |WHERE levenshtein(a.head, b.head) <= 20""".stripMargin),

    "dedup_components" -> componentsOracle,

    "source_dedup_rate" -> withRecursiveCtes(pairComponentCtes ++ Seq(
      """csz AS (SELECT component, count(*) AS n_members
        |        FROM cc GROUP BY component)""".stripMargin,
      """srcmap AS (
        |  SELECT CAST(doc_id AS BIGINT) AS node, source FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id + 1000000 AS BIGINT), source
        |  FROM documents WHERE doc_id % 50 = 0)""".stripMargin): _*)(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_members > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(CASE WHEN n_members > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_rate
        |FROM cc JOIN csz USING (component) JOIN srcmap USING (node)
        |GROUP BY source""".stripMargin),

    "dedup_keep_one_incremental" -> keepOneOracle,

    "dedup_keep_one" -> keepOneOracle,

    "corpus_split_leakfree" -> withRecursiveCtes(
      splitLabelCtes("component"): _*)(
      """SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
        |  (SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END),
        |                        0) AS BIGINT)
        |   FROM (SELECT component, count(DISTINCT split) AS ns
        |         FROM labsplit GROUP BY component)) AS n_leaky_clusters
        |FROM labsplit GROUP BY split""".stripMargin),

    "corpus_split_leak_audit" -> withRecursiveCtes(
      splitLabelCtes("node"): _*)(
      """SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_leaky_clusters,
        |  CAST(coalesce(sum(CASE WHEN ns > 1 THEN nd ELSE 0 END), 0)
        |    AS BIGINT) AS n_docs_in_leaky
        |FROM (SELECT component, count(DISTINCT split) AS ns,
        |        count(*) AS nd
        |      FROM labsplit GROUP BY component)""".stripMargin),

    "dedup_simhash" -> withCtes(corpusSql, wordsSql, simhashSqlCte(16))(
      "SELECT doc_id, simhash FROM sh"),

    "dedup_simhash_pairs" -> withCtes(corpusSql, wordsSql,
      simhashSqlCte(48),
      s"""bands AS (
         |  SELECT doc_id, simhash, i,
         |         (simhash >> CAST(12 * i AS INT)) % ${1L << 12} AS nv
         |  FROM sh, (SELECT unnest(range(0, 4)) AS i))""".stripMargin,
      """cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.simhash AS sa, b.simhash AS sb
        |  FROM bands a JOIN bands b
        |    ON a.i = b.i AND a.nv = b.nv AND a.doc_id < b.doc_id)""".stripMargin)(
      """SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 1""".stripMargin),

    // bitmap bit set ⇔ position ∈ the blocklist's position set, so the
    // mirror states bloom semantics as a set-membership EXISTS — exact,
    // including which false positives fire
    "bloom_blocklist" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS fp,
        |         ('0x' || substr(md5(text), 1, 10))::BIGINT AS h1,
        |         ('0x' || substr(md5(text), 11, 10))::BIGINT AS h2
        |  FROM documents),
        |block AS (SELECT DISTINCT fp, h1, h2 FROM d WHERE h1 % 20 = 0),
        |pset AS (
        |  SELECT DISTINCT (h1 + i * h2) % 512 AS pos
        |  FROM block, (SELECT unnest(range(0, 2)) AS i)),
        |probe AS (
        |  SELECT doc_id, source, fp, bool_and(hit) AS is_candidate
        |  FROM (
        |    SELECT d.doc_id, d.source, d.fp,
        |           EXISTS (SELECT 1 FROM pset p
        |                   WHERE p.pos = (d.h1 + s.i * d.h2) % 512) AS hit
        |    FROM d, (SELECT unnest(range(0, 2)) AS i) s)
        |  GROUP BY doc_id, source, fp),
        |m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_matched FROM probe
        |  WHERE is_candidate AND fp IN (SELECT fp FROM block)
        |  GROUP BY source),
        |base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS docs_total,
        |         CAST(sum(CASE WHEN is_candidate THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_candidates
        |  FROM probe GROUP BY source)
        |SELECT b.source, b.docs_total, b.n_candidates,
        |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
        |  b.n_candidates - CAST(coalesce(m.n_matched, 0) AS BIGINT)
        |    AS n_false_pos,
        |  b.docs_total - CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_kept
        |FROM base b LEFT JOIN m USING (source)""".stripMargin) +
    // incremental maintenance must land on EXACTLY the full re-clustering:
    // sharing the oracle makes the equality part of the correctness gate
    ("dedup_components_incremental" -> componentsOracle)
}
