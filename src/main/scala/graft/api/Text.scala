package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frame-based text-analysis API. Input contract: `docWords` is
  * (doc_id bigint, text string, lang string, source string,
  * w array<string>) — documents with a pre-split words column.
  */
object Text {

  val Stops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "und", "die", "das", "nicht"),
    "fr" -> Seq("le", "et", "les", "des", "une"),
    "es" -> Seq("el", "los", "que", "por", "una"))

  /** `ws` as a SQL `IN` list: `('a', 'b')`. */
  private[graft] def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Stopword hits for one language as a column expression. */
  def hits(lang: String): String =
    s"CAST(size(filter(w, x -> x IN ${inList(Stops(lang))})) AS BIGINT)"

  /** Deterministic argmax with fixed precedence en>de>fr>es, zh fallback
    * when nothing hits. */
  val predLangCase: String =
    """CASE WHEN en_hits + de_hits + fr_hits + es_hits = 0 THEN 'zh'
      |     WHEN en_hits >= de_hits AND en_hits >= fr_hits
      |          AND en_hits >= es_hits THEN 'en'
      |     WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
      |     WHEN fr_hits >= es_hits THEN 'fr'
      |     ELSE 'es' END""".stripMargin

  /** Characteristic character n-grams per language (the classic
    * profile-based heuristic; disjoint sets keep the argmax sharp). */
  val Grams: Map[String, Seq[String]] = Map(
    "en" -> Seq("th", "ing", "he "),
    "de" -> Seq("sch", "ich", "ein"),
    "fr" -> Seq("les", "ais", "oux"),
    "es" -> Seq("los", "ado", "nto"))

  /** Occurrence count of language `lang`'s n-grams in `text`:
    * Σ (len(text) − len(replace(text, g, ''))) / len(g) — substring
    * counting with no explode, codegen-friendly in both engines. */
  def gramHits(lang: String): String =
    Grams(lang).map(g =>
      s"(length(text) - length(replace(text, '$g', ''))) / ${g.length}")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Language-ID from character n-gram profiles (no tokenization). */
  def langIdNgram(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        expr(gramHits("en")).as("en_hits"), expr(gramHits("de")).as("de_hits"),
        expr(gramHits("fr")).as("fr_hits"), expr(gramHits("es")).as("es_hits"))
      .withColumn("pred_lang", expr(predLangCase))
      .withColumn("match", col("pred_lang") === col("lang"))

  /** Language-ID scores + prediction per doc. */
  def langId(docWords: DataFrame): DataFrame =
    docWords
      .select(col("doc_id"), col("lang"),
        expr(hits("en")).as("en_hits"), expr(hits("de")).as("de_hits"),
        expr(hits("fr")).as("fr_hits"), expr(hits("es")).as("es_hits"))
      .withColumn("pred_lang", expr(predLangCase))
      .withColumn("match", col("pred_lang") === col("lang"))

  /** Average word length (one exact-integer division) — ONE definition
    * for quality() and the percentile filter, with its DuckDB mirror. */
  val avgWordLen: org.apache.spark.sql.Column =
    length(regexp_replace(col("text"), " ", "")).cast("double") /
      size(col("w"))
  val avgWordLenSql: String =
    "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w)"

  /** Quality ratios (all exact-integer divisions). */
  def quality(docWords: DataFrame): DataFrame =
    docWords.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(col("w")).cast("long").as("n_words"),
      avgWordLen.as("avg_word_len"),
      (expr(hits("en")).cast("double") / size(col("w")))
        .as("stopword_ratio"),
      ((length(col("text")) - length(regexp_replace(col("text"), "\\.", "")))
        .cast("long")).as("n_periods"))

  /** Benchmark decontamination — the n-gram-overlap eval-leak filter a
    * pretraining pipeline runs before training: count the distinct
    * word-shingles each corpus document shares with a benchmark shingle
    * set and flag documents at or above `minOverlap`.
    *
    * Scale: benchmark suites are MBs while the corpus is TBs, so the
    * benchmark side is `broadcast()` — the corpus never shuffles except
    * the per-doc overlap count (a map-side-combinable hash-agg on
    * doc_id). `corpusShingles`/`benchShingles` carry (doc_id, shingle) /
    * (shingle); `docs` is the doc_id universe to label (docs without any
    * overlap get n_overlap = 0).
    */
  def decontaminate(corpusShingles: DataFrame, benchShingles: DataFrame,
      docs: DataFrame, minOverlap: Long = 1L): DataFrame = {
    val bench = broadcast(
      benchShingles.select(col("shingle")).distinct())
    // join BEFORE distinct: the broadcast semi-reduction keeps only
    // overlapping (doc, shingle) rows, so the dedup shuffle carries the
    // overlap set, not the whole corpus shingle explosion
    val overlap = corpusShingles.select(col("doc_id"), col("shingle"))
      .join(bench, Seq("shingle"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    docs.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** Positional polynomial fingerprint (rolling-hash analog). */
  def fingerprint(docWords: DataFrame): DataFrame =
    docWords
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
      .withColumn("i", col("pos") + 1)
      .withColumn("term", expr(
        """CAST(((instr('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 16
          |  + instr('0123456789abcdef', substr(md5(word), 2, 1)) - 1)
          |  * (CASE CAST(i % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 31
          |          WHEN 2 THEN 961 ELSE 29791 END) AS BIGINT)""".stripMargin))
      .groupBy(col("doc_id"))
      .agg((sum(col("term")) % 1000000007L).as("fingerprint"))

  /** Positional-polynomial multipliers 31^j for the 8-word window
    * fingerprint (mirrored literally by the DuckDB oracle). */
  private val WinFpWeights =
    "array(1L, 31L, 961L, 29791L, 923521L, 28629151L, 887503681L, 27512614111L)"

  /** (doc_id, fp) — every 8-word window fingerprinted to a BIGINT
    * (positional polynomial over md5-derived byte values, mod 1e9+7 —
    * identical integer math in DuckDB). ONE md5 per word: the leading
    * digest byte via conv(hex, 16, 10), then 8 integer mul-adds per
    * window from the precomputed value array. One row per window
    * INSTANCE (duplicates within a doc are meaningful — they are the
    * signal). Input contract: (doc_id, w array<string>). */
  def windowFingerprints(wordsDf: DataFrame): DataFrame =
    wordsDf
      .filter(size(col("w")) >= 8)
      .withColumn("vals", expr(
        "transform(w, x -> CAST(conv(substr(md5(x), 1, 2), 16, 10) AS BIGINT))"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(vals) - 8), i ->
           |  aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, j) ->
           |    acc + element_at(vals, i + j + 1)
           |      * element_at($WinFpWeights, j + 1))
           |  % 1000000007)""".stripMargin)).as("fp"))

  /** Consecutive fixed-width word segments of each doc: (doc_id,
    * seg_idx, seg, seg_h) with seg_h a 40-bit md5-derived bigint (the
    * minhash h1 trick, exactly mirrorable in DuckDB — a deployment
    * would widen to xxhash64) so frequency joins shuffle bigints, not
    * segment text. Input contract: (doc_id, w array<string>). */
  def wordSegments(wordsDf: DataFrame, width: Int): DataFrame =
    wordsDf
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"), explode(
        expr(s"sequence(0, CAST(ceil(size(w) / $width.0) AS INT) - 1)"))
        .as("i"))
      .select(col("doc_id"), col("i").cast("long").as("seg_idx"),
        expr(s"array_join(slice(w, i * $width + 1, $width), ' ')").as("seg"))
      .withColumn("seg_h",
        expr("CAST(conv(substr(md5(seg), 1, 10), 16, 10) AS BIGINT)"))

  /** Global key frequency: in how many DISTINCT docs each derived key
    * (window fingerprint, segment hash, …) appears. */
  def keyFrequency(rows: DataFrame, key: String): DataFrame =
    rows.select(col("doc_id"), col(key)).distinct()
      .groupBy(col(key)).agg(count(lit(1)).as("gdf"))

  /** Global fingerprint frequency: in how many DISTINCT docs each
    * window fingerprint appears. */
  def windowFpFrequency(wfp: DataFrame): DataFrame =
    keyFrequency(wfp, "fp")

  /** Per-doc segment-dedup output given the global segment frequency
    * (seg_h, gdf): segments appearing in ≥2 docs are removed, the doc is
    * stitched back together from its surviving segments in order, and
    * only (counts, length, digest) ship out — segment text stays inside
    * the per-doc reassembly aggregate, whose state is bounded by
    * document length. Split from the frequency computation for the same
    * reason as [[scoreWindowFps]]. */
  def scoreSegments(segs: DataFrame, freq: DataFrame): DataFrame =
    segs.join(freq, Seq("seg_h"))
      .withColumn("kept", col("gdf") < 2)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("""array_join(transform(array_sort(collect_list(
               |  CASE WHEN kept
               |       THEN named_struct('seg_idx', seg_idx, 'seg', seg)
               |  END)), x -> x.seg), ' ')""".stripMargin).as("clean"))
      .select(col("doc_id"), col("n_segments"), col("n_kept"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))

  /** Per-doc duplicated-window mass given the global frequency table
    * (fp, gdf): window count, windows whose fingerprint appears in ≥2
    * docs, and their ratio — the RefinedWeb/CCNet-style repeated-window
    * signal. Split from the frequency computation so incremental
    * maintenance can re-score only touched docs against an updated
    * frequency tier. */
  def scoreWindowFps(wfp: DataFrame, gdf: DataFrame): DataFrame =
    wfp.join(gdf, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows"))

  /** Generic threshold-crossing incremental maintenance: a per-doc
    * score that depends on each derived key (window fingerprint,
    * segment hash, …) only through the "appears in ≥2 docs" boolean can
    * be maintained as a batch arrives by (1) adding the batch's delta
    * counts to the pre-batch frequency state, (2) finding the keys that
    * CROSSED the ≥2 threshold (frequencies never decrease, so 1→2 is
    * the only flip), and (3) re-running `score` for exactly the docs
    * holding a crossing key plus the batch itself — every other row of
    * `scoreBase` is provably unchanged. Steady-state cost is
    * ingest-sized (batch derivation + crossing-key probe of the parked
    * tier), never corpus-sized; the result equals a full recompute over
    * the unioned corpus row-for-row (the checked queries share their
    * full-recompute oracles).
    *
    * Inputs: `oldRows`/`batchRows` are (doc_id, key, …payload) with
    * disjoint doc_ids; `freqBase` = [[keyFrequency]] of `oldRows`;
    * `scoreBase` = `score(oldRows, freqBase)`. `score` receives the
    * rows to re-score and the UPDATED frequency table (key, gdf). */
  def maintainByKeyThreshold(oldRows: DataFrame, batchRows: DataFrame,
      freqBase: DataFrame, scoreBase: DataFrame, key: String)(
      score: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val delta = keyFrequency(batchRows, key).withColumnRenamed("gdf", "delta")
    val freqNew = freqBase
      .withColumnRenamed("gdf", "gdf_old")
      .join(delta, Seq(key), "full_outer")
      .select(col(key),
        coalesce(col("gdf_old"), lit(0L)).as("gdf_old"),
        (coalesce(col("gdf_old"), lit(0L)) + coalesce(col("delta"), lit(0L)))
          .as("gdf"))
    val crossed = freqNew
      .filter(col("gdf_old") < 2 && col("gdf") >= 2).select(key)
    val touchedOld = oldRows.join(crossed, Seq(key))
      .select("doc_id").distinct()
    val rescored = score(
      oldRows.join(touchedOld, Seq("doc_id")).unionByName(batchRows),
      freqNew.select(col(key), col("gdf")))
    scoreBase.join(touchedOld, Seq("doc_id"), "left_anti")
      .unionByName(rescored)
  }

  /** Incremental maintenance of the dup-window scores — see
    * [[maintainByKeyThreshold]]; the score is [[scoreWindowFps]], whose
    * gdf≥2 dependence makes the crossing argument exact. */
  def maintainDupWindows(oldWfp: DataFrame, batchWfp: DataFrame,
      gdfBase: DataFrame, scoreBase: DataFrame): DataFrame =
    maintainByKeyThreshold(oldWfp, batchWfp, gdfBase, scoreBase, "fp")(
      scoreWindowFps)

  /** Incremental maintenance of the segment-dedup output — see
    * [[maintainByKeyThreshold]]; the score is [[scoreSegments]], where
    * `kept = gdf < 2` is the same single-boolean dependence, so only
    * docs holding a segment that just became duplicated are
    * re-stitched. */
  def maintainSegmentDedup(oldSegs: DataFrame, batchSegs: DataFrame,
      freqBase: DataFrame, scoreBase: DataFrame): DataFrame =
    maintainByKeyThreshold(oldSegs, batchSegs, freqBase, scoreBase, "seg_h")(
      scoreSegments)

  /** Exact threshold set-cosine similarity self-join at τ = 4/5 via
    * prefix filtering over a distinct (doc_id, shingle) frame.
    *
    * The pruning chain, all exact integers: a qualifying pair (A, B)
    * has overlap o with 25·o² ≥ 16·|A|·|B|, which forces
    * (1) o ≥ ⌈16·|A|/25⌉ for EACH side — so indexing only each doc's
    * first |A| − ⌈16|A|/25⌉ + 1 shingles in a global (doc_freq,
    * shingle) rarity order still catches every qualifying pair on a
    * shared indexed shingle (prefix-filter lemma: o common tokens
    * cannot all hide in a suffix of o−1),
    * (2) 25·min(|A|,|B|) ≥ 16·max(|A|,|B|) — the size filter applied
    * before verification, and
    * (3) the POSITIONAL filter (PPJoin): docs hold their shingles in
    * the same global order, so a collision at ranks (i, j) bounds the
    * overlap by ub = 1 + min(|A|−i, |B|−j); rows with 25·ub² <
    * 16·|A|·|B| are pruned. The bound is exact for the pair's
    * minimal-order shared prefix shingle (every common shingle sorts
    * at or after it on both sides), and a qualifying pair always
    * passes on that row — so dropping the others loses nothing.
    * Scale posture: candidate generation joins only prefix postings,
    * and the rarity order makes those postings the SHORT ones (a
    * stopword-grade shingle with a million-doc posting list sorts
    * last and is never indexed); verification is candidate-pair ×
    * doc-length work, never corpus². The per-doc ranking window is
    * partitioned by doc_id — no global sort anywhere. */
  def allPairsCosine(sh: DataFrame): DataFrame =
    allPairsFromPrefix(
      allPairsPrefix(sh,
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))),
      sh, lit(true))

  /** The indexed prefix postings of `sh` under the global order given
    * by `dfreq` (ascending df, then shingle; left-joined — unseen
    * shingles default 0 and sort first): each doc's first
    * n − ⌈16n/25⌉ + 1 shingles with their rank and the doc size. The
    * LEMMAS need only that both sides of every qualifying pair rank by
    * the SAME total order; rarity is the performance heuristic, not a
    * correctness requirement — which is what lets the incremental path
    * rank an arriving batch by the PARKED pre-batch frequencies and
    * union its ingest-sized prefix with the parked pre-batch prefix
    * table instead of re-ranking the corpus. Carries the optional `nw`
    * batch marker (default false). */
  def allPairsPrefix(sh: DataFrame, dfreq: DataFrame): DataFrame = {
    val marked = if (sh.columns.contains("nw")) sh
      else sh.withColumn("nw", lit(false))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val sized = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), first(col("nw")).as("nw"))
    marked.select(col("doc_id"), col("shingle"))
      .join(dfreq, Seq("shingle"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .join(sized, Seq("doc_id"))
      .filter(col("rk") <= col("n") - expr("(16 * n + 24) div 25") + lit(1L))
      .select(col("shingle"), col("doc_id"), col("n"), col("rk"), col("nw"))
  }

  /** Candidate generation + exact verification over an indexed prefix
    * frame ([[allPairsPrefix]] rows, possibly a parked-∪-fresh union)
    * and the full posting frame `sh` (overlap recount). `pairFilter`
    * restricts candidate pairs over the aliased a/b prefix rows — the
    * incremental probe keeps only pairs touching the arriving batch
    * (`a.nw || b.nw`); old×old pairs come from the parked base
    * result. */
  def allPairsFromPrefix(prefix: DataFrame, sh: DataFrame,
      pairFilter: Column): DataFrame = {
    val ub = lit(1L) +
      least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(pairFilter)
      .filter(least(col("a.n"), col("b.n")) * 25 >=
        greatest(col("a.n"), col("b.n")) * 16)
      .filter(ub * ub * 25 >= col("a.n") * col("b.n") * 16)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") * col("overlap") * 25 >=
        col("na") * col("nb") * 16)
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("na"),
        col("nb"),
        expr("(overlap * overlap * 10000) div (na * nb)").as("cos_sq_bps"))
  }
}
