package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Text.{inList, predLangCase, Stops}
import graft.chain.Chain.table
import graft.chain.ChainSql.{ccWalkCte, withCtes, withRecursiveCtes}
import graft.functions.{BottomKAgg, ScoredId}
import graft.ops.TextCorpus.{docWordsSql, shinglesSql}

/** Text-analysis operators for the training-data pipeline: language ID
  * (stopword-hit heuristic), quality scoring (length / punctuation /
  * stopword ratios), token counting (whitespace + chars/4 BPE-ish bound),
  * and positional polynomial fingerprinting (rolling-hash analog).
  *
  * All per-doc computations are narrow (no shuffle); only the per-source
  * rollup aggregates. Ratios are single divisions of exact integers so
  * both engines produce bit-identical doubles.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private def hitsSql(lang: String): String =
    s"CAST(len(list_filter(w, x -> x IN ${inList(Stops(lang))})) AS BIGINT)"

  private def docWords(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"),
      col("source"), split(col("text"), " ").as("w"))

  /** Per-source token/char accounting — ONE definition shared by the
    * parquet and JSONL source paths, so the two queries can only differ
    * in their scan. */
  private def tokenCountOver(words: DataFrame): DataFrame =
    words.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("w"))).cast("long").as("total_tokens"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        sum(ceil(length(col("text")) / 4.0)).cast("long")
          .as("approx_bpe_tokens"),
        (sum(size(col("w"))).cast("double") / count(lit(1)))
          .as("avg_tokens_per_doc"))

  /** Shared decontamination sub-plan (every 100th doc plays the eval
    * set; training docs flagged on ANY shared word-trigram): ONE
    * definition for text_decontaminate and pipeline_corpus, so the rule
    * cannot drift between them. Returns the training-doc universe with
    * (doc_id, n_overlap, contaminated). */
  private def deconFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = docWords(s, dir)
    val sh = graft.ops.TextCorpus.shingles(docs)
    graft.api.Text.decontaminate(
      sh.filter(col("doc_id") % 100 =!= 0),
      sh.filter(col("doc_id") % 100 === 0).select(col("shingle")),
      docs.filter(col("doc_id") % 100 =!= 0).select(col("doc_id")))
  }

  /** DuckDB mirror of [[deconFrame]]'s overlap side (composes after a
    * `shingles` CTE). */
  private val deconCtes: Seq[String] = Seq(
    "bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 100 = 0)",
    """ov AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      |  FROM (SELECT DISTINCT doc_id, shingle FROM shingles
      |        WHERE doc_id % 100 != 0) t JOIN bench USING (shingle)
      |  GROUP BY doc_id)""".stripMargin)

  /** Per-doc hit counts per language, `hit(lang)` counting one
    * language's hits in a doc's words. */
  private def langHitsSql(hit: String => String): String =
    s"""(SELECT doc_id, lang,
       |        ${hit("en")} AS en_hits, ${hit("de")} AS de_hits,
       |        ${hit("fr")} AS fr_hits, ${hit("es")} AS es_hits
       |      FROM words)""".stripMargin

  /** Per-doc language prediction: the argmax of the `hit` counts (one
    * CASE in both engines, [[graft.api.Text.predLangCase]]). */
  private def langidOracle(hit: String => String): String =
    withCtes(docWordsSql)(
      s"""SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits,
         |  $predLangCase AS pred_lang,
         |  $predLangCase = lang AS match
         |FROM ${langHitsSql(hit)}""".stripMargin)

  /** One token-count oracle for the parquet, JSONL and gzip reads. */
  private val tokenCountOracle: String = withCtes(docWordsSql)(
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(w)) AS BIGINT) AS total_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |  CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
      |    AS approx_bpe_tokens,
      |  CAST(sum(len(w)) AS DOUBLE) / count(*) AS avg_tokens_per_doc
      |FROM words GROUP BY source""".stripMargin)

  /** Each doc's rank `rn` within its source in md5(doc_id) order — the
    * corpus-mix selection order. */
  private def hashRankCte(name: String): String =
    s"""$name AS (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
       |  FROM words)""".stripMargin

  /** (doc_id, bigram) rows — ONE definition of the consecutive-word-pair
    * derivation shared by ngram_bigrams and text_lm_score (the SQL side
    * shares its mirror the same way). */
  private def bigrams(docs: DataFrame): DataFrame =
    docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w) - 2),
          |  i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2)))"""
          .stripMargin)).as("bigram"))

  /** One BPE training round over a symbol-sequence frame
    * (word, freq, p, sym): count adjacent symbol pairs weighted by word
    * frequency, pick the top pair with a total-order tie-break, and
    * apply it leftmost-non-overlapping. Greedy selection inside a run
    * of consecutive matches is the parity trick: within each island of
    * consecutive match positions, exactly the even offsets merge —
    * a window computation, not a sequential scan, so it distributes.
    * Returns (the materialized top-pair single-row frame, next round's
    * lazy sequence frame).
    */
  private[graft] def bpeRound(s: SparkSession, seqs: DataFrame)
      : (DataFrame, DataFrame) = {
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("word")).orderBy(col("p"))
    // adjacent pairs via lead() over the per-word order: p is dense
    // row_number by construction (initial explode(sequence(1, len)) and
    // every round's renumber below), so lead(sym) ≡ the b.p = a.p + 1
    // self-join — one window pass over the word partitioning every later
    // step uses anyway, instead of a shuffle + self-join (r13, guide §2.4)
    val pr = seqs
      .withColumn("sb", lead(col("sym"), 1).over(wIdx))
      .filter(col("sb").isNotNull)
      .select(col("word"), col("freq"), col("p"),
        col("sym").as("sa"), col("sb"))
    val top = pr.groupBy(col("sa"), col("sb"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("sa"), col("sb")).limit(1)
      .transform(graft.operators.Materialize.truncate)
    val mt = pr.join(broadcast(top.select(col("sa"), col("sb"))),
        Seq("sa", "sb"))
      .select(col("word"), col("p"))
      .withColumn("idx", row_number().over(wIdx))
    val sel = mt.withColumn("p0", min(col("p")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("word"), col("p") - col("idx"))))
      .filter((col("p") - col("p0")) % 2 === 0)
      .select(col("word"), col("p"))
    val next = seqs
      .withColumn("sym_next", lead(col("sym"), 1).over(wIdx))
      .join(sel.withColumn("is_start", lit(true)), Seq("word", "p"), "left")
      .join(sel.select(col("word"), (col("p") + 1).as("p"))
        .withColumn("is_second", lit(true)), Seq("word", "p"), "left")
      .filter(col("is_second").isNull)
      .withColumn("sym2", when(col("is_start").isNotNull,
        concat(col("sym"), col("sym_next"))).otherwise(col("sym")))
      .select(col("word"), col("freq"),
        row_number().over(wIdx).cast("long").as("pn"), col("sym2"))
      .select(col("word"), col("freq"), col("pn").as("p"),
        col("sym2").as("sym"))
    (top, next)
  }

  /** The four BPE training rounds ([[bpeRound]]) over the word-frequency
    * dictionary of `dw` ([[docWords]]): the vocabulary's one-symbol-per-
    * char frame is round 0 and the rounds run through
    * [[graft.operators.Fixpoint]]. `result` gets each round's top pair
    * and the final symbol frame; what it does not read is released. */
  private def bpeTrain(s: SparkSession, dw: DataFrame)(
      result: (Seq[DataFrame], DataFrame) => DataFrame): DataFrame = {
    val vocab = dw.select(explode(col("w")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val symbols = vocab
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i").cast("long").as("p"),
        expr("substring(word, i, 1)").as("sym"))
      .transform(graft.operators.Materialize.truncate)
    val tops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    graft.operators.Fixpoint.run(symbols, 4, tops.toSeq) { (_, cur) =>
      val (top, next) = bpeRound(s, cur)
      tops += top
      next
    } ((_, cur) => result(tops.toSeq, cur))
  }

  /** DuckDB mirror of [[bpeTrain]]'s rounds: the vocabulary, its
    * symbol frame s0, then s1..s4 with each round's top pair tp0..tp3. */
  private def bpeTrainCtes: Seq[String] = Seq(docWordsSql,
    """vocab AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(w) AS word FROM words)
      |  WHERE length(word) >= 1 GROUP BY word)""".stripMargin,
    """s0 AS MATERIALIZED (
      |  SELECT word, freq, CAST(i AS BIGINT) AS p, substr(word, i, 1) AS sym
      |  FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i
      |        FROM vocab))""".stripMargin) ++
    (0 until 4).flatMap(bpeRoundCtes)

  /** DuckDB mirror of [[bpeRound]] r (reads s{r}, defines s{r+1}).
    *
    * Every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and each
    * round references its predecessor's frames several times (s{r}
    * twice in pr{r} plus once in sx{r}; sel{r} twice in sx{r}) — over
    * 4 unrolled rounds the re-inlining is exponential and turned the
    * bpe_encode oracle into a 400 s query at sf0.01. Pinning each
    * round to one evaluation keeps the whole chain in seconds. */
  private def bpeRoundCtes(r: Int): Seq[String] = Seq(
    s"""pr$r AS MATERIALIZED (
       |  SELECT a.word, a.freq, a.p, a.sym AS sa, b.sym AS sb
       |  FROM s$r a JOIN s$r b ON a.word = b.word AND b.p = a.p + 1)""".stripMargin,
    s"""tp$r AS MATERIALIZED (
       |  SELECT sa, sb, CAST(sum(freq) AS BIGINT) AS n
       |  FROM pr$r GROUP BY sa, sb
       |  ORDER BY n DESC, sa, sb LIMIT 1)""".stripMargin,
    s"""mt$r AS MATERIALIZED (
       |  SELECT p1.word, p1.p,
       |    row_number() OVER (PARTITION BY p1.word ORDER BY p1.p) AS idx
       |  FROM pr$r p1 JOIN tp$r t ON p1.sa = t.sa AND p1.sb = t.sb)""".stripMargin,
    s"""sel$r AS MATERIALIZED (
       |  SELECT word, p FROM (
       |    SELECT word, p,
       |      min(p) OVER (PARTITION BY word, p - idx) AS p0
       |    FROM mt$r)
       |  WHERE (p - p0) % 2 = 0)""".stripMargin,
    s"""sx$r AS MATERIALIZED (
       |  SELECT s.word, s.freq, s.p, s.sym,
       |    lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.p) AS sym_next,
       |    (m1.p IS NOT NULL) AS is_start,
       |    (m2.p IS NOT NULL) AS is_second
       |  FROM s$r s
       |  LEFT JOIN sel$r m1 ON m1.word = s.word AND m1.p = s.p
       |  LEFT JOIN sel$r m2 ON m2.word = s.word AND m2.p = s.p - 1)""".stripMargin,
    s"""s${r + 1} AS MATERIALIZED (
       |  SELECT word, freq,
       |    CAST(row_number() OVER (PARTITION BY word ORDER BY p) AS BIGINT) AS p,
       |    CASE WHEN is_start THEN sym || sym_next ELSE sym END AS sym
       |  FROM sx$r WHERE NOT is_second)""".stripMargin)

  /** Heavy-hitter threshold: with k=40 MG counters the guarantee covers
    * every token above N/(k+1) = N/41. */
  private[graft] val HhK = 40

  /** Fixed training-sequence length for pack_sequences — fixture-sized
    * (real pretraining uses 2k-8k; the chunk arithmetic is
    * length-independent). */
  private val SeqPackLen = 512L

  /** Regex-token stream over plain documents (the text_heavy_hitters
    * universe). */
  private[graft] def docTokens(s: SparkSession, dir: String): DataFrame =
    docWords(s, dir).select(
      explode(expr("filter(split(text, '[^a-z0-9]+'), x -> x != '')"))
        .as("token"))

  /** Candidate tokens from one bounded Misra-Gries pass over `toks` —
    * a guaranteed superset of the tokens above N/(HhK+1). */
  private[graft] def mgCandidates(s: SparkSession,
      toks: DataFrame): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.FreqSketchAgg(HhK)
    toks.select(col("token")).as[String]
      .groupByKey(_ => true).mapValues(identity)
      .agg(agg.toColumn.name("m")).toDF("g", "m")
      .select(explode(map_keys(col("m"))).as("token"))
  }

  /** Exact verify pass: re-count ONLY candidate tokens behind a
    * broadcast semi-join and keep those with freq·(HhK+1) > N — any
    * candidate SUPERSET yields the same deterministic output. */
  private[graft] def exactHeavyHitters(toks: DataFrame,
      cand: DataFrame): DataFrame = {
    val tot = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand.select(col("token")).distinct()),
        Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(tot))
      .filter(col("freq") * (HhK + 1) > col("n_total"))
      .select(col("token"), col("freq"), col("n_total"))
  }

  /** Distinct (source, 60-bit shingle hash) rows over a docWords-shaped
    * frame — the universe both the KMV sketches and the exact-Jaccard
    * side draw from. */
  private def kmvHashes(dw: DataFrame): DataFrame =
    dw.select(col("source"), col("w"),
      explode(when(size(col("w")) >= 3, sequence(lit(1), size(col("w")) - 2))
        .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("source"),
        expr("concat(w[i-1], ' ', w[i], ' ', w[i+1])").as("shingle"))
      .select(col("source"),
        expr("CAST(conv(substr(md5(shingle), 1, 15), 16, 10) AS BIGINT)")
          .as("h")).distinct()

  private def kmvShingleHashes(s: SparkSession, dir: String): DataFrame =
    kmvHashes(docWords(s, dir))

  /** Per-source bottom-64 KMV sketch (source, sk: ascending Seq[Long])
    * via the map-side-bounded BottomKAgg. */
  private def kmvSketch(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    val agg = new BottomKAgg[Long](64)
    d.select(col("source"), col("h")).as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("sk")).toDF("source", "sk")
  }

  /** Pairwise overlap output from a sketch frame + the exact distinct
    * sets: estimates from the k-vectors alone (array ops), exact
    * Jaccard from the sets — shared by the full and incremental KMV
    * queries so both hit one oracle. */
  private def kmvOverlap(s: SparkSession, sk: DataFrame,
      d: DataFrame): DataFrame = {
    val pairs = sk.as("a").join(sk.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.sk").as("sa"), col("b.sk").as("sb"))
      .withColumn("u",
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, 64))
      .withColumn("n_sketch", size(col("u")).cast("long"))
      .withColumn("n_both",
        size(array_intersect(array_intersect(col("u"), col("sa")),
          col("sb"))).cast("long"))
      .withColumn("v", element_at(col("u"), -1))
    val cnt = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = d.as("x").join(d.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(cnt.select(col("source").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(cnt.select(col("source").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_sketch"), col("n_both"),
        (col("n_both").cast("double") / col("n_sketch")).as("j_est"),
        (col("n_sketch").minus(1).cast("double")
          * lit(1152921504606846976L).cast("double")
          / col("v").cast("double")).as("union_est"),
        (col("ni").cast("double") / (col("n_a") + col("n_b") - col("ni")))
          .as("j_exact"))
  }

  val queries: Map[String, Q] = Map(
    // language ID: stopword-hit scores + deterministic argmax
    "text_langid" -> ((s, dir) => graft.api.Text.langId(docWords(s, dir))),

    // language ID from character n-gram profiles: substring-occurrence
    // counting via length(replace(...)), no tokenization, no explode
    "text_langid_ngram" -> ((s, dir) =>
      graft.api.Text.langIdNgram(docWords(s, dir))),

    // the ann_recall analog for language ID: confusion matrix of
    // predicted vs fixture-truth language, plus per-truth-class
    // precision denominator — the metric that justifies the stopword /
    // n-gram family choice, computed distributively (one hash-agg on
    // the 2-language pair).
    "text_langid_confusion" -> ((s, dir) =>
      graft.api.Text.langId(docWords(s, dir))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))),

    // quality scoring: exact-integer ratios
    "text_quality" -> ((s, dir) => graft.api.Text.quality(docWords(s, dir))),

    // token counting per source: whitespace tokens + chars/4 BPE-ish bound
    "token_count" -> ((s, dir) => tokenCountOver(docWords(s, dir))),

    // the SAME accounting fed from a JSONL source — the standard LLM-
    // corpus interchange format (one JSON object per line), read back
    // schema-on-read from the parked per-fixture JSONL tier
    // (TextCorpus.jsonlFile; the query path is read-only). Shares
    // token_count's oracle, so the driver compare proves the JSONL
    // ingestion seam end to end: parse, explicit schema, null field
    // omission, and string round-tripping must all be lossless or the
    // hash breaks.
    "token_count_jsonl" -> ((s, dir) => {
      val docs = s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
          "n_chars LONG")
        .json(graft.ops.TextCorpus.jsonlFile(s, dir))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          split(col("text"), " ").as("w"))
      tokenCountOver(docs)
    }),

    // GZIP-compressed JSONL — how LLM corpora actually ship. Gzip is
    // not splittable (one .gz file = one task), so the parked fixture
    // is pre-sharded and the read's parallelism is its shard count —
    // the codec consideration a 100 TB ingest plans around. Same
    // oracle: compression must be invisible to the results.
    "token_count_jsonl_gz" -> ((s, dir) => {
      val docs = s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
          "n_chars LONG")
        .json(graft.ops.TextCorpus.jsonlGzFile(s, dir))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          split(col("text"), " ").as("w"))
      tokenCountOver(docs)
    }),

    // frequent-token discovery via a bounded Misra-Gries summary
    // (candidates) + exact counts of candidates only (verify): the
    // 100 TB heavy-hitter shape. The exact `GROUP BY token HAVING`
    // form shuffles one row per DISTINCT token — vocabulary-sized, the
    // long tail dominating; here the candidate pass carries ≤ k=40
    // counters per map task (FreqSketchAgg partial aggregation), the
    // verify pass re-counts ONLY candidate tokens behind a broadcast
    // semi-join, and the final filter freq·(k+1) > N runs on exact
    // integers. MG guarantees every token above N/(k+1) survives the
    // sketch, so candidates ⊇ heavy hitters and the filtered output is
    // deterministic (sketch content varies with merge order; the
    // answer doesn't). Oracle = the plain exact HAVING query.
    "text_heavy_hitters" -> ((s, dir) => {
      val toks = docTokens(s, dir)
      exactHeavyHitters(toks, mgCandidates(s, toks))
    }),

    // BPE tokenizer training (the merge-table learner): 4 greedy rounds
    // over the corpus WORD-FREQUENCY DICTIONARY — count adjacent symbol
    // pairs weighted by word frequency, merge the most frequent pair
    // leftmost-non-overlapping, repeat. The output is the learned merge
    // table (round, pair, weighted count), which is what a tokenizer
    // trainer ships. Shape at scale: exactly one corpus-sized pass (the
    // word count); every round after that works on the vocabulary —
    // millions of rows at 100 TB, not trillions — as real BPE trainers
    // do. Greedy within a run of repeated symbols ("aaaa" → "(aa)(aa)")
    // is the ISLAND-PARITY window trick in bpeRound, not a sequential
    // scan, so rounds stay fully distributed; per-round
    // localCheckpoint keeps the plan O(1) deep like k-means.
    "bpe_merges" -> ((s, dir) =>
      bpeTrain(s, docWords(s, dir)) { (tops, _) =>
        tops.zipWithIndex.map { case (top, r) =>
          top.select(lit(r.toLong).as("round"), col("sa").as("sym_a"),
            col("sb").as("sym_b"), col("n").as("n_count"))
        }.reduce(_ unionByName _)
      }),

    // tokenizer APPLICATION (the other half of the BPE story): encode
    // the corpus with the learned merge table. Encoding a corpus never
    // touches documents symbol-by-symbol — the VOCABULARY is encoded
    // once (the same merge rounds training already materializes, so the
    // final sequence state IS the encoded dictionary), and documents
    // just join their words against the per-word symbol counts. Output:
    // per-doc whitespace-token, BPE-symbol, and char counts — the
    // compression a 4-merge vocabulary buys.
    "bpe_encode" -> ((s, dir) => {
      val dw = docWords(s, dir)
      bpeTrain(s, dw) { (_, cur) =>
        val encLen = cur.groupBy(col("word"))
          .agg(count(lit(1)).as("n_sym"))
        dw.select(col("doc_id"), explode(col("w")).as("word"))
          .filter(length(col("word")) >= 1)
          .join(encLen, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_sym")).as("n_symbols"),
            sum(length(col("word"))).cast("long").as("n_chars"))
      }
    }),

    // cross-corpus overlap via KMV (k-minimum-values) sketches: every
    // source keeps only its k=64 SMALLEST 60-bit shingle hashes (a
    // coordinated min-wise sample — BottomKAgg, map-side bounded), and
    // any source PAIR's union cardinality and Jaccard are then
    // estimated from the two k-vectors alone with pure array ops — no
    // shingle data is touched at comparison time. That is the 100 TB
    // shape for "which crawls/dumps overlap": sketches are corpus-pass
    // byproducts (O(k) per source), and the pairwise comparison matrix
    // costs O(sources² · k) — independent of corpus size. Unlike HLL,
    // the k smallest of a set are merge-order-independent EXACT values,
    // so the estimates themselves are deterministic and the DuckDB
    // mirror hash-matches them bit-for-bit; the exact Jaccard is
    // emitted alongside (affordable at fixture scale) so the sketch's
    // accuracy is part of the visible result.
    "corpus_overlap_kmv" -> ((s, dir) => {
      val d = kmvShingleHashes(s, dir)
      kmvOverlap(s, kmvSketch(s, d), d)
    }),

    // incremental maintenance of the KMV sketches: bottom-k is a
    // semilattice morphism — bottomK(old ∪ batch) ==
    // bottomK(bottomK(old) ∪ batch) — so when a batch of documents
    // arrives, each source's parked k-vector (a few hundred bytes)
    // absorbs the batch's hashes WITHOUT revisiting the old corpus.
    // Here the pre-batch sketch is rebuilt inline (at 100 TB it is a
    // parked tier like the minhash bands); the query SHARES
    // corpus_overlap_kmv's oracle, so maintained == recomputed is part
    // of the correctness gate, the same proof pattern as the
    // incremental dedup/entity clusterings.
    "corpus_overlap_kmv_incremental" -> ((s, dir) => {
      val d = kmvShingleHashes(s, dir)
      val batchSel = col("doc_id") % graft.ops.DedupMaterialize.IncrementalBatchMod === 0
      val dw = docWords(s, dir)
      val dOld = kmvHashes(dw.filter(!batchSel))
      val dBatch = kmvHashes(dw.filter(batchSel))
      val oldSk = kmvSketch(s, dOld)
      val merged = kmvSketch(s,
        oldSk.select(col("source"), explode(col("sk")).as("h"))
          .unionByName(dBatch))
      kmvOverlap(s, merged, d)
    }),

    // BPE-ish regex tokenization: split on non-alphanumeric runs, drop
    // empties explicitly (the one place both engines' split semantics
    // are forced to agree).
    "token_count_regex" -> ((s, dir) =>
      docWords(s, dir).select(
        col("doc_id"),
        expr("CAST(size(filter(split(text, '[^a-z0-9]+'), x -> x != '')) AS BIGINT)")
          .as("n_regex_tokens"),
        size(col("w")).cast("long").as("n_ws_tokens"))),

    // positional polynomial fingerprint over words (rolling-hash analog):
    // fp = Σ value16(word_i) · 31^(i mod 4) mod 1e9+7
    "doc_fingerprint" -> ((s, dir) =>
      graft.api.Text.fingerprint(docWords(s, dir))),

    // TF-IDF top-k distinctive terms per document (keyword extraction /
    // vocab weighting). idf is the LINEAR N/df variant: ln() is
    // implementation-defined in the last ulp across engines, while
    // tf/df and ·N are single IEEE ops — bit-identical everywhere and
    // order-isomorphic to tf·log-idf for ranking within a document.
    // Shape at scale: tokens explode map-side, tf is one hash-agg on
    // (doc, token), df one on token; the tf⋈df equi-join shuffles only
    // (token, counts) rows — no text moves after tokenization.
    "text_tfidf_topk" -> ((s, dir) => {
      val toks = docWords(s, dir).select(col("doc_id"),
        explode(expr("filter(split(text, '[^a-z0-9]+'), x -> x != '')"))
          .as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
      val n = docWords(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(dfq, Seq("token")).crossJoin(broadcast(n))
        .withColumn("tfidf",
          col("tf").cast("double") / col("doc_freq") * col("n_docs"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("rk"), col("token"), col("tf"),
          col("doc_freq"), col("tfidf"))
    }),

    // within-document repetition (the Gopher-style quality signal):
    // duplicate-word mass per doc. One explode + two hash-aggs, all
    // exact integers with a single final division — docs whose
    // repetition_ratio spikes are template/boilerplate candidates.
    "text_repetition" -> ((s, dir) => {
      val wc = docWords(s, dir)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      wc.groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct_words"),
          max(col("c")).as("max_word_count"))
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("max_word_count"),
          (lit(1.0) - col("n_distinct_words").cast("double") /
            col("n_words")).as("repetition_ratio"))
    }),

    // benchmark decontamination: every 100th doc plays the eval set;
    // training docs sharing ANY word-trigram shingle with it are
    // flagged. The benchmark side is broadcast (eval suites are MBs
    // against a TB corpus) — the corpus never shuffles except the
    // per-doc overlap hash-agg.
    "text_decontaminate" -> ((s, dir) => deconFrame(s, dir)),

    // the END-TO-END pretraining corpus build as ONE declarative query:
    // near-dup clusters (MinHash→LSH→connected components) over the
    // full document set, then per-doc eligibility (training side only,
    // not benchmark-contaminated, minimum length), then ONE KEPT DOC
    // per cluster chosen among the eligible members — so a cluster
    // whose minimum-id member is a benchmark doc or too short still
    // contributes its best surviving member instead of silently
    // vanishing. Returns the surviving corpus with full cluster sizes
    // and token counts. Every stage is the already-verified operator —
    // this query pins that they COMPOSE (the shape a pipeline deploys).
    // It derives its own shingle/pair chain rather than reading the
    // DedupMaterialize tier because the tier is keyed to the
    // dup-injected dedup corpus while the pipeline runs on the plain
    // document universe; a deployment materializes the tier for
    // whatever universe its pipeline uses.
    "pipeline_corpus" -> ((s, dir) => {
      val docs = docWords(s, dir)
      val sh = graft.ops.TextCorpus.shingles(docs)
      val pairs = graft.api.Dedup.candidatePairs(
        graft.api.Dedup.lshBands(graft.api.Dedup.minhashSignatures(sh)))
      val cc = graft.operators.ConnectedComponents.labels(
        docs.select(col("doc_id")), pairs)
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      val eligible = cc.select(col("node").as("doc_id"), col("component"))
        .join(docs.select(col("doc_id"),
          size(col("w")).cast("long").as("n_tokens")), Seq("doc_id"))
        .join(deconFrame(s, dir).filter(!col("contaminated"))
          .select(col("doc_id")), Seq("doc_id"))
        .filter(col("n_tokens") >= 5)
      eligible.groupBy(col("component")).agg(min(col("doc_id")).as("doc_id"))
        .join(eligible, Seq("component", "doc_id"))
        .join(sizes, Seq("component"))
        .select(col("doc_id"), col("n_tokens"), col("n_members"))
    }),

    // training-shard packing: assign documents to token-budget shards
    // (the sequence-packing step that turns a corpus into training
    // shards). Packing is greedy-by-doc_id WITHIN pack groups of 100
    // docs, so the cumulative-sum window is bounded and every group
    // packs in parallel — a single global cumsum would funnel the
    // corpus through one partition at 100 TB. Shard ids are globally
    // unique ((group, local) encoded); all integer math.
    "pipeline_shards" -> ((s, dir) => {
      val budget = 2000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pack_group")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docWords(s, dir)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .withColumn("pack_group", floor(col("doc_id") / 100L).cast("long"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("n_tokens"), col("pack_group"),
          (col("pack_group") * 1000L +
            floor((col("cum") - col("n_tokens")) / lit(budget)).cast("long"))
            .as("shard_id"))
    }),

    // the EXACT global form of the packing above: one contiguous token
    // stream in doc_id order, cut into token-budget shards — the serial
    // greedy cumsum, but computed by PrefixCarry's two-phase scan
    // (range-partitioned windows + a one-total-per-partition driver
    // prefix, broadcast back), so the "inherently sequential" packing
    // runs with NO single-partition sort at any corpus size. Emits the
    // stream offset of each doc, so downstream loaders can seek.
    "pipeline_shards_global" -> ((s, dir) => {
      val budget = 2000L
      val toks = docWords(s, dir)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      graft.operators.PrefixCarry.exclusivePrefixSum(toks, "doc_id",
          "n_tokens")
        .select(col("doc_id"), col("n_tokens"),
          col("prefix_sum").as("stream_offset"),
          floor(col("prefix_sum") / lit(budget)).cast("long").as("shard_id"))
    }),

    // GPT-style pretraining chunker (concat-and-chunk): the global
    // token stream in deterministic doc order is cut into fixed
    // SeqPackLen-token training sequences, documents SPLITTING across
    // cuts — the op pipeline_shards_global stops short of (it assigns
    // whole docs by start offset). Each (sequence, doc) overlap row
    // carries the piece in both coordinate systems: begin_in_seq (for
    // attention-mask boundary resets) and begin_in_doc (for
    // detokenization). Global offsets via PrefixCarry's two-phase
    // distributed scan — no single-partition window at any corpus
    // size; the overlap explode is bounded per doc at
    // n_tokens/SeqPackLen + 1 rows. Oracle = DuckDB's serial global
    // cumsum + range explode.
    "pack_sequences" -> ((s, dir) => {
      val L = SeqPackLen
      val toks = docWords(s, dir)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      graft.operators.PrefixCarry.exclusivePrefixSum(toks, "doc_id",
          "n_tokens")
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          col("prefix_sum").as("st"))
        .withColumn("en", col("st") + col("n_tokens"))
        .withColumn("seq_id",
          explode(expr(s"sequence(st div $L, (en - 1) div $L)")))
        .select(col("seq_id"), col("doc_id"),
          (greatest(col("st"), col("seq_id") * L) - col("seq_id") * L)
            .as("begin_in_seq"),
          (least(col("en"), (col("seq_id") + 1L) * L) -
            greatest(col("st"), col("seq_id") * L)).as("n_toks"),
          (greatest(col("st"), col("seq_id") * L) - col("st"))
            .as("begin_in_doc"))
    }),

    // deterministic GLOBAL SHUFFLE for training order: every doc gets a
    // pseudo-random position (md5-derived key — reproducible in both
    // engines and stable under re-runs/appends, never random()) and the
    // 1-based rank under (key, doc_id) comes from PrefixCarry.globalRank
    // — the terasort primitive: range-partition on the uniform key,
    // within-range row-number, cross-range counts via the driver prefix.
    // No single-partition sort at any corpus size; shuffle_shard groups
    // positions into training shards a loader reads sequentially.
    "corpus_shuffle" -> ((s, dir) => {
      val key = expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 10), 16, 10)" +
          " AS BIGINT)")
      val docs = docWords(s, dir)
        .select(col("doc_id"), key.as("shuffle_key"))
      graft.operators.PrefixCarry.globalRank(docs,
          Seq("shuffle_key", "doc_id"))
        .select(col("doc_id"), col("shuffle_key"),
          col("rank").as("pos"),
          floor((col("rank") - 1) / lit(100L)).cast("long")
            .as("shuffle_shard"))
    }),

    // CURRICULUM ordering for training: docs globally ranked
    // short-to-long (the sequence-length warmup schedule — a trainer
    // ramps max_seq_len and wants small-context steps first), ties
    // broken by the deterministic shuffle key so equal-length docs
    // arrive hash-shuffled rather than id-ordered. The same
    // PrefixCarry.globalRank two-phase scan as corpus_shuffle — the
    // "inherently serial" global order with no single-partition sort
    // at any corpus size; curriculum_shard groups positions into
    // loader-sequential shards.
    "corpus_curriculum" -> ((s, dir) => {
      val key = expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 10), 16, 10)" +
          " AS BIGINT)")
      val docs = docWords(s, dir)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          key.as("tie_key"))
      graft.operators.PrefixCarry.globalRank(docs,
          Seq("n_tokens", "tie_key", "doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          col("rank").as("pos"),
          floor((col("rank") - 1) / lit(100L)).cast("long")
            .as("curriculum_shard"))
    }),

    // INCREMENTAL maintenance of the global packing: the pre-batch
    // stream's manifest is parked (offsets are immutable once shards
    // are written — the append-only property of training shards); the
    // arriving batch (the shared doc_id % mod convention) appends AT
    // the parked total, its within-batch offsets from the same
    // two-phase scan. Work is batch-sized: one 1-row total off the
    // manifest tier + the batch's own token counts. Emits batch rows
    // only; the oracle recomputes both sides from the corpus, so
    // "parked + appended == serial repack of the whole stream" is
    // driver-proven.
    "pipeline_shards_incremental" -> ((s, dir) => {
      val budget = 2000L
      val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
      val parkedTotal = graft.ops.DedupMaterialize
        .packManifestBaseTable(s, dir)
        .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("t"))
        .withColumn("one", lit(1))
      val batch = docWords(s, dir).filter(col("doc_id") % mod === 0)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      graft.operators.PrefixCarry.exclusivePrefixSum(batch, "doc_id",
          "n_tokens")
        .withColumn("one", lit(1))
        .join(broadcast(parkedTotal), Seq("one"))
        .select(col("doc_id"), col("n_tokens"),
          (col("prefix_sum") + col("t")).as("stream_offset"),
          floor((col("prefix_sum") + col("t")) / lit(budget)).cast("long")
            .as("shard_id"))
    }),

    // per-stratum percentile thresholding (the quality-cut step of a
    // data recipe expressed as a DISTRIBUTION cut, not an absolute
    // one): keep each source's top half by average word length.
    // percent_rank = (rank−1)/(n−1) on a total order (metric, doc_id)
    // — one exact division, so the filter boundary is bit-identical in
    // both engines; the window partitions by source, every stratum
    // ranks in parallel.
    "text_quality_filter" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("avg_word_len"), col("doc_id"))
      docWords(s, dir)
        .select(col("doc_id"), col("source"),
          graft.api.Text.avgWordLen.as("avg_word_len"))
        .withColumn("pr", percent_rank().over(w))
        .filter(col("pr") >= 0.5)
        .select(col("doc_id"), col("source"), col("avg_word_len"), col("pr"))
    }),

    // exact-substring duplication signal (the RefinedWeb/CCNet-style
    // repeated-window detector, complementing the Jaccard near-dup
    // family): every 8-word window is fingerprinted to a BIGINT
    // (positional polynomial over md5-derived byte values — identical
    // integer math in both engines), windows whose fingerprint appears
    // in ≥2 distinct docs are duplicated, and each doc reports its
    // duplicated-window mass. Runs on the dup-injected corpus so the
    // signal has guaranteed positives. The heavy join is on the BIGINT
    // fingerprint — window TEXT never shuffles, and the window explode
    // (with its one-md5-per-word hashing) is PARKED once per corpus by
    // DedupMaterialize: both the frequency side and the probe side of
    // the join below read the same two-column parquet tier instead of
    // each re-exploding every token window (the 100 TB shape).
    "text_dup_windows" -> ((s, dir) => {
      val wfp = graft.ops.DedupMaterialize.windowFpTable(s, dir)
      graft.api.Text.scoreWindowFps(
        wfp, graft.api.Text.windowFpFrequency(wfp))
    }),

    // incremental maintenance of the dup-window scores as a batch of
    // documents arrives (the same simulated batch as the incremental
    // dedup/clustering queries): the parked pre-batch frequency tier is
    // updated with the batch's delta counts, and only docs holding a
    // fingerprint that CROSSED the ≥2 threshold (plus the batch itself)
    // are re-scored — every other doc's parked score row is provably
    // unchanged, because a score depends on its fingerprints only
    // through the gdf≥2 booleans and gdf never decreases. Steady-state
    // cost is ingest-sized (batch explode + crossing-fp probe), never
    // corpus-sized; shares text_dup_windows' oracle, so maintained ==
    // recomputed is part of the correctness gate.
    "text_dup_windows_incremental" -> ((s, dir) => {
      import graft.api.Text
      val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
      val batchSel = col("doc_id") % mod === 0
      Text.maintainDupWindows(
        oldWfp = graft.ops.DedupMaterialize.windowFpTable(s, dir)
          .filter(!batchSel),
        // the arriving batch is fingerprinted fresh — ingest-sized explode
        batchWfp = Text.windowFingerprints(
          graft.ops.TextCorpus.words(
            graft.ops.TextCorpus.corpus(s, dir).filter(batchSel))),
        gdfBase = graft.ops.DedupMaterialize.winfpGdfBaseTable(s, dir),
        scoreBase = graft.ops.DedupMaterialize.winfpScoreBaseTable(s, dir))
    }),

    // inverted index build (token → posting list): doc_freq over the
    // full corpus plus a TRUNCATED posting segment (first 20 doc ids) —
    // the head segment of the segmented posting tier a search index
    // materializes. The head runs through the bounded BottomKAgg next to
    // a count in the same aggregation: a stopword token's aggregation
    // buffer is pruned to k map-side, so neither the row NOR the agg
    // state is unbounded (collect_list + slice would bound only the row).
    "inverted_index" -> ((s, dir) => {
      import s.implicits._
      docWords(s, dir)
        .select(col("doc_id"),
          explode(expr("filter(split(text, '[^a-z0-9]+'), x -> x != '')"))
            .as("token"))
        .distinct()
        .select(col("token"), col("doc_id")).as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
        .agg(count(lit(1)).as[Long], new BottomKAgg[Long](20).toColumn)
        .toDF("token", "doc_freq", "postings")
        .select(col("token"), col("doc_freq"),
          concat_ws(",", transform(col("postings"), d => d.cast("string")))
            .as("postings_head"))
    }),

    // pattern-based redaction (the PII-scrub pipeline stage): flagged
    // terms are replaced with a placeholder; the doc ships out as an
    // md5 content digest so only (id, counts, digest) move — never the
    // redacted text itself. Purely narrow (no shuffle).
    "pii_redact" -> ((s, dir) => {
      val pat = "\\b(customer|value|key)\\b"
      docWords(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(pat)).cast("long").as("n_redactions"),
        length(regexp_replace(col("text"), pat, "<PII>")).cast("long")
          .as("redacted_len"),
        md5(regexp_replace(col("text"), pat, "<PII>")).as("redacted_md5"))
    }),

    // bigram language-model counts, global top-50: consecutive word
    // pairs explode map-side, one hash-agg on the bigram, then a
    // DISTRIBUTED top-k (TakeOrderedAndProject — no single-partition
    // global sort). Total order (n DESC, bigram) makes the cut
    // deterministic.
    "ngram_bigrams" -> ((s, dir) =>
      bigrams(docWords(s, dir))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(50)),

    // PMI-scored collocations (the phrase-mining signal: "new york"
    // scores high because its parts rarely appear apart) — the lift
    // f_ab·N/(f_a·f_b) in EXACT integer arithmetic: the 2^20-scaled
    // ratio is floored in two fixed steps ((f_ab·2^20) div f_a, then
    // ·N div f_b) so both engines state the identical flooring and the
    // scores hash-match. f_ab ≤ f_a keeps step one ≤ 2^20; step two
    // stays inside int64 up to N ≈ 8·10^12 corpus words (past that,
    // promote to DECIMAL(38,0)). Plan shape: bigram + unigram counts
    // are two vocabulary-sized hash-aggs (map-side partials absorb the
    // corpus), the unigram table joins back BROADCAST twice (it is the
    // model artifact, not corpus-sized), the support cut f_ab ≥ 5
    // prunes the long tail before scoring, and the final top-50 is a
    // distributed TakeOrdered under the total order (score desc,
    // bigram) — no global sort anywhere.
    "text_collocations" -> ((s, dir) => {
      val dw = docWords(s, dir)
      val uni = dw.select(explode(col("w")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("f"))
      val tot = uni.agg(sum(col("f")).as("n_words"))
      val bi = bigrams(dw)
        .groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 5)
        .withColumn("wa", split(col("bigram"), " ").getItem(0))
        .withColumn("wb", split(col("bigram"), " ").getItem(1))
      bi.join(broadcast(uni.select(col("word").as("wa"),
            col("f").as("n_a"))), Seq("wa"))
        .join(broadcast(uni.select(col("word").as("wb"),
            col("f").as("n_b"))), Seq("wb"))
        .crossJoin(broadcast(tot))
        .select(col("bigram"), col("n_pair"), col("n_a"), col("n_b"),
          expr("((n_pair * 1048576) div n_a) * n_words div n_b")
            .as("score"))
        .orderBy(col("score").desc, col("bigram")).limit(50)
    }),

    // LM-based quality score (the CCNet-style filter shape, with the
    // corpus's own top-200 bigram table standing in for the KenLM): a
    // doc's score is the fraction of its bigrams found in the reference
    // LM — exact integer counts, one final division. The vocab is a
    // distributed top-k then broadcast, so the corpus side's only
    // shuffle is the per-doc agg; at 100 TB the vocab would be the
    // parked artifact of a previous ngram_bigrams run.
    "text_lm_score" -> ((s, dir) => {
      val bi = bigrams(docWords(s, dir))
      val vocab = bi.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(200)
        .select(col("bigram")).withColumn("hit", lit(1L))
      bi.join(broadcast(vocab), Seq("bigram"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(col("doc_id"), col("n_bigrams"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_bigrams")).as("lm_score"))
    }),

    // model-based quality scoring by FEATURE HASHING (the fastText
    // inference shape): every distinct word of a doc is hashed into one
    // of 4096 buckets (one md5 half, mod table size — collisions are
    // the hashing trick's accepted lossiness), the weight table is a
    // 4096-row dim joined BROADCAST (here derived deterministically
    // from the bucket id, standing in for trained weights; in
    // production it's the loaded model artifact), and a doc's score is
    // the exact-integer weight sum — classifier inference as one
    // map-side explode + one broadcast join + one hash-agg, no UDF, no
    // per-row model call. The corpus-sized side shuffles once (the
    // per-doc agg); the model never exceeds kilobytes.
    "text_classifier_score" -> ((s, dir) => {
      val feats = docWords(s, dir)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .select(col("doc_id"),
          expr("CAST(conv(substr(md5(word), 1, 10), 16, 10) AS BIGINT) % 4096")
            .as("bucket"))
        .distinct()
      val weights = s.range(4096).select(col("id").as("bucket"),
        (col("id") * lit(2654435761L) % lit(1997L) - lit(998L)).as("wt"))
      feats.join(broadcast(weights), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_features"), sum(col("wt")).as("score"))
        .select(col("doc_id"), col("n_features"), col("score"),
          (col("score") > 0).as("label"))
    }),

    // classifier TRAINING in-engine — the stage that produces the
    // weight artifact text_classifier_score consumes: batch perceptron
    // over 64 hashed bag-of-words buckets, label = (lang = 'en'). Each
    // epoch is one broadcast join + two hash-aggs (score every doc
    // against the current weights; sum the label pulses of the
    // misclassified set per bucket), and the 64-long weight vector is
    // collected and re-broadcast as a literal table — the k-means
    // centroid pattern — so every epoch's plan is independent and
    // lineage stays flat however long training runs. Integer weights +
    // unit learning rate make every epoch exact in both engines; at
    // 100 TB the feature matrix would be a parked tier and the epoch
    // loop is unchanged (model size never leaves kilobytes).
    "text_classifier_train" -> ((s, dir) => {
      val nBuckets = 64
      val epochs = 3
      val feats = docWords(s, dir)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          explode(col("w")).as("word"))
        .select(col("doc_id"), col("y"),
          expr("CAST(conv(substr(md5(word), 1, 10), 16, 10) AS BIGINT)" +
            s" % $nBuckets").as("bucket"))
        .distinct()
        // the feature matrix is read twice per epoch plus twice at the
        // end — materialize once (released post-consumption like every
        // pinned leaf); at 100 TB this is the parked-tier slot
        .transform(graft.operators.Materialize.truncate)
      def wdf(w: Map[Long, Long]): DataFrame = {
        import s.implicits._
        w.toSeq.sorted.toDF("bucket", "wt")
      }
      def scores(w: Map[Long, Long]): DataFrame =
        feats.join(broadcast(wdf(w)), Seq("bucket"))
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("wt")).as("score"))
      var wts: Map[Long, Long] = (0L until nBuckets).map(_ -> 0L).toMap
      for (_ <- 1 to epochs) {
        val upd = scores(wts)
          .filter(col("y") * col("score") <= 0)
          .select("doc_id")
          .join(feats, Seq("doc_id"))
          .groupBy(col("bucket")).agg(sum(col("y")).as("d"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        wts = wts.map { case (b, v) => b -> (v + upd.getOrElse(b, 0L)) }
      }
      val nDocs = feats.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"))
      val finalErr = scores(wts)
        .filter(col("y") * col("score") <= 0)
        .agg(count(lit(1)).as("final_errors"))
      wdf(wts).join(nDocs, Seq("bucket"), "left")
        .select(col("bucket"), col("wt"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .crossJoin(broadcast(finalErr))
    }),

    // temperature-rebalanced source mixing (the multinomial-mixture
    // resampling step of a pretraining data recipe, α = 1/2): each
    // source's quota ∝ √n_docs, members chosen by hash rank — small
    // sources are upweighted relative to their share, big sources
    // capped. Quotas are exact integers (sqrt of a BIGINT is one
    // correctly-rounded IEEE op, floored); the rank window partitions
    // by source, so every stratum samples in parallel.
    "corpus_mix" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
      val quotas = docWords(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("quota",
          greatest(lit(1L),
            (floor(sqrt(col("n_docs").cast("double"))) * 4).cast("long")))
      docWords(s, dir)
        .withColumn("hk", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rn") <= col("quota"))
        .select(col("source"), col("doc_id"), col("rn"), col("quota"))
    }),

    // TEMPERATURE-style mixing under a fixed token-budget analog: each
    // source's share of the total doc budget is proportional to a
    // SUBLINEAR function of its size (floor(sqrt n) — the α<1 sampling
    // that keeps big sources from drowning small ones), allocated with
    // integer arithmetic (T·w_i div Σw — exact in both engines, unlike
    // a pow() whose last ulp differs across libms) and floored at 1 so
    // every source survives. Selection inside a source is the same
    // deterministic hash rank as corpus_mix. The Σw total re-enters as
    // a broadcast 1-row dim; everything else is the per-source window.
    "corpus_mix_temperature" -> ((s, dir) => {
      val budget = 200L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
      val weights = docWords(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("wt", floor(sqrt(col("n_docs").cast("double")))
          .cast("long"))
      val totalW = weights.agg(sum(col("wt")).as("tw"))
      val quotas = weights
        .crossJoin(broadcast(totalW))
        .withColumn("quota",
          greatest(lit(1L), expr(s"($budget * wt) div tw")))
        .select(col("source"), col("n_docs"), col("quota"))
      docWords(s, dir)
        .withColumn("hk", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rn") <= col("quota"))
        .select(col("source"), col("doc_id"), col("rn"), col("quota"))
    }),

    // provenance quality profile: the per-domain distribution a data
    // recipe is negotiated over — how much each source contributes, how
    // its docs score, and what fraction survives the quality gate. All
    // aggregates are integer sums (pass gates compare per-doc scores,
    // each a single exact division), so the two ratios at the end are
    // one double division each — engine-identical. One hash-agg on
    // source: domains are few, so this is map-side-combined and tiny at
    // any corpus size.
    "source_quality_profile" -> ((s, dir) => {
      val q = graft.api.Text.quality(docWords(s, dir))
      docWords(s, dir).select(col("doc_id"), col("source"))
        .join(q, Seq("doc_id"))
        .withColumn("pass",
          col("n_words") >= 5 && col("avg_word_len") <= 12.0 &&
            col("stopword_ratio") >= 0.01)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("total_words"),
          sum(col("n_chars_calc")).cast("long").as("total_chars"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
        .select(col("source"), col("n_docs"), col("total_words"),
          col("total_chars"), col("n_pass"),
          (col("n_pass").cast("double") / col("n_docs").cast("double"))
            .as("pass_rate"),
          (col("total_words").cast("double") / col("n_docs").cast("double"))
            .as("avg_doc_words"))
    }),

    // domain-QUOTA mixing: each source contributes documents (hash-rank
    // order) until a per-domain TOKEN budget fills — the "x billion
    // tokens of web, y of code" recipe stated as data, not doc counts.
    // A doc is admitted iff the budget is not exhausted before it, so
    // the last admitted doc may straddle the boundary (standard greedy
    // fill). The cumulative sum partitions by source: domains fill in
    // parallel, and a budget fill is inherently a prefix scan WITHIN a
    // domain — at 100 TB the unit of parallelism is the domain count,
    // and a pathologically huge single domain would pre-aggregate to
    // pack-group subtotals first (the pipeline_shards trick) before the
    // per-group fill.
    "corpus_mix_domain_quota" -> ((s, dir) => {
      val budget = 800L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      docWords(s, dir)
        .select(col("source"), col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"))
        .withColumn("hk", md5(col("doc_id").cast("string")))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") - col("n_tokens") < budget)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum"))
    }),

    // weight-proportional deterministic sampling via PRIORITY SAMPLING
    // (Duffield/Lund/Thorup): each doc gets priority w/u with u the
    // md5-uniform in (0,1] (computed as w·2⁶⁰/h on exact integers — one
    // multiply, one divide, bit-identical in both engines), each source
    // keeps its k=10 highest priorities through the map-side-bounded
    // BottomKAgg (≤k+1 rows per mapper reach the shuffle — no per-stratum
    // sort of all docs), and the (k+1)-th priority is the threshold τ
    // that makes the sample ESTIMATE subset sums: ŵ = max(w, τ) for
    // included docs is unbiased. The length-weighted doc sample a
    // token-budgeted corpus audit draws.
    "sample_weighted_priority" -> ((s, dir) => {
      import s.implicits._
      val M = 1152921504606846976L // 2^60, exact in doubles
      val docs = docWords(s, dir).select(col("source"), col("doc_id"),
        length(col("text")).cast("long").as("w"),
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("h"))
        .withColumn("priority",
          col("w").cast("double") * lit(M).cast("double")
            / col("h").cast("double"))
      val agg = new BottomKAgg[ScoredId](11)
      val top = docs
        .select(col("source"), col("priority"), col("doc_id"))
        .map(r => (r.getString(0), ScoredId(r.getDouble(1), r.getLong(2))))
        .groupByKey(_._1).mapValues(_._2)
        .agg(agg.toColumn.name("top")).toDF("source", "top")
      top.select(col("source"),
          when(size(col("top")) > 10,
            element_at(col("top"), 11).getField("cos"))
            .otherwise(lit(0.0)).as("tau"),
          explode(slice(col("top"), 1, 10)).as("sel"))
        .select(col("source"), col("sel.id").as("doc_id"),
          col("sel.cos").as("priority"), col("tau"))
        .join(docs.select(col("doc_id"), col("w")), Seq("doc_id"))
        .select(col("source"), col("doc_id"), col("w"), col("priority"),
          greatest(col("w").cast("double"), col("tau")).as("est_weight"))
    }),

    // deterministic ~25% uniform sample: hash-bucket the key, keep 2 of 8
    // nibble values. Reproducible across runs/engines/cluster sizes —
    // the property `df.sample()` cannot give a training pipeline.
    "sample_uniform" -> ((s, dir) =>
      docWords(s, dir)
        .filter(expr(
          "instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) % 8 < 2"))
        .select(col("doc_id"), col("lang"), col("source"))),

    // deterministic stratified sample: exactly 10 docs per source, chosen
    // by hash rank (uniform within stratum, reproducible).
    "sample_stratified" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
      docWords(s, dir)
        .withColumn("hk", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("source"), col("doc_id"), col("rn"))
    }),

    // context-window chunking: each document exploded into fixed 512-char
    // windows on a 448 stride (64-char overlap so no boundary text is
    // lost to either side). Purely map-side — the explode is proportional
    // to output size and nothing shuffles; downstream consumers join
    // chunks by (doc_id, chunk_start) or dedup on the chunk hash.
    "doc_chunks" -> ((s, dir) =>
      docWords(s, dir)
        // empty docs chunk to nothing — Spark's sequence(1, 0) throws
        // rather than returning empty, so guard like TextCorpus.shingles
        .select(col("doc_id"), col("text"),
          explode(when(length(col("text")) >= 1,
            sequence(lit(1), length(col("text")), lit(448)))
            .otherwise(array().cast("array<int>"))).as("chunk_start"))
        .select(col("doc_id"), col("chunk_start").cast("long").as("chunk_start"),
          length(expr("substring(text, chunk_start, 512)")).cast("long")
            .as("chunk_len"),
          md5(expr("substring(text, chunk_start, 512)")).as("chunk_hash"))),

    // threshold ALL-PAIRS similarity join (Bayardo 2007 / PPJoin prefix
    // filtering) — the EXACT counterpart of the MinHash/SimHash
    // families: every doc pair whose shingle-set cosine clears τ = 4/5,
    // with NO all-pairs join and NO probabilistic miss. Shingles get a
    // global rarity order; each doc indexes only its n − ⌈τ²n⌉ + 1
    // rarest shingles, and the prefix-filter lemma guarantees every
    // qualifying pair collides inside those prefixes — so candidate
    // generation is one self-equi-join of RARE-token postings (the
    // dense vocabulary head never enters the join), then a size filter
    // and an exact overlap verification on the survivors. τ² = 16/25
    // keeps every test in exact integer arithmetic, and the DuckDB
    // oracle computes EVERY overlapping pair brute-force — the compare
    // is therefore an exactness proof that the pruning admits no false
    // negative on real data, not just on the spec's random graphs.
    "text_allpairs_cosine" -> ((s, dir) =>
      graft.api.Text.allPairsCosine(
        graft.ops.TextCorpus.docShingles(s, dir))),

    // incremental maintenance of the exact similarity join: the
    // arriving batch (doc_id % 97 == 0, the house batch rule) unions
    // its PROBE pairs with the parked old×old base result instead of
    // re-running the full join. Per-batch work is ingest-sized on the
    // candidate side: the batch is ranked under the PARKED pre-batch
    // frequency order (the prefix and positional lemmas need only a
    // shared total order, not a recount — unseen shingles default df 0
    // and sort first) and its prefix unions with the PARKED pre-batch
    // prefix table, so nothing re-ranks the corpus; only candidates
    // touching the batch survive, and verification recounts their true
    // overlap against the posting frame. Shares the FULL brute-force
    // oracle: incremental == one-shot, proven per run.
    "text_allpairs_cosine_incremental" -> ((s, dir) => {
      val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
      val batch = col("doc_id") % mod === 0
      val sh = graft.ops.TextCorpus.docShingles(s, dir)
      val batchPrefix = graft.api.Text.allPairsPrefix(
        sh.filter(batch).withColumn("nw", lit(true)),
        graft.ops.DedupMaterialize.allPairsDfBaseTable(s, dir))
      val prefix = graft.ops.DedupMaterialize
        .allPairsPrefixBaseTable(s, dir).unionByName(batchPrefix)
      graft.ops.DedupMaterialize.allPairsBaseTable(s, dir)
        .unionByName(graft.api.Text.allPairsFromPrefix(prefix, sh,
          col("a.nw") || col("b.nw")))
    }),

    // the EXACT dedup ladder end-to-end: exact threshold pairs →
    // connected components → one kept doc per cluster — the
    // no-probabilistic-step counterpart of dedup_keep_one for jobs
    // where an LSH miss is unacceptable (eval-set hygiene,
    // contamination audits). Pairs from the verified prefix-filter
    // join, clusters from the shared large-star/small-star operator,
    // node universe = every document (pairless docs ride as
    // singletons). The recursive-walk oracle recomputes everything
    // brute-force, so the whole ladder is equivalence-proven in one
    // compare.
    "text_allpairs_keep_one" -> ((s, dir) => {
      // pairs from the PARKED all-pairs tier (written by the same
      // allPairsCosine derivation text_allpairs_cosine measures) — the
      // keep-one rollup is a consumer of the similarity-pair table,
      // not a second run of the PPJoin
      val pairs = graft.ops.DedupMaterialize.allPairsTable(s, dir)
      val nodes = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"))
      graft.operators.ConnectedComponents.labels(nodes,
          pairs.select(col("doc_a"), col("doc_b")))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("doc_id"), col("n_members"))
    }),

    // segment-level dedup with REASSEMBLY (the CCNet/RefinedWeb
    // paragraph-dedup stage, on 10-word segments since the fixture docs
    // are single-line): any segment appearing verbatim in ≥2 distinct
    // docs is removed from ALL of them, and each doc is stitched back
    // together from its surviving segments in order. Complements
    // text_dup_windows (which only SCORES duplication, this one edits
    // the corpus). The global frequency join runs on a 40-bit
    // md5-derived bigint (the minhash h1 trick, exactly mirrorable in
    // DuckDB — a deployment would widen to xxhash64), so the shuffle
    // carries (bigint, doc_id); segment TEXT only moves inside the
    // per-doc reassembly agg, whose state is bounded by document
    // length, and the doc ships out as (counts, length, digest) — the
    // cleaned text itself never leaves the executor.
    "text_segment_dedup" -> ((s, dir) => {
      // parked tier: the frequency side reads (seg_h, doc_id), the
      // probe side all four columns — ONE corpus explode per fixture
      val segs = graft.ops.DedupMaterialize.segmentTable(s, dir)
      graft.api.Text.scoreSegments(
        segs, graft.api.Text.keyFrequency(segs, "seg_h"))
    }),

    // incremental maintenance of the segment-dedup output as a batch
    // arrives (Text.maintainByKeyThreshold, the same skeleton as the
    // dup-window scores): only docs holding a segment that just became
    // duplicated — plus the batch — are re-stitched; everything else
    // keeps its parked output row. Shares text_segment_dedup's oracle,
    // so maintained == recomputed is part of the gate.
    "text_segment_dedup_incremental" -> ((s, dir) => {
      import graft.api.Text
      val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
      val batchSel = col("doc_id") % mod === 0
      Text.maintainSegmentDedup(
        oldSegs = graft.ops.DedupMaterialize.segmentTable(s, dir)
          .filter(!batchSel),
        // arriving batch segmented fresh — ingest-sized explode
        batchSegs = Text.wordSegments(
          graft.ops.TextCorpus.words(
            graft.ops.TextCorpus.corpus(s, dir).filter(batchSel)),
          graft.ops.DedupMaterialize.SegmentWidth),
        freqBase = graft.ops.DedupMaterialize.segFreqBaseTable(s, dir),
        scoreBase = graft.ops.DedupMaterialize.segScoreBaseTable(s, dir))
    }),

    // deterministic train/val/test split: 256 hash buckets of the doc id
    // → 80/10/10 assignment that is stable under re-runs, appends, and
    // repartitioning (membership depends only on the id). Purely
    // map-side until the one summary agg — the split itself costs no
    // shuffle at any scale, which is why hash-split (never random()) is
    // the only defensible split at 100 TB.
    "corpus_split" -> ((s, dir) => {
      val hx = "instr('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS STRING)), %d, 1)) - 1"
      val bucket = expr(s"(${hx.format(1)}) * 16 + (${hx.format(2)})")
      docWords(s, dir)
        .withColumn("split",
          when(bucket < 204, "train")
            .when(bucket < 230, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
    }))

  /** DuckDB mirror of the segment-level dedup — shared verbatim by
    * text_segment_dedup and its incremental-maintenance twin. */
  /** Brute force on purpose: EVERY overlapping pair, then the τ
    * filter — matching the prefix-filtered Spark side proves the
    * pruning is exact (no false negatives), not just fast. Shared by
    * the one-shot query and the incremental twin (base ∪ probe must
    * equal the one-shot join over the whole corpus). */
  private val allPairsOvCtes: Seq[String] = Seq(docWordsSql, shinglesSql,
    "sh AS (SELECT DISTINCT doc_id, shingle FROM shingles)",
    """sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
      |  FROM sh GROUP BY doc_id)""".stripMargin,
    """ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS overlap
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin)

  private val allPairsCosineSql: String = withCtes(allPairsOvCtes: _*)(
    """SELECT doc_a, doc_b, overlap, sa.n AS na, sb.n AS nb,
      |  CAST((overlap * overlap * 10000) // (sa.n * sb.n) AS BIGINT)
      |    AS cos_sq_bps
      |FROM ov
      |JOIN sz sa ON sa.doc_id = ov.doc_a
      |JOIN sz sb ON sb.doc_id = ov.doc_b
      |WHERE overlap * overlap * 25 >= sa.n * sb.n * 16""".stripMargin)

  private val segmentDedupSql: String = withCtes(
      graft.ops.TextCorpus.corpusSql, graft.ops.TextCorpus.wordsSql,
      """segs AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |    array_to_string(w[(i * 10 + 1):(i * 10 + 10)], ' ') AS seg,
        |    ('0x' || substr(md5(array_to_string(w[(i * 10 + 1):(i * 10 + 10)], ' ')), 1, 10))::BIGINT AS seg_h
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0,
        |            CAST(ceil(len(w) / 10.0) AS INT) - 1)) AS i
        |        FROM words WHERE len(w) >= 1))""".stripMargin,
      """freq AS (SELECT seg_h, CAST(count(*) AS BIGINT) AS ndocs
        |         FROM (SELECT DISTINCT seg_h, doc_id FROM segs)
        |         GROUP BY seg_h)""".stripMargin,
      """kseg AS (SELECT s.doc_id, s.seg_idx, s.seg, f.ndocs < 2 AS kept
        |         FROM segs s JOIN freq f USING (seg_h))""".stripMargin)(
      """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(length(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
        |    FILTER (WHERE kept), '')) AS BIGINT) AS clean_len,
        |  md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
        |    FILTER (WHERE kept), '')) AS clean_md5
        |FROM kseg GROUP BY doc_id""".stripMargin)

  /** DuckDB mirror of the repeated-window detector — shared verbatim by
    * text_dup_windows and its incremental-maintenance twin, so the
    * driver compare proves maintained == recomputed. */
  private val dupWindowsSql: String = withCtes(
    graft.ops.TextCorpus.corpusSql, graft.ops.TextCorpus.wordsSql,
    """wv AS (
      |  SELECT doc_id,
      |    list_transform(w, x ->
      |      CAST(((instr('0123456789abcdef', substr(md5(x), 1, 1)) - 1) * 16
      |        + instr('0123456789abcdef', substr(md5(x), 2, 1)) - 1)
      |        AS BIGINT)) AS vals
      |  FROM words WHERE len(w) >= 8)""".stripMargin,
    """wfp AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(vals) - 7), p ->
      |      CAST(list_sum(list_transform(generate_series(0, 7), j ->
      |        vals[p + j]
      |        * ([1, 31, 961, 29791, 923521, 28629151, 887503681,
      |            27512614111])[j + 1])) AS BIGINT)
      |      % 1000000007)) AS fp
      |  FROM wv)""".stripMargin,
    """gdf AS (SELECT fp, CAST(count(*) AS BIGINT) AS gdf
      |        FROM (SELECT DISTINCT doc_id, fp FROM wfp) GROUP BY fp)""".stripMargin)(
    """SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(sum(CASE WHEN g.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_windows,
      |  CAST(sum(CASE WHEN g.gdf >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS dup_ratio
      |FROM wfp w JOIN gdf g USING (fp)
      |GROUP BY w.doc_id""".stripMargin)

  /** Full KMV mirror: same 60-bit md5-derived hashes, same bottom-64
    * sketches (window form — the oracle need not be scale-shaped), same
    * array arithmetic; 2^60 is a power of two so the union_est constant
    * is exact in both engines' doubles. Shared by corpus_overlap_kmv
    * and its incremental sketch-merge twin. */
  private val kmvOracleSql: String = withCtes(docWordsSql,
    """sh AS (
      |  SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM (SELECT source, w,
      |          unnest(range(1, greatest(len(w) - 1, 1))) AS i
      |        FROM words))""".stripMargin,
    """dh AS (SELECT DISTINCT source,
      |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh)""".stripMargin,
    """skt AS (SELECT source, h,
      |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM dh)""".stripMargin,
    """sk AS (SELECT source, list(h ORDER BY h) AS sk
      |       FROM skt WHERE rn <= 64 GROUP BY source)""".stripMargin,
    """pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b, a.sk AS sa, b.sk AS sb,
      |         (list_sort(list_distinct(a.sk || b.sk)))[1:64] AS u
      |  FROM sk a JOIN sk b ON a.source < b.source)""".stripMargin,
    """est AS (
      |  SELECT src_a, src_b, CAST(len(u) AS BIGINT) AS n_sketch,
      |    CAST(len(list_intersect(list_intersect(u, sa), sb)) AS BIGINT)
      |      AS n_both,
      |    u[-1] AS v
      |  FROM pr)""".stripMargin,
    "cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM dh GROUP BY source)",
    """intr AS (
      |  SELECT x.source AS src_a, y.source AS src_b,
      |         CAST(count(*) AS BIGINT) AS n_inter
      |  FROM dh x JOIN dh y ON x.h = y.h AND x.source < y.source
      |  GROUP BY 1, 2)""".stripMargin)(
    """SELECT e.src_a, e.src_b, e.n_sketch, e.n_both,
      |  CAST(e.n_both AS DOUBLE) / e.n_sketch AS j_est,
      |  CAST(e.n_sketch - 1 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
      |    / CAST(e.v AS DOUBLE) AS union_est,
      |  CAST(coalesce(i.n_inter, 0) AS DOUBLE)
      |    / (ca.n + cb.n - coalesce(i.n_inter, 0)) AS j_exact
      |FROM est e
      |JOIN cnt ca ON ca.source = e.src_a
      |JOIN cnt cb ON cb.source = e.src_b
      |LEFT JOIN intr i ON i.src_a = e.src_a AND i.src_b = e.src_b""".stripMargin)

  val oracles: Map[String, String] = Map(
    "text_langid" -> langidOracle(hitsSql),

    "text_langid_confusion" -> withCtes(docWordsSql)(
      s"""SELECT lang, $predLangCase AS pred_lang,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM ${langHitsSql(hitsSql)}
         |GROUP BY 1, 2""".stripMargin),

    "text_langid_ngram" -> langidOracle(graft.api.Text.gramHits),

    "text_quality" -> withCtes(docWordsSql)(
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${graft.api.Text.avgWordLenSql} AS avg_word_len,
         |  CAST(${hitsSql("en")} AS DOUBLE) / len(w) AS stopword_ratio,
         |  CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_periods
         |FROM words""".stripMargin),

    "token_count" -> tokenCountOracle,
    // same oracle body: the JSONL round-trip must be invisible
    "token_count_jsonl" -> tokenCountOracle,
    // and again through gzip: the codec must be invisible too
    "token_count_jsonl_gz" -> tokenCountOracle,

    // round-unrolled BPE mirror (the kmeansRoundCtes pattern): each
    // round's pair-count / top-pair / island-parity merge is one CTE
    // block from bpeRoundCtes; the body unions the 4 learned merges
    "bpe_merges" -> withCtes(bpeTrainCtes: _*)(
      (0 until 4).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, sa AS sym_a, sb AS sym_b, n AS n_count FROM tp$r")
        .mkString("\nUNION ALL\n")),

    // full KMV mirror: same 60-bit md5-derived hashes, same bottom-64
    // sketches (window form — the oracle need not be scale-shaped),
    // same array arithmetic; 2^60 is a power of two so the union_est
    // constant is exact in both engines' doubles
    // encoded-dictionary mirror: the same unrolled merge rounds, then
    // per-word symbol counts joined back to the document words
    "bpe_encode" -> withCtes((bpeTrainCtes ++ Seq(
      """enclen AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym
        |           FROM s4 GROUP BY word)""".stripMargin,
      """dwx AS (SELECT doc_id, unnest(w) AS word FROM words)""")): _*)(
      """SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(e.n_sym) AS BIGINT) AS n_symbols,
        |  CAST(sum(length(d.word)) AS BIGINT) AS n_chars
        |FROM dwx d JOIN enclen e USING (word)
        |WHERE length(d.word) >= 1
        |GROUP BY d.doc_id""".stripMargin),

    "corpus_overlap_kmv" -> kmvOracleSql,

    // the incremental sketch-merge must equal the full recompute —
    // one oracle for both
    "corpus_overlap_kmv_incremental" -> kmvOracleSql,

    // the oracle is the EXACT heavy-hitter query the sketch+verify
    // pipeline must reproduce: same tokenization, same strict
    // freq·(k+1) > N threshold on exact integers
    "text_heavy_hitters" -> withCtes(docWordsSql,
      """toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |         x -> x != '')) AS token
        |  FROM words)""".stripMargin,
      "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks)")(
      """SELECT token, CAST(count(*) AS BIGINT) AS freq,
        |  (SELECT n_total FROM tot) AS n_total
        |FROM toks GROUP BY token
        |HAVING count(*) * 41 > (SELECT n_total FROM tot)""".stripMargin),

    "token_count_regex" -> withCtes(docWordsSql)(
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |       x -> x != '')) AS BIGINT) AS n_regex_tokens,
        |  CAST(len(w) AS BIGINT) AS n_ws_tokens
        |FROM words""".stripMargin),

    "text_tfidf_topk" -> withCtes(docWordsSql,
      """toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |           x -> x != '')) AS token
        |  FROM words)""".stripMargin,
      """tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks GROUP BY doc_id, token)""".stripMargin,
      """dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
        |        FROM tf GROUP BY token)""".stripMargin)(
      """SELECT doc_id, rk, token, tf, doc_freq, tfidf FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfq.doc_freq,
        |    CAST(tf.tf AS DOUBLE) / dfq.doc_freq
        |      * (SELECT count(*) FROM words) AS tfidf,
        |    CAST(row_number() OVER (
        |      PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / dfq.doc_freq
        |                 * (SELECT count(*) FROM words) DESC,
        |               tf.token) AS BIGINT) AS rk
        |  FROM tf JOIN dfq USING (token))
        |WHERE rk <= 5""".stripMargin),

    "text_repetition" -> withCtes(docWordsSql,
      """wc AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(w) AS word FROM words)
        |  GROUP BY doc_id, word)""".stripMargin)(
      """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |  CAST(count(*) AS BIGINT) AS n_distinct_words,
        |  CAST(max(c) AS BIGINT) AS max_word_count,
        |  1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
        |    AS repetition_ratio
        |FROM wc GROUP BY doc_id""".stripMargin),

    "text_decontaminate" -> withCtes(
      Seq(docWordsSql, shinglesSql) ++ deconCtes: _*)(
      """SELECT w.doc_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  coalesce(ov.n_overlap, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM words WHERE doc_id % 100 != 0) w
        |LEFT JOIN ov USING (doc_id)""".stripMargin),

    "pipeline_corpus" -> withRecursiveCtes(
      Seq(docWordsSql, shinglesSql) ++ DedupQueries.sigBandCtes ++ Seq(
        DedupQueries.pairsSqlCte,
        "nodes AS (SELECT doc_id AS node FROM words)",
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs)",
        ccWalkCte("nodes", "edges"),
        "cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node)",
        """sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
          |          FROM cc GROUP BY component)""".stripMargin) ++
      deconCtes ++ Seq(
        """elig AS (
          |  SELECT c.node AS doc_id, c.component,
          |         CAST(len(w.w) AS BIGINT) AS n_tokens
          |  FROM cc c
          |  JOIN words w ON w.doc_id = c.node
          |  LEFT JOIN ov ON ov.doc_id = c.node
          |  WHERE c.node % 100 != 0
          |    AND coalesce(ov.n_overlap, 0) < 1
          |    AND len(w.w) >= 5)""".stripMargin,
        """keep AS (SELECT component, min(doc_id) AS doc_id
          |         FROM elig GROUP BY component)""".stripMargin): _*)(
      """SELECT e.doc_id, e.n_tokens, s.n_members
        |FROM keep k
        |JOIN elig e ON e.component = k.component AND e.doc_id = k.doc_id
        |JOIN sizes s ON s.component = e.component""".stripMargin),

    "pipeline_shards" -> withCtes(docWordsSql)(
      """SELECT doc_id, n_tokens, pack_group,
        |  CAST(pack_group * 1000 +
        |       floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard_id
        |FROM (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(floor(doc_id / 100.0) AS BIGINT) AS pack_group,
        |    CAST(sum(len(w)) OVER (
        |      PARTITION BY CAST(floor(doc_id / 100.0) AS BIGINT)
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM words)""".stripMargin),

    // the serial global cumsum IS the oracle: DuckDB runs it as one
    // ordered window, Spark reproduces it with the two-phase scan
    // serial mirror of the distributed chunker: one ordered cumsum
    // window + a per-doc range explode over the overlapped sequences
    "pack_sequences" -> withCtes(docWordsSql,
      s"""o AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS nt,
         |  CAST(coalesce(sum(len(w)) OVER (
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS st
         |FROM words)""".stripMargin,
      s"""x AS (SELECT doc_id, nt, st, st + nt AS en,
         |  unnest(range(st // $SeqPackLen,
         |               (st + nt - 1) // $SeqPackLen + 1)) AS seq_id
         |FROM o WHERE nt > 0)""".stripMargin)(
      s"""SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
         |  CAST(greatest(st, seq_id * $SeqPackLen) - seq_id * $SeqPackLen
         |    AS BIGINT) AS begin_in_seq,
         |  CAST(least(en, (seq_id + 1) * $SeqPackLen)
         |    - greatest(st, seq_id * $SeqPackLen) AS BIGINT) AS n_toks,
         |  CAST(greatest(st, seq_id * $SeqPackLen) - st AS BIGINT)
         |    AS begin_in_doc
         |FROM x""".stripMargin),

    "pipeline_shards_global" -> withCtes(docWordsSql)(
      """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(len(w)) OVER (
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS stream_offset,
        |  CAST(floor(coalesce(sum(len(w)) OVER (
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 2000.0) AS BIGINT) AS shard_id
        |FROM words""".stripMargin),

    // the serial rank IS the oracle: one ordered window in DuckDB,
    // reproduced distributed by the two-phase rank
    "corpus_shuffle" -> withCtes(docWordsSql)(
      """SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT
        |    AS shuffle_key,
        |  CAST(row_number() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT,
        |    doc_id) AS BIGINT) AS pos,
        |  CAST(floor((row_number() OVER (ORDER BY
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT,
        |    doc_id) - 1) / 100.0) AS BIGINT) AS shuffle_shard
        |FROM words""".stripMargin),

    // the serial short-to-long rank as one ordered window
    "corpus_curriculum" -> withCtes(docWordsSql)(
      """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(row_number() OVER (ORDER BY len(w),
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT,
        |    doc_id) AS BIGINT) AS pos,
        |  CAST(floor((row_number() OVER (ORDER BY len(w),
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT,
        |    doc_id) - 1) / 100.0) AS BIGINT) AS curriculum_shard
        |FROM words""".stripMargin),

    // both sides recomputed from the corpus: the batch docs' offsets
    // must equal (total pre-batch tokens) + the within-batch cumsum —
    // i.e. parked-manifest append == serial repack, per doc
    "pipeline_shards_incremental" -> withCtes(docWordsSql,
      s"""base AS (
         |  SELECT CAST(coalesce(sum(len(w)), 0) AS BIGINT) AS t
         |  FROM words
         |  WHERE doc_id % ${graft.ops.DedupMaterialize.IncrementalBatchMod} != 0)""".stripMargin)(
      s"""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(base.t + coalesce(sum(len(w)) OVER (
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS stream_offset,
         |  CAST(floor((base.t + coalesce(sum(len(w)) OVER (
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         |    / 2000.0) AS BIGINT) AS shard_id
         |FROM words, base
         |WHERE doc_id % ${graft.ops.DedupMaterialize.IncrementalBatchMod} = 0""".stripMargin),

    "text_quality_filter" -> withCtes(docWordsSql)(
      s"""SELECT doc_id, source, avg_word_len, pr FROM (
         |  SELECT doc_id, source,
         |    ${graft.api.Text.avgWordLenSql} AS avg_word_len,
         |    percent_rank() OVER (PARTITION BY source
         |      ORDER BY ${graft.api.Text.avgWordLenSql}, doc_id) AS pr
         |  FROM words)
         |WHERE pr >= 0.5""".stripMargin),

    "text_dup_windows" -> dupWindowsSql,

    // the incremental form must equal a full recompute — ONE oracle
    "text_dup_windows_incremental" -> dupWindowsSql,

    // brute force on purpose: EVERY overlapping pair, then the τ
    // filter — matching the prefix-filtered Spark side proves the
    // pruning is exact (no false negatives), not just fast
    "text_allpairs_cosine" -> allPairsCosineSql,

    // the SAME full brute-force statement: parked base ∪ batch probe
    // must equal the one-shot join over the whole corpus
    "text_allpairs_cosine_incremental" -> allPairsCosineSql,

    // brute-force pairs → recursive min-label walk → per-cluster count:
    // the whole exact ladder restated from scratch
    "text_allpairs_keep_one" -> withRecursiveCtes(allPairsOvCtes ++ Seq(
      """apedges AS (SELECT ov.doc_a AS a, ov.doc_b AS b
        |  FROM ov
        |  JOIN sz sa ON sa.doc_id = ov.doc_a
        |  JOIN sz sb ON sb.doc_id = ov.doc_b
        |  WHERE overlap * overlap * 25 >= sa.n * sb.n * 16)""".stripMargin,
      """apnodes AS (SELECT CAST(doc_id AS BIGINT) AS node
        |  FROM documents)""".stripMargin,
      ccWalkCte("apnodes", "apedges"),
      """apcc AS (SELECT node, min(comp) AS component
        |  FROM walk GROUP BY node)""".stripMargin): _*)(
      """SELECT CAST(component AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM apcc GROUP BY component""".stripMargin),

    "text_segment_dedup" -> segmentDedupSql,

    // the incremental form must equal a full recompute — ONE oracle
    "text_segment_dedup_incremental" -> segmentDedupSql,

    "inverted_index" -> withCtes(docWordsSql,
      """dtoks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |           x -> x != '')) AS token
        |  FROM words)""".stripMargin)(
      """SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    FILTER (WHERE rn <= 20) AS postings_head
        |FROM (SELECT token, doc_id,
        |        row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
        |      FROM dtoks)
        |GROUP BY token""".stripMargin),

    "pii_redact" -> withCtes(docWordsSql)(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|value|key)\b')) AS BIGINT)
        |    AS n_redactions,
        |  CAST(length(regexp_replace(text, '\b(customer|value|key)\b', '<PII>', 'g'))
        |    AS BIGINT) AS redacted_len,
        |  md5(regexp_replace(text, '\b(customer|value|key)\b', '<PII>', 'g'))
        |    AS redacted_md5
        |FROM words""".stripMargin),

    "ngram_bigrams" -> withCtes(docWordsSql)(
      """SELECT bigram, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i + 1])) AS bigram
        |      FROM words WHERE len(w) >= 2)
        |GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin),

    // identical two-step floored lift; DuckDB's // mirrors Spark's div.
    "text_collocations" -> withCtes(docWordsSql,
      """uni AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT unnest(w) AS word FROM words) GROUP BY word)""".stripMargin,
      """tot AS (SELECT CAST(sum(f) AS BIGINT) AS n_words FROM uni)""",
      """bi AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS n_pair,
        |    str_split(bigram, ' ')[1] AS wa, str_split(bigram, ' ')[2] AS wb
        |  FROM (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i + 1])) AS bigram
        |        FROM words WHERE len(w) >= 2)
        |  GROUP BY bigram HAVING count(*) >= 5)""".stripMargin)(
      """SELECT bi.bigram, bi.n_pair, ua.f AS n_a, ub.f AS n_b,
        |  ((bi.n_pair * 1048576) // ua.f) * tot.n_words // ub.f AS score
        |FROM bi JOIN uni ua ON ua.word = bi.wa
        |        JOIN uni ub ON ub.word = bi.wb, tot
        |ORDER BY score DESC, bi.bigram LIMIT 50""".stripMargin),

    "text_lm_score" -> withCtes(docWordsSql,
      """bi AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i + 1])) AS bigram
        |  FROM words WHERE len(w) >= 2)""".stripMargin,
      """vocab AS (
        |  SELECT bigram FROM (
        |    SELECT bigram, count(*) AS n FROM bi GROUP BY bigram
        |    ORDER BY n DESC, bigram LIMIT 200))""".stripMargin)(
      """SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(count(v.bigram) AS BIGINT) AS n_hits,
        |  CAST(count(v.bigram) AS DOUBLE) / count(*) AS lm_score
        |FROM bi b LEFT JOIN vocab v USING (bigram)
        |GROUP BY b.doc_id""".stripMargin),

    "text_classifier_score" -> withCtes(docWordsSql,
      """feats AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(word), 1, 10))::BIGINT % 4096 AS bucket
        |  FROM (SELECT doc_id, unnest(w) AS word FROM words))""".stripMargin,
      """wt AS (
        |  SELECT i AS bucket, (i * 2654435761) % 1997 - 998 AS wt
        |  FROM (SELECT unnest(range(0, 4096)) AS i))""".stripMargin)(
      """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |  CAST(sum(wt) AS BIGINT) AS score, sum(wt) > 0 AS label
        |FROM feats JOIN wt USING (bucket)
        |GROUP BY doc_id""".stripMargin),

    // the perceptron epochs unrolled as CTEs: epoch 1 from zero weights
    // misclassifies everything, epochs 2-3 score against the previous
    // weight vector — all integer arithmetic, so the chain is exact
    "text_classifier_train" -> withCtes(docWordsSql,
      """feats AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    ('0x' || substr(md5(word), 1, 10))::BIGINT % 64 AS bucket
        |  FROM (SELECT doc_id, lang, unnest(w) AS word FROM words))""".stripMargin,
      """u1 AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS d
        |       FROM feats GROUP BY bucket)""".stripMargin,
      """w1 AS (SELECT i AS bucket, COALESCE(d, 0) AS wt
        |       FROM (SELECT unnest(range(0, 64)) AS i) r
        |       LEFT JOIN u1 ON r.i = u1.bucket)""".stripMargin,
      """s2 AS (SELECT f.doc_id, f.y, sum(w1.wt) AS score
        |       FROM feats f JOIN w1 USING (bucket)
        |       GROUP BY f.doc_id, f.y)""".stripMargin,
      """u2 AS (SELECT f.bucket, CAST(sum(f.y) AS BIGINT) AS d
        |       FROM feats f JOIN s2 ON f.doc_id = s2.doc_id
        |         AND s2.y * s2.score <= 0
        |       GROUP BY f.bucket)""".stripMargin,
      """w2 AS (SELECT w1.bucket, w1.wt + COALESCE(u2.d, 0) AS wt
        |       FROM w1 LEFT JOIN u2 USING (bucket))""".stripMargin,
      """s3 AS (SELECT f.doc_id, f.y, sum(w2.wt) AS score
        |       FROM feats f JOIN w2 USING (bucket)
        |       GROUP BY f.doc_id, f.y)""".stripMargin,
      """u3 AS (SELECT f.bucket, CAST(sum(f.y) AS BIGINT) AS d
        |       FROM feats f JOIN s3 ON f.doc_id = s3.doc_id
        |         AND s3.y * s3.score <= 0
        |       GROUP BY f.bucket)""".stripMargin,
      """w3 AS (SELECT w2.bucket, w2.wt + COALESCE(u3.d, 0) AS wt
        |       FROM w2 LEFT JOIN u3 USING (bucket))""".stripMargin,
      """nd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM feats GROUP BY bucket)""".stripMargin,
      """s4 AS (SELECT f.doc_id, f.y, sum(w3.wt) AS score
        |       FROM feats f JOIN w3 USING (bucket)
        |       GROUP BY f.doc_id, f.y)""".stripMargin,
      """fe AS (SELECT CAST(count(*) AS BIGINT) AS final_errors
        |       FROM s4 WHERE y * score <= 0)""".stripMargin)(
      """SELECT w3.bucket, CAST(w3.wt AS BIGINT) AS wt,
        |  COALESCE(nd.n_docs, 0) AS n_docs, fe.final_errors
        |FROM w3 LEFT JOIN nd USING (bucket) CROSS JOIN fe""".stripMargin),

    "corpus_mix" -> withCtes(docWordsSql,
      """cnt AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT) * 4) AS quota
        |  FROM words GROUP BY source)""".stripMargin,
      hashRankCte("rk"))(
      """SELECT r.source, r.doc_id, r.rn, CAST(c.quota AS BIGINT) AS quota
        |FROM rk r JOIN cnt c USING (source)
        |WHERE r.rn <= c.quota""".stripMargin),

    // same hash-rank selection, budget-proportional integer quotas
    "corpus_mix_temperature" -> withCtes(docWordsSql,
      """wts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(floor(sqrt(count(*))) AS BIGINT) AS wt
        |  FROM words GROUP BY source)""".stripMargin,
      "tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw FROM wts)",
      """tq AS (
        |  SELECT source, n_docs,
        |    greatest(1, (200 * wt) // tw) AS quota
        |  FROM wts, tot)""".stripMargin,
      hashRankCte("trk"))(
      """SELECT r.source, r.doc_id, r.rn, CAST(c.quota AS BIGINT) AS quota
        |FROM trk r JOIN tq c USING (source)
        |WHERE r.rn <= c.quota""".stripMargin),

    "source_quality_profile" -> withCtes(docWordsSql,
      s"""q AS (
         |  SELECT doc_id, source,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(length(text) AS BIGINT) AS n_chars_calc,
         |    ${graft.api.Text.avgWordLenSql} AS avg_word_len,
         |    CAST(${hitsSql("en")} AS DOUBLE) / len(w) AS stopword_ratio
         |  FROM words)""".stripMargin)(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(sum(n_chars_calc) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN n_words >= 5 AND avg_word_len <= 12.0
        |                     AND stopword_ratio >= 0.01
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN n_words >= 5 AND avg_word_len <= 12.0
        |                     AND stopword_ratio >= 0.01
        |           THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pass_rate,
        |  CAST(sum(n_words) AS DOUBLE) / count(*) AS avg_doc_words
        |FROM q GROUP BY source""".stripMargin),

    "corpus_mix_domain_quota" -> withCtes(docWordsSql,
      """toks AS (
        |  SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk
        |  FROM words)""".stripMargin,
      """fill AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY hk, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM toks)""".stripMargin)(
      """SELECT source, doc_id, n_tokens, cum
        |FROM fill WHERE cum - n_tokens < 800""".stripMargin),

    // full priority-sampling mirror: identical w·2⁶⁰/h priorities
    // (2^60 exact in doubles), same (priority desc, doc_id) order, same
    // (k+1)-th-priority threshold and max(w, τ) estimator
    "sample_weighted_priority" -> withCtes(docWordsSql,
      """pdocs AS (
        |  SELECT source, doc_id, CAST(length(text) AS BIGINT) AS w,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM words)""".stripMargin,
      """ppri AS (
        |  SELECT *, CAST(w AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |              / CAST(h AS DOUBLE) AS priority
        |  FROM pdocs)""".stripMargin,
      """prk AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY source ORDER BY priority DESC, doc_id) AS rn
        |  FROM ppri)""".stripMargin,
      """ptau AS (
        |  SELECT source,
        |    coalesce(max(CASE WHEN rn = 11 THEN priority END), 0.0) AS tau
        |  FROM prk GROUP BY source)""".stripMargin)(
      """SELECT r.source, r.doc_id, r.w, r.priority,
        |  greatest(CAST(r.w AS DOUBLE), t.tau) AS est_weight
        |FROM prk r JOIN ptau t USING (source) WHERE r.rn <= 10""".stripMargin),

    "sample_uniform" -> withCtes(docWordsSql)(
      """SELECT doc_id, lang, source FROM words
        |WHERE instr('0123456789abcdef',
        |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 8 < 2""".stripMargin),

    "sample_stratified" -> withCtes(docWordsSql)(
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM words)
        |WHERE rn <= 10""".stripMargin),

    "doc_chunks" -> withCtes(docWordsSql)(
      """SELECT doc_id, CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(length(substr(text, CAST(chunk_start AS INT), 512)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(chunk_start AS INT), 512)) AS chunk_hash
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, length(text), 448)) AS chunk_start
        |      FROM words)""".stripMargin),

    "corpus_split" -> withCtes(docWordsSql)(
      """SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM (
        |  SELECT source, text,
        |    CASE WHEN b < 204 THEN 'train'
        |         WHEN b < 230 THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT source, text,
        |      (instr('0123456789abcdef',
        |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |      + instr('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS b
        |    FROM words))
        |GROUP BY source, split""".stripMargin),

    "doc_fingerprint" -> withCtes(docWordsSql)(
      """SELECT doc_id,
        |  CAST(sum(CAST(((instr('0123456789abcdef', substr(md5(word), 1, 1)) - 1) * 16
        |    + instr('0123456789abcdef', substr(md5(word), 2, 1)) - 1)
        |    * (CASE CAST(i % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 31
        |            WHEN 2 THEN 961 ELSE 29791 END) AS BIGINT))
        |    % 1000000007 AS BIGINT) AS fingerprint
        |FROM (SELECT doc_id, unnest(w) AS word,
        |        generate_subscripts(w, 1) AS i
        |      FROM words)
        |GROUP BY doc_id""".stripMargin))
}
