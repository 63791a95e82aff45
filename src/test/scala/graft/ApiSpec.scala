package graft

import org.apache.spark.sql.functions._

import graft.api.{Dedup, Similarity, Text}
import graft.ops.TextCorpus

/** The frame-based library API works on arbitrary user frames (not just
  * the fixture-derived corpus). */
class ApiSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat on the mat"),   // exact dup of 1
    (3L, "a dog barked at the mailman today loudly")).toDF("doc_id", "text")

  test("Dedup.exact finds the duplicate pair") {
    val groups = Dedup.exact(docs)
    assert(groups.count() === 2)
    assert(groups.filter(col("n_copies") === 2)
      .select("canonical_id").as[Long].head() === 1L)
  }

  test("MinHash → bands → pairs → jaccard pipeline on user frames") {
    val sh = TextCorpus.shingles(TextCorpus.words(docs))
    val pairs = Dedup.candidatePairs(Dedup.lshBands(Dedup.minhashSignatures(sh)))
    val verified = Dedup.jaccardVerify(sh, pairs)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(verified.toSeq === Seq((2L, 1L, 4L, 4L, 1.0)) ||
      verified.toSeq === Seq((1L, 2L, 4L, 4L, 1.0)))
  }

  test("Similarity.cosTopK on a user embedding frame") {
    val raw = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.1f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = Similarity.quantize(raw)
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("query_id", "neighbor_id")
    val top = Similarity.cosTopK(e, pairs, 1)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(top === Seq(1L)) // the near-parallel vector wins
  }

  test("Similarity PQ codes + ADC ranking match hand-computed distances") {
    // 4-dim vectors, 2 subspaces × 2 components, codebooks = vectors 0/1
    val raw = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),   // near vec 0 → codes (0, 0)
      (3L, Seq(0.0f, 0.9f, 0.1f, 0.9f)))   // near vec 1 → codes (1, 1)
      .toDF("vec_id", "embedding")
    val e = Similarity.quantize(raw)
    val cents = Similarity.pqCentroids(e, k = 2, m = 2, subDim = 2)
    val codes = Similarity.pqCodes(e, cents, m = 2, subDim = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(codes === Set((0L, 0, 0L), (0L, 1, 0L), (1L, 0, 1L), (1L, 1, 1L),
      (2L, 0, 0L), (2L, 1, 0L), (3L, 0, 1L), (3L, 1, 1L)))
    // query = vec 0: lut m0 = (c0→0, c1→2e6), m1 = (c0→0, c1→1e6);
    // ADC: vec2 = 0, vec1 = vec3 = 3e6 (tie broken by neighbor_id)
    val top = Similarity.pqAdcTopK(e, cents, col("vec_id") === 0,
        k = 3, m = 2, subDim = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(top === Seq((0L, 2L, 1L, 0L), (0L, 1L, 2L, 3000000L),
      (0L, 3L, 3L, 3000000L)))
  }

  test("Similarity.ivfPqShortlist: shortlist ⊆ IVF candidates, " +
      "budget-bounded, ADC-ordered") {
    // 8 vectors in 2 clear clusters (dims 1-2 vs 3-4); 2 IVF lists
    // seeded from vectors 0/1 (one per cluster), PQ codebooks from the
    // same pair. A query probing 1 list must shortlist only own-cluster
    // vectors; budget 2 cuts the 3 candidates to the 2 ADC-nearest.
    val raw = Seq(
      (0L, Seq(1.0f, 0.9f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 1.0f, 0.9f)),
      (2L, Seq(0.9f, 1.0f, 0.0f, 0.1f)),
      (3L, Seq(0.1f, 0.0f, 0.9f, 1.0f)),
      (4L, Seq(1.0f, 1.0f, 0.1f, 0.0f)),
      (5L, Seq(0.0f, 0.1f, 1.0f, 1.0f)),
      (6L, Seq(0.8f, 0.8f, 0.0f, 0.0f)),
      (7L, Seq(0.0f, 0.0f, 0.8f, 0.8f))).toDF("vec_id", "embedding")
    val e = Similarity.quantize(raw)
    val ivfCents = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cent_id"), col("q").as("cq"),
        col("n2").as("cn2"))
    val pqCents = Similarity.pqCentroids(e, k = 2, m = 2, subDim = 2)
    val isQuery = col("vec_id") === 0
    val short = Similarity.ivfPqShortlist(e, ivfCents, pqCents,
        isQuery, shortlist = 2, m = 2, subDim = 2, probes = 1)
      .as[(Long, Long)].collect().toSet
    val cand = Similarity.ivfCandidates(e, ivfCents, isQuery, probes = 1)
      .as[(Long, Long)].collect().toSet
    assert(short.subsetOf(cand), "shortlist must come from probed lists")
    assert(short.size === 2, "shortlist respects the fixed budget")
    // own-cluster only: every shortlisted neighbor is an even id
    // (cluster of vector 0)
    assert(short.forall { case (q, n) => q === 0L && n % 2 === 0L })
  }

  test("Text.quality and langId run on user doc frames") {
    val dw = docs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("w", split(col("text"), " "))
    assert(Text.quality(dw).count() === 3)
    val pred = Text.langId(dw).filter(col("doc_id") === 1)
      .select("pred_lang").as[String].head()
    assert(pred === "en")
  }

  test("Text.decontaminate flags shared-shingle docs against a benchmark") {
    val sh = TextCorpus.shingles(TextCorpus.words(docs))
    // doc 3 plays the benchmark; docs 1 and 2 share its shingles iff
    // their text matches (the fixture's 1 and 2 are identical, 3 isn't)
    val flagged = Text.decontaminate(
      sh.filter(col("doc_id") =!= 3), sh.filter(col("doc_id") === 3),
      docs.filter(col("doc_id") =!= 3).select("doc_id"))
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(flagged.map(t => t._1 -> t._3).toMap === Map(1L -> false, 2L -> false))
    // against itself as benchmark, everything with shingles is flagged
    val self = Text.decontaminate(sh, sh, docs.select("doc_id"))
    assert(self.filter(col("contaminated")).count() ===
      sh.select("doc_id").distinct().count())
  }

  test("maintainDupWindows re-scores exactly the threshold-crossing docs") {
    import spark.implicits._
    import graft.api.Text
    // old corpus: doc 1 holds fps {10, 11}, doc 2 holds {11, 12};
    // fp 11 is already duplicated (gdf 2), fps 10/12 are unique
    val oldWfp = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
      .toDF("doc_id", "fp")
    val gdfBase = Text.windowFpFrequency(oldWfp)
    val scoreBase = Text.scoreWindowFps(oldWfp, gdfBase)
    // arriving doc 100 re-uses fp 10 → 10 CROSSES 1→2, so doc 1 must be
    // re-scored; doc 2 holds no crossing fp and must keep its base row
    val batchWfp = Seq((100L, 10L), (100L, 99L)).toDF("doc_id", "fp")
    val maintained = Text.maintainDupWindows(
      oldWfp, batchWfp, gdfBase, scoreBase)
    val full = Text.scoreWindowFps(oldWfp.unionByName(batchWfp),
      Text.windowFpFrequency(oldWfp.unionByName(batchWfp)))
    assert(maintained.count() === full.count())
    assert(maintained.exceptAll(full).count() === 0)
    // and the expected content, spelled out: doc 1 now fully duplicated
    val m = maintained
      .select("doc_id", "n_windows", "n_dup_windows")
      .as[(Long, Long, Long)].collect().toSet
    assert(m === Set((1L, 2L, 2L), (2L, 2L, 1L), (100L, 2L, 1L)))
  }

  test("probePairs caps bucket occupancy over the tier ∪ batch union") {
    import spark.implicits._
    // three tier docs share band key "hot"; cap 2 must drop the bucket
    // BEFORE the probe join, so the new doc finds nothing there but
    // still matches the under-cap bucket "cold" (union occupancy 1+1=2)
    val tier = Seq((1L, "hot", "x1"), (2L, "hot", "x2"), (3L, "hot", "x3"),
      (4L, "y4", "cold")).toDF("doc_id", "band0", "band1")
    val probe = Seq((100L, "hot", "cold")).toDF("doc_id", "band0", "band1")
    val capped = graft.api.Dedup.probePairs(probe, tier, maxBucket = Some(2))
      .as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 4L)),
      s"hot bucket must be dropped, cold kept: $capped")
    val uncapped = graft.api.Dedup.probePairs(probe, tier)
      .as[(Long, Long)].collect().toSet
    assert(uncapped === Set((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L)))
    // a bucket that crosses the cap only once BATCH docs are counted
    // ("cold" = 1 tier + 2 batch = 3 > 2) must be dropped too — that is
    // what makes capped incremental the exact new×old subset of a
    // capped candidatePairs over the unioned corpus
    val probe2 = Seq((100L, "hot", "cold"), (101L, "zz", "cold"))
      .toDF("doc_id", "band0", "band1")
    val capped2 = graft.api.Dedup.probePairs(probe2, tier, maxBucket = Some(2))
      .as[(Long, Long)].collect().toSet
    assert(capped2 === Set.empty[(Long, Long)],
      s"batch-inflated cold bucket must be dropped: $capped2")
  }

  test("FreqSketchAgg: heavy hitters survive the bounded summary") {
    // skewed stream: 'hot' 400×, 'warm' 120×, and a 200-token long tail
    // (2 each) — with k=8 counters the guarantee threshold is
    // N/(k+1) = 920/9 ≈ 102, so hot and warm MUST be in the summary no
    // matter how Spark orders the merges, and the summary never holds
    // more than k counters.
    val rows =
      Seq.fill(400)("hot") ++ Seq.fill(120)("warm") ++
        (0 until 200).flatMap(i => Seq(s"tail$i", s"tail$i"))
    val toks = spark.sparkContext.parallelize(rows, 16).toDF("token")
    val agg = new graft.functions.FreqSketchAgg(8)
    val summary = toks.as[String].groupByKey(_ => true).mapValues(identity)
      .agg(agg.toColumn.name("m")).collect().head._2
    assert(summary.size <= 8, s"summary exceeded k: $summary")
    assert(summary.contains("hot") && summary.contains("warm"),
      s"guaranteed heavy hitters missing from $summary")
    // MG counts are lower bounds within N/(k+1) of truth
    assert(summary("hot") <= 400 && summary("hot") >= 400 - 920 / 9)
    assert(summary("warm") <= 120 && summary("warm") >= 120 - 920 / 9)
  }

  test("bpeRound: leftmost-non-overlapping merge on repeated symbols") {
    // "aaaa" must merge to (aa)(aa) — greedy leftmost, never a(aa)a.
    // The island-parity window trick is the only thing standing between
    // this and an off-by-one: positions 1,2,3 all match pair (a,a),
    // and only the even offsets within the island (1 and 3) may merge.
    val seqs = Seq(
      (1L, "a", "a"), (2L, "a", "a"), (3L, "a", "a"), (4L, "a", "a"))
      .map { case (p, sym, _) => ("aaaa", 2L, p, sym) }
      .toDF("word", "freq", "p", "sym")
    val (top, next) = graft.queries.TextQueries.bpeRound(spark, seqs)
    val t = top.as[(String, String, Long)].collect().head
    assert(t === (("a", "a", 6L)), s"pair (a,a) at freq-weighted count 6: $t")
    val syms = next.orderBy("p").as[(String, Long, Long, String)]
      .collect().map(_._4).toSeq
    assert(syms === Seq("aa", "aa"), s"aaaa -> (aa)(aa), got $syms")
    // second round merges the two merged symbols
    val (top2, next2) = graft.queries.TextQueries.bpeRound(spark, next)
    assert(top2.as[(String, String, Long)].collect().head ===
      (("aa", "aa", 2L)))
    assert(next2.orderBy("p").as[(String, Long, Long, String)]
      .collect().map(_._4).toSeq === Seq("aaaa"))
  }

  test("Graft facade: ingest + keyspace DDL entry points") {
    val out = tempDir("facade_")
    Graft.ingest(spark, sf("sf0.001"), out, watermark = 2300L)
    assert(graft.chain.ChainStore.readTransactions(spark, out).count() > 0)
    val ddl = Graft.keyspaceDdl("mychain")
    assert(ddl.contains("CREATE KEYSPACE IF NOT EXISTS mychain"))
    assert(ddl.contains("CREATE TABLE transaction"))
  }

  test("typed Dataset surface agrees with the DataFrame derivation") {
    val dir = sf("sf0.001")
    // the typed face is the SAME plan: a typed filter+map must agree
    // with the column expression it mirrors
    val typed = Graft.txDataset(spark, dir)
      .filter(_.block_id < 100L).map(_.tx_id).as[Long]
      .collect().sorted.toSeq
    val frame = Graft.transactions(spark, dir)
      .filter(col("block_id") < 100L)
      .select(col("tx_id")).as[Long].collect().sorted.toSeq
    assert(typed === frame)
    // encoder binds every column, including the nullable address list
    val io = Graft.ioDataset(spark, dir)
    val nullLists = io.filter(_.addresses == null).count()
    val multisig = io.filter(e => e.addresses != null &&
      e.addresses.length == 2).count()
    assert(nullLists > 0 && multisig > 0,
      "fixture exercises both null and two-address lists through the encoder")
    // block summaries: typed count equals the frame's row count
    assert(Graft.blockDataset(spark, dir).count() ===
      Graft.blocks(spark, dir).count())
  }
}
