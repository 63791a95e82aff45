package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.Chain.table
import graft.chain.ChainSql.{ccWalkCte, withCtes, withRecursiveCtes}

/** Multimodal-column plumbing: media payloads as opaque binary columns
  * with typed metadata extracted by a partition-wise decoder.
  *
  * The decode step is a STUB (this container has no image/audio codecs):
  * a deterministic fake derives (width, height, format) from the md5 of
  * the payload bytes. Everything around it is the real pattern for a
  * 100 TB media pipeline:
  *  - payload travels as `binary`, never stringified;
  *  - decoding runs inside `mapPartitions` on a typed Dataset — one
  *    decoder instance per partition (the Scala analog of a batched
  *    Pandas-UDF `mapInPandas`), so a real codec would amortize init cost
  *    across the partition and stream row batches;
  *  - output is a typed case class → fixed schema for downstream ops.
  */
object MultimodalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Typed metadata record produced by the (stubbed) decoder. */
  case class MediaMeta(doc_id: Long, width: Long, height: Long, format: String)

  private val HexDigits = "0123456789abcdef"

  /** Deterministic fake decode: md5 nibbles → dimensions/format. A real
    * implementation would replace only this function's body. */
  private[queries] def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map(b => f"$b%02x").mkString
    val n1 = HexDigits.indexOf(hex.charAt(0)) + 1 // 1..16, matches SQL instr()
    val n2 = HexDigits.indexOf(hex.charAt(1)) + 1
    val n3 = HexDigits.indexOf(hex.charAt(2)) // 0..15
    val fmt = (n3 % 3) match {
      case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
    }
    MediaMeta(docId, n1 * 64L, n2 * 64L, fmt)
  }

  val queries: Map[String, Q] = Map(
    // binary payload → partition-wise decode → typed metadata.
    // grouped(64) gives the real batched-decoder shape: a production
    // codec would process each batch in one native call.
    "multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.grouped(64).flatMap(_.map {
          case (id, bytes) => decodeStub(id, bytes)
        }))
        .toDF()
    }),

    // frame sampling: one payload → n_frames metadata rows (the
    // one-to-many video path), with a deterministic resize to half
    // resolution. n_frames and timestamps derive from the content hash.
    "multimodal_frames" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("n_frames", expr(
          "CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 4 + 1 AS BIGINT)"))
        .withColumn("frame_no",
          explode(expr("sequence(0L, n_frames - 1)")))
        .select(col("doc_id"), col("n_frames"), col("frame_no"),
          (col("frame_no") * 1000L).as("frame_ts_ms"),
          md5(concat(col("text"), lit("_"), col("frame_no").cast("string")))
            .as("frame_hash"),
          expr("CAST(instr('0123456789abcdef', substr(md5(text), 1, 1)) * 32 AS BIGINT)")
            .as("half_width"),
          expr("CAST(instr('0123456789abcdef', substr(md5(text), 2, 1)) * 32 AS BIGINT)")
            .as("half_height"))),

    // SCENE-CUT segmentation (shot detection): each sampled frame gets
    // the same 32-bit aHash the phash dedup uses — here keyed by the
    // per-frame hash, so a real codec feeds its luma grid into the
    // identical chain — and a cut is a consecutive-frame Hamming
    // distance above half the word width. One explode → per-frame
    // fingerprint (pixel window and group share the (doc, frame)
    // partitioning: one shuffle) → per-doc lag → rollup to segment
    // counts; the shuffle carries 8-byte fingerprints, never pixels.
    "multimodal_scene_cuts" -> ((s, dir) => {
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id", "frame_no")
      val frames = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .withColumn("n_frames", expr(
          "CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)" +
            " % 4 + 1 AS BIGINT)"))
        .withColumn("frame_no", explode(expr("sequence(0L, n_frames - 1)")))
        .withColumn("h",
          md5(concat(col("text"), lit("_"), col("frame_no").cast("string"))))
      val px = frames
        .select(col("doc_id"), col("n_frames"), col("frame_no"),
          explode(sequence(lit(1), lit(32))).as("i"), col("h"))
        .select(col("doc_id"), col("n_frames"), col("frame_no"), col("i"),
          expr("CAST(instr('0123456789abcdef', substr(h, i, 1)) - 1" +
            " AS BIGINT)").as("p"))
      val fp = px.withColumn("tot", sum(col("p")).over(wF))
        .groupBy(col("doc_id"), col("n_frames"), col("frame_no"))
        .agg(sum(when(col("p") * 32 > col("tot"),
            expr("shiftleft(1L, CAST(i - 1 AS INT))")).otherwise(0L))
          .as("fp"))
      val wSeq = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_no")
      fp.withColumn("prev", lag(col("fp"), 1).over(wSeq))
        .withColumn("cut", when(col("prev").isNotNull &&
          expr("bit_count(fp ^ prev)") > 16, 1L).otherwise(0L))
        .groupBy(col("doc_id"), col("n_frames"))
        .agg(sum(col("cut")).as("n_cuts"),
          (sum(col("cut")) + 1L).as("n_segments"))
    }),

    // cross-modal ANN: decoded media metadata joined onto the embedding
    // table by id, with the modality filter pushed INTO the LSH bucket
    // key — only same-format vectors ever become candidates, so the
    // "match images against images" restriction costs nothing extra at
    // candidate-generation time.
    "multimodal_embed_ann" -> ((s, dir) => {
      import s.implicits._
      val meta = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
        .select(col("doc_id").as("vec_id"), col("format"))
      val e = graft.api.Similarity.quantize(
        table(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding")))
      val buckets = graft.api.Similarity.lshBuckets(s, e)
        .join(meta, Seq("vec_id"))
      val qb = buckets.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("bucket"), col("format"))
      val cand = buckets
        .select(col("vec_id").as("neighbor_id"), col("bucket"), col("format"))
        .join(qb, Seq("bucket", "format"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id", "format")
      graft.api.Similarity.cosTopK(e, cand.select("query_id", "neighbor_id"), 2)
        .join(cand.select(col("query_id"), col("neighbor_id"), col("format")),
          Seq("query_id", "neighbor_id"))
        .select("query_id", "neighbor_id", "format", "rank", "cos")
    }),

    // cross-modal temporal ALIGNMENT: every sampled video frame matched
    // to the transcript chunk in force at its timestamp — the latest
    // chunk with chunk_ts ≤ frame_ts within the same document. Runs on
    // the custom range-partitioned AsOfJoinExec over a composite
    // (doc_id·shift + ts_ms) key. The shift is DERIVED FROM THE DATA —
    // the next power of two above the largest timeline value on either
    // side (one single-row aggregate, same driver-side footprint as the
    // exec's partition-bounds sample): a fixed 12-bit shift silently
    // aliased any chunk with ts ≥ 4096 into the NEXT document's
    // keyspace. Every doc has a chunk at ts 0, so the as-of carry can
    // never leak across documents — ONE distributed as-of merge instead
    // of a per-doc window sort over frames × chunks.
    "multimodal_align" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val framesBase = docs
        .withColumn("n_frames", expr(
          "CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 4 + 1 AS BIGINT)"))
        .withColumn("frame_no", explode(expr("sequence(0L, n_frames - 1)")))
        .select(col("doc_id"), col("frame_no"),
          (col("frame_no") * 1000L).as("frame_ts_ms"))
      val chunksBase = docs
        .select(col("doc_id").as("c_doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")), lit(448)))
            .as("chunk_start"))
        .select(col("c_doc_id"),
          expr("CAST((chunk_start - 1) div 448 AS BIGINT)").as("chunk_idx"),
          md5(expr("substring(text, chunk_start, 512)")).as("chunk_md5"))
        .withColumn("chunk_ts_ms", col("chunk_idx") * 700L)
      // frame_ts_ms ≤ 3000 by construction (≤ 4 frames); the chunk side
      // is text-length-dependent, so read its max once — from text
      // LENGTHS alone (max chunk_idx of a doc is (len−1) div 448), not
      // by executing the chunk explode: same exact bound, one
      // single-column scalar aggregate instead of a per-chunk pipeline
      // run before the real query starts
      val maxTs = math.max(3000L,
        docs.agg(coalesce(max(expr(
            "CASE WHEN length(text) >= 1 THEN " +
              "CAST((length(text) - 1) div 448 AS BIGINT) * 700 END")),
          lit(0L))).head().getLong(0))
      val shift = java.lang.Long.highestOneBit(maxTs) * 2L
      val frames = framesBase
        .withColumn("fk", col("doc_id") * shift + col("frame_ts_ms"))
      val chunks = chunksBase
        .withColumn("ck", col("c_doc_id") * shift + col("chunk_ts_ms"))
      graft.plans.AsOfJoin.asof(frames, chunks, "fk", "ck")
        .select(col("doc_id"), col("frame_no"), col("frame_ts_ms"),
          col("chunk_idx"), col("chunk_ts_ms"), col("chunk_md5"))
    }),

    // metadata rollup: the decoded schema is a normal relational input
    "multimodal_format_stats" -> ((s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("width") * col("height")).as("total_pixels"),
          max(col("width")).as("max_width"))
    }),

    // perceptual-hash near-duplicate detection over decoded frames: an
    // aHash-style 32-bit fingerprint (pixel > frame mean, one bit per
    // pixel; the pixel grid here comes from the STUBBED frame-0 decode —
    // a real codec feeds its 8×8 luma grid into the identical pipeline),
    // split into 4 × 8-bit bands — any pair at Hamming distance ≤ 3
    // keeps at least one band intact (pigeonhole), so candidates are an
    // equi-join on (band position, band value) and the exact bit_count
    // verify only ever touches collisions. Same banded scale shape as
    // dedup_simhash_pairs: no all-pairs stage at any corpus size; the
    // shuffle carries (doc_id, 32-bit hash), never pixels. Runs on the
    // dup-injected corpus, so the fixture guarantees positives.
    "multimodal_phash_pairs" -> ((s, dir) => phashPairs(s, dir)),

    // near-dup MEDIA clusters: the phash pair set treated as a graph
    // and resolved by the same large-star/small-star components
    // operator the text corpus uses — completing the multimodal dedup
    // chain (fingerprint → banded candidates → verified pairs →
    // clusters → keep-one). Every pair endpoint has an edge, so every
    // cluster has ≥ 2 members; the representative is the component
    // label (min doc_id), and n_dropped is the dedup saving per
    // cluster. Pair-set-sized input, label-sized output.
    "multimodal_phash_clusters" -> ((s, dir) =>
      // labels from the PARKED cluster tier (written by the same
      // bands→verify→components chain; the measured
      // fingerprint→verify pipeline is multimodal_phash_pairs) — the
      // rollup consumes the label table, park-once like the text
      // dedup_components family
      graft.ops.DedupMaterialize.phashClusterTable(s, dir)
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(col("node")).as("keep_doc"),
          (count(lit(1)) - 1).as("n_dropped"))),

    // INCREMENTAL media-cluster maintenance — the multimodal twin of
    // dedup_components_incremental, closing the last dedup family
    // without an ingest-cost form: the arriving batch fingerprints
    // ingest-sized media, probes its bands against the parked pre-batch
    // band tier (new×old + new×new, never old×old), and folds the
    // verified pairs into the parked cluster labels by contracting old
    // components and running the star fixpoint over a batch-sized
    // graph. Old media is never re-fingerprinted. Shares
    // multimodal_phash_clusters' full-recompute oracle: incremental ==
    // from-scratch is hash-proven per run.
    "multimodal_phash_incremental" -> ((s, dir) => {
      val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
      val batchSel = col("doc_id") % mod === 0
      val newBands = phashBands(s, dir, batchSel)
      val oldBands =
        graft.ops.DedupMaterialize.phashBandBaseTable(s, dir)
      val touch = phashVerifiedPairs(newBands,
          oldBands.unionByName(newBands))
        .select(col("doc_a"), col("doc_b"))
      // validate = false: touch endpoints come from batch ∪ pre-batch
      // bands, the base universe is the full pre-batch corpus and
      // newNodes the full batch — coverage by construction (operator
      // contract); the shared full-recompute oracle proves the result
      graft.operators.ConnectedComponents.incrementalLabels(
          graft.ops.DedupMaterialize.phashClusterBaseTable(s, dir),
          graft.ops.TextCorpus.corpus(s, dir).filter(batchSel)
            .select("doc_id"),
          touch, validate = false)
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(col("node")).as("keep_doc"),
          (count(lit(1)) - 1).as("n_dropped"))
        // full-universe labels carry singletons the pair-graph batch
        // form never emits; a cluster needs >= 2 members to exist
        .filter(col("n_members") >= 2)
    }))

  /** 32-bit aHash fingerprint + 8-bit band rows (doc_id, phash, b, bv)
    * for the docs `sel` admits — ONE derivation shared by the batch
    * pair query and the incremental probe (and parked pre-batch by
    * [[graft.ops.DedupMaterialize.phashBandBaseTable]], the media
    * analog of the text band tier). */
  private[graft] def phashBands(s: SparkSession, dir: String,
      sel: org.apache.spark.sql.Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val px = graft.ops.TextCorpus.corpus(s, dir).filter(sel)
      .select(col("doc_id"),
        md5(concat(col("text"), lit("_0"))).as("h"))
      .select(col("doc_id"),
        explode(sequence(lit(1), lit(32))).as("i"), col("h"))
      .select(col("doc_id"), col("i"), expr(
        "CAST(instr('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT)")
        .as("p"))
    // bit_i = pixel_i above the frame mean (32·p > Σp avoids division);
    // the window and the groupBy share the doc_id partitioning, so the
    // fingerprint costs ONE shuffle of the exploded pixels
    val ph = px.withColumn("tot", sum(col("p")).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("p") * 32 > col("tot"),
          expr("shiftleft(1L, CAST(i - 1 AS INT))")).otherwise(0L))
        .as("phash"))
    ph.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("shiftright(phash, CAST(8 * b AS INT)) % 256"))
  }

  /** Band-bucket candidates probeBands × againstBands (canonicalized to
    * doc_a < doc_b), verified at Hamming ≤ 3. With probe = against this
    * is the batch all-pairs; with probe = the arriving batch and
    * against = batch ∪ parked pre-batch bands it is the incremental
    * probe (new×old + new×new, never old×old). */
  private[graft] def phashVerifiedPairs(probeBands: DataFrame,
      againstBands: DataFrame): DataFrame =
    probeBands.select(col("doc_id").as("da"), col("phash").as("ha"),
        col("b"), col("bv"))
      .join(againstBands.select(col("doc_id").as("db"),
        col("phash").as("hb"), col("b"), col("bv")), Seq("b", "bv"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("ha")).otherwise(col("hb")).as("pa"),
        when(col("da") < col("db"), col("hb")).otherwise(col("ha")).as("pb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(pa ^ pb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)

  /** Verified Hamming-≤3 phash pairs — shared by the pair query and the
    * cluster rollup (ONE derivation, like the text dedup tiers). */
  private def phashPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = phashBands(s, dir, lit(true))
    phashVerifiedPairs(bands, bands)
  }

  private val decodedSql: String =
    """decoded AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(instr('0123456789abcdef', substr(md5(text), 1, 1)) * 64 AS BIGINT) AS width,
      |    CAST(instr('0123456789abcdef', substr(md5(text), 2, 1)) * 64 AS BIGINT) AS height,
      |    CASE CAST((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) % 3 AS INT)
      |      WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
      |  FROM documents)""".stripMargin

  private lazy val phashCtes: Seq[String] = Seq(graft.ops.TextCorpus.corpusSql,
      """px AS (
        |  SELECT doc_id, i,
        |    CAST(instr('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1
        |         AS BIGINT) AS p
        |  FROM (SELECT doc_id, md5(text || '_0') AS h,
        |          unnest(generate_series(1, 32)) AS i
        |        FROM corpus))""".stripMargin,
      """tot AS (SELECT doc_id, sum(p) AS tot FROM px GROUP BY doc_id)""",
      """ph AS (
        |  SELECT px.doc_id,
        |    CAST(sum(CASE WHEN p * 32 > tot
        |             THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash
        |  FROM px JOIN tot USING (doc_id) GROUP BY px.doc_id)""".stripMargin,
      """bands AS (
        |  SELECT doc_id, phash, b,
        |    (phash >> CAST(8 * b AS INT)) % 256 AS bv
        |  FROM (SELECT doc_id, phash, unnest(generate_series(0, 3)) AS b
        |        FROM ph))""".stripMargin,
      """cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, d.doc_id AS doc_b,
        |    a.phash AS pa, d.phash AS pb
        |  FROM bands a JOIN bands d
        |    ON a.b = d.b AND a.bv = d.bv AND a.doc_id < d.doc_id)""".stripMargin)

  // the phash pair set walked to components by the recursive min-label
  // mirror; DISTINCT-over-UNION-ALL for the node set (a plain UNION
  // CTE under a WITH RECURSIVE header loses dedup semantics)
  private val phashClustersOracle: String = withRecursiveCtes(
    phashCtes ++ Seq(
      """ppairs AS (SELECT doc_a, doc_b FROM cand
        |           WHERE bit_count(xor(pa, pb)) <= 3)""".stripMargin,
      """pnodes AS (SELECT DISTINCT node FROM (
        |  SELECT doc_a AS node FROM ppairs
        |  UNION ALL SELECT doc_b FROM ppairs))""".stripMargin,
      "pedges AS (SELECT doc_a AS a, doc_b AS b FROM ppairs)",
      ccWalkCte("pnodes", "pedges"),
      """pcc AS (SELECT node, min(comp) AS component
        |        FROM walk GROUP BY node)""".stripMargin): _*)(
    """SELECT component AS cluster, CAST(count(*) AS BIGINT) AS n_members,
      |  min(node) AS keep_doc,
      |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
      |FROM pcc GROUP BY component""".stripMargin)

  val oracles: Map[String, String] = Map(
    "multimodal_decode" -> withCtes(decodedSql)(
      "SELECT doc_id, width, height, format FROM decoded"),
    "multimodal_frames" ->
      """SELECT doc_id, n_frames, frame_no,
        |  frame_no * 1000 AS frame_ts_ms,
        |  md5(text || '_' || CAST(frame_no AS VARCHAR)) AS frame_hash,
        |  CAST(instr('0123456789abcdef', substr(md5(text), 1, 1)) * 32 AS BIGINT) AS half_width,
        |  CAST(instr('0123456789abcdef', substr(md5(text), 2, 1)) * 32 AS BIGINT) AS half_height
        |FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        |    CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 4 + 1
        |         AS BIGINT) AS n_frames,
        |    unnest(range(0, CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 4 + 1 AS BIGINT)))
        |      AS frame_no
        |  FROM documents)""".stripMargin,

    // the oracle states the INTENDED semantics directly (per-document
    // as-of on the raw timestamps) — deliberately NOT the composite-key
    // encoding, so a Spark-side key-packing bug cannot hide behind an
    // oracle that shares it
    "multimodal_align" ->
      """WITH f AS (
        |  SELECT doc_id, frame_no, frame_no * 1000 AS frame_ts_ms
        |  FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |      unnest(range(0, CAST((instr('0123456789abcdef',
        |        substr(md5(text), 4, 1)) - 1) % 4 + 1 AS BIGINT)))
        |        AS frame_no
        |    FROM documents)),
        |c AS (
        |  SELECT c_doc_id, chunk_idx, chunk_md5, chunk_idx * 700 AS chunk_ts_ms
        |  FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS c_doc_id,
        |      (chunk_start - 1) // 448 AS chunk_idx,
        |      md5(substr(text, CAST(chunk_start AS INT), 512)) AS chunk_md5
        |    FROM (SELECT doc_id, text,
        |            unnest(generate_series(1, length(text), 448)) AS chunk_start
        |          FROM documents)))
        |SELECT f.doc_id, CAST(f.frame_no AS BIGINT) AS frame_no,
        |  CAST(f.frame_ts_ms AS BIGINT) AS frame_ts_ms,
        |  CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(c.chunk_ts_ms AS BIGINT) AS chunk_ts_ms, c.chunk_md5
        |FROM f ASOF LEFT JOIN c
        |  ON c.c_doc_id = f.doc_id AND c.chunk_ts_ms <= f.frame_ts_ms""".stripMargin,

    "multimodal_format_stats" -> withCtes(decodedSql)(
      """SELECT format, CAST(count(*) AS BIGINT) AS n_media,
        |  CAST(sum(width * height) AS BIGINT) AS total_pixels,
        |  max(width) AS max_width
        |FROM decoded GROUP BY format""".stripMargin),

    // same per-frame aHash chain, serial lag + rollup
    "multimodal_scene_cuts" -> withCtes(
      """frm AS (
        |  SELECT doc_id, n_frames, frame_no,
        |    md5(text || '_' || CAST(frame_no AS VARCHAR)) AS h
        |  FROM (
        |    SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        |      CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |           % 4 + 1 AS BIGINT) AS n_frames,
        |      unnest(range(0,
        |        CAST((instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)
        |             % 4 + 1 AS BIGINT))) AS frame_no
        |    FROM documents))""".stripMargin,
      """fpx AS (
        |  SELECT doc_id, n_frames, frame_no, i,
        |    CAST(instr('0123456789abcdef', substr(h, CAST(i AS INT), 1)) - 1
        |         AS BIGINT) AS p
        |  FROM (SELECT doc_id, n_frames, frame_no, h,
        |          unnest(generate_series(1, 32)) AS i
        |        FROM frm))""".stripMargin,
      """ftot AS (SELECT doc_id, frame_no, sum(p) AS tot
        |         FROM fpx GROUP BY 1, 2)""".stripMargin,
      """ffp AS (
        |  SELECT fpx.doc_id, fpx.n_frames, fpx.frame_no,
        |    CAST(sum(CASE WHEN p * 32 > tot
        |             THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |             ELSE 0 END) AS BIGINT) AS fp
        |  FROM fpx JOIN ftot ON fpx.doc_id = ftot.doc_id
        |    AND fpx.frame_no = ftot.frame_no
        |  GROUP BY 1, 2, 3)""".stripMargin,
      """fcuts AS (
        |  SELECT doc_id, n_frames,
        |    CASE WHEN prev IS NOT NULL AND bit_count(xor(fp, prev)) > 16
        |         THEN 1 ELSE 0 END AS cut
        |  FROM (SELECT doc_id, n_frames, fp,
        |          lag(fp) OVER (PARTITION BY doc_id ORDER BY frame_no)
        |            AS prev
        |        FROM ffp))""".stripMargin)(
      """SELECT doc_id, n_frames, CAST(sum(cut) AS BIGINT) AS n_cuts,
        |  CAST(sum(cut) + 1 AS BIGINT) AS n_segments
        |FROM fcuts GROUP BY doc_id, n_frames""".stripMargin),

    "multimodal_phash_pairs" -> withCtes(phashCtes: _*)(
      """SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 3""".stripMargin),

    "multimodal_phash_clusters" -> phashClustersOracle,

    // maintained clusters must equal the from-scratch clustering — ONE
    // oracle for the batch and incremental forms
    "multimodal_phash_incremental" -> phashClustersOracle,

    "multimodal_embed_ann" -> withCtes(decodedSql,
      SimilarityQueries.embSql, SimilarityQueries.eeSql,
      SimilarityQueries.normSql, SimilarityQueries.hyperSql,
      SimilarityQueries.bucketsSql,
      """bmeta AS (
        |  SELECT b.vec_id, b.bucket, m.format
        |  FROM buckets b
        |  JOIN (SELECT doc_id AS vec_id, format FROM decoded) m USING (vec_id))""".stripMargin,
      """cand AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, q.format
        |  FROM bmeta q
        |  JOIN bmeta d ON q.bucket = d.bucket AND q.format = d.format
        |              AND d.vec_id != q.vec_id
        |  WHERE q.vec_id % 25 = 0)""".stripMargin,
      """cdots AS (
        |  SELECT c.query_id, c.neighbor_id, c.format,
        |         CAST(sum(qe.v * de.v) AS BIGINT) AS dot
        |  FROM cand c
        |  JOIN ee qe ON qe.vec_id = c.query_id
        |  JOIN ee de ON de.vec_id = c.neighbor_id AND de.i = qe.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      """ccos AS (
        |  SELECT query_id, neighbor_id, format,
        |         CAST(dot AS DOUBLE) / sqrt(CAST(nq.n2 * nd.n2 AS DOUBLE)) AS cos
        |  FROM cdots
        |  JOIN norm nq ON nq.vec_id = cdots.query_id
        |  JOIN norm nd ON nd.vec_id = cdots.neighbor_id)""".stripMargin)(
      """SELECT query_id, neighbor_id, format, rank, cos FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM ccos)
        |WHERE rank <= 2""".stripMargin))
}
