package graft

import org.apache.spark.sql.functions._

/** Pins multimodal_align's composite-key width: the doc_id·shift + ts
  * packing must hold the LONGEST document's chunk timeline. A fixed
  * 12-bit shift aliased any chunk with chunk_ts_ms ≥ 4096 into the next
  * document's keyspace — frames of doc N+1 silently matched a late chunk
  * of doc N. The shift is now derived from the data, so this spec feeds
  * documents long enough for chunk_idx ≥ 6 (ts ≥ 4200) and asserts every
  * aligned chunk really belongs to the frame's own document. */
class MultimodalAlignSpec extends SparkSpec with TempDirs {

  test("alignment never leaks chunks across documents (chunk_ts past 4096ms)") {
    import spark.implicits._
    // ~20 chunks per doc: chunk_ts_ms up to 700*19 = 13300 >> 4095
    val docs = (0L until 12L).map { id =>
      val text = (0 until 9000).map(i =>
        ('a' + ((id * 31 + i * 7) % 26)).toChar).mkString
      (id, text)
    }.toDF("doc_id", "text")
    val dir = tempDir("graft_mm_")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("multimodal_align")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    // recompute the expected chunk per (doc, frame) from first
    // principles: latest chunk_idx with idx*700 <= frame_ts within
    // the SAME document, and the md5 must come from that doc's text
    val textOf = docs.as[(Long, String)].collect().toMap
    out.foreach { r =>
      val docId = r.getLong(r.fieldIndex("doc_id"))
      val frameTs = r.getLong(r.fieldIndex("frame_ts_ms"))
      val chunkIdx = r.getLong(r.fieldIndex("chunk_idx"))
      val chunkMd5 = r.getString(r.fieldIndex("chunk_md5"))
      val nChunks = (textOf(docId).length + 447) / 448
      val expectIdx = math.min(frameTs / 700, nChunks - 1L)
      assert(chunkIdx === expectIdx,
        s"doc $docId frame_ts $frameTs: got chunk $chunkIdx, " +
          s"expected $expectIdx")
      val start = (chunkIdx * 448).toInt
      val expectMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(textOf(docId).substring(start,
          math.min(start + 512, textOf(docId).length))
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(chunkMd5 === expectMd5,
        s"doc $docId frame_ts $frameTs: chunk md5 from another document")
    }
    // the scenario really exercises the overflow zone: every doc's
    // chunk timeline extends past the old 12-bit boundary (a doc N
    // chunk with ts ≥ 4096 aliased into doc N+1's keyspace under the
    // fixed shift, outranking N+1's own earlier chunks in the carry)
    assert(textOf.values.forall(t => ((t.length + 447) / 448 - 1) * 700L >= 4096L),
      "fixture chunk timelines never cross 4096 ms; overflow zone untested")
  }

  test("phash pairs find every injected duplicate at Hamming 0, via band join") {
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("multimodal_phash_pairs")(spark, dir)
    val rows = out.collect()
    // every injected exact duplicate (doc, doc+1e6) must surface with an
    // identical fingerprint
    val nDups = graft.ops.TextCorpus.corpus(spark, dir)
      .filter(col("doc_id") >= graft.ops.TextCorpus.DupOffset).count()
    assert(nDups > 0)
    val dupPairs = rows.filter(r =>
      r.getLong(1) === r.getLong(0) + graft.ops.TextCorpus.DupOffset)
    assert(dupPairs.length === nDups,
      s"expected $nDups injected-dup pairs, got ${dupPairs.length}")
    assert(dupPairs.forall(_.getLong(2) === 0L),
      "an exact duplicate must hash to Hamming distance 0")
    // scale shape: candidates come from the band equi-join, never a
    // cartesian product
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"phash candidate generation is not an equi-join:\n$plan")
  }
}
