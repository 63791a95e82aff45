package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: amplify the chain/relational fact tables of an sf dir by
  * `factor` replicas with key offsets (clean join semantics: lineitem
  * follows its order's offset, events get fresh user ids) into an
  * sf1-equivalent directory under target/, for SCALING measurements
  * only — correctness always runs on the driver's real fixtures.
  *
  * Documents amplify with per-replica word mutation (verbatim copies
  * would multiply LSH bucket occupancy and window-fingerprint frequency
  * quadratically — the amplified dedup/text numbers would measure the
  * fixture artifact, not the engine); embeddings are copied as-is
  * (replicated identical vectors would collapse under distinct-style
  * candidate keys the same way). Usage:
  *   runMain graft.ScaleUp [srcDir] [outDir] [factor]
  */
object ScaleUp {
  /** Past the max sf0.1 orderkey (~6e5) and clear of the BIP30 dup
    * injection offset (1e7): replicas stay below it. */
  val KeyOffset = 1000000L

  /** Up to 10×, replica keys stay below the BIP30 dup-injection offset
    * (1e7, RefQueries.DupOffset): the max replica key is
    * (factor-1)*KeyOffset + maxBaseKey with maxBaseKey < KeyOffset, so
    * factor*KeyOffset <= 1e7 keeps every replica clear of the injected
    * range. Factors 11-30 are allowed for spill/AQE stress runs with a
    * warning: replica tx_ids then enter the injected-dup range, so the
    * bip30_dedup family's numbers are NOT meaningful at those dirs
    * (every other family is untouched — the injection is internal to
    * those two queries). Factors up to 100 serve the chain-only scale
    * probes (entity_build / graph_build another decade up). */
  def checkFactor(factor: Int): Unit = {
    require(factor >= 1 && factor <= 100, s"factor $factor outside [1, 100]")
    if (factor * KeyOffset > 10000000L)
      System.err.println(s"[scaleup] WARNING: factor $factor puts replica " +
        "keys in the BIP30 dup-injection range - exclude bip30_dedup* " +
        "from measurements at this dir")
  }

  /** Replica doc_ids must stay below the corpus dup-injection offset
    * (1e6, TextCorpus.DupOffset); 30 × 10k ids clears it comfortably. */
  val DocOffset = 10000L

  /** Hot-address skew (mode=skew): this fraction of each REPLICA's
    * lineitem rows is rewired to supplier 1, so ONE address accrues
    * ~10% of the amplified utxo history — the single-hot-exchange
    * stress for the per-address running-balance windows. */
  val SkewDenom = 10

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sfx10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // full: amplify every fact table (the per-round scale sweep).
    // chain: amplify orders+lineitem only, copy the rest — the cheap
    //        fixture for 100x-class chain-build probes.
    // skew:  chain + hot-supplier rewrite on replica lineitems.
    // text:  amplify documents only, copy the rest — the cheap fixture
    //        for 100x-class dedup/text-build probes.
    val mode = args.lift(3).getOrElse("full")
    require(Seq("full", "chain", "skew", "text").contains(mode),
      s"bad mode $mode")
    checkFactor(factor)
    val spark = Session.local()

    def amplify(name: String, shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.chain.Chain.table(spark, src, name)
      (0 until factor).map(i => shift(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    if (mode != "text") {
      amplify("orders", (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOffset)))
      amplify("lineitem", (df, i) => {
        val shifted =
          df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOffset))
        if (mode == "skew" && i > 0)
          shifted.withColumn("l_suppkey",
            when(col("l_orderkey") % SkewDenom === 0, lit(1))
              .otherwise(col("l_suppkey")))
        else shifted
      })
    }
    if (mode == "full")
      amplify("events", (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * KeyOffset))
          .withColumn("user_id", col("user_id") + lit(i * KeyOffset)))
    // documents amplify with per-replica WORD mutation (every token of
    // replica i>0 gets an 'r<i>' suffix): replicas share no words, hence
    // no shingles, window fingerprints, or minhash bands with the base —
    // so the dedup/text families scale by real data volume instead of
    // measuring a replication artifact (a verbatim copy would put every
    // base doc in a 30-deep LSH bucket and every window fingerprint at
    // 30× frequency). doc_id offsets stay below the corpus
    // dup-injection range (at factor 100 the max replica id is
    // 99·10000 + 9999 = 999 999, one short of the 1e6 offset).
    if (mode == "full" || mode == "text")
      amplify("documents", (df, i) =>
        if (i == 0) df
        else df.withColumn("doc_id", col("doc_id") + lit(i * DocOffset))
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), x -> concat(x, 'r$i')), ' ')")))
    val dims = Seq("region", "nation", "customer", "supplier", "part",
      "embeddings")
    val copied = mode match {
      case "full" => dims
      case "text" => dims ++ Seq("orders", "lineitem", "events")
      case _ => dims ++ Seq("events", "documents")
    }
    for (t <- copied)
      graft.chain.Chain.table(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    println(s"[scaleup] wrote $out at ${factor}x of $src (mode=$mode)")
    spark.stop()
  }
}
