package graft

import org.apache.spark.sql.functions._

import graft.chain.{Chain, ChainStore}

/** Bucketed tables must join without a shuffle, and the multi-chain
  * keyspace must prune on the currency partition. */
class BucketingSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def dropManaged(name: String): Unit = {
    // a fresh in-memory catalog forgets tables but their warehouse dirs
    // survive the JVM — drop both
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed fact-fact join has no exchange on the bucketed key") {
    val dir = sf("sf0.001")
    dropManaged("tx_bucketed")
    dropManaged("iostats_bucketed")
    ChainStore.writeBucketed(
      Chain.transactions(spark, dir), "tx_bucketed", "tx_id", 8)
    ChainStore.writeBucketed(
      Chain.txIoStats(spark, dir), "iostats_bucketed", "tx_id", 8)
    val joined = spark.table("tx_bucketed")
      .join(spark.table("iostats_bucketed"), Seq("tx_id"))
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() === Chain.txIoStats(spark, dir).count())
  }

  test("multi-chain store prunes on currency partition") {
    val dir = sf("sf0.001")
    val out = tempDir("mc_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeMultiChain(Map(
      "btc" -> tx.filter(col("tx_id") % 2 === 1),
      "ltc" -> tx.filter(col("tx_id") % 2 === 0)), out)
    val all = spark.read.parquet(s"$out/multichain_transaction")
    assert(all.count() === tx.count())
    val btcOnly = all.filter(col("currency") === "btc")
    assert(btcOnly.count() === tx.filter(col("tx_id") % 2 === 1).count())
    val plan = btcOnly.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*currency.*"),
      s"no currency partition pruning:\n$plan")
  }
}
