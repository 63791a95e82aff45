package graft

import graft.chain.{Chain, ChainStore, GraftCatalog}

/** SQL catalog registration (S7) and write-progress accounting (A7). */
class CatalogProgressSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("registered views answer SQL over the whole data model") {
    GraftCatalog.register(spark, sf("sf0.001"))
    val nTx = spark.sql("SELECT count(*) FROM gs_tx").as[Long].head()
    assert(nTx === 1500L)
    val joined = spark.sql(
      """SELECT b.block_id, b.no_transactions, r.usd
        |FROM gs_block b JOIN gs_exchange_rates r USING (block_id)
        |LIMIT 5""".stripMargin)
    assert(joined.count() === 5)
    // the custom function is SQL-visible after registration
    val dp = spark.sql("SELECT dot_product_long(array(1L,2L), array(3L,4L))")
      .as[Long].head()
    assert(dp === 11L)
  }

  test("progress listener counts written rows") {
    val out = tempDir("prog_")
    val tx = Chain.transactions(spark, sf("sf0.001"))
    val (_, work) = WorkMeter.measure(spark) {
      ChainStore.writeTransactions(tx, out)
    }
    val rows = work.outputRecords
    assert(rows === tx.count())
  }
}
