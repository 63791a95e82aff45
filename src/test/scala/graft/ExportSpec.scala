package graft

import org.apache.spark.sql.functions._

import graft.chain.Chain

/** The three export-CLI lifecycles (reference §3.1-3.3:
  * blocksci_export.py full run / --continue / --info) driven against a
  * temp parquet store, plus the argument-surface contracts. */
class ExportSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def tmpOut(): String = tempDir("export_")

  private val dir = sf("sf0.001")
  private lazy val tx = Chain.transactions(spark, dir)
  private lazy val lastParsed =
    tx.agg(max(col("block_id"))).as[Long].head()

  test("full export (§3.1) writes all seven table dirs for the range") {
    val out = tmpOut()
    val r = Export.run(spark, Export.Args(config = dir, out = out))
    assert(r.tables === Export.AllTables)
    assert(r.startIndex === 0L && r.endIndex === lastParsed)
    // every sink table landed
    for (t <- Seq("transaction", "block", "transaction_by_tx_prefix",
        "block_transactions", "exchange_rates", "summary_statistics",
        "configuration"))
      assert(new java.io.File(s"$out/$t").exists(), s"missing $t")
    assert(spark.read.parquet(s"$out/transaction").count() === tx.count())
    // summary row covers the whole range
    val stats = spark.read.parquet(s"$out/summary_statistics")
    assert(stats.select("no_blocks").as[Long].head() === lastParsed + 1)
  }

  test("--continue (§3.2) resumes at sink max + 1 and converges to " +
      "the full export") {
    val out = tmpOut()
    val mid = lastParsed / 2
    // first run: blocks [0, mid]
    val r1 = Export.run(spark,
      Export.Args(config = dir, out = out, endIndex = mid))
    assert(r1.endIndex === mid)
    assert(Export.sinkMaxBlock(spark, out) === Some(mid))
    // resumed run picks up at mid+1 and lands the rest
    val r2 = Export.run(spark,
      Export.Args(config = dir, out = out, continueIngest = true))
    assert(r2.lastIngestedBlock === Some(mid))
    assert(r2.startIndex === mid + 1 && r2.endIndex === lastParsed)
    // bucket-complete refill: the resumed store equals one full export
    val got = spark.read.parquet(s"$out/transaction")
    assert(got.count() === tx.count())
    assert(got.select(sum("tx_id")).as[Long].head() ===
      tx.select(sum("tx_id")).as[Long].head())
    // the rebuilt hash index has the declared columns and equals the
    // one-shot export's, as row multisets
    val oneShot = tmpOut()
    Export.run(spark, Export.Args(config = dir, out = oneShot))
    val idx = spark.read.parquet(s"$out/transaction_by_tx_prefix")
    val idxOneShot = spark.read.parquet(s"$oneShot/transaction_by_tx_prefix")
    assert(graft.chain.Schemas.conforms(idx.schema,
      graft.chain.Schemas.transactionByTxPrefix), s"${idx.schema}")
    assert(idx.count() === tx.count())
    assert(idx.exceptAll(idxOneShot).isEmpty &&
      idxOneShot.exceptAll(idx).isEmpty,
      "index after --continue differs from the one-shot export's")
    // a third continue has nothing to do
    val r3 = Export.run(spark,
      Export.Args(config = dir, out = out, continueIngest = true))
    assert(r3.tables.isEmpty && r3.blocksIngested === 0L)
  }

  test("--continue refuses a sink ahead of the source (reorg guard)") {
    val out = tmpOut()
    // forge a store whose max block is beyond the source tip
    graft.chain.ChainStore.writeTransactions(
      tx.withColumn("block_id", col("block_id") + lit(1000000L)), out)
    val e = intercept[IllegalArgumentException] {
      Export.run(spark,
        Export.Args(config = dir, out = out, continueIngest = true))
    }
    assert(e.getMessage.contains("reorg guard"))
  }

  test("--info (§3.3) reports the tips and writes nothing") {
    val out = tmpOut()
    val r = Export.run(spark,
      Export.Args(config = dir, out = out, info = true,
        continueIngest = true))
    assert(r.lastParsedBlock === lastParsed)
    assert(r.lastIngestedBlock === None) // empty store
    assert(r.tables.isEmpty)
    assert(!new java.io.File(s"$out/transaction").exists())
  }

  test("--previous-day clamps the range at the cutoff") {
    val out = tmpOut()
    // cutoff chosen inside the fixture's time range: the midpoint ts
    val cutoff = tx.agg((min(col("ts")) + (max(col("ts")) - min(col("ts")))
      / 2).cast("long")).as[Long].head()
    val expectEnd = tx.filter(col("ts") < cutoff)
      .agg(max(col("block_id"))).as[Long].head()
    val r = Export.run(spark, Export.Args(config = dir, out = out,
      prevDay = true, cutoffTs = Some(cutoff)))
    assert(r.endIndex === expectEnd)
    val got = spark.read.parquet(s"$out/transaction")
    assert(got.agg(max(col("block_id"))).as[Long].head() === expectEnd)
  }

  test("--chain-config caps the default range at tip - margin; an " +
      "explicit --end-index overrides") {
    val out = tmpOut()
    val cfgDir = graft.chain.ChainConfig.fixtureDir()
    // ltc's fixture margin is 12
    val r = Export.run(spark, Export.Args(config = dir, out = out,
      chainConfig = Some(s"$cfgDir/ltc.cfg"),
      tables = Some(Seq("block"))))
    assert(r.endIndex === lastParsed - 12)
    val r2 = Export.run(spark, Export.Args(config = dir, out = out,
      chainConfig = Some(s"$cfgDir/ltc.cfg"), endIndex = 100L,
      tables = Some(Seq("block"))))
    assert(r2.endIndex === 100L)
  }

  test("--tables subsets and validates like check_tables_arg") {
    val out = tmpOut()
    val r = Export.run(spark, Export.Args(config = dir, out = out,
      tables = Some(Seq("block", "tx"))))
    assert(r.tables === Seq("tx", "block")) // normalized order
    assert(new java.io.File(s"$out/transaction").exists())
    assert(new java.io.File(s"$out/block").exists())
    assert(!new java.io.File(s"$out/block_transactions").exists())
    intercept[IllegalArgumentException] {
      Export.resolveTables(Some(Seq("nope")))
    }
    intercept[IllegalArgumentException] {
      Export.resolveTables(Some(Nil))
    }
  }

  test("--bip30-fix resolves duplicate hashes to the newest tx") {
    val out = tmpOut()
    // forge a duplicate-hash source: two txs share a hash
    val forged = tx.unionByName(
      tx.filter(col("tx_id") === tx.agg(min(col("tx_id"))).as[Long].head())
        .withColumn("tx_id", col("tx_id") + lit(7L))
        .withColumn("tx_id_group",
          floor(col("tx_id") / Chain.TxBucketSize)))
    // run the index path directly through a sink write
    val deduped = forged.groupBy(col("tx_hash"))
      .agg(max(col("tx_id")).as("tx_id"))
    graft.chain.ChainStore.writePrefixIndex(deduped, out)
    val idx = spark.read.parquet(s"$out/transaction_by_tx_prefix")
    // exactly one row per hash, and the duplicated hash maps to the
    // NEWER tx id (BIP30: the newest version is spendable)
    assert(idx.count() === idx.select("tx_hash").distinct().count())
    val minTx = tx.agg(min(col("tx_id"))).as[Long].head()
    val dupHash = tx.filter(col("tx_id") === minTx)
      .select("tx_hash").as[String].head()
    assert(idx.filter(col("tx_hash") === dupHash)
      .select("tx_id").as[Long].head() === minTx + 7L)
  }

  test("composed lifecycle: per-chain margins + compaction + --continue " +
      "converge bit-for-bit to the one-shot export") {
    val cfgDir = graft.chain.ChainConfig.fixtureDir()
    // one source, two chain deployments (the reference runs one
    // keyspace per coin off per-coin cfgs): btc's tip margin is 6,
    // zec's 24 — the same default-range export ends at different tips
    val outOneShot = tmpOut()
    val outStaged = tmpOut()
    val rBtc = Export.run(spark, Export.Args(config = dir,
      out = outOneShot, chainConfig = Some(s"$cfgDir/btc.cfg"),
      tables = Some(Seq("tx"))))
    val rZec = Export.run(spark, Export.Args(config = dir,
      out = outStaged, chainConfig = Some(s"$cfgDir/zec.cfg"),
      tables = Some(Seq("tx"))))
    assert(rBtc.endIndex === lastParsed - 6)
    assert(rZec.endIndex === lastParsed - 24)

    // maintenance between ingests: compact the staged store (epoch
    // sub-partitions / small files collapse to one sorted file per
    // bucket). The resume watermark must survive the rewrite.
    graft.chain.ChainStore.compactTransactions(spark, outStaged)
    assert(Export.sinkMaxBlock(spark, outStaged) === Some(lastParsed - 24))

    // the chain advanced past the deeper margin (deploy now runs the
    // btc-margin cfg): --continue resumes at compacted-max + 1 and
    // lands exactly the (tip-24, tip-6] tail
    val r2 = Export.run(spark, Export.Args(config = dir,
      out = outStaged, continueIngest = true,
      chainConfig = Some(s"$cfgDir/btc.cfg"), tables = Some(Seq("tx"))))
    assert(r2.startIndex === lastParsed - 23)
    assert(r2.endIndex === lastParsed - 6)

    // convergence: compacted + resumed == one-shot, bit-for-bit (row
    // multisets of both tx-path tables; except() both ways is empty)
    for (t <- Seq("transaction", "transaction_by_tx_prefix")) {
      val a = spark.read.parquet(s"$outOneShot/$t")
      val b = spark.read.parquet(s"$outStaged/$t")
      assert(a.count() === b.count(), s"$t row count")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t content diverged")
    }
  }

  test("argument parser covers the reference surface") {
    val a = Export.parseArgs(Array("-c", "cfg", "--out", "o",
      "--continue", "--previous-day", "--start-index", "5",
      "--end-index", "-2", "-t", "tx", "block", "--bip30-fix"))
    assert(a.config === "cfg" && a.out === "o")
    assert(a.continueIngest && a.prevDay && a.bip30Fix)
    assert(a.startIndex === 5L && a.endIndex === -2L)
    assert(a.tables === Some(Seq("tx", "block")))
    intercept[IllegalArgumentException] { Export.parseArgs(Array("-c", "x")) }
    intercept[IllegalArgumentException] {
      Export.parseArgs(Array("--out", "o"))
    }
    intercept[IllegalArgumentException] {
      Export.parseArgs(Array("-c", "x", "--out", "o", "--bogus"))
    }
  }
}
