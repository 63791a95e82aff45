package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.chain.{CassandraShapedSink, Chain, ChainStore, SinkConfig}

/** Sink-layer contract: roundtrip, idempotent re-write (ST3), pruned
  * point lookups. */
class StoreSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val out = tempDir("store_")

  test("transaction write/read roundtrip + idempotent overwrite") {
    val dir = sf("sf0.001")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactions(tx, out)
    val once = spark.read.parquet(s"$out/transaction")
    assert(once.count() === tx.count())
    // re-ingesting the same range must converge (last-write-wins analog)
    ChainStore.writeTransactions(tx, out)
    val twice = spark.read.parquet(s"$out/transaction")
    assert(twice.count() === tx.count())
    assert(twice.select(sum("tx_id")).as[Long].head() ===
      tx.select(sum("tx_id")).as[Long].head())
  }

  test("every bucket file keeps its clustering order: block and " +
      "block_transactions descend in block_id, transaction ascends in " +
      "tx_id") {
    val dir = sf("sf0.01")
    def files(table: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f).filter(_.getName.endsWith(".parquet"))
      walk(new java.io.File(table)).map(_.getPath).sorted
    }
    // each file read on its own (one file, one partition: row order kept)
    def assertSorted(table: String, id: String, desc: Boolean): Unit = {
      val fs = files(table)
      assert(fs.nonEmpty, s"no parquet file under $table")
      val unsorted = fs.filterNot { f =>
        val ids = spark.read.parquet(f).select(col(id).cast("long"))
          .as[Long].collect().toSeq
        ids == (if (desc) ids.sorted.reverse else ids.sorted)
      }
      assert(unsorted.isEmpty, s"${unsorted.size} of ${fs.size} files " +
        s"under $table out of $id order: ${unsorted.take(3)}")
    }
    val eout = tempDir("clustered_export_")
    Export.run(spark, Export.Args(config = dir, out = eout))
    assertSorted(s"$eout/block", "block_id", desc = true)
    assertSorted(s"$eout/block_transactions", "block_id", desc = true)
    assertSorted(s"$eout/transaction", "tx_id", desc = false)
    // a source whose partitions arrive in DESCENDING tx_id order, so a
    // lost sort cannot hide behind the order the source happens to have
    // (pinned by a local checkpoint: the optimizer drops an orderBy that
    // a shuffle follows)
    val tx = Chain.transactions(spark, dir).orderBy(col("tx_id").desc)
      .localCheckpoint()
    val sout = tempDir("clustered_epochs_")
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 0),
      sout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 1),
      sout, 1L)
    assertSorted(s"$sout/transaction", "tx_id", desc = false)
    // compaction merges both epochs of a bucket into one file, in order
    ChainStore.compactTransactions(spark, sout)
    assertSorted(s"$sout/transaction", "tx_id", desc = false)
  }

  test("compaction seals an epoch store: same rows, one file per bucket") {
    val dir = sf("sf0.001")
    val cout = tempDir("compact_")
    val tx = Chain.transactions(spark, dir)
    // two epochs land separately → every bucket holds ≥2 epoch subdirs
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 0), cout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 2 === 1), cout, 1L)
    val before = ChainStore.readTransactions(spark, cout)
    assert(before.count() === tx.count())
    ChainStore.compactTransactions(spark, cout)
    val after = ChainStore.readTransactions(spark, cout)
    assert(after.count() === tx.count())
    assert(after.select(sum("tx_id")).as[Long].head() ===
      tx.select(sum("tx_id")).as[Long].head())
    // sealed: batch layout (no epoch key), exactly one parquet per bucket
    assert(!spark.read.parquet(s"$cout/transaction")
      .schema.fieldNames.contains("ingest_epoch"))
    val buckets = new java.io.File(s"$cout/transaction").listFiles()
      .filter(_.getName.startsWith("tx_id_group="))
    assert(buckets.nonEmpty)
    for (b <- buckets)
      assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"bucket ${b.getName} not compacted to one file")
    // and a sealed store refuses further epoch ingest
    intercept[IllegalArgumentException] {
      graft.streaming.IncrementalIngest.resumeGuard(spark, cout, Long.MaxValue)
    }
    // ...and refuses time-travel reads with the layout message — the
    // epoch history is gone, so ANY answer (full table included) would
    // be a wrong snapshot
    val e = intercept[IllegalArgumentException] {
      ChainStore.readTransactionsAsOf(spark, cout, 0L)
    }
    assert(e.getMessage.contains("not epoch-keyed"),
      s"unexpected failure shape: ${e.getMessage}")
  }

  test("an emptied epoch store reads as absent: no vacuum floor, no sink " +
      "max, no newest epoch") {
    val dir = sf("sf0.001")
    val eout = tempDir("emptied_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx, eout, 0L)
    // a rollback below every landed block (the deepest reorg) leaves
    // the bucket directories behind with no parquet file under them
    ChainStore.rollbackAbove(spark, eout,
      tx.agg(min("block_id")).as[Long].head() - 1L)
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(parquetFiles)
      else Seq(f).filter(_.getName.endsWith(".parquet"))
    val txDir = new java.io.File(s"$eout/transaction")
    assert(txDir.listFiles().exists(_.getName.startsWith("tx_id_group=")))
    assert(parquetFiles(txDir).isEmpty)
    Seq(eout, s"file:${new java.io.File(eout).getAbsolutePath}").foreach { o =>
      assert(ChainStore.backfillVacuumFloor(spark, o) === None, o)
      assert(Export.sinkMaxBlock(spark, o) === None, o)
      assert(graft.streaming.IncrementalIngest.resumeGuard(spark, o,
        Long.MaxValue) === None, o)
    }
    assert(!new java.io.File(s"$eout/transaction_vacuum_floor").exists())
  }

  test("a repeated rollback below the first block is a no-op on the " +
      "emptied store") {
    val dir = sf("sf0.001")
    val rout = tempDir("rollback_twice_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx, rout, 0L)
    val below = tx.agg(min("block_id")).as[Long].head() - 1L
    ChainStore.rollbackAbove(spark, rout, below)
    // the second rollback finds bucket dirs and no parquet file
    ChainStore.rollbackAbove(spark, rout, below)
    assert(ChainStore.table(spark, rout, "transaction") === None)
    assert(!new java.io.File(s"$rout/transaction__rollback").exists())
  }

  test("compaction recovers the store after a crash between swap renames") {
    val dir = sf("sf0.001")
    val cout = tempDir("crash_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx, cout, 0L)
    // simulate dying between rename(live->old) and rename(staged->live):
    // live is gone, old holds the only copy
    assert(new java.io.File(s"$cout/transaction")
      .renameTo(new java.io.File(s"$cout/transaction__old")))
    ChainStore.compactTransactions(spark, cout)
    val after = ChainStore.readTransactions(spark, cout)
    assert(after.count() === tx.count())
    assert(!new java.io.File(s"$cout/transaction__old").exists())
  }

  test("history vacuum folds epochs below the floor; expired snapshots " +
      "refuse; retained snapshots are bit-identical") {
    val dir = sf("sf0.001")
    val vout = tempDir("vacuum_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 0), vout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 1), vout, 1L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 2), vout, 2L)
    val asOf1Before = ChainStore.readTransactionsAsOf(spark, vout, 1L)
      .select(sum("tx_id")).as[Long].head()
    ChainStore.vacuumTransactionsBelow(spark, vout, 1L)
    // retained snapshots serve identically
    assert(ChainStore.readTransactionsAsOf(spark, vout, 1L)
      .select(sum("tx_id")).as[Long].head() === asOf1Before)
    assert(ChainStore.readTransactionsAsOf(spark, vout, 2L).count() ===
      tx.count())
    // the expired epoch-0 directories are physically gone
    val epochDirs = new java.io.File(s"$vout/transaction").listFiles()
      .filter(_.getName.startsWith("tx_id_group="))
      .flatMap(_.listFiles()).map(_.getName).toSet
    assert(!epochDirs.contains("ingest_epoch=0"), s"epoch 0 survived: $epochDirs")
    assert(epochDirs.contains("ingest_epoch=1"))
    // a snapshot below the floor refuses loudly instead of serving a
    // partial table
    val e = intercept[IllegalArgumentException] {
      ChainStore.readTransactionsAsOf(spark, vout, 0L)
    }
    assert(e.getMessage.contains("expired"),
      s"unexpected failure shape: ${e.getMessage}")
    // still epoch-keyed: a later vacuum (or compaction) keeps working
    ChainStore.vacuumTransactionsBelow(spark, vout, 2L)
    assert(ChainStore.readTransactionsAsOf(spark, vout, 2L).count() ===
      tx.count())
  }

  test("as-of below a never-vacuumed store's first epoch is a valid " +
      "empty snapshot, not an 'expired' error") {
    val dir = sf("sf0.001")
    val nout = tempDir("novac_")
    val tx = Chain.transactions(spark, dir)
    // epoch numbering starts at 1 — nothing was ever vacuumed
    ChainStore.writeTransactionsEpoch(tx, nout, 1L)
    assert(ChainStore.vacuumFloor(spark, nout) === None)
    assert(ChainStore.readTransactionsAsOf(spark, nout, 0L).count() === 0L)
    assert(ChainStore.readTransactionsAsOf(spark, nout, 1L).count() ===
      tx.count())
  }

  test("as-of read returns each epoch's snapshot and prunes partitions") {
    val dir = sf("sf0.001")
    val tout = tempDir("asof_")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 0), tout, 0L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 1), tout, 1L)
    ChainStore.writeTransactionsEpoch(tx.filter(col("tx_id") % 3 === 2), tout, 2L)
    // as-of each epoch == the prefix of batches replayed directly
    assert(ChainStore.readTransactionsAsOf(spark, tout, 0L).count() ===
      tx.filter(col("tx_id") % 3 === 0).count())
    assert(ChainStore.readTransactionsAsOf(spark, tout, 1L).count() ===
      tx.filter(col("tx_id") % 3 < 2).count())
    // as-of the newest epoch == the plain full read
    assert(ChainStore.readTransactionsAsOf(spark, tout, 2L).count() ===
      ChainStore.readTransactions(spark, tout).count())
    // the as-of predicate must reach the file listing as a partition
    // filter — a snapshot read costs the snapshot, not the history
    val plan = ChainStore.readTransactionsAsOf(spark, tout, 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*ingest_epoch.*"),
      s"as-of filter not pushed to partition pruning:\n$plan")
  }

  test("point lookup by tx id prunes to one bucket") {
    val lookup = ChainStore.lookupByTxId(spark, out, 7L)
    assert(lookup.count() === 1)
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") ||
      plan.contains("tx_id_group"), s"no partition pruning in:\n$plan")
  }

  test("keyset page prunes buckets below the cursor and avoids a " +
      "global sort") {
    val cursor = 30L
    val page = spark.read.parquet(s"$out/transaction")
      .filter(col("tx_id_group").cast("long") >=
          cursor / Chain.TxBucketSize &&
        col("tx_id") > cursor)
      .orderBy(col("tx_id")).limit(5)
    val plan = page.queryExecution.executedPlan.toString
    // the derived bucket bound must reach the scan as a partition
    // filter, and the page must finish as a distributed top-k, never
    // a single-partition global sort
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("tx_id_group"), s"no partition pruning in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"page is not a distributed top-k:\n$plan")
    assert(page.select("tx_id").as[Long].collect().toSeq ===
      (cursor + 1 to cursor + 5))
    // the density-bounded form: BOTH bucket bounds reach the scan as
    // partition filters, so the page reads ≤ 2 partition dirs at any
    // store size
    val b = cursor / Chain.TxBucketSize
    val bounded = spark.read.parquet(s"$out/transaction")
      .filter(col("tx_id_group").cast("long").between(b, b + 1) &&
        col("tx_id") > cursor)
      .orderBy(col("tx_id")).limit(5)
    val bplan = bounded.queryExecution.executedPlan.toString
    assert(bplan.contains("PartitionFilters: [") &&
      bplan.contains(">=") && bplan.contains("<="),
      s"bounded page lacks the two-sided partition bound:\n$bplan")
    assert(bounded.select("tx_id").as[Long].collect().toSeq ===
      (cursor + 1 to cursor + 5))
  }

  test("hash prefix index lookup returns exactly the target") {
    val dir = sf("sf0.001")
    val tx = Chain.transactions(spark, dir)
    ChainStore.writePrefixIndex(tx, out)
    val h = tx.filter(col("tx_id") === 42L).select("tx_hash").as[String].head()
    val got = ChainStore.lookupByHash(spark, out, h)
    assert(got.select("tx_id").as[Long].collect().toSeq === Seq(42L))
    // the prefix predicate reaches the parquet scan, where the footers'
    // min/max statistics of the sorted column skip files and row groups
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*tx_prefix.*"),
      s"tx_prefix predicate not pushed to the scan:\n$plan")
  }

  /** Per-file (min, max) of a string column across its row groups, read
    * from the parquet footers of `dir`'s data files. */
  private def footerRanges(dir: String, column: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try {
          val stats = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == column).get
              .getStatistics
              .asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
          }.filter(_.hasNonNullValue)
          if (stats.isEmpty) None
          else Some((stats.map(_.genericGetMin.toStringUsingUTF8).min,
            stats.map(_.genericGetMax.toStringUsingUTF8).max))
        } finally reader.close()
      }.sortBy(_._1)
  }

  test("prefix index is one sorted run of files with the declared columns") {
    val dir = sf("sf0.001")
    def check(s: org.apache.spark.sql.SparkSession, minFiles: Int): Unit = {
      val iout = tempDir("prefix_")
      val tx = Chain.transactions(s, dir)
      ChainStore.writePrefixIndex(tx, iout)
      val path = s"$iout/transaction_by_tx_prefix"
      // exactly the declared contract on disk: no partition column
      val idx = s.read.parquet(path)
      assert(graft.chain.Schemas.conforms(idx.schema,
        graft.chain.Schemas.transactionByTxPrefix), s"${idx.schema}")
      assert(!new java.io.File(path).listFiles().exists(_.isDirectory))
      assert(idx.count() === tx.count())
      // AQE sets the file count; each file covers a disjoint range
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val prefixes = footerRanges(path, "tx_prefix")
      val hashes = footerRanges(path, "tx_hash")
      assert(prefixes.size >= minFiles && prefixes.size <= nParts,
        s"${prefixes.size} files for $nParts shuffle partitions")
      // a prefix may straddle two files at their boundary; the hashes
      // (the full sort key) may not
      for (Seq((_, hi), (lo, _)) <- prefixes.sliding(2))
        assert(hi <= lo, s"prefix ranges overlap: $prefixes")
      for (Seq((_, hi), (lo, _)) <- hashes.sliding(2))
        assert(hi < lo, s"hash ranges overlap: $hashes")
    }
    check(spark, minFiles = 1)
    // a smaller coalescing floor lets AQE keep several ranges apart
    val small = spark.newSession()
    small.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "1k")
    check(small, minFiles = 2)
  }

  test("hash lookup on a legacy p2-partitioned index returns exactly the " +
      "target, and a rewrite replaces that layout") {
    val dir = sf("sf0.001")
    val lout = tempDir("legacy_")
    val tx = Chain.transactions(spark, dir)
    // the layout indexes were written in before: one directory per first
    // two hex chars of the hash, p2 as a partition column
    tx.select(substring(col("tx_hash"), 1, 2).as("p2"),
        substring(col("tx_hash"), 1, Chain.PrefixLen).as("tx_prefix"),
        col("tx_hash"), unhex(col("tx_hash")).as("tx_hash_bin"),
        col("tx_id"))
      .repartition(col("p2"))
      .sortWithinPartitions(col("tx_prefix"), col("tx_hash"))
      .write.partitionBy("p2").parquet(s"$lout/transaction_by_tx_prefix")
    val h = tx.filter(col("tx_id") === 42L).select("tx_hash").as[String].head()
    val legacy = ChainStore.lookupByHash(spark, lout, h)
    assert(legacy.select("tx_id").as[Long].collect().toSeq === Seq(42L))
    // the plain overwrite leaves no p2 directory behind
    ChainStore.writePrefixIndex(tx, lout)
    assert(!new java.io.File(s"$lout/transaction_by_tx_prefix").listFiles()
      .exists(_.isDirectory))
    assert(ChainStore.lookupByHash(spark, lout, h).select("tx_id").as[Long]
      .collect().toSeq === Seq(42L))
  }

  test("writeChain exports all tables through the sink trait") {
    val dir = sf("sf0.001")
    val chainOut = tempDir("chain_")
    Graft.writeChain(spark, dir, chainOut)
    val n = Chain.transactions(spark, dir).count()
    val nBlocks = Chain.blocks(spark, dir).count()
    assert(spark.read.parquet(s"$chainOut/transaction").count() === n)
    assert(spark.read.parquet(s"$chainOut/transaction_by_tx_prefix")
      .count() === n)
    assert(spark.read.parquet(s"$chainOut/block").count() === nBlocks)
    // the full seven-table keyspace (schema.cql:6-75)
    val bt = spark.read.parquet(s"$chainOut/block_transactions")
    assert(bt.count() === nBlocks)
    // per-block tx_summary lists cover every tx exactly once
    import org.apache.spark.sql.functions.{aggregate, col, lit, sum}
    assert(bt.select(
      aggregate(col("txs"), lit(0L), (a, _) => a + 1L).as("k"))
      .agg(sum("k")).as[Long].head() === n)
    assert(spark.read.parquet(s"$chainOut/exchange_rates").count() ===
      Chain.exchangeRatesTable(Chain.rates(spark, dir)).count())
    assert(spark.read.parquet(s"$chainOut/summary_statistics").count() === 1)
    assert(spark.read.parquet(s"$chainOut/configuration").count() === 1)
  }

  test("blockTransactions conforms to the declared contract schema") {
    val bt = Chain.blockTransactions(spark, sf("sf0.001"))
    assert(graft.chain.Schemas.conforms(bt.schema,
      graft.chain.Schemas.blockTransactions))
    // ordered: each list ascends by tx_id
    import org.apache.spark.sql.functions.{col, expr}
    val unordered = bt.filter(!expr(
      "forall(zip_with(txs, slice(txs, 2, size(txs)), (a, b) -> a.tx_id < b.tx_id), x -> x)"))
    assert(unordered.count() === 0L)
  }

  test("connector-shaped sink routes tables with the reference's options") {
    val cfg = SinkConfig(keyspace = "btc",
      nodes = Seq("n1", "n2"), concurrency = 50)
    val captured = scala.collection.mutable.Buffer.empty[(String, Long)]
    val ids = scala.collection.mutable.Map.empty[String, String]
    val sink = new CassandraShapedSink(cfg) {
      override protected def save(df: org.apache.spark.sql.DataFrame,
          table: String): Unit = {
        captured += ((table, df.count()))
        if (df.schema.fieldNames.contains("id"))
          ids(table) = df.select("id").head().getString(0)
      }
    }
    Graft.writeChain(spark, sf("sf0.001"), out = "", sink)
    // single-row tables are keyed by the keyspace name, as the reference
    // inserts them (blocksci_export.py:383, 625-629)
    assert(ids("summary_statistics") === "btc")
    assert(ids("configuration") === "btc")
    assert(captured.map(_._1).toSet ===
      graft.chain.CqlSchema.tables.map(_.name).toSet)
    assert(captured.forall(_._2 > 0))
    val opts = sink.writerOptions("transaction")
    assert(opts("keyspace") === "btc")
    assert(opts("table") === "transaction")
    assert(opts("spark.cassandra.connection.host") === "n1,n2")
    assert(opts("spark.cassandra.connection.port") === "9042")
    assert(opts("spark.cassandra.output.concurrent.writes") === "50")
    // DDL bootstrap carries the configured keyspace + all 7 tables
    val ddl = sink.bootstrapDdl
    assert(ddl.contains("CREATE KEYSPACE IF NOT EXISTS btc"))
    assert(!ddl.contains("graphsense"))
    for (t <- graft.chain.CqlSchema.tables.map(_.name))
      assert(ddl.contains(s"CREATE TABLE $t"), s"missing table $t in DDL")
  }

  test("per-table writer contracts: full option map, and every shipped " +
      "column lands in a declared CQL column of its table") {
    import org.apache.spark.sql.types._
    val cfg = SinkConfig(keyspace = "ltc", nodes = Seq("db1"),
      port = 9043, concurrency = 64, consistency = "ONE")
    val shipped = scala.collection.mutable.Map.empty[String, StructType]
    val ids = scala.collection.mutable.Map.empty[String, String]
    val sink = new CassandraShapedSink(cfg) {
      override protected def save(df: org.apache.spark.sql.DataFrame,
          table: String): Unit = {
        shipped(table) = df.schema
        if (df.schema.fieldNames.contains("id"))
          ids(table) = df.select("id").head().getString(0)
      }
    }
    Graft.writeChain(spark, sf("sf0.001"), out = "", sink)
    val declared = graft.chain.CqlSchema.tables.map(t => t.name -> t).toMap
    assert(shipped.keySet === declared.keySet)
    // the full option map per table — the connector contract a live
    // cluster would read (the closest zero-egress proxy to executing
    // .save(); the reference CLI surface: blocksci_export.py:396-418)
    for (t <- declared.keySet) {
      assert(sink.writerOptions(t) === Map(
        "keyspace" -> "ltc", "table" -> t,
        "spark.cassandra.connection.host" -> "db1",
        "spark.cassandra.connection.port" -> "9043",
        "spark.cassandra.output.concurrent.writes" -> "64",
        "spark.cassandra.output.consistency.level" -> "ONE"))
    }
    // shipped column → declared CQL column of THAT table, with a
    // storage-compatible type (same narrowing table as SchemaSpec)
    def compatible(dt: DataType, cqlType: String): Boolean = {
      val c = cqlType.toLowerCase.replaceAll("\\s+", "")
      dt match {
        case LongType => Set("bigint", "int", "smallint")(c)
        case StringType => Set("text", "blob")(c)
        case BinaryType => c == "blob"
        case BooleanType => c == "boolean"
        case ArrayType(StringType, _) => c == "list<text>"
        case ArrayType(_: StructType, _) => c.startsWith("list<frozen<")
        case MapType(StringType, FloatType, _) => c == "map<text,float>"
        case _ => false
      }
    }
    for ((table, schema) <- shipped; f <- schema.fields) {
      val col = declared(table).cols
        .find(c => c.engine == f.name || c.cql == f.name)
      assert(col.isDefined,
        s"$table ships undeclared column ${f.name}")
      assert(compatible(f.dataType, col.get.cqlType),
        s"$table.${f.name}: ${f.dataType} cannot land in " +
          s"CQL ${col.get.cqlType}")
    }
    // keyspace-stamped singleton rows (blocksci_export.py:383, 625-629)
    assert(ids("summary_statistics") === "ltc")
    assert(ids("configuration") === "ltc")
  }
}
