package graft

import graft.chain.Schemas

/** Derived outputs must conform to the declared seven-table contract
  * (SURVEY.md §1.3 / schema.cql). */
class SchemaSpec extends SparkSpec {

  private def schemaOf(name: String) =
    SparkEntry.queries(name)(spark, sf("sf0.001")).schema

  test("block table matches declared schema") {
    assert(Schemas.conforms(schemaOf("block_table"), Schemas.block))
  }

  test("nested transaction table matches declared schema") {
    // the typed face keeps the nested contract shape; the driver-facing
    // query entry serializes inputs/outputs so its content is hashable
    assert(Schemas.conforms(
      graft.queries.RefQueries.transactionTable(spark, sf("sf0.001")).schema,
      Schemas.transaction))
    val emitted = schemaOf("transaction_table")
    assert(emitted("inputs").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(emitted("outputs").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("prefix index matches declared schema (blob hash storage)") {
    import org.apache.spark.sql.functions._
    import graft.chain.Chain
    val idx = Chain.withBinaryHash(Chain.transactions(spark, sf("sf0.001")))
      .select(
        substring(col("tx_hash"), 1, Chain.PrefixLen).as("tx_prefix"),
        col("tx_hash"), col("tx_hash_bin"), col("tx_id"))
    assert(Schemas.conforms(idx.schema, Schemas.transactionByTxPrefix))
    assert(idx.schema("tx_hash_bin").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("exchange_rates map table matches declared schema") {
    assert(Schemas.conforms(
      graft.chain.Chain.exchangeRatesTable(
        graft.chain.Chain.rates(spark, sf("sf0.001"))).schema,
      Schemas.exchangeRates))
    assert(schemaOf("exchange_rates_table")("fiat_values").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("summary_statistics and configuration match declared schemas") {
    assert(Schemas.conforms(schemaOf("summary_statistics"),
      Schemas.summaryStatistics))
    assert(Schemas.conforms(schemaOf("configuration"), Schemas.configuration))
  }

  /** Lowercase, collapse whitespace, drop spaces around punctuation —
    * formatting-independent statement comparison. */
  private def normStmt(s: String): String =
    s.toLowerCase.replaceAll("\\s+", " ")
      .replaceAll(" ?([(),<>{}=]) ?", "$1").trim

  /** Key each statement by kind+name so a drift report names the object. */
  private def keyed(script: String): Map[String, String] =
    script.split(";").map(_.trim).filter(_.nonEmpty).map { st =>
      val n = normStmt(st)
      val key =
        if (n.startsWith("create table")) "table " + n.drop(12).takeWhile(_ != '(')
        else if (n.startsWith("create type")) "type " + n.drop(11).takeWhile(_ != '(')
        else if (n.startsWith("create keyspace")) "keyspace"
        else if (n.startsWith("use")) "use"
        else n.take(20)
      key.trim -> n
    }.toMap

  /** The checked-in golden copy of the reference keyspace DDL
    * (`src/test/resources/schema.cql`; its header records where it comes
    * from), without its comment lines. */
  private lazy val golden: String =
    scala.io.Source.fromResource("schema.cql", getClass.getClassLoader)
      .getLines().filterNot(_.startsWith("--")).mkString("\n")

  private def assertSameDdl(ours: Map[String, String],
      theirs: Map[String, String], what: String): Unit = {
    assert(ours.keySet === theirs.keySet,
      s"object sets differ: ours=${ours.keySet}, $what=${theirs.keySet}")
    for (k <- theirs.keySet.toSeq.sorted)
      assert(ours(k) === theirs(k), s"DDL drift in $k")
  }

  test("emitted CQL DDL matches the reference keyspace statement-for-statement") {
    assertSameDdl(keyed(graft.chain.CqlSchema.ddl), keyed(golden), "golden")
    // a graphsense-blocksci checkout next to this repository, when there
    // is one: the golden must still be the reference's DDL
    val ref = java.nio.file.Paths.get("..", "reference", "scripts", "schema.cql")
    if (java.nio.file.Files.exists(ref))
      assertSameDdl(keyed(golden), keyed(new String(
        java.nio.file.Files.readAllBytes(ref), "UTF-8")), "reference")
  }

  test("every exported CQL column maps to a declared engine field") {
    import org.apache.spark.sql.types._
    // allowed storage narrowings: engine type -> CQL types the export
    // may write it as
    def compatible(dt: DataType, cql: String): Boolean = {
      val c = normStmt(cql)
      dt match {
        case LongType => Set("bigint", "int", "smallint")(c)
        case StringType => Set("text", "blob")(c) // hex string -> blob at the edge
        case BinaryType => c == "blob"
        case BooleanType => c == "boolean"
        case ArrayType(StringType, _) => c == "list<text>"
        case ArrayType(s: StructType, _) =>
          c.startsWith("list<frozen<") // element shape checked via the UDT
        case MapType(StringType, FloatType, _) => c == "map<text,float>"
        case _ => false
      }
    }
    val objs: Seq[(String, StructType, Seq[graft.chain.CqlSchema.Col])] =
      graft.chain.CqlSchema.tables.map(t => (t.name, t.spark, t.cols)) ++
        graft.chain.CqlSchema.udts.map(u => (u.name, u.spark, u.cols))
    for ((name, spark, cols) <- objs; c <- cols if c.engine.nonEmpty) {
      assert(spark.fieldNames.contains(c.engine),
        s"$name.${c.cql}: engine field ${c.engine} not in declared schema")
      assert(compatible(spark(c.engine).dataType, c.cqlType),
        s"$name.${c.cql}: ${spark(c.engine).dataType} cannot export as ${c.cqlType}")
    }
  }
}
