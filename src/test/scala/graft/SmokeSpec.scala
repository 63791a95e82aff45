package graft

/** Every declared query runs at sf0.001; flagship entry returns rows. */
class SmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query executes at sf0.001") {
    val dir = sf("sf0.001")
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("oracle map only names declared queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("no oracle's WITH list declares a CTE name twice") {
    // DuckDB rejects a duplicate CTE name, so a shared CTE composed into
    // one oracle twice would otherwise fail only against DuckDB. A
    // top-level CTE starts its line: `name AS (` or `name(cols) AS (`.
    val decl = """^(?:WITH (?:RECURSIVE )?)?(\w+)(?:\([^)]*\))? AS (?:MATERIALIZED )?\(""".r
    val declared = SparkEntry.oracleSql.map { case (name, sql) =>
      name -> sql.linesIterator.flatMap(decl.findFirstMatchIn(_))
        .map(_.group(1).toLowerCase).toSeq
    }
    assert(declared("embed_lsh_ann").containsSlice(Seq("cand", "cdots", "ccos")))
    val dups = declared.toSeq.sortBy(_._1).collect {
      case (name, ctes) if ctes.distinct.size < ctes.size =>
        s"$name: ${ctes.diff(ctes.distinct).distinct.mkString(", ")}"
    }
    assert(dups.isEmpty, dups.mkString("\n"))
  }

  test("scale-up factor guard admits the documented range") {
    ScaleUp.checkFactor(1)
    ScaleUp.checkFactor(10)  // the default invocation and SCALE.md's curve
    ScaleUp.checkFactor(30)  // stress runs (bip30 family excluded there)
    ScaleUp.checkFactor(100) // chain-build decade-up probes
    intercept[IllegalArgumentException] { ScaleUp.checkFactor(0) }
    intercept[IllegalArgumentException] { ScaleUp.checkFactor(101) }
  }
}
