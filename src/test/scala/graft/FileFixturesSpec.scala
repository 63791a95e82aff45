package graft

import java.io.File

import graft.ops.TextCorpus.DocsFileTier
import graft.queries.RelQueries.OrdersFileTier

/** The file-format source queries (CSV/JSONL ingestion seams) must be
  * READ-ONLY over their parked fixtures: first access may build the
  * tier (parked-tier convention), re-invocation writes nothing. */
class FileFixturesSpec extends SparkSpec {

  private val cases = Seq(
    ("source_csv_roundtrip", OrdersFileTier, "csv"),
    ("source_jsonl_roundtrip", OrdersFileTier, "json"),
    ("token_count_jsonl", DocsFileTier, "jsonl"),
    ("token_count_jsonl_gz", DocsFileTier, "jsonl_gz"))

  test("file-source queries are read-only over parked fixtures") {
    val dir = sf("sf0.001")
    cases.foreach { case (name, tier, tag) =>
      val q = SparkEntry.queries(name)
      val first = q(spark, dir).count()
      assert(first > 0, s"$name returned no rows")
      val root = tier.park(dir, tag)(
        _ => sys.error(s"$tag fixture rebuilt on reuse"))
      val marker = new File(s"$root/_SUCCESS")
      assert(marker.exists(), s"$tag fixture missing _SUCCESS")
      val mtime = marker.lastModified()
      assert(q(spark, dir).count() === first)
      assert(marker.lastModified() === mtime,
        s"$name rewrote its source fixture inside the query path")
    }
  }

  test("JSONL corpus round-trip is lossless row-by-row") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val parquet = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars").cast("long")
          .as("n_chars"))
    val jsonl = spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG")
      .json(graft.ops.TextCorpus.jsonlFile(spark, dir))
    assert(jsonl.count() === parquet.count())
    assert(jsonl.exceptAll(parquet).count() === 0)
    assert(parquet.exceptAll(jsonl).count() === 0)
  }
}
