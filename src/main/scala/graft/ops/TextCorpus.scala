package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chain.Chain.table

/** Shared text-corpus derivations for the dedup/text-analysis operators,
  * with their DuckDB CTE mirrors (same lockstep contract as graft.chain).
  *
  * `corpus` injects exact duplicates (every 50th doc re-appears under
  * doc_id+1000000) so dedup operators have guaranteed positives on the
  * synthetic fixture; word-trigram `shingles` feed MinHash / Jaccard.
  */
object TextCorpus {
  val DupOffset = 1000000L

  /** The file-format copies of the documents table below, parked once
    * per fixture so the queries that ingest them stay READ-ONLY (a query
    * entry with a write side effect times fixture generation and
    * re-writes it on every invocation). Bump on any change to them. */
  private[graft] val DocsFileTier = Tier("docs_src", 1, Seq("documents"))

  /** The documents table as JSONL — the standard LLM-corpus interchange
    * format (one JSON object per line). Consumers read it back
    * schema-on-read and must produce results bit-identical to the
    * parquet path (the shared-oracle proof of the JSONL ingestion
    * seam). Returns the directory to point a JSON reader at. */
  def jsonlFile(s: SparkSession, dir: String): String =
    DocsFileTier.park(dir, "jsonl")(
      table(s, dir, "documents").write.mode("overwrite").json(_))

  /** The same corpus as GZIP-compressed JSONL — how LLM corpora
    * actually ship. Gzip is NOT splittable: one .gz file = one task at
    * any file size, so the fixture is written pre-sharded (8 files
    * here; a 100 TB corpus keeps shards at a few hundred MB compressed
    * so the read parallelism is the shard count, not 1). */
  def jsonlGzFile(s: SparkSession, dir: String): String =
    DocsFileTier.park(dir, "jsonl_gz")(
      table(s, dir, "documents").repartition(8)
        .write.mode("overwrite").option("compression", "gzip").json(_))

  /** documents + injected exact duplicates. */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + DupOffset).as("doc_id"), col("text")))
  }

  /** doc_id + words array (single-space tokenization, both engines keep
    * empty tokens identically). */
  def words(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("w"))

  /** Distinct word-trigram shingles of the PLAIN documents table (no
    * dup injection) — the exact all-pairs similarity domain. */
  def docShingles(s: SparkSession, dir: String): DataFrame =
    shingles(words(table(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))))
      .distinct()

  /** Word trigram shingles; docs with <3 words produce none. Spark arrays
    * are 0-indexed, DuckDB lists 1-indexed — the i-ranges are aligned so
    * both emit the same trigrams in the same order. */
  def shingles(wordsDf: DataFrame): DataFrame =
    wordsDf
      .select(col("doc_id"), col("w"),
        explode(when(size(col("w")) >= 3, sequence(lit(1), size(col("w")) - 2))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        expr("concat(w[i-1], ' ', w[i], ' ', w[i+1])").as("shingle"))

  // ---- DuckDB mirrors ---------------------------------------------------

  val corpusSql: String =
    """corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 1000000 AS BIGINT), text
      |  FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  val wordsSql: String =
    "words AS (SELECT doc_id, str_split(text, ' ') AS w FROM corpus)"

  /** words over plain documents (no dup injection) for text analysis. */
  val docWordsSql: String =
    """words AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang, source,
      |         str_split(text, ' ') AS w
      |  FROM documents)""".stripMargin

  val shinglesSql: String =
    """shingles AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM (SELECT doc_id, w,
      |          unnest(range(1, greatest(len(w) - 1, 1))) AS i
      |        FROM words))""".stripMargin
}
