package graft

import org.apache.spark.sql.functions._

/** Fixture-schema drift insurance: the driver regenerates the parquet
  * fixtures between rounds, and physical types have already shifted
  * once (events.ts TIMESTAMP(NANOS) → TIMESTAMP(MICROS), which broke
  * every events query until the readers became type-agnostic). This
  * spec rewrites the sf0.001 tables under PLAUSIBLE future drifts —
  * 64-bit ids narrowed to int32, float32 embeddings widened to
  * float64 — and asserts a representative query per family returns
  * EXACTLY what it returns on the canonical fixtures. int widening is
  * value-preserving and float→double widening preserves the binary
  * value, so any difference is a reader that hard-codes a physical
  * type instead of normalizing at the scan boundary.
  *
  * (Timestamp-precision drift itself is pinned separately by
  * TimeColumnsSpec across nanos-LONG / TIMESTAMP / TIMESTAMP_NTZ.)
  */
class SchemaDriftSpec extends SparkSpec with TempDirs {

  private lazy val driftDir: String = {
    val dir = tempDir("graft_drift")
    val src = sf("sf0.001")
    val names = new java.io.File(src).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.dropRight(8))
    for (n <- names) {
      val t = spark.read.parquet(s"$src/$n.parquet")
      val drifted = n match {
        case "documents" =>
          t.withColumn("doc_id", col("doc_id").cast("int"))
        case "embeddings" =>
          t.withColumn("vec_id", col("vec_id").cast("int"))
            .withColumn("embedding", col("embedding").cast("array<double>"))
        case "events" =>
          t.withColumn("event_id", col("event_id").cast("int"))
            .withColumn("user_id", col("user_id").cast("int"))
        case _ => t
      }
      drifted.write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private def rows(name: String, dir: String): Set[String] =
    SparkEntry.queries(name)(spark, dir)
      .collect().map(_.toString).toSet

  private def agrees(name: String): Unit = {
    val canonical = rows(name, sf("sf0.001"))
    val drifted = rows(name, driftDir)
    assert(drifted == canonical,
      s"$name differs between canonical and drifted fixtures")
    assert(canonical.nonEmpty, s"$name returned no rows")
  }

  test("documents family survives doc_id int32 narrowing") {
    agrees("dedup_exact")
    agrees("text_quality")
  }

  test("embeddings family survives int32 ids + float64 widening") {
    agrees("embed_cosine_topk")
    agrees("embed_lsh_ann")
  }

  test("events family survives int32 id narrowing") {
    agrees("events_sessionize")
    agrees("events_window_agg")
  }
}
