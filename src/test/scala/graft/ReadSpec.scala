package graft

import java.io.File

import org.apache.spark.sql.AnalysisException

import graft.chain.Chain
import graft.ops.{Tier, Tiers}

/** Immutable inputs (fixture tables, parked tiers) read with the schema
  * inferred once per listing and parquet settings: a repeat read starts
  * no schema-inference job, and any change to the table or the settings
  * infers again. */
class ReadSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** Spark jobs the body started, counted by the work meter (scoped to
    * the calling thread, so other suites' jobs never count). */
  private def jobs[T](body: => T): (T, Long) = {
    val (r, w) = WorkMeter.measure(spark)(body)
    (r, w.jobs)
  }

  test("a second Chain.table of an unchanged table starts no Spark job") {
    val dir = tempDir("read_")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val (first, inferred) = jobs(Chain.table(spark, dir, "t"))
    assert(inferred > 0)
    val (second, n) = jobs(Chain.table(spark, dir, "t"))
    assert(n === 0)
    assert(second.schema === first.schema)
    assert(second.as[(Long, String)].collect().sorted ===
      Array((1L, "a"), (2L, "b")))
  }

  test("a table rewritten in place reads back with its new schema") {
    val dir = tempDir("read_")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Chain.table(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((2L, 0.5)).toDF("k", "w").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    val (df, n) = jobs(Chain.table(spark, dir, "t"))
    assert(n > 0)
    assert(df.columns.toSeq === Seq("k", "w"))
    assert(df.as[(Long, Double)].collect() === Array((2L, 0.5)))
  }

  test("a changed parquet setting infers the schema again") {
    val dir = tempDir("read_")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    // a session of its own, so the setting reaches no other suite
    val s2 = spark.newSession()
    Chain.table(s2, dir, "t")
    assert(jobs(Chain.table(s2, dir, "t"))._2 === 0)
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (df, n) = jobs(Chain.table(s2, dir, "t"))
    assert(n > 0)
    assert(df.as[(Long, String)].collect() === Array((1L, "a")))
    assert(jobs(Chain.table(s2, dir, "t"))._2 === 0)
  }

  test("a missing table raises Spark's PATH_NOT_FOUND") {
    val dir = tempDir("read_")
    val e = intercept[AnalysisException](Chain.table(spark, dir, "absent"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }

  test("a plain path and its file: URI read the same table") {
    val dir = tempDir("read_")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val plain = Chain.table(spark, dir, "t")
    val (uri, n) =
      jobs(Chain.table(spark, s"file:${new File(dir).getAbsolutePath}", "t"))
    assert(n === 0)
    assert(uri.schema === plain.schema)
    assert(uri.as[(Long, String)].collect().sorted ===
      plain.as[(Long, String)].collect().sorted)
  }

  test("Tier.parquet read twice over one parked root infers once") {
    val t = Tier(s"readspec_${java.util.UUID.randomUUID()}", 1, Nil)
    val root = t.root("", "tier")
    try {
      def park() = t.parquet(spark, "", "tier")((1L to 3L).toDF("x"))
      val (_, built) = jobs(park())
      assert(built > 0)
      val (df, n) = jobs(park())
      assert(n === 0)
      assert(df.as[Long].collect().sorted === Array(1L, 2L, 3L))
    } finally Tiers.deleteRecursively(new File(root).getParentFile)
  }
}
