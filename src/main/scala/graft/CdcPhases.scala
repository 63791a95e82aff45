package graft
import org.apache.spark.sql.functions._

/** Dev tool: decompose stream_cdc_apply's cost into its phases —
  * (a) one-time 64-bucket store init + change-file extracts (setup),
  * (b) the streaming per-batch merge apply, (c) the result read-back —
  * so optimization (and the SCALE.md attribution) targets the phase
  * that actually pays. Usage: runMain graft.CdcPhases [sfDir]
  */
object CdcPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = Session.local()
    graft.chain.Chain.table(spark, sfDir, "lineitem").count()
    def timed(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[cdcphases] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    for (round <- 1 to 2) {
      val out = s"target/tmp/cdcphases_$round"
      graft.ops.Tiers.deleteRecursively(new java.io.File(out))
      val base = graft.queries.RelQueries.cdcBase(spark, sfDir)
      val ch = graft.queries.RelQueries.cdcChanges(base)
      timed(s"r$round setup(init+changes, concurrent)") {
        graft.ops.Tiers.buildConcurrently(Seq(
          () => graft.streaming.IncrementalIngest.cdcStoreInit(
            base.select("k", "price", "status"), s"$out/store"),
          () => { ch.filter(col("k") % 2 === 0).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/changes.parquet"); () },
          () => { ch.filter(col("k") % 2 === 1).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/changes2.parquet"); () }))
      }
      timed(s"r$round apply(streaming merge)") {
        graft.streaming.IncrementalIngest.cdcApply(spark, out, s"$out/store")
      }
      timed(s"r$round readback+agg") {
        spark.read.parquet(s"$out/store")
          .groupBy(col("status").as("m_status"))
          .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_key"),
            sum(col("price")).cast("double").as("sum_price")).count()
        ()
      }
      graft.ops.Tiers.deleteRecursively(new java.io.File(out))
    }
    spark.stop()
  }
}
