package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-STREAM joins (the §2.9 family beyond stream-static): two live
  * event streams joined on key + event-time range, with watermarks
  * bounding both sides' join state — the attribution query every event
  * pipeline runs (views joined to the purchases they preceded).
  *
  * Results land through the same production sink shape as the ingest
  * paths: [[Streams.sink]] → (bucket, epoch)-keyed dynamic-overwrite
  * parquet — no memory sink, no driver collect; epoch replays are
  * idempotent and distinct epochs sharing a user bucket stay additive.
  *
  * On the in-order AvailableNow run the join result is exactly the
  * batch join (the DuckDB oracle); in a continuous deployment the
  * watermark delay is the lateness bound after which view-side state
  * for a passed attribution window is evicted.
  */
object StreamJoin {
  /** Attribution window: views within this many seconds BEFORE a
    * purchase by the same user are attributed to it. */
  val AttributionWindowSec = 86400L

  /** One side of the join, filtered to a type, with its own watermark.
    * Column names are side-prefixed so the range predicate can name
    * both sides unambiguously. */
  private def side(stream: DataFrame, tpe: String, p: String,
      delay: String): DataFrame =
    stream.filter(col("event_type") === tpe)
      .select(col("user_id").cast("long").as(s"${p}_user"),
        col("event_id").cast("long").as(s"${p}_id"),
        timestamp_seconds(graft.functions.TimeColumns.epochSeconds(stream))
          .as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", delay)

  /** Run the view→purchase attribution join as an AvailableNow job into
    * `out`. View-side state must outlive the attribution window, so its
    * watermark delay is window + lateness; the purchase side only needs
    * the lateness bound. */
  def attributionJoin(s: SparkSession, dir: String, out: String): Unit = {
    val stream = Streams.files(s, dir, "events")
    val views = side(stream, "view", "v",
      s"${AttributionWindowSec + 3600} seconds")
    val purchases = side(stream, "purchase", "p", "1 hour")
    val joined = views.join(purchases,
      expr(s"""v_user = p_user AND
              |v_ts >= p_ts - INTERVAL $AttributionWindowSec SECONDS AND
              |v_ts <= p_ts""".stripMargin))
      .select(col("p_user").as("user_id"),
        col("v_id").as("view_id"), col("p_id").as("purchase_id"),
        unix_timestamp(col("v_ts")).as("view_ets"),
        unix_timestamp(col("p_ts")).as("purchase_ets"))
    // each call is a FULL fresh build on a private checkpoint, so epoch
    // numbering restarts at 0 — stale pairs from a previous run whose
    // batch boundaries differed would survive the dynamic overwrite and
    // duplicate. Drop the previous pair store first (the same hazard
    // IncrementalIngest.resumeGuard blocks for the transaction store).
    graft.chain.ChainStore.delete(s, s"$out/pairs")
    // stream-stream join state fans out as shuffle.partitions × 4 state
    // stores, each committing per micro-batch — size the state
    // partitioning to the keyspace (state partitioning is fixed at first
    // start by the checkpoint, so this is the one knob that must be set
    // BEFORE .start(); a 100 TB deployment sizes it UP to spread state,
    // a single-node run sizes it down to cut per-commit overhead), and
    // restore the session value however the job ends — including a
    // failure in .start() itself.
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try Streams.runOnce(Streams.sink(joined)(writePairsEpoch(_, out, _)),
      None)
    finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** (user bucket, epoch)-keyed dynamic overwrite — same additive/
    * idempotent contract as ChainStore.writeTransactionsEpoch. */
  private def writePairsEpoch(df: DataFrame, out: String, epoch: Long): Unit =
    graft.chain.ChainStore.landEpoch(
      df.withColumn("user_group", (col("user_id") / 100L).cast("long")),
      s"$out/pairs", epoch, Seq("user_group"),
      col("user_id"), col("purchase_id"), col("view_id"))

  /** Store reader (epoch/bucket columns hidden). */
  def readPairs(s: SparkSession, out: String): DataFrame =
    s.read.parquet(s"$out/pairs").drop("user_group", "ingest_epoch")
}
