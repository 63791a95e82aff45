package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The run-once lifecycle every catch-up stream shares — Structured
  * Streaming's contract of a run-once trigger, a checkpoint and an
  * idempotent sink (the reference's single `--continue` resume path,
  * blocksci_export.py:489-505). Sources come from [[files]], every
  * micro-batch sink is a [[sink]], runs go through [[runOnce]]; the
  * sinks' idempotent partition writes are
  * [[graft.chain.ChainStore.overwritePartitions]] and its epoch landing.
  */
private[graft] object Streams {

  /** A name no other run uses: memory-sink tables, sink and checkpoint
    * directories. */
  def freshName(tag: String): String =
    s"${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** `$dir/<table>*.parquet` as a file stream with the batch table's
    * schema. Glob form on purpose: for a non-glob path FileStreamSource
    * pins basePath to the file itself and then rejects it (not a
    * directory). `maxFilesPerTrigger` caps the files per micro-batch. */
  def files(s: SparkSession, dir: String, table: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader =
      s.readStream.schema(graft.chain.Chain.table(s, dir, table).schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(s"$dir/$table*.parquet")
  }

  /** `frame`'s writer that hands each micro-batch and its batch id to
    * `write` — the one sink every stream lands through. Replaying a batch
    * passes the same id again, so a `write` whose output is a function
    * of (batch, id) is idempotent. */
  def sink(frame: DataFrame)(write: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    frame.writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
      write(batch, id)
    }

  /** Run `writer` with AvailableNow over everything available, blocking
    * until the query has ended on its own (stopping it while its last
    * trigger winds down logs a spurious "Failed to cancel job group");
    * the query is stopped however the run ends. A `checkpoint` is kept
    * for a later run to resume. Without one the run gets a private
    * `target/tmp/ckpt_<uuid>`, deleted afterwards — no later run can
    * name it, so nothing could ever resume it. */
  def runOnce[T](writer: DataStreamWriter[T],
      checkpoint: Option[String]): Unit = {
    val ckpt = checkpoint.getOrElse(s"target/tmp/${freshName("ckpt")}")
    try {
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    } finally
      if (checkpoint.isEmpty)
        graft.ops.Tiers.deleteRecursively(new java.io.File(ckpt))
  }

  /** Start `writer` as a long-running query over the private checkpoint
    * `ckpt`, which is deleted once the query terminates, however it
    * ends: stopped by its owner, failed, or failed to start. The
    * listener that deletes it is registered before the start, so a
    * query that fails at once is still caught, and removes itself. */
  def startOwningCheckpoint[T](s: SparkSession, writer: DataStreamWriter[T],
      ckpt: String): StreamingQuery = {
    val name = freshName("live")
    def delete(): Unit = graft.ops.Tiers.deleteRecursively(new java.io.File(ckpt))
    val cleanup = new StreamingQueryListener {
      @volatile private var id: java.util.UUID = null
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == name) id = e.id
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == id) { s.streams.removeListener(this); delete() }
    }
    s.streams.addListener(cleanup)
    try writer.queryName(name).option("checkpointLocation", ckpt).start()
    catch {
      case e: Throwable =>
        s.streams.removeListener(cleanup); delete(); throw e
    }
  }
}
