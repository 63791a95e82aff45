package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession setup every entry point shares. */
object Session {
  /** `SPARK_GRAFT_CPUS` when it is a positive integer, else every
    * available processor. */
  private[graft] def cpusFrom(v: Option[String]): Int =
    v.flatMap(s => scala.util.Try(s.trim.toInt).toOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Cores of a local session. */
  val cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A `local[cpus]` session (one shuffle partition per core, UTC, nanos
    * timestamps read as longs, no UI, warehouse under `target/`). */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
