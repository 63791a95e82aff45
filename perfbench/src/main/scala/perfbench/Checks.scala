package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks that do not depend on row order.
  *
  * A row's canonical form renders every value so that two runs of the
  * same computation agree: maps become their entries sorted by key,
  * arrays are sorted (compared as multisets), and floating-point values
  * are printed with 9 significant digits, because a sum's last bits
  * depend on the order its partial sums meet. */
object Checks {

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null).cast(StringType))
        .otherwise(format_string("%.9g", c.cast(DoubleType)))
    case st: StructType =>
      struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case ArrayType(et, _) => array_sort(transform(c, e => canon(e, et)))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"),
          canon(e.getField("value"), vt).as("v"))))
    case BinaryType => hex(c)
    case _ => c
  }

  /** One string per row, in canonical form. */
  def canonicalRows(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.schema.fields.toSeq.map(f =>
      canon(df.col(s"`${f.name}`"), f.dataType).as(f.name)): _*)).as("r"))

  /** Row count and an order-insensitive hash of the canonical rows, in
    * one pass over `df`. */
  def countAndHash(df: DataFrame): (Long, String) = {
    val r = canonicalRows(df).agg(count(lit(1)),
      sum(xxhash64(col("r")).cast(DecimalType(20, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
  }

  /** [[countAndHash]] of each named frame. The fingerprints are
    * independent jobs, so they run side by side; a frame that fails is
    * left out. */
  def fingerprints(
      frames: Seq[(String, DataFrame)]): Map[String, (Long, String)] = {
    val out = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]
    graft.ops.Tiers.buildConcurrently(frames.map { case (k, df) =>
      () => try { out.put(k, countAndHash(df)); () } catch {
        case e: Throwable => System.err.println(s"[perfbench] $k: $e")
      }
    })
    import scala.jdk.CollectionConverters._
    out.asScala.toMap
  }
}
