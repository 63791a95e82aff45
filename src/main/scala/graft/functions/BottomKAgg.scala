package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded bottom-k aggregator: keeps the k SMALLEST of a group's
  * DISTINCT inputs under the element type's `Ordering`, ascending. A
  * top-k is a bottom-k under a descending order ([[ScoredId]]).
  *
  * Unlike `row_number().over(Window.partitionBy(g).orderBy(...)) <= k`,
  * which shuffles every candidate row and sorts whole partitions, this
  * prunes to k inside each map task (partial aggregation), so a group
  * costs O(k · #mappers) shuffle rows no matter how many values it
  * holds, and its buffer never exceeds 4k values anywhere in the plan.
  * The result is DETERMINISTIC for a given input set — the k smallest
  * of a set depend on neither merge order nor partitioning — which is
  * what lets the sketches and samples built on it (KMV, the quantile
  * sample, posting heads, priority samples) hash-match a DuckDB mirror.
  * Duplicates collapse: the result is over the distinct input set.
  */
class BottomKAgg[T: Ordering: TypeTag](k: Int)
    extends Aggregator[T, ArrayBuffer[T], Seq[T]] {
  require(k >= 1, s"need k >= 1, got $k")

  private def prune(b: ArrayBuffer[T]): ArrayBuffer[T] = {
    val kept = b.distinct.sorted.take(k)
    b.clear(); b ++= kept; b
  }

  override def zero: ArrayBuffer[T] = ArrayBuffer.empty
  override def reduce(b: ArrayBuffer[T], a: T): ArrayBuffer[T] = {
    b += a
    if (b.size > 4 * k) prune(b) else b
  }
  override def merge(b1: ArrayBuffer[T], b2: ArrayBuffer[T]): ArrayBuffer[T] =
    prune(b1 ++= b2)
  override def finish(b: ArrayBuffer[T]): Seq[T] = prune(b).toSeq
  override def bufferEncoder: Encoder[ArrayBuffer[T]] =
    Encoders.kryo[ArrayBuffer[T]]
  override def outputEncoder: Encoder[Seq[T]] = ExpressionEncoder()
}

/** A scored id ordered by (score desc, id asc) — the same deterministic
  * tie-break as the ranking-window form, so a [[BottomKAgg]] top-k and
  * the window share one oracle. */
case class ScoredId(cos: Double, id: Long)

object ScoredId {
  implicit val ord: Ordering[ScoredId] = Ordering.by(s => (-s.cos, s.id))
}
