package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** `dot_product_long(a, b)`: exact integer dot product of two
  * `array<bigint>` columns as one whole-stage-codegen'd loop.
  *
  * Replaces the `aggregate(zip_with(a, b, ...), ...)` composition in the
  * ANN hot path: zip_with materializes an intermediate array per row and
  * aggregate walks it with per-element lambda dispatch; this expression is
  * a single fused loop over the two unsafe array buffers — no allocation,
  * stays inside WholeStageCodegen. Mismatched lengths use the common
  * prefix; a null array yields null (standard null-intolerant semantics).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_product_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

/** `bit_interleave(x, y)`: the Morton / z-order interleave of the low
  * `nBits` bits of two non-negative bigints — x's bit i lands at output
  * position 2i+1, y's at 2i — as one codegen'd loop.
  *
  * Powers the z-order layout operator: the DSL alternative is a 2·nBits
  * term shift/mask/add fold whose expression tree grows with the bit
  * width; this is a single fused loop, constant-size code at any width,
  * inside WholeStageCodegen. Null-intolerant like the arithmetic form.
  */
case class BitInterleave(left: Expression, right: Expression, nBits: Int)
    extends BinaryExpression {
  require(nBits >= 1 && nBits <= 31, s"nBits must be in [1, 31], got $nBits")

  override def dataType: DataType = LongType
  override def prettyName: String = "bit_interleave"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long]
    val y = b.asInstanceOf[Long]
    var z = 0L
    var i = 0
    while (i < nBits) {
      z |= ((x >> i) & 1L) << (2 * i + 1)
      z |= ((y >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val z = ctx.freshName("z")
      s"""
         |long $z = 0L;
         |for (int $i = 0; $i < $nBits; $i++) {
         |  $z |= (($a >> $i) & 1L) << (2 * $i + 1);
         |  $z |= (($b >> $i) & 1L) << (2 * $i);
         |}
         |${ev.value} = $z;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitInterleave =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column-API entry point. */
  def dot_product_long(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-API entry point: interleave the low `nBits` bits. */
  def bit_interleave(a: Column, b: Column, nBits: Int): Column =
    ColumnBridge.column(BitInterleave(
      ColumnBridge.expression(a), ColumnBridge.expression(b), nBits))

  /** Expose to SQL: `SELECT dot_product_long(a, b)`; a no-op when the
    * session already has it. */
  def register(spark: SparkSession): Unit =
    ColumnBridge.registerFunction(spark, "dot_product_long",
      exprs => DotProductLong(exprs.head, exprs(1)))
}
