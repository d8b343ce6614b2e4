package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve space-filling index for two 16-bit dimensions — the
  * locality-preserving alternative to [[graft.operators.Transforms.zorder16]]
  * for file layout: consecutive Hilbert keys are always adjacent cells
  * (Morton/Z-order jumps across the plane at power-of-two boundaries), so
  * range queries touch fewer files at the same file count. This is the
  * layout modern lakehouse clustering uses for multi-dimensional locality.
  *
  * `xy2d16` is the standard iterative rotate-and-accumulate walk, 16 levels
  * for 16-bit inputs (callers range-normalize to [0, 65535] first, as with
  * zorder16). Implemented as a native codegen'd expression: the per-level
  * rotation carries (x, y) STATE across iterations, which as a Column
  * expression tree would replicate subtrees exponentially — a plain Java
  * loop is both exact and whole-stage-codegen friendly.
  */
object HilbertOps {
  def xy2d16(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0
    var d = 0L
    var s = 1L << 15
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def hilbert16(a: Column, b: Column): Column =
    GraftBridge.column(HilbertIndex16(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** `hilbert16(x, y) -> long` — codegen'd two-dimensional Hilbert index over
  * 16-bit range-normalized inputs. */
case class HilbertIndex16(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert16"
  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertOps.xy2d16(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.functions.HilbertOps.xy2d16($x, $y)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
