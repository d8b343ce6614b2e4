package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Hashing primitives for the large-scale dedup operators (SURVEY north star:
  * dedup / fingerprinting at 100 TB). The reference has no dedup beyond
  * `drop_duplicates` (`PGSITE/__init__.py:284`); these extend the engine for
  * LLM-training-data pipelines.
  *
  * SimHash cannot be expressed with built-in Spark SQL functions (it needs a
  * 64-lane bit-vote accumulated across a string array), so it is a native
  * Catalyst `UnaryExpression` with `doGenCode` delegating to a static method —
  * one virtual-call-free static invocation per row inside whole-stage codegen.
  */
object HashFunctions {

  /** FNV-1a 64-bit over UTF-8 bytes — stable across JVMs/versions, cheap,
    * and well-distributed enough for simhash bit votes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash of a token array: per-bit majority vote over each token's
    * FNV-1a hash. Near-identical token multisets → small Hamming distance. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv1a64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** `simhash64(array<string>) -> bigint` native expression (codegen'd). */
case class SimHash64(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  // elements are read through getUTF8String: anything but array<string>
  // (e.g. array<int>, whose UnsafeArrayData packs 4-byte slots) would
  // read misaligned offset/size words at runtime — garbage signatures or
  // a JVM crash. Reject at analysis time, same guard as WordGrams;
  // NullType stays accepted (null-in/null-out via nullSafeEval).
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | NullType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got ${t.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    HashFunctions.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashFunctions.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}
