package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted and generated code. */
object WindowHashKernel {
  /** xxhash64 (seed 42, Spark's `xxhash64` arithmetic) of every
    * length-`l` CHARACTER window of `s`, element k hashing the window
    * starting at 1-based char position k+1 — the packed replacement
    * for `transform(sequence(1, len-l+1), i -> xxhash64(substring(
    * text, i, l)))`. One pass records each char's byte offset
    * (UTF8String char = code point, exactly Spark's substring/length
    * semantics), then each window hashes its UTF-8 byte slice
    * in place: zero per-window string allocations, and equal window
    * strings hash equal by construction (same code points → same
    * bytes). Collisions between DIFFERENT windows remain possible and
    * are the caller's text-verify responsibility, exactly as with
    * `xxhash64(substring(…))`.
    */
  def windowHashes(s: UTF8String, l: Int): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // char-start byte offsets in one pass (offs(n) = nBytes sentinel)
    var n = 0
    var b = 0
    while (b < nBytes) { b += UTF8String.numBytesForFirstByte(bytes(b)); n += 1 }
    if (n < l) return new GenericArrayData(Array.emptyLongArray)
    val offs = new Array[Int](n + 1)
    var i = 0
    b = 0
    while (b < nBytes) {
      offs(i) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      i += 1
    }
    offs(n) = nBytes
    val out = new Array[Long](n - l + 1)
    var k = 0
    while (k <= n - l) {
      out(k) = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + offs(k), offs(k + l) - offs(k), 42L)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_window_hashes(string, L) → array<bigint>: xxhash64 of every
  * length-L character window, element k = window at 1-based char
  * position k+1. L must be a positive INT literal.
  */
case class WindowHashes(child: Expression, l: Int) extends UnaryExpression {
  require(l > 0, s"graft_window_hashes: L must be positive, got $l")
  override def prettyName: String = "graft_window_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_window_hashes requires STRING input, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    WindowHashKernel.windowHashes(input.asInstanceOf[UTF8String], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WindowHashKernel.windowHashes($c, $l)")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

object WindowHashes {
  /** Shared builder: extracts the required INT-literal window length. */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"graft_window_hashes requires exactly 2 arguments (text, L), got ${exprs.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    val l = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"graft_window_hashes: L must be an INT literal, got $other")
    }
    WindowHashes(exprs.head, l)
  }
}
