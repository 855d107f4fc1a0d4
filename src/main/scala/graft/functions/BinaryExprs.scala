package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Content-defined-chunking boundary positions over a binary payload —
  * the native one-pass twin of the declarative
  * `filter(transform(sequence(...), i => md5(substr(...))))`
  * formulation (`BinaryOracles.cdcBoundariesDeclarative`, pinned equal
  * by BinaryOpsSpec).
  *
  * A position `i` (1-based, `window ≤ i ≤ len`) is a boundary when the
  * md5 of the `window` bytes ENDING at `i` has `maskHexChars` leading
  * zero hex digits — a pure content predicate, so chunk boundaries
  * re-synchronize after insertions/deletions (the property fixed-width
  * chunking lacks, and the reason CDC is the dedup-friendly chunking
  * for mutable binary payloads). Expected chunk length is
  * 16^maskHexChars bytes.
  *
  * The declarative twin materializes a position array and evaluates an
  * interpreted lambda + hex conversion per BYTE; this loop digests into
  * a thread-local MessageDigest and tests the leading nibbles directly.
  * (The boundary RULE stays md5 so any SQL engine — and the DuckDB
  * oracle — can recompute it; a rolling gear hash would be cheaper
  * still but unverifiable outside the JVM.)
  */
case class CdcBoundaries(child: Expression, window: Int, maskHexChars: Int)
  extends UnaryExpression {
  require(window >= 1, "window must be >= 1")
  require(maskHexChars >= 1 && maskHexChars <= 8, "maskHexChars in [1, 8]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_boundaries expects binary, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any = compute(input)

  def compute(input: Any): ArrayData = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val md = TextExprs.md5.get()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = window
    while (i <= bytes.length) {
      md.reset()
      md.update(bytes, i - window, window)
      val d = md.digest()
      var k = 0
      var zero = true
      while (zero && k < maskHexChars) {
        val nibble = (d(k / 2) >> (if (k % 2 == 0) 4 else 0)) & 0xF
        zero = nibble == 0
        k += 1
      }
      if (zero) out += i
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdcBoundaries", this, classOf[CdcBoundaries].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override def prettyName: String = "cdc_boundaries"
  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}
