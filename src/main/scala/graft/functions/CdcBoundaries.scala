package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native content-defined-chunking boundary finder (q75/q77 hot path).
  *
  * Replicates the oracle formula BIT-FOR-BIT (OpsSpec parity vs the HOF
  * form): window = `window` chars, H(i) = sum_j cp(c_{i+j}) * 31^(w-1-j)
  * over exact Long arithmetic (no modular step — ASCII-scale codepoints
  * keep the sum far below 2^63), boundary where H % `mod` == 0;
  * positions are 1-based window starts, CHARACTER-indexed exactly like
  * Spark `split(text, '')` + `ascii` and DuckDB `substring`/`ord`.
  *
  * Why a custom Expression (builder-guide preference (b)): the HOF form
  * builds a codepoint array and evaluates an interpreted 8-element_at
  * lambda PER WINDOW — n-7 interpreted lambda evals per doc; this is
  * one compiled char loop with a running re-use of the window sum's
  * structure (recomputed per window for exact formula parity — still
  * ~100x cheaper than interpreted HOF dispatch).
  */
case class CdcBoundaries(child: Expression, window: Int, mod: Long)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  @transient private lazy val pow: Array[Long] =
    Array.tabulate(window)(j =>
      (0 until (window - 1 - j)).foldLeft(1L)((a, _) => a * 31L))

  override def nullSafeEval(input: Any): Any = {
    // CODEPOINT indexing, not UTF-16 code units: Spark split(text, '')
    // segments by codepoint and ascii() returns codePointAt(0), and
    // DuckDB substring/ord are codepoint-indexed too — a charAt loop
    // would shift every position after an astral char and hash surrogate
    // halves, silently diverging from both the HOF form and the oracle
    val cp = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val n = cp.length
    if (n < window) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i <= n - window) {
      var h = 0L
      var j = 0
      while (j < window) {
        h += cp(i + j).toLong * pow(j)
        j += 1
      }
      if (h % mod == 0) out += (i + 1) // 1-based window start
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

object CdcBoundaries {
  def of(text: Column, window: Int = 8, mod: Long = 64L): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      CdcBoundaries(
        org.apache.spark.sql.GraftExpressionBridge.expression(text), window, mod))
}
