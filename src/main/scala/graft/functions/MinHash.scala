package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Ids.mix64

/** k-permutation MinHash signature over the n-token shingles of a text,
  * as a native Catalyst expression: out[kk] = min over shingles s of
  * H_kk(s), H_kk a seeded 64-bit mix.
  *
  * Why a custom Expression (builder-guide preference (b)): the same
  * computation written with `transform` + `aggregate` higher-order
  * functions is interpreted per array element by Catalyst's lambda
  * evaluator — measured ~200 core-seconds per 10^6 pages; this is one
  * compiled loop per row. It tokenizes on single spaces inside that
  * loop, hashing each token as a byte slice of the input UTF8String, and
  * shingle hashes are mixes of n consecutive token hashes: no per-token
  * strings, no token array and no shingle strings are allocated. The
  * banding stage is allocation-bound at high core counts (young-gen GC
  * scales with threads, the heap doesn't), so the zero-allocation form
  * is what keeps the dedup stage scaling.
  *
  * Returns NULL when the text has fewer than n tokens (no shingle
  * exists) — callers route those rows to exact-fingerprint dedup
  * instead of the sentinel-signature trap fixed in round 2.
  */
case class TextMinHash(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "text_minhash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val len = s.numBytes()
    // ring buffer of the last n token hashes — no token array, no
    // per-token strings; tokens are byte slices delimited by ' ' (0x20),
    // hashed in place (matches Murmur3 over split(" ") slices exactly)
    val ring = new Array[Long](n)
    val mins = Array.fill(k)(Long.MaxValue)
    var nTok = 0
    var tokStart = 0
    var i = 0
    while (i <= len) {
      val atEnd = i == len
      if (atEnd || org.apache.spark.unsafe.Platform.getByte(base, offset + i) == ' '.toByte) {
        val h32 = Murmur3_x86_32.hashUnsafeBytes(base, offset + tokStart, i - tokStart, 42)
        ring(nTok % n) = mix64(h32.toLong)
        nTok += 1
        if (nTok >= n) {
          // shingle of the last n tokens, oldest first
          var sh = 0L
          var j = 0
          while (j < n) {
            sh = mix64(sh ^ ring((nTok - n + j) % n))
            j += 1
          }
          var kk = 0
          while (kk < k) {
            val hk = mix64(sh ^ (kk * 0xd6e8feb86659fd93L))
            if (hk < mins(kk)) mins(kk) = hk
            kk += 1
          }
        }
        tokStart = i + 1
      }
      i += 1
    }
    if (nTok < n) null else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): TextMinHash =
    copy(child = newChild)
}

object MinHash {
  /** Column form of [[TextMinHash]]: signature straight from the text,
    * NULL when fewer than n tokens.
    */
  def signatureFromText(text: Column, n: Int = 3, k: Int = 6): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      TextMinHash(org.apache.spark.sql.GraftExpressionBridge.expression(text), n, k))
}
