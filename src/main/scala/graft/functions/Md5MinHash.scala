package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable MinHash signature: for each component kk < k, the
  * lexicographic MIN over 3-token shingles of `md5('kk:' || shingle)`
  * as a lowercase hex string — bit-identical to the SQL form
  * `list_min(list_transform(shingles, s -> md5(kk || ':' || s)))`
  * (DuckDB) / `min(md5(concat('kk:', g)))` over exploded shingles
  * (Spark built-ins), so results stay DuckDB-oracle-checkable.
  *
  * Why a custom Expression (builder-guide preference (b)): the built-in
  * form needs an interpreted per-element `transform` to build shingle
  * strings plus an explode + shuffle-aggregated min per component; this
  * is one compiled loop per row — tokens are byte slices of the input,
  * each shingle's bytes are assembled once and digested k times, and
  * digests are compared as unsigned bytes (hex encoding is
  * order-preserving, so byte-wise min == hex-string min). No shingle
  * rows exist, so the plan stays narrow until banding.
  *
  * Tokenization matches `split(text, ' ')` exactly: slices between
  * single 0x20 bytes, empty tokens (consecutive/trailing spaces) kept.
  * Returns NULL when the text has fewer than n tokens (no shingle) —
  * same rows as a `size(split(text,' ')) >= n` filter.
  */
case class Md5MinHash(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_minhash"

  // per-component digest prefixes: "0:", "1:", ... (ASCII bytes)
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(kk => s"$kk:".getBytes("UTF-8"))

  // ThreadLocal: a deserialized expression instance is per-task, but
  // local-mode reuse across threads must not share digest state
  @transient private lazy val mdLocal: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** unsigned byte-wise compare; hex encoding preserves this order */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    // token slice bounds: tokens are ranges between single ' ' bytes,
    // empties kept (split(text, ' ') semantics, limit = -1)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nTok += 1; i += 1 }
    if (nTok < n) return null
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    var tokStart = 0
    i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        starts(t) = tokStart; ends(t) = i; t += 1; tokStart = i + 1
      }
      i += 1
    }
    val md = mdLocal.get()
    val mins = new Array[Array[Byte]](k)
    var scratch = new Array[Byte](64)
    i = 0
    val last = nTok - n
    while (i <= last) {
      // shingle bytes: tok(i) ' ' tok(i+1) ' ' ... tok(i+n-1)
      var len = n - 1
      var j = 0
      while (j < n) { len += ends(i + j) - starts(i + j); j += 1 }
      if (scratch.length < len) scratch = new Array[Byte](len max scratch.length * 2)
      var p = 0
      j = 0
      while (j < n) {
        if (j > 0) { scratch(p) = ' '.toByte; p += 1 }
        val tl = ends(i + j) - starts(i + j)
        System.arraycopy(bytes, starts(i + j), scratch, p, tl)
        p += tl
        j += 1
      }
      var kk = 0
      while (kk < k) {
        md.reset()
        md.update(prefixes(kk))
        md.update(scratch, 0, len)
        val d = md.digest()
        if (mins(kk) == null || less(d, mins(kk))) mins(kk) = d
        kk += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(toHex))
  }

  override protected def withNewChildInternal(newChild: Expression): Md5MinHash =
    copy(child = newChild)
}

object Md5MinHash {
  /** Column form: array of k min-md5 hex signatures over 3-shingles;
    * NULL when the text has fewer than n tokens.
    */
  def of(text: Column, n: Int = 3, k: Int = 2): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      Md5MinHash(org.apache.spark.sql.GraftExpressionBridge.expression(text), n, k))
}

/** Engine-portable 32-bit SimHash straight from text: bit b of token t
  * = (hex char b of md5(t)) >= '8' (i.e. nibble b's top bit), fingerprint
  * bit = strict-majority vote over all token occurrences — bit-identical
  * to the relational form in OpsSpec and to the DuckDB oracle of q48,
  * in one compiled loop per row: one MD5 per token, votes from
  * digest nibbles, no exploded token rows and no 32-vote aggregation
  * shuffle. Tokenization matches `split(text, ' ')` (empty tokens kept,
  * each occurrence votes). Every text has >= 1 token (split never
  * returns an empty array), so the result is never null.
  */
case class Md5SimHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_simhash"

  @transient private lazy val mdLocal: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val md = mdLocal.get()
    val votes = new Array[Int](32)
    var tokStart = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        md.reset()
        md.update(bytes, tokStart, i - tokStart)
        val d = md.digest()
        var b = 0
        while (b < 32) {
          // hex char b = nibble b of the digest (high nibble first);
          // char >= '8' <=> nibble >= 8 <=> nibble's top bit set
          val nib =
            if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xf else d(b >> 1) & 0xf
          votes(b) += (if (nib >= 8) 1 else -1)
          b += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) sh |= 1L << b
      b += 1
    }
    sh
  }

  override protected def withNewChildInternal(newChild: Expression): Md5SimHash =
    copy(child = newChild)
}

object Md5SimHash {
  /** Column form: portable md5-hex-vote 32-bit simhash of the text. */
  def of(text: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      Md5SimHash(org.apache.spark.sql.GraftExpressionBridge.expression(text)))
}
