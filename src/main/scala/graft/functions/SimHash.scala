package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 32-bit SimHash near-duplicate detection (Charikar'02 / Manku et al.
  * WWW'07 — the standard web-dedup construction): bit b of a document's
  * fingerprint is the strict-majority vote of bit b over its tokens'
  * hashes; two documents are near-duplicates iff the Hamming distance of
  * their fingerprints is <= k.
  *
  * The queries fingerprint with the native [[Md5SimHash]] expression.
  */
object SimHash {

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Banded near-duplicate pairs over 32-bit fingerprints
    * (Manku et al., WWW'07): split each fingerprint into 4 byte bands,
    * pair on shared (band, value) through [[graft.similarity.Banding]]
    * (each pair once, in its first shared band), Hamming-verify only
    * bucket collisions. With 4 bands, any pair within Hamming distance 3
    * shares at least one untouched band (pigeonhole), so the result is
    * EXACTLY the all-pairs result at hamming <= 3, the one bound used —
    * with O(collisions) comparisons instead of O(N^2). Skewed buckets
    * split under AQE.
    *
    * fps: (id, sh), ids unique. Returns (id1, id2, hamming), id1 < id2.
    */
  def bandedPairs(fps: DataFrame): DataFrame = {
    val bytes = (0 until 4).map(bd => shiftright(col("sh"), 8 * bd).bitwiseAND(lit(255L)))
    val banded = fps.select(col(fps.columns(0)).as("id1"), col("sh"), array(bytes: _*).as("keys"))
    val right = banded.select(col("id1").as("id2"), col("sh").as("sh2"), col("keys"))
    graft.similarity.Banding.pairs(banded, right, "keys", bands = 4)
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", hamming(col("sh"), col("sh2")))
      .filter(col("hamming") <= 3)
      .select("id1", "id2", "hamming")
  }
}
