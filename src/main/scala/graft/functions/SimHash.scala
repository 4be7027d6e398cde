package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 32-bit SimHash near-duplicate detection (Charikar'02 / Manku et al.
  * WWW'07 — the standard web-dedup construction): bit b of a document's
  * fingerprint is the strict-majority vote of bit b over its tokens'
  * hashes; two documents are near-duplicates iff the Hamming distance of
  * their fingerprints is <= k.
  *
  * The queries fingerprint with the native [[Md5SimHash]] expression;
  * [[fingerprintsPortable]] is the same computation in relational form,
  * the reference the tests compare it against.
  */
object SimHash {

  val bits = 32

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Relational 32-bit simhash: bit b of token t = (hex char b of
    * md5(t)) >= '8'; fingerprint bit = strict-majority vote over tokens.
    *
    * One codegen'd aggregation: each of the 32 bit-votes is its own
    * map-side-combinable `sum` over the exploded token rows, so the only
    * shuffle carries one (id, 32 ints) partial per map partition —
    * round 2's form cross-joined a 32-row bit index into the token rows
    * (tokens x 32 through two shuffles), ~32x the shuffled rows for the
    * same comparisons. The per-bit predicate is literally the oracle's
    * `substring(h, b+1, 1) >= '8'`, and the identical computation is
    * expressible in ANSI SQL / DuckDB, so the banded near-dup query has
    * a full rows+schema+hash oracle.
    *
    * Returns (idCol, sh: long).
    */
  def fingerprintsPortable(docs: DataFrame, idCol: String, tokens: Column): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens).as("tk"))
      .select(col(idCol), md5(col("tk")).as("h"))
    val voteCols = (0 until bits).map { b =>
      sum(when(substring(col("h"), b + 1, 1) >= "8", 1).otherwise(-1)).as(s"__v$b")
    }
    tok.groupBy(col(idCol))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col(idCol),
        (0 until bits).map { b =>
          when(col(s"__v$b") > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _).as("sh"))
  }

  /** Banded near-duplicate pairs over 32-bit fingerprints
    * (Manku et al., WWW'07): split each fingerprint into 4 byte bands,
    * pair on shared (band, value) through [[graft.similarity.Banding]]
    * (each pair once, in its first shared band), Hamming-verify only
    * bucket collisions. With 4 bands, any pair within Hamming distance 3
    * shares at least one untouched band (pigeonhole), so the result is
    * EXACTLY the all-pairs result for maxHamming <= 3 — with
    * O(collisions) comparisons instead of O(N^2). Skewed buckets split
    * under AQE.
    *
    * fps: (id, sh), ids unique. Returns (id1, id2, hamming), id1 < id2.
    */
  def bandedPairs(fps: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4 byte-bands guarantee completeness only for hamming <= 3, got $maxHamming")
    val bytes = (0 until 4).map(bd => shiftright(col("sh"), 8 * bd).bitwiseAND(lit(255L)))
    val banded = fps.select(col(fps.columns(0)).as("id1"), col("sh"), array(bytes: _*).as("keys"))
    val right = banded.select(col("id1").as("id2"), col("sh").as("sh2"), col("keys"))
    graft.similarity.Banding.pairs(banded, right, "keys", bands = 4)
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", hamming(col("sh"), col("sh2")))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }
}
