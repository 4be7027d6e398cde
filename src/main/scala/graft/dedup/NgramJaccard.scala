package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact n-gram (word-shingle) Jaccard similarity over document pairs —
  * the bounded pairwise VERIFIER next to the unbounded banded paths
  * (MinHash q40 / SimHash q48): candidate pairs here share at least one
  * exact shingle, so the join is an equi-join on the shingle value, but
  * the pair count still grows with shared-shingle frequency. Callers
  * choose the domain: `candidateBound` caps the doc_id range (the
  * driver query's fixture default), `None` runs unbounded — correct,
  * but at corpus scale pre-filter candidates with a banded method first
  * and use this only to re-verify survivors.
  */
object NgramJaccard {

  /** whitespace tokens of `text` */
  private def toks: Column = split(col("text"), " ")

  /** n-gram word shingles of the token array `t` (1-based element_at;
    * sequence(0, size - n) is INCLUSIVE, so it yields size - n + 1
    * shingles, matching DuckDB range(len - n + 1)). Callers keep
    * size(t) >= n: on a shorter array the sequence counts down and
    * element_at(t, 0) throws.
    */
  def shingles(t: Column, n: Int): Column =
    transform(sequence(lit(0), size(t) - n), i =>
      concat_ws(" ", (1 to n).map(j => element_at(t, i + j)): _*))

  /** (id1, id2, inter, jaccard) for every candidate pair at or above
    * `minJaccard`. docs needs (doc_id, text); pairs are emitted once
    * with id1 < id2; jaccard is rounded to 6dp (the oracle-parity
    * rounding contract).
    */
  def pairs(
      docs: DataFrame,
      minJaccard: Double = 0.02,
      candidateBound: Option[Long] = Some(200L)): DataFrame = {
    val bounded = candidateBound
      .map(b => docs.filter(col("doc_id") < b)).getOrElse(docs)
    val sh = bounded
      .withColumn("t", toks).filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(shingles(col("t"), 3))).as("sh"))
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.join(sh.select(col("doc_id").as("id2"), col("sh")), Seq("sh"))
      .filter(col("doc_id") < col("id2"))
      .groupBy(col("doc_id").as("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(cnt.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id1", "id2", "inter", "jaccard")
  }
}
