package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LSH banding: candidate pairs from per-band keys, each pair emitted
  * once.
  *
  * Both sides carry an array of `bands` per-band keys. The operator
  * equi-joins on (band, key) and keeps a pair found in band b only when
  * no earlier band also matches — the least-common-block-index rule of
  * SparkER's meta-blocking (EDBT'19). The rule is exact: every pair that
  * shares at least one band is kept, in exactly one band, so no
  * pair-sized `distinct` shuffle is needed. Pair-level filters
  * (`id < id2`, a Hamming bound) belong to the caller, after the join.
  */
object Banding {

  /** Candidate pairs of `left` x `right` that match in at least one band.
    *
    * Both frames carry the array column `keys` of (at least) `bands`
    * keys; their other column names must be disjoint. Band t of a pair
    * matches when `probe(left.keys[t]) = right.keys[t]` for one of the
    * `probes` (default: the key itself). The probes of one key must
    * give distinct values, so a pair joins at most once per band; null
    * keys never match.
    *
    * Precondition: ids are unique per side. The result holds one row
    * per pair of input rows, so a repeated id emits its pairs once per
    * copy, where a pair-level `distinct` would collapse them.
    *
    * Returns the columns of both sides except `keys`, one row per pair.
    */
  def pairs(left: DataFrame, right: DataFrame, keys: String, bands: Int,
      probes: Seq[Column => Column] = Seq(identity)): DataFrame = {
    require(bands >= 1 && probes.nonEmpty,
      s"need at least one band and one probe, got $bands bands, ${probes.size} probes")
    def rows(df: DataFrame, side: String, ps: Seq[Column => Column]): DataFrame =
      df.withColumnRenamed(keys, side).select(col("*"), inline(array(
        (for (t <- 0 until bands; p <- ps) yield struct(lit(t).as("__band"),
          p(col(side).getItem(t)).as("__key"))): _*)))
    def matches(t: Int): Column = coalesce(probes.map(p =>
      p(col("__lk").getItem(t)) === col("__rk").getItem(t)).reduce(_ || _), lit(false))
    val firstBand = (0 until bands - 1)
      .map(t => col("__band") <= t || !matches(t)).foldLeft(lit(true))(_ && _)
    rows(left, "__lk", probes).join(rows(right, "__rk", Seq(identity)), Seq("__band", "__key"))
      .filter(firstBand)
      .drop("__band", "__key", "__lk", "__rk")
  }
}
