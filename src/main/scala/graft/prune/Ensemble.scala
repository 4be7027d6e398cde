package graft.prune

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Score ensembling (reference /root/reference/src/gnn/lcilp/ensembling/
  * blend.py:22-79). The fixed-weight blend w1*s1 + w2*s2 + b is query
  * q50; this object fits the weights (q86).
  */
object Ensemble {

  /** Trained blend weights — the learned counterpart of q50's
    * fixed w1/w2 (reference blend.py:40-52 trains the 2->1 linear with
    * a margin-ranking loss; here the fit is closed-form least squares,
    * the deterministic stand-in that keeps the whole computation
    * oracle-expressible).
    *
    * Input: one row per triple with EXACT-INTEGER feature numerators
    * `a`, `b` (so s1 = a/d1, s2 = b/d2) and an integer label `y`.
    * Solving for (u1, u2) = argmin sum (y - u1*a - u2*b)^2 via the
    * 2x2 normal equations (Cramer):
    *   det = Saa*Sbb - Sab^2
    *   u1  = (Say*Sbb - Sby*Sab) / det
    *   u2  = (Sby*Saa - Say*Sab) / det
    * and w1 = d1*u1, w2 = d2*u2 in normalized-score space.
    *
    * Scale + parity shape: the five sufficient statistics are integer
    * sums — map-side combinable, ORDER-INDEPENDENT, so Spark's partial
    * aggregation and DuckDB's single-threaded sum agree bit-for-bit
    * (float sums would not). The corpus is touched by ONE aggregation;
    * the 1-row weight frame cross-joins back (broadcast nested loop —
    * no corpus shuffle), and the weights are each a single exact-int
    * numerator over an exact-int det: one double division per weight,
    * identical in any engine. Keep d1/d2 (and a, b ranges) small:
    * numerators grow as d*max(a)*max(b)*G^2 and must stay within both
    * long and the 2^53 double-exact window.
    */
  def fitBlend(g: DataFrame, d1: Int, d2: Int): DataFrame = {
    val stats = g.agg(
      sum(col("a") * col("a")).as("saa"),
      sum(col("a") * col("b")).as("sab"),
      sum(col("b") * col("b")).as("sbb"),
      sum(col("a") * col("y")).as("say"),
      sum(col("b") * col("y")).as("sby"))
    val rawDet = (col("saa") * col("sbb") - col("sab") * col("sab")).cast("double")
    // det=0 (constant or collinear a/b, or empty input) must be a LOUD
    // error, not engine-dependent null/NaN weights: Spark's double
    // division by zero and DuckDB's disagree by version, so degenerate
    // input would otherwise surface as a silent oracle divergence. The
    // raise stays inside the fused plan (no extra pre-check action).
    val det = when(rawDet =!= lit(0.0), rawDet).otherwise(raise_error(lit(
      "fitBlend: singular normal equations (det = 0 - constant or " +
        "collinear feature columns, or empty input)")).cast("double"))
    val w = stats.select(
      ((lit(d1.toLong) * (col("say") * col("sbb") - col("sby") * col("sab")))
        .cast("double") / det).as("w1"),
      ((lit(d2.toLong) * (col("sby") * col("saa") - col("say") * col("sab")))
        .cast("double") / det).as("w2"))
    val s1d = col("a").cast("double") / lit(d1.toDouble)
    val s2d = col("b").cast("double") / lit(d2.toDouble)
    g.crossJoin(w)
      .select(col("subject"), col("predicate"), col("object"),
        round(s1d, 6).as("s1"), round(s2d, 6).as("s2"),
        round(col("w1"), 6).as("w1"), round(col("w2"), 6).as("w2"),
        round(col("w1") * s1d + col("w2") * s2d, 6).as("score"))
  }
}
