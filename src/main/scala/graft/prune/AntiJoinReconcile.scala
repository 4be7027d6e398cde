package graft.prune

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Anti-join reconciliation — the reference's named core operation
  * (/root/reference/Edge_Assignor.ipynb cell 20, create_antijoin_dataset).
  *
  * Semantics: key = (subject, object) pair. Original rows whose pair is
  * NOT present in the refilled set keep their original predicate; pairs
  * present in both take the refilled predicate. The reference asserts
  * output row count == original row count (cell 20 l.81-85).
  *
  * The reference builds python sets of 's|||o' strings and splits them
  * into a left_anti part and a left_semi part; PruneSpec keeps that
  * anti+semi form as the oracle this operator is checked against.
  */
object AntiJoinReconcile {

  /** Reconcile for KEY-UNIQUE inputs — both sides at most one row per
    * (subject, object), which is q06's shape (original = a groupBy over
    * the key, refilled = a distinct) and the reference's data
    * guarantee. Algebra: with unique keys, "original rows not in
    * refilled keep their predicate" + "pairs in both take the refilled
    * predicate" is exactly one left outer join with coalesce, which
    * evaluates each input once where the anti+semi pair evaluates each
    * twice. The output has one row per original row, so the reference's
    * row-count invariant holds by construction.
    */
  def reconcileUnique(original: DataFrame, refilled: DataFrame): DataFrame =
    original
      .join(refilled.select(col("subject"), col("object"),
        col("predicate").as("__rp")), Seq("subject", "object"), "left")
      .select(col("subject"),
        coalesce(col("__rp"), col("predicate")).as("predicate"), col("object"))
}
