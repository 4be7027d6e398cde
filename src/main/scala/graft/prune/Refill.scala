package graft.prune

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The KG extraction step's bounded candidate fill (q59). */
object Refill {

  /** Priority-fill to maxRows (reference
    * /root/reference/src/knowledge-graph/extract.py:150-195):
    *  1. target subjects keep at most `maxObjectsPerSubject` triples;
    *  2. target<->target triples get priority 1, the rest 2; the first
    *     `maxRows` in (priority, md5) order form the core;
    *  3. if the core is below `minRows`, ONE batch expansion round pulls
    *     triples from the broader `relevant` set that share an endpoint
    *     with the core, in md5 order, filling back up to maxRows.
    * The reference's sequential list order is replaced by the
    * deterministic md5 row order; its row-by-row endpoint accumulation
    * by the single batch round (documented deviation — order-free and
    * engine-portable).
    *
    * `filtered` ⊆ `relevant`, both (subject, predicate, object) distinct.
    * Output adds fill_source ('core' | 'expanded').
    */
  def priorityFill(
      filtered: DataFrame,
      relevant: DataFrame,
      targets: Seq[String],
      maxRows: Int,
      minRows: Int,
      maxObjectsPerSubject: Int): DataFrame = {
    val ord = md5(concat_ws("|", col("subject"), col("predicate"), col("object")))
    def isT(c: Column) = c.isin(targets: _*)
    val capped = filtered
      .withColumn("__rn", row_number().over(
        Window.partitionBy("subject").orderBy(ord)))
      .filter(!isT(col("subject")) || col("__rn") <= maxObjectsPerSubject)
      .drop("__rn")
    // first maxRows in (priority, md5) order = a bounded top-K:
    // orderBy+limit compiles to distributed TakeOrdered partial top-k
    // (each partition keeps its best maxRows, driver merges), the exact
    // same row set as rank<=maxRows over the distinct total order —
    // where a global row_number window would single-partition the whole
    // candidate table (the q80 pattern)
    val core = capped
      .withColumn("__prio", when(isT(col("subject")) && isT(col("object")), 1).otherwise(2))
      .orderBy(col("__prio"), ord)
      .limit(maxRows)
      .select(col("subject"), col("predicate"), col("object"),
        lit("core").as("fill_source"))
      // r8: core (<= maxRows rows — bounded) fans out to FOUR consumers
      // (output union, count, node set, anti-join key set); without this
      // checkpoint each consumer re-ran the per-subject cap window over
      // the whole candidate table (q59 plan: 46 Exchanges -> 12,
      // plans/r08/q59_priority_fill_*.txt)
      .localCheckpoint(true)
    val coreCnt = core.agg(count(lit(1)).as("__ccnt"))
    val coreNodes = core.select(col("subject").as("__n"))
      .unionAll(core.select(col("object").as("__n"))).distinct()
    val cand0 = relevant.join(core.select("subject", "predicate", "object"),
      Seq("subject", "predicate", "object"), "left_anti")
    val touching = cand0
      .join(coreNodes.withColumnRenamed("__n", "subject"), Seq("subject"), "left_semi")
      .select("subject", "predicate", "object")
      .unionAll(cand0
        .join(coreNodes.withColumnRenamed("__n", "object"), Seq("object"), "left_semi")
        .select("subject", "predicate", "object"))
      .distinct()
    // same TakeOrdered trick: the expansion keeps at most
    // maxRows - ccnt <= maxRows rows, so limit(maxRows) first (bounded
    // superset via distributed partial top-k), then rank only the
    // survivors — that window is over <= maxRows rows, not the corpus
    val expanded = touching
      .orderBy(ord)
      .limit(maxRows)
      .withColumn("__ern", row_number().over(Window.orderBy(ord)))
      .crossJoin(coreCnt)
      .filter(col("__ccnt") < minRows && col("__ern") <= lit(maxRows) - col("__ccnt"))
      .select(col("subject"), col("predicate"), col("object"),
        lit("expanded").as("fill_source"))
    core.unionAll(expanded)
  }
}
