package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.SparkEntry

object Ops {

  /** The measured queries, by family: one per family of the registry, so
    * that a unit is short and a run holds many of them (a full pass over
    * all 90 takes longer than one benchmark run may). Their generated
    * classes fit Spark's code-generation cache, so a unit after the first
    * reuses compiled code (4 compiles a unit; two queries per family needed
    * 204 a unit, more than the cache keeps).
    */
  val families: Seq[(String, Seq[String])] = Seq(
    "graph" -> Seq("q27_connected_components"),
    "similarity" -> Seq("q42_cosine_topk"),
    "functions" -> Seq("q38_fingerprint"),
    "multimodal" -> Seq("q83_image_decode"),
    "prune" -> Seq("q33_prune_threshold"),
    "relational" -> Seq("q46_tpch1"))

  val queries: Seq[String] = families.flatMap(_._2)

  def df(spark: SparkSession, dir: String, q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  /** Runs one query through the no-op sink, which computes every column. */
  def sink(d: DataFrame): Unit = d.write.format("noop").mode("overwrite").save()

  /** Names of the computed expressions in a plan, with multiplicity. */
  private def exprNames(p: LogicalPlan): Seq[String] =
    p.collect { case n => n.expressions.flatMap(_.collect {
      case e if !e.isInstanceOf[Attribute] && !e.isInstanceOf[Literal] && !e.isInstanceOf[Alias] =>
        e.prettyName
    }) }.flatten

  /** Expressions of the query that its `count()` plan no longer computes. */
  def prunedUnderCount(d: DataFrame): Seq[String] = {
    val counted = exprNames(d.groupBy().count().queryExecution.optimizedPlan)
    exprNames(d.queryExecution.optimizedPlan).diff(counted).distinct.sorted
  }

  final case class Layered(
      planS: Map[String, Double], execS: Map[String, Double], countS: Map[String, Double],
      pruned: Map[String, Seq[String]])

  /** One traced pass: per query, planning, full-sink execution and a
    * count() execution, each in its own span.
    */
  def layered(spark: SparkSession, dir: String, tr: Tracer): Layered = {
    val plan, exec, cnt = scala.collection.mutable.Map[String, Double]()
    val pruned = scala.collection.mutable.Map[String, Seq[String]]()
    for ((family, qs) <- families; q <- qs) tr.span(s"queries.$family:$q", "queries") {
      val t0 = System.nanoTime()
      val d = tr.span(s"plan:$q", "queries") { val d = df(spark, dir, q); d.queryExecution.executedPlan; d }
      val t1 = System.nanoTime()
      tr.span(s"exec:$q", "queries")(sink(d))
      val t2 = System.nanoTime()
      tr.span(s"count:$q", "queries.count")(df(spark, dir, q).count())
      val t3 = System.nanoTime()
      plan(q) = (t1 - t0) / 1e9
      exec(q) = (t2 - t1) / 1e9
      cnt(q) = (t3 - t2) / 1e9
      pruned(q) = prunedUnderCount(d)
    }
    Layered(plan.toMap, exec.toMap, cnt.toMap, pruned.toMap)
  }
}
