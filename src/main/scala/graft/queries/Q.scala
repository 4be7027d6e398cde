package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** One driver-contract query: Spark implementation + (optionally) the
  * exactly-equivalent DuckDB SQL oracle over the same parquet tables.
  * Oracle-less queries get the driver's weaker rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, s"$dir/$name.parquet")

  /** Derived triple view over the events table — the shared KG-shaped
    * input for operator queries (subject/predicate/object + provenance).
    * Must stay in lockstep with [[triplesSql]].
    */
  def triples(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      concat(lit("U:"), col("user_id").cast("string")).as("subject"),
      col("event_type").as("predicate"),
      concat(lit("E:"), (col("event_id") % 100).cast("string")).as("object"),
      col("event_id"),
      col("value"))

  val triplesSql: String =
    """SELECT 'U:' || CAST(user_id AS VARCHAR) AS subject,
      |       event_type AS predicate,
      |       'E:' || CAST(event_id % 100 AS VARCHAR) AS "object",
      |       event_id, value
      |FROM events""".stripMargin

  /** Distinct scored edges: one row per (s,p,o) with a deterministic
    * score in [0,1) — the shared input for pruning-contract queries.
    * Must stay in lockstep with [[scoredSql]].
    */
  def scored(s: SparkSession, dir: String): DataFrame =
    triples(s, dir)
      .groupBy(col("subject"), col("predicate"), col("object"))
      .agg((min(col("event_id") % 100).cast("double") / 100.0).as("score"))
      .withColumn("edge_id",
        concat_ws("_", col("subject"), col("predicate"), col("object")))

  val scoredSql: String =
    s"""SELECT subject, predicate, "object",
       |       CAST(MIN(event_id % 100) AS DOUBLE) / 100.0 AS score,
       |       subject || '_' || predicate || '_' || "object" AS edge_id
       |FROM ($triplesSql) t
       |GROUP BY subject, predicate, "object"""".stripMargin

  /** Two-level graph: customers -> nations -> regions (5 components).
    * Must stay in lockstep with [[graphSql]].
    */
  def graphEdges(s: SparkSession, dir: String): DataFrame = {
    val c = table(s, dir, "customer").select(
      concat(lit("C:"), col("c_custkey").cast("string")).as("src"),
      concat(lit("N:"), col("c_nationkey").cast("string")).as("dst"))
    val n = table(s, dir, "nation").select(
      concat(lit("N:"), col("n_nationkey").cast("string")).as("src"),
      concat(lit("R:"), col("n_regionkey").cast("string")).as("dst"))
    c.unionAll(n)
  }

  val graphSql: String =
    """SELECT 'C:' || CAST(c_custkey AS VARCHAR) AS src,
      |       'N:' || CAST(c_nationkey AS VARCHAR) AS dst
      |FROM customer
      |UNION ALL
      |SELECT 'N:' || CAST(n_nationkey AS VARCHAR),
      |       'R:' || CAST(n_regionkey AS VARCHAR)
      |FROM nation""".stripMargin
}
