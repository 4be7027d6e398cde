package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TableFormat.jsonEscape

/** Triple export sinks (SURVEY.md §2.1).
  *
  * Formats mirror the reference exactly:
  *  - tsv / csv: s<sep>p<sep>o, csv with header
  *    (/root/reference/src/gnn/extract.py:128-148,
  *     src/knowledge-graph/triples_to_csv.py:8-20)
  *  - nt: N-Triples "<s> <p> <o> ."  (extract.py:146)
  *  - jsonl: {"edge_id", "triplet", "score"} scored-edge records
  *    (src/gnn/lcilp/score_all_edges.py:158-164)
  *  - cytoscape: nested JSON, nodes sorted by id, edges by
  *    (source, target, label), missing node = hard error
  *    (create_cytoscape_files.py:74-110)
  */
object Sinks {

  /** Distributed triple export. format: tsv | csv | nt. */
  def exportTriples(triples: DataFrame, path: String, format: String): Unit = {
    val t = triples.select("subject", "predicate", "object")
    format match {
      case "tsv" =>
        t.write.mode("overwrite").option("sep", "\t").csv(path)
      case "csv" =>
        t.write.mode("overwrite").option("header", "true").csv(path)
      case "nt" =>
        t.select(format_string("<%s> <%s> <%s> .",
          col("subject"), col("predicate"), col("object")).as("value"))
          .write.mode("overwrite").text(path)
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
  }

  /** Scored-edge JSONL export with optional threshold
    * (score_all_edges.py:136-172).
    */
  def exportScoresJsonl(scored: DataFrame, path: String, threshold: Option[Double]): Unit = {
    val base = threshold.fold(scored)(t => scored.filter(col("score") >= t))
    base.select(
      col("edge_id"),
      array(col("subject"), col("predicate"), col("object")).as("triplet"),
      col("score"))
      .write.mode("overwrite").json(path)
  }

  /** Cytoscape-shaped nested JSON (single file, driver-side — the output
    * is small by construction: it is the human-review graph). Missing
    * node metadata is a HARD error, as in the reference
    * (create_cytoscape_files.py:84-86).
    */
  def cytoscapeJson(nodes: DataFrame, edges: DataFrame, path: String): Unit = {
    val endpoints = edges.select(col("subject").as("id"))
      .unionAll(edges.select(col("object").as("id"))).distinct()
    val missing = endpoints.join(nodes, Seq("id"), "left_anti").limit(5)
      .collect().map(_.getString(0))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"missing node metadata for: ${missing.mkString(", ")}")

    val nodeRows = endpoints.join(nodes, Seq("id"))
      .select("id", "name", "description").orderBy("id").collect()
    val edgeRows = edges.select("subject", "object", "predicate")
      .orderBy("subject", "object", "predicate").collect()
    val nodesJson = nodeRows.map { r =>
      s"""{"data":{"description":"${jsonEscape(r.getString(2))}","id":"${jsonEscape(r.getString(0))}","name":"${jsonEscape(r.getString(1))}"}}"""
    }.mkString("[", ",", "]")
    val edgesJson = edgeRows.map { r =>
      s"""{"data":{"label":"${jsonEscape(r.getString(2))}","source":"${jsonEscape(r.getString(0))}","target":"${jsonEscape(r.getString(1))}"}}"""
    }.mkString("[", ",", "]")
    val json = s"""{"elements":{"edges":$edgesJson,"nodes":$nodesJson}}"""
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}
