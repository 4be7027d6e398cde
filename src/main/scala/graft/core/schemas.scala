package graft.core

import java.sql.Timestamp

/** Core data shapes of the engine (SURVEY.md §1).
  *
  * The reference is schema-by-convention (3-col CSV triples,
  * /root/reference/src/knowledge-graph/triples_to_csv.py:13; node CSV,
  * download_nodes.py:104-107; scored-edge JSONL, score_all_edges.py:158-164).
  * Here every shape is an explicit case class with a Catalyst Encoder.
  */

/** Input row: Common-Crawl-style web page (BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** KG triple (reference data/alzheimers_triples.csv:1 header). */
final case class Triple(subject: String, predicate: String, `object`: String)

/** Entity metadata (reference download_nodes.py:104-107). */
final case class NodeMeta(id: String, name: String, description: String)

/** Entity-linking dictionary row (FIXTURES.md F4). */
final case class AliasEntry(alias: String, entity_id: String, prior: Double)

/** Ontology/type constraint: predicate -> allowed CURIE prefixes
  * (mirrors the prefix whitelist of reference download.py:34-38).
  * Broadcast side of the pruning stage.
  */
final case class OntologyRule(
    predicate: String,
    subj_prefixes: Array[String],
    obj_prefixes: Array[String],
    functional: Boolean)
