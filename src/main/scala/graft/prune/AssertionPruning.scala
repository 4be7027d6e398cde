package graft.prune

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.OntologyRule
import graft.link.SkewJoin

/** Partition-parallel assertion pruning — the Model-Garbage-Collection
  * core reimplemented per BASELINE.json north_star.
  *
  * The reference assigns every candidate edge a confidence score with a
  * GraIL-style GNN and then (a) drops edges below a threshold
  * (/root/reference/src/gnn/lcilp/score_all_edges.py:152-155) and
  * (b) flags the most uncertain survivors for human review with
  * uncertainty = 1 - |score - 0.5| * 2
  * (/root/reference/src/ux/select_edges_for_review.py:26-43).
  * We reproduce exactly that pruning contract, with the score produced by
  * deterministic, distributable evidence instead of a GNN:
  *
  *   score = 0.5 * typeOk + 0.2 * cardOk + 0.3 * linkConf
  *
  *  - typeOk: broadcast ontology/type constraints — predicate -> allowed
  *    subject/object CURIE prefixes (mirrors the prefix whitelist of
  *    /root/reference/src/knowledge-graph/download.py:34-38);
  *  - cardOk: predicate-cardinality window — functional predicates lose
  *    score when a subject has >1 distinct object;
  *  - linkConf: extraction/linking confidence carried from the linker.
  *
  * Shuffle discipline at 10^12-doc scale:
  *  1. evidence aggregation is two combinable groupBys — first keyed by
  *     (s,p,o,url) (url spreads hot triples across reducers), then by
  *     (s,p,o) with map-side combine — so a triple asserted on millions
  *     of pages never funnels through one reducer;
  *  2. the per-entity degree feature joins back via an explicitly SALTED
  *     sort-merge join (hub entities own ~40% of edges);
  *  3. ontology join is broadcast.
  */
object AssertionPruning {

  val defaultThreshold = 0.6

  /** Distinct-evidence aggregation:
    * linked(subject, predicate, object, url, link_conf) ->
    * evidence(subject, predicate, object, support, conf).
    */
  def evidence(linked: DataFrame): DataFrame =
    linked
      .groupBy(col("subject"), col("predicate"), col("object"), col("url"))
      .agg(max(col("link_conf")).as("link_conf"))
      .groupBy(col("subject"), col("predicate"), col("object"))
      .agg(count(lit(1)).as("support"), max(col("link_conf")).as("conf"))

  /** Per-entity degree over both endpoints (reference: column sums of the
    * adjacency, /root/reference/src/gnn/lcilp/utils/prepare_meta_data.py:21-26).
    */
  def degreeTable(triples: DataFrame): DataFrame =
    triples.select(col("subject").as("entity"))
      .unionAll(triples.select(col("object").as("entity")))
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("degree"))

  /** Score every distinct candidate triple. Output columns:
    * edge_id, subject, predicate, object, support, conf, type_ok,
    * card_ok, subj_degree, score.
    */
  def score(
      linked: DataFrame,
      ontology: Dataset[OntologyRule],
      degJoin: String = "auto"): DataFrame = {

    // materialized once: two consumers (cardinality window chain and the
    // degree table) would otherwise each recompute the aggregation over
    // the full linked table
    val ev = evidence(linked).localCheckpoint(true)

    // predicate-cardinality window: evidence rows are distinct (s,p,o),
    // so count(*) over (s,p) == distinct objects per (subject, predicate)
    val wCard = Window.partitionBy(col("subject"), col("predicate"))
    val withCard = ev.withColumn("n_obj", count(lit(1)).over(wCard))

    // broadcast ontology/type constraints
    val ont = ontology.toDF()
    val typed = withCard
      .join(broadcast(ont), Seq("predicate"), "left")
      .withColumn("type_ok",
        when(
          array_contains(col("subj_prefixes"), split(col("subject"), ":").getItem(0)) &&
            array_contains(col("obj_prefixes"), split(col("object"), ":").getItem(0)),
          lit(1.0)).otherwise(lit(0.0)))
      .withColumn("card_ok",
        when(coalesce(col("functional"), lit(false)) && col("n_obj") > 1,
          lit(1.0) / col("n_obj").cast("double")).otherwise(lit(1.0)))
      .drop("subj_prefixes", "obj_prefixes", "functional")

    // degree feature join. `degJoin` strategies:
    //  - "auto" (default): plain equi-join. When planning cannot show
    //    the degree aggregate small (the pipeline's inputs), it plans a
    //    sort-merge join, and AQE switches to a broadcast-hash join from
    //    the aggregate's RUNTIME size (entities ≪ triples, the usual
    //    outcome) or splits skewed SMJ partitions otherwise. The switch
    //    comes after the typed rows were shuffled for the sort-merge
    //    join: the final plan writes them to `Exchange
    //    hashpartitioning(subject)` and reads them back through
    //    `AQEShuffleRead local` into the broadcast-hash join, so the big
    //    side still pays one shuffle. No driver-side probe job — round 1
    //    paid an extra count() here per call.
    //  - "broadcast": force the broadcast (planning-time hint).
    //  - "salted": the explicitly salted sort-merge join, spreading hub
    //    entities (~40% of edges) over 8 reducers — the
    //    north-star discipline when the degree table outgrows broadcast.
    val deg = degreeTable(ev)
      .select(col("entity").as("subject"), col("degree").as("subj_degree"))
    val withDeg = degJoin match {
      case "auto" => typed.join(deg, Seq("subject"))
      case "broadcast" => typed.join(broadcast(deg), Seq("subject"))
      case "salted" => SkewJoin.salted(
        big = typed,
        small = deg,
        keys = Seq("subject"),
        saltBuckets = 8,
        bigRowIdentity = Seq(col("subject"), col("predicate"), col("object")))
      case other => throw new IllegalArgumentException(s"unknown degJoin: $other")
    }

    withDeg
      .withColumn("score",
        round(lit(0.5) * col("type_ok") + lit(0.2) * col("card_ok") + lit(0.3) * col("conf"), 9))
      .withColumn("edge_id",
        concat_ws("_", col("subject"), col("predicate"), col("object")))
      .select("edge_id", "subject", "predicate", "object",
        "support", "conf", "type_ok", "card_ok", "subj_degree", "score")
  }

  /** Terminal pruning predicate (score_all_edges.py:152-155). */
  def prune(scored: DataFrame, threshold: Double = defaultThreshold): DataFrame =
    scored.filter(col("score") >= lit(threshold))
      .select("subject", "predicate", "object", "score", "support")

  /** Review queue: top-n by uncertainty = 1 - |score-0.5|*2, descending,
    * deterministic tiebreak on edge_id
    * (select_edges_for_review.py:26-43; status contract :53-59).
    */
  def reviewQueue(scored: DataFrame, n: Int = 10): DataFrame =
    scored
      .withColumn("uncertainty", lit(1.0) - abs(col("score") - lit(0.5)) * lit(2.0))
      .withColumn("model_score", col("score"))
      .withColumn("status", lit("pending"))
      .orderBy(col("uncertainty").desc, col("edge_id"))
      .limit(n)
      .select("edge_id", "subject", "predicate", "object",
        "model_score", "uncertainty", "status")
}
