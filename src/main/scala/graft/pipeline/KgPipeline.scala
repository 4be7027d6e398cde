package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.Canonicalize
import graft.core._
import graft.extract.{TextExtract, TripleExtract}
import graft.fixtures.{FixtureConfig, Fixtures}
import graft.link.EntityLink
import graft.prune.AssertionPruning

/** End-to-end KG construction-and-pruning pipeline (north_rule):
  * pages -> extract -> link -> canonicalize -> prune -> materialize,
  * with checkpointed stage boundaries (resume = skip any stage whose
  * output snapshot for this input already committed), per-file lineage
  * rows, and per-stage metrics.
  */
final case class StageMetrics(stage: String, rows: Long, wallMs: Long)

final case class PipelineResult(
    kept: DataFrame,
    review: DataFrame,
    scored: DataFrame,
    metrics: Seq[StageMetrics])

/** Pipeline inputs: the web-page table plus the (broadcast-sized) KG
  * dictionaries. In production these are Iceberg scans; tests/bench use
  * the deterministic fixture generator or its parquet materialization.
  */
final case class KgInputs(
    pages: DataFrame,
    aliasDict: DataFrame,
    entityKeywords: DataFrame,
    ontology: org.apache.spark.sql.Dataset[graft.core.OntologyRule],
    sameAs: DataFrame)

object KgPipeline {

  def fixtureInputs(spark: SparkSession, cfg: FixtureConfig): KgInputs = {
    import spark.implicits._
    KgInputs(
      pages = Fixtures.pages(spark, cfg).toDF(),
      aliasDict = Fixtures.aliasDict(spark, cfg).toDF(),
      entityKeywords = Fixtures.entityKeywords(spark, cfg).toDF("entity_id", "keywords"),
      ontology = Fixtures.ontology(spark, cfg),
      sameAs = Fixtures.sameAs(spark, cfg).toDF("src", "dst"))
  }

  /** Run the full pipeline with fixture-generated inputs. */
  def run(
      spark: SparkSession,
      cfg: FixtureConfig,
      tables: Option[TableFormat] = None,
      runId: String = "r0"): PipelineResult =
    runWith(spark, fixtureInputs(spark, cfg), tables, runId,
      inputId = s"fixture-${cfg.nPages}-${cfg.nEntities}-${cfg.seed}")

  /** Run the full pipeline over explicit inputs.
    *
    * In-memory mode (tables=None) localCheckpoints ONLY the stages with
    * more than one downstream consumer — `linked` (read twice inside the
    * score stage: evidence chain + degree table) and `scored` (prune +
    * review + output) — so the DAG computes each expensive subtree once
    * without paying a job launch per stage. Production mode writes every
    * stage to a snapshot table (resume/lineage), which subsumes this.
    */
  def runWith(
      spark: SparkSession,
      inputs: KgInputs,
      tables: Option[TableFormat] = None,
      runId: String = "r0",
      dedup: String = "exact",
      inputId: String = "",
      degJoin: String = "auto"): PipelineResult = {

    val metrics = scala.collection.mutable.ArrayBuffer[StageMetrics]()

    def stage(name: String, inputSnapshot: String, materialize: Boolean = false,
        partitionCols: Seq[String] = Nil)(
        build: => DataFrame): (DataFrame, String) = {
      val snapId = s"$runId-$name"
      tables match {
        case Some(tf) if tf.hasSnapshot(name, snapId, inputSnapshot) =>
          (tf.readTable(spark, name, snapId), snapId) // resume: stage skipped
        case Some(tf) =>
          val snap = tf.writeTable(build, name, snapId, inputSnapshot, partitionCols)
          metrics += StageMetrics(name, snap.rowCount, snap.wallMs)
          (tf.readTable(spark, name, snapId), snapId)
        case None =>
          val t0 = System.nanoTime()
          val df = if (materialize) build.localCheckpoint(true) else build
          metrics += StageMetrics(name, -1L, (System.nanoTime() - t0) / 1000000)
          (df, snapId)
      }
    }

    // ---- dedup: exact/near-duplicate page detection (Common-Crawl-style
    // corpora are heavily duplicated; duplicates double-count evidence).
    // The drop set is a lazy plan — one text pass to narrow (url, key)
    // rows and one window — that runs inside the extract stage's
    // url-hash anti-join below, so nothing is materialized ahead of the
    // main scan and the html payloads never shuffle (anti-joining the
    // page table measured 6x the pipeline).
    val pages = inputs.pages
    val droppedUrls = graft.dedup.PageDedup.droppedUrls(pages, dedup)
    val aliasDict = inputs.aliasDict
    val entityKw = inputs.entityKeywords
    val ontology = inputs.ontology
    val sameAs = inputs.sameAs

    // Input-identity fingerprint folded into the first stage's
    // inputSnapshot id: resume must NOT skip stages when the same runId
    // is re-used over a different input (different fixture scale, other
    // parquet paths). Built from stable identity only — explicit inputId
    // (fixture config via run(); caller-supplied otherwise), dedup mode,
    // input schemas and file-source paths. Plan/closure hashes are NOT
    // used: they differ per JVM and would break legitimate resume.
    val inputFp = {
      val parts = Seq(inputs.pages, inputs.aliasDict, inputs.entityKeywords,
        inputs.ontology.toDF(), inputs.sameAs).flatMap(df =>
        df.schema.catalogString +: df.inputFiles.sorted.toSeq)
      val all = (dedup +: inputId +: parts).mkString("")
      java.security.MessageDigest.getInstance("MD5")
        .digest(all.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    }

    // ---- extract: byte-identical text + pattern triple extraction
    val (assertions, exSnap) = stage("assertions", s"input-$runId-$inputFp") {
      // re-extract text from html and REQUIRE it to equal the stored text
      // (per-row invariant from BASELINE.json input_hint); rows where the
      // invariant would fail are surfaced via the `text_ok` guard column.
      val verified = pages
        .withColumn("extracted", TextExtract.extractTextCol(col("html")))
        .withColumn("text_ok", col("extracted") === col("text"))
        .where(col("text_ok")) // invariant: always true; belt-and-braces
        .drop("extracted", "text_ok")
      // dedup applied here, on a 64-bit url-hash key: the dropped set is
      // millions of urls at web scale and feeds a broadcast — hashing
      // shrinks the collected/broadcast relation from full url strings
      // to 8-byte longs (serial driver-side build is a core-count-
      // independent floor). A 64-bit collision mis-drops one page with
      // p ~ n^2/2^65 — far below the near-dup FP rate of the banding
      // itself.
      TripleExtract.assertions(verified)
        .join(droppedUrls.select(xxhash64(col("url")).as("__url_h")),
          xxhash64(col("url")) === col("__url_h"), "left_anti")
    }

    // ---- link: broadcast alias join + context cosine
    // (NOT materialized in-memory: its single consumer is the evidence
    // aggregation, which AssertionPruning.score materializes itself, so
    // extract→link→canonicalize→evidence fuse into one codegen pass)
    val (linked, linkSnap) = stage("linked", exSnap) {
      EntityLink.link(assertions, aliasDict, entityKw)
    }

    // ---- canonicalize: large-star/small-star CC over same-as
    val (canonMap, canonSnap) = stage("canonical_map", linkSnap) {
      Canonicalize.canonicalMap(sameAs)
    }
    val (canonical, canonTriplesSnap) = stage("canonical_triples", canonSnap) {
      Canonicalize.rewrite(linked, canonMap)
    }

    // ---- prune: assertion pruning (threshold + review queue)
    // (materialized in-memory: prune, review and output all read it)
    val threshold = AssertionPruning.defaultThreshold
    val reviewN = 10
    val (scored, scoredSnap) = stage("scored", canonTriplesSnap, materialize = true) {
      AssertionPruning.score(canonical, ontology, degJoin = degJoin)
    }
    // cleaned triples partitioned by predicate: the reference's
    // per-relation CSC adjacency (data_utils.py:81-95) is exactly a
    // relation-partitioned table — `WHERE predicate = p` prunes to one
    // partition directory.
    val (kept, keptSnap) = stage("triples", s"$scoredSnap-t$threshold",
        partitionCols = Seq("predicate")) {
      AssertionPruning.prune(scored, threshold)
    }
    val (review, _) = stage("review_queue", s"$scoredSnap-n$reviewN") {
      AssertionPruning.reviewQueue(scored, reviewN)
    }

    // integer-encoded adjacency (D3): entity/relation dictionaries with
    // deterministic dense ids + (src, dst, rel) partitioned by rel —
    // only materialized in table mode (it exists for downstream GNN-style
    // consumers, not for the in-memory P/R check).
    if (tables.isDefined) {
      // built in the stage bodies: `dictionary` checkpoints eagerly
      val (entities, entSnap) = stage("entity_dict", keptSnap) {
        Ids.dictionary(kept.select(col("subject").as("entity"))
          .unionAll(kept.select(col("object").as("entity"))), "entity")
      }
      val (relations, relSnap) = stage("relation_dict", keptSnap) {
        Ids.dictionary(kept.select(col("predicate").as("relation")), "relation")
      }
      stage("adjacency", entSnap, partitionCols = Seq("rel")) {
        kept
          .join(entities.withColumnRenamed("entity", "subject").withColumnRenamed("id", "src"), "subject")
          .join(entities.withColumnRenamed("entity", "object").withColumnRenamed("id", "dst"), "object")
          .join(relations.withColumnRenamed("relation", "predicate").withColumnRenamed("id", "rel"), "predicate")
          .select(col("src"), col("dst"), col("rel").cast("int").as("rel"))
      }
    }

    PipelineResult(kept, review, scored, metrics.toSeq)
  }

  /** Distinct output triples (the P/R surface vs Fixtures.expectedTriples). */
  def outputTriples(result: PipelineResult): DataFrame =
    result.kept.select("subject", "predicate", "object").distinct()

  /** Precision/recall of the pipeline vs the fixture oracle. */
  def precisionRecall(spark: SparkSession, cfg: FixtureConfig, result: PipelineResult): (Double, Double) = {
    val got = outputTriples(result).cache()
    val want = Fixtures.expectedTriples(spark, cfg).toDF().cache()
    val hit = got.join(want, Seq("subject", "predicate", "object"), "left_semi").count()
    val (nGot, nWant) = (got.count(), want.count())
    got.unpersist(); want.unpersist()
    (if (nGot == 0) 0.0 else hit.toDouble / nGot,
      if (nWant == 0) 1.0 else hit.toDouble / nWant)
  }
}
