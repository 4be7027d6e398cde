package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.Canonicalize
import graft.core.TableFormat
import graft.dedup.PageDedup
import graft.extract.{TextExtract, TripleExtract}
import graft.fixtures.{FixtureConfig, Fixtures}
import graft.link.EntityLink
import graft.pipeline.{KgInputs, KgPipeline, PipelineResult}
import graft.prune.AssertionPruning

/** KG inputs staged to parquet, keyed on the whole fixture config. */
final case class Staged(cfg: FixtureConfig, dir: String) {
  def key: String = s"pages${cfg.nPages}-entities${cfg.nEntities}-seed${cfg.seed}"
}

object Kg {
  val buckets = 16

  private def marker(cfg: FixtureConfig) =
    Json.obj("nPages" -> cfg.nPages, "nEntities" -> cfg.nEntities, "seed" -> cfg.seed)

  /** Generates the fixture for `cfg` and writes it under `dir`: pages
    * partitioned into url-hash buckets, the dictionaries, and a marker
    * holding the config, which [[load]] checks.
    */
  def stage(spark: SparkSession, cfg: FixtureConfig, dir: String): Staged = {
    Files.deleteIfExists(Paths.get(dir, "_fixture.json"))
    val gen = KgPipeline.fixtureInputs(spark, cfg)
    gen.pages
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/pages")
    gen.aliasDict.write.mode("overwrite").parquet(s"$dir/alias_dict")
    gen.entityKeywords.write.mode("overwrite").parquet(s"$dir/entity_keywords")
    gen.sameAs.write.mode("overwrite").parquet(s"$dir/same_as")
    Files.writeString(Paths.get(dir, "_fixture.json"), marker(cfg))
    Staged(cfg, dir)
  }

  /** Inputs read back from a staging dir, restricted to url-hash buckets
    * `lo..hi`; fails when the dir was staged for another config.
    */
  def load(spark: SparkSession, st: Staged, lo: Int = 0, hi: Int = buckets - 1): KgInputs = {
    val m = Paths.get(st.dir, "_fixture.json")
    require(Files.exists(m) && Files.readString(m) == marker(st.cfg),
      s"staged input in ${st.dir} does not match ${st.key}")
    KgInputs(
      pages = spark.read.parquet(s"${st.dir}/pages").filter(col("bucket").between(lo, hi)).drop("bucket"),
      aliasDict = spark.read.parquet(s"${st.dir}/alias_dict"),
      entityKeywords = spark.read.parquet(s"${st.dir}/entity_keywords"),
      ontology = Fixtures.ontology(spark, st.cfg),
      sameAs = spark.read.parquet(s"${st.dir}/same_as"))
  }

  /** Forces every output column of the result: kept triples through the
    * no-op sink, the review queue collected.
    */
  def sink(res: PipelineResult): Unit = {
    res.kept.write.format("noop").mode("overwrite").save()
    res.review.collect()
  }

  def build(spark: SparkSession, st: Staged, in: KgInputs): PipelineResult =
    KgPipeline.runWith(spark, in, dedup = "minhash", inputId = st.key, degJoin = "auto")

  /** Snapshot mode: every stage written to a table under `root`; a second
    * call with the same root resumes and must skip every stage.
    */
  def snapshot(spark: SparkSession, st: Staged, in: KgInputs, root: String): PipelineResult =
    KgPipeline.runWith(spark, in, tables = Some(new TableFormat(root)), runId = "bench",
      dedup = "exact", inputId = st.key)

  /** Order-insensitive hash of the distinct output triples. */
  def keptHash(res: PipelineResult): String = {
    val r = KgPipeline.outputTriples(res)
      .select(xxhash64(col("subject"), col("predicate"), col("object")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    require(root.nonEmpty, "refusing to delete the working directory")
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** One pass of the layers `build` runs (minhash dedup, degree join
    * "auto"), called one by one from here, each output materialized inside
    * its layer's span. Returns the layer counters of the pass.
    */
  def layered(in: KgInputs, tr: Tracer): Map[String, Double] = {
    def out(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val pages = in.pages
    val dropped = tr.span("dedup", "dedup")(out(PageDedup.droppedUrls(pages, "minhash")))
    val (verified, assertions) = tr.span("extract", "extract") {
      val v = out(pages.select(col("url"), col("text"), col("lang"),
        (TextExtract.extractTextCol(col("html")) === col("text")).as("text_ok")))
      (v, out(TripleExtract.assertions(v.where(col("text_ok")))
        .join(dropped.select(xxhash64(col("url")).as("__url_h")),
          xxhash64(col("url")) === col("__url_h"), "left_anti")))
    }
    val linked = tr.span("link", "link")(out(EntityLink.link(assertions, in.aliasDict, in.entityKeywords)))
    val (canonMap, canonical) = tr.span("canon", "canon") {
      val m = out(Canonicalize.canonicalMap(in.sameAs))
      (m, out(Canonicalize.rewrite(linked, m)))
    }
    val scored = tr.span("prune.score", "prune")(out(AssertionPruning.score(canonical, in.ontology, degJoin = "auto")))
    tr.span("prune.prune", "prune")(AssertionPruning.prune(scored).write.format("noop").mode("overwrite").save())
    tr.span("prune.review", "prune")(AssertionPruning.reviewQueue(scored).collect())

    val nPages = pages.count().toDouble
    val nDropped = dropped.count().toDouble
    val nAssert = assertions.count().toDouble
    val nLinked = linked.count().toDouble
    val mapped = broadcast(canonMap.select(col("entity_id")))
    val rewritten = linked.join(mapped,
      linked("subject") === mapped("entity_id") || linked("object") === mapped("entity_id"),
      "left_semi").count().toDouble
    val th = AssertionPruning.defaultThreshold
    val below = col("score") < th
    val p = scored.agg(
      count(lit(1)),
      sum(when(!below, 1).otherwise(0)),
      sum(when(below && col("type_ok") < 1.0, 1).otherwise(0)),
      sum(when(below && col("type_ok") >= 1.0 && col("card_ok") < 1.0, 1).otherwise(0)),
      sum(when(below && col("type_ok") >= 1.0 && col("card_ok") >= 1.0, 1).otherwise(0))).head()
    def l(i: Int) = if (p.isNullAt(i)) 0.0 else p.getLong(i).toDouble
    Map(
      "dedup.pages_in" -> nPages,
      "dedup.urls_dropped" -> nDropped,
      "dedup.drop_ratio" -> (if (nPages > 0) nDropped / nPages else 0.0),
      "extract.assertions_out" -> nAssert,
      "extract.text_mismatch" -> verified.where(!col("text_ok")).count().toDouble,
      "link.rows_out" -> nLinked,
      "link.link_ratio" -> (if (nAssert > 0) nLinked / nAssert else 0.0),
      "canon.map_rows" -> canonMap.count().toDouble,
      "canon.rewritten_rows" -> rewritten,
      "prune.scored_rows" -> l(0),
      "prune.kept" -> l(1),
      "prune.dropped_type" -> l(2),
      "prune.dropped_card" -> l(3),
      "prune.dropped_conf" -> l(4))
  }
}
