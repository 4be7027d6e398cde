package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-aware corpus operators (r7): exact-copy collapse as a
  * library primitive, plus the two compositions built on it that the
  * sf1/sf10 ladders motivated — rep-level near-dup pair generation
  * (q88) and benchmark decontamination (q90).
  *
  * The collapse contract: fingerprints/signatures computed from a
  * document's text are content-determined, so byte-identical copies
  * always behave identically in candidate generation. Grouping by
  * md5(text) (only (id, 32-hex) shuffles — text never does) and
  * processing one representative per class makes pair output and
  * search cost scale with DISTINCT contents instead of quadratically
  * in copy multiplicity (measured: q48 emitted 100.5x more pairs for
  * 10x data on the exact-dup-heavy ScaleUp corpus; q88 stayed flat).
  *
  * Every operator reads a corpus `docs(doc_id, text)`.
  */
object DupAware {

  /** Exact-duplicate classes: one row per distinct text with
    * `rep_id` = min(id) and the class size. Checkpointed — callers fan
    * it into several consumers (band self-joins, attachment joins) and
    * the corpus text must be scanned once, not once per consumer.
    */
  def classes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("copies"))
      .localCheckpoint(true)

  /** Rep-level SimHash near-dup pairs with multiplicities (q88 core):
    * (id1, id2, hamming, copies1, copies2, expanded_pairs) where each
    * rep pair stands for copies1*copies2 raw pairs. The raw pair set is
    * losslessly recoverable by expansion + each class's internal
    * c*(c-1)/2 hamming-0 pairs (DedupSpec theorem test). Pairs are
    * within hamming 3, [[graft.functions.SimHash.bandedPairs]]' bound.
    */
  def nearDupRepPairs(docs: DataFrame): DataFrame = {
    val cls = classes(docs)
    val reps = docs.join(
      cls.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val fps = reps.select(col("doc_id"),
      graft.functions.Md5SimHash.of(col("text")).as("sh"))
      .localCheckpoint(true)
    val copies = cls.select(col("rep_id"), col("copies"))
    graft.functions.SimHash.bandedPairs(fps)
      .join(copies.select(col("rep_id").as("id1"),
        col("copies").as("copies1")), Seq("id1"))
      .join(copies.select(col("rep_id").as("id2"),
        col("copies").as("copies2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("hamming"),
        col("copies1"), col("copies2"),
        (col("copies1") * col("copies2")).as("expanded_pairs"))
  }

  /** Benchmark decontamination (q90 core, GPT-3 appx C / The Pile):
    * for every doc NOT in the benchmark split, count its DISTINCT
    * 5-gram shingles appearing anywhere in the benchmark side;
    * `contaminated` = any overlap. Asymmetric scale shape:
    * the benchmark shingle set feeds a LeftSemi join and the training
    * side stays a narrow explode -> semi-join -> keyed count — no pair
    * materialization. The semi join is planner-chosen: under
    * spark.sql.autoBroadcastJoinThreshold it is a BroadcastHashJoin
    * (PlanSpec asserts this regime, the one the bench fixtures run in);
    * a benchmark shingle set larger than the threshold falls back to a
    * shuffled LeftSemi — still no pair set, but the benchmark side then
    * costs one exchange. Sub-5-token docs have no shingles and report 0.
    */
  def decontaminate(docs: DataFrame, isBench: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), isBench.as("__bench"),
      split(col("text"), " ").as("t"))
    val withSh = toks.filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("__bench"),
        explode(array_distinct(NgramJaccard.shingles(col("t"), 5))).as("sh"))
    val bench = withSh.filter(col("__bench")).select(col("sh")).distinct()
    val overlap = withSh.filter(!col("__bench"))
      .join(bench, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    toks.filter(!col("__bench")).select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= 1L).as("contaminated"))
  }
}
