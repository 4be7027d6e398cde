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
  */
object DupAware {

  /** Exact-duplicate classes: one row per distinct text with
    * `rep_id` = min(id) and the class size. Checkpointed — callers fan
    * it into several consumers (band self-joins, attachment joins) and
    * the corpus text must be scanned once, not once per consumer.
    */
  def classes(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("rep_id"), count(lit(1)).as("copies"))
      .localCheckpoint(true)

  /** Rep-level SimHash near-dup pairs with multiplicities (q88 core):
    * (id1, id2, hamming, copies1, copies2, expanded_pairs) where each
    * rep pair stands for copies1*copies2 raw pairs. The raw pair set is
    * losslessly recoverable by expansion + each class's internal
    * c*(c-1)/2 hamming-0 pairs (DedupSpec theorem test).
    */
  def nearDupRepPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3): DataFrame = {
    val cls = classes(docs, idCol, textCol)
    val reps = docs.join(
      cls.select(col("rep_id").as(idCol)), Seq(idCol), "left_semi")
    val fps = reps.select(col(idCol),
      graft.functions.Md5SimHash.of(col(textCol)).as("sh"))
      .localCheckpoint(true)
    val copies = cls.select(col("rep_id"), col("copies"))
    graft.functions.SimHash.bandedPairs(fps, maxHamming)
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
    * n-gram shingles appearing anywhere in the benchmark side;
    * `contaminated` = overlap >= minOverlap. Asymmetric scale shape:
    * the benchmark shingle set feeds a LeftSemi join and the training
    * side stays a narrow explode -> semi-join -> keyed count — no pair
    * materialization. The semi join is planner-chosen: under
    * spark.sql.autoBroadcastJoinThreshold it is a BroadcastHashJoin
    * (PlanSpec asserts this regime, the one the bench fixtures run in);
    * a benchmark shingle set larger than the threshold falls back to a
    * shuffled LeftSemi — still no pair set, but the benchmark side then
    * costs one exchange. Sub-n-token docs have no shingles and report 0.
    */
  def decontaminate(docs: DataFrame, isBench: Column, n: Int = 5,
      minOverlap: Long = 1L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"shingle size must be positive, got $n")
    val toks = docs.select(col(idCol), isBench.as("__bench"),
      split(col(textCol), " ").as("t"))
    val withSh = toks.filter(size(col("t")) >= n)
      .select(col(idCol), col("__bench"),
        explode(array_distinct(NgramJaccard.shingles(col("t"), n))).as("sh"))
    val bench = withSh.filter(col("__bench")).select(col("sh")).distinct()
    val overlap = withSh.filter(!col("__bench"))
      .join(bench, Seq("sh"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    toks.filter(!col("__bench")).select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }
}
