package graft.prune

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded train/valid/test splitting
  * (/root/reference/src/gnn/extract.py:227-288).
  *
  * The reference shuffles with random.seed(42) and slices 70/15/15. A
  * distributed equivalent must be retry-stable AND engine-portable, so
  * the split coordinate is a pure hash of the row key: the first byte of
  * md5(subject|predicate|object|seed), compared lexicographically on the
  * hex string ('b3'/256 = 0.6992, 'd8'/256 = 0.8438 — i.e. ~70/15/15).
  * Hex-prefix comparison is writable identically in any SQL engine
  * (DuckDB oracle parity; no conv() needed). Because the split is a
  * function of the triple alone, distinct triples cannot leak across
  * splits: the reference's leakage check (extract.py:276) holds by
  * construction.
  */
object Splits {

  /** First two hex chars of the seeded row hash. */
  def hashPrefix(seed: Long): org.apache.spark.sql.Column =
    substring(md5(concat_ws("|",
      col("subject"), col("predicate"), col("object"), lit(seed.toString))), 1, 2)

  /** Adds a `split` column: train/valid/test at ~70/15/15. */
  def assign(triples: DataFrame, seed: Long = 42L): DataFrame =
    triples.withColumn("split",
      when(hashPrefix(seed) < "b3", "train")
        .when(hashPrefix(seed) < "d8", "valid")
        .otherwise("test"))

  /** New-entity triage (reference
    * /root/reference/src/gnn/lcilp/utils/clean_data.py:25-42): valid and
    * test triples whose subject/object entity or relation is unseen in
    * train are MOVED into train, not dropped — a model can't rank
    * entities it has no embedding for, but the triple is still true.
    *
    * The reference loops sequentially, extending the train vocabulary
    * row by row; the distributed analogue is two order-free batch
    * passes with the same net guarantee (no unseen entity/relation
    * remains in valid or test): valid is checked against the original
    * train vocabulary, test against train extended by the moved valid
    * rows. Vocabulary sides are distinct-entity tables — broadcast-sized
    * relative to triples — joined via left_semi (no row widening).
    *
    * Multiply-consumed intermediates (the input fan-out, each pass's
    * marked frame, the extended train2) are localCheckpoint'ed: without
    * that, the output union's four branches each re-derive train2, which
    * re-derives the valid-pass joins, which re-derive the input — the
    * recompute tree is ~5x the linear work (the same
    * materialize-the-shared-stage discipline as the pipeline's evidence
    * table; BENCH/BASELINE.md round-1 finding 1).
    *
    * Input: (subject, predicate, object, split); output: same rows with
    * `split` rewritten.
    */
  def triageNewEntities(withSplit: DataFrame): DataFrame = {
    val in = withSplit.localCheckpoint(true)
    def ents(df: DataFrame): DataFrame =
      df.select(col("subject").as("e"))
        .unionAll(df.select(col("object").as("e"))).distinct()
    def rels(df: DataFrame): DataFrame =
      df.select(col("predicate").as("r")).distinct()
    // covered = both endpoints AND the relation are in the vocabulary
    def split2(df: DataFrame, e: DataFrame, r: DataFrame): (DataFrame, DataFrame) = {
      val marked = df
        .join(e.select(col("e").as("subject")).withColumn("__se", lit(1)), Seq("subject"), "left")
        .join(e.select(col("e").as("object")).withColumn("__oe", lit(1)), Seq("object"), "left")
        .join(r.select(col("r").as("predicate")).withColumn("__pr", lit(1)), Seq("predicate"), "left")
        .localCheckpoint(true)
      val ok = col("__se").isNotNull && col("__oe").isNotNull && col("__pr").isNotNull
      (marked.filter(ok).select(df.columns.map(col): _*),
        marked.filter(!ok).select(df.columns.map(col): _*))
    }
    val train = in.filter(col("split") === "train")
    val valid = in.filter(col("split") === "valid")
    val test = in.filter(col("split") === "test")
    val (keptValid, movedValid) = split2(valid, ents(train), rels(train))
    val train2 = train.unionAll(movedValid.withColumn("split", lit("train")))
      .localCheckpoint(true)
    val (keptTest, movedTest) = split2(test, ents(train2), rels(train2))
    train2
      .unionAll(movedTest.withColumn("split", lit("train")))
      .unionAll(keptValid)
      .unionAll(keptTest)
  }
}
