package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dictionary-plus-context entity linking (north_star: "broadcast alias
  * hash join for candidate generation ... score via mention-context
  * cosine").
  *
  * Shuffle-free by construction: the alias dictionary is pre-grouped to
  * one row per alias carrying ALL its candidate entities as an array
  * (driver-side small — it is the broadcast side anyway), the mention
  * table broadcast-hash-joins against it once per role, and the argmax
  * candidate is selected inline with higher-order array functions
  * (transform + aggregate). No explode, no window, no shuffle of the
  * mention table — at 10^12 documents the link stage is a pure map over
  * the extraction output.
  *
  * Cosine is the 0/1-bag cosine between mention context tokens and the
  * candidate's keyword set via array_intersect/size — codegen built-ins,
  * no UDF (SURVEY.md §2.8).
  */
object EntityLink {

  /** 0/1-bag cosine of two string arrays. */
  def setCosine(a: Column, b: Column): Column =
    when(size(a) > 0 && size(b) > 0,
      size(array_intersect(a, b)).cast("double") /
        sqrt(size(a).cast("double") * size(b).cast("double")))
      .otherwise(lit(0.0))

  /** One dictionary row per alias: candidates array of
    * struct(entity_id, prior, keywords).
    */
  private def dictByAlias(aliasDict: DataFrame, entityKeywords: DataFrame): DataFrame =
    aliasDict
      .join(entityKeywords, "entity_id")
      .groupBy(col("alias"))
      .agg(collect_list(struct(col("entity_id"), col("prior"), col("keywords"))).as("cands"))

  /** argmax over candidates: score = prior * (0.1 + cosine(context, kw)),
    * tiebreak on smallest entity_id. Returns
    * struct(score, entity_id, cosine).
    */
  def bestCandidate(cands: Column, context: Column): Column = {
    // r8: two-step transform so the set cosine (an array_intersect per
    // candidate — the expensive part of this interpreted HOF chain)
    // evaluates ONCE per candidate instead of once for the score and
    // again for the carried cosine field; same value feeds both, so
    // the output is bit-identical.
    val withCos = transform(cands, c => struct(
      setCosine(context, c("keywords")).as("cosine"),
      c("prior").as("prior"),
      c("entity_id").as("entity_id")))
    val scored = transform(withCos, c =>
      struct(
        (c("prior") * (lit(0.1) + c("cosine"))).as("score"),
        c("entity_id").as("entity_id"),
        c("cosine").as("cosine")))
    aggregate(scored,
      struct(lit(-1.0).as("score"), lit("").as("entity_id"), lit(0.0).as("cosine")),
      (acc, x) =>
        when(x("score") > acc("score") ||
          (x("score") === acc("score") && x("entity_id") < acc("entity_id")), x)
          .otherwise(acc))
  }

  /** assertions(url, sent_idx, subj_alias, predicate, obj_alias, context)
    * -> linked(subject, predicate, object, url, link_conf).
    * Assertions whose subject or object alias is not in the dictionary
    * are dropped (candidate generation is an inner broadcast join).
    */
  def link(
      assertions: DataFrame,
      aliasDict: DataFrame,
      entityKeywords: DataFrame): DataFrame = {
    // r8: checkpoint the (small) dictionary — it is broadcast twice
    // (subject + object side) and each broadcast build would otherwise
    // re-run the alias join + groupBy
    val dict = dictByAlias(aliasDict, entityKeywords).localCheckpoint(true)
    val sDict = broadcast(dict
      .withColumnRenamed("alias", "subj_alias").withColumnRenamed("cands", "s_cands"))
    val oDict = broadcast(dict
      .withColumnRenamed("alias", "obj_alias").withColumnRenamed("cands", "o_cands"))

    assertions
      .join(sDict, Seq("subj_alias"), "inner")
      .join(oDict, Seq("obj_alias"), "inner")
      .withColumn("s_best", bestCandidate(col("s_cands"), col("context")))
      .withColumn("o_best", bestCandidate(col("o_cands"), col("context")))
      .withColumn("link_conf",
        lit(0.6) + lit(0.4) * (col("s_best.cosine") + col("o_best.cosine")) / lit(2.0))
      .select(
        col("s_best.entity_id").as("subject"),
        col("predicate"),
        col("o_best.entity_id").as("object"),
        col("url"),
        col("link_conf"))
  }
}
