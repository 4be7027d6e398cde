package graft.prune

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators.
  *
  * The reference uses seeded python RNGs; all distributed forms here are
  * pure row-hash functions (retry-stable, engine-portable — SURVEY.md
  * §7.4).
  */
object Sampling {

  /** Bernoulli-by-hash sample: keep a row iff the first 4 hex chars of
    * md5(key|seed) fall below fraction * 0x10000. Same expression is
    * writable in any SQL engine.
    */
  def hashSample(df: DataFrame, keyCols: Seq[Column], fraction: Double, seed: Long): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    // the 4-hex-char compare is lexicographic over exactly 4 chars; a
    // bound of 0x10000 would render as 5 chars and compare wrongly, so
    // the boundary fractions short-circuit
    val scaled = math.round(fraction * 65536).toInt
    if (scaled >= 65536) df
    else if (scaled <= 0) df.limit(0)
    else {
      val bound = f"$scaled%04x"
      df.filter(
        substring(md5(concat_ws("|", keyCols :+ lit(seed.toString): _*)), 1, 4) < bound)
    }
  }

  /** Deterministic 50+50 ranking-corruption protocol (reference
    * /root/reference/src/gnn/lcilp/test_ranking.py:119-181 +
    * compute_rank_metrics.py:8-51): per test edge, two blocks of
    * `blockSize` candidates — the true triple plus blockSize-1
    * corruptions of the tail ('head' block: head fixed) resp. of the
    * head ('tail' block) — with self-loops, existing edges and the true
    * entity rejected, and the model score replaced by the md5 score
    * surrogate: rank = 1 + #negatives hashing below the true edge.
    *
    * Candidate generation is hash-indexed picks against the dense
    * entity dictionary, NOT a test x entities cross join:
    * `attemptFactor * (blockSize-1)` attempts per block each
    * hash-address one dictionary entry, rejects are dropped, and the
    * first blockSize-1 distinct survivors in attempt order are kept.
    * Total work is O(nTest * blockSize), never a full-entity pass per
    * block. The index hash is the md5-hex-prefix integer (portable:
    * DuckDB CAST('0x'||hex AS BIGINT) == Spark conv) so the DuckDB
    * oracle reproduces every pick.
    *
    * A block whose attempts are ALL rejected still ranks its true edge
    * (the reference scores it alone in the block): the final left join
    * emits rnk=1, block_size=1 for it, so n_blocks == 2 * nTest always.
    *
    * Under-filled blocks regenerate their deficit (the reference's
    * while-loop discipline, test_ranking.py, with a bounded attempt
    * budget) by evaluating the FULL `fillRounds * nAtt` attempt
    * budget. Because picks are the first blockSize-1 survivors in
    * ascending attempt order and dedup keeps the earliest attempt per
    * entity, a full block's result is invariant under attempt
    * extension — so an adaptive "extend only deficient
    * blocks" loop has the same fixpoint as the one-shot full-budget run
    * (PruneSpec asserts this with attemptFactor=1 x fillRounds=4 ==
    * attemptFactor=4 x fillRounds=1), which is exactly what the DuckDB
    * oracle evaluates. The implementation IS the one-shot: test sets are
    * bounded (2*nTest*fillRounds*nAtt attempt rows — 157k at the driver
    * query's nTest=100), and every probing variant measured 1.5-2.9x
    * slower at that size by splitting the fused single-pass plan
    * (localCheckpoint leaves the AQE query; persist+count pays a second
    * query; a lazy patch branch re-evaluates the t/dict subtrees). At
    * nTest >> 10^5, lower fillRounds/attemptFactor or reintroduce a
    * probed extension — the algebra above guarantees the same rows.
    * A block whose viable pool is genuinely smaller than blockSize-1
    * still emits under-filled after the full budget (compare block_size
    * when protocol fidelity matters).
    *
    * Returns one row per (test edge, side): (s, p, o, side, rnk,
    * block_size).
    */
  def rankingBlocks(edges: DataFrame, nTest: Int, blockSize: Int = 50,
      attemptFactor: Int = 4, fillRounds: Int = 4): DataFrame = {
    // r8: the distinct triple set feeds FOUR consumers (test pick,
    // entity dictionary, entity count, existing-edge rejection) — pin
    // it once. This does NOT split the fused attempt plan the scaladoc
    // warns about (that finding was for materializing the attempt/
    // survivor frames); measured same-window A/B REPS=5: 0.86->0.66 s
    // warm, 2.98->2.74 s cold.
    val t = edges.select("subject", "predicate", "object").distinct()
      .localCheckpoint(true)
    val test = t
      .orderBy(md5(concat_ws("|",
        col("subject"), col("predicate"), col("object"), lit("test57"))))
      .limit(nTest)
      .select(col("subject").as("s"), col("predicate").as("p"), col("object").as("o"))
    val entities = t.select(col("subject").as("e"))
      .unionAll(t.select(col("object").as("e"))).distinct()
    val dict = graft.core.Ids.dictionary(entities, "e", "__idx")
    val nEnt = entities.agg(count(lit(1)).as("__n_ent"))
    val sides = test.select(col("s"), col("p"), col("o"),
      explode(array(lit("head"), lit("tail"))).as("side"))
    val nAtt = attemptFactor * (blockSize - 1)
    def attempts(forSides: DataFrame, lo: Int, hi: Int): DataFrame =
      forSides
        .select(col("s"), col("p"), col("o"), col("side"),
          explode(sequence(lit(lo), lit(hi - 1))).as("__a"))
        .crossJoin(nEnt) // 1-row count
        .withColumn("__idx", expr(
          """CAST(conv(substring(
            |  md5(concat_ws('|', s, p, o, side, __a, 'idx57')), 1, 12),
            |  16, 10) AS BIGINT) % __n_ent + 1""".stripMargin))
    // hash-pick -> self-loop / true-entity / existing-edge rejection
    def survivors(att: DataFrame): DataFrame = {
      val cand = att.join(dict, Seq("__idx"))
        .filter(col("e") =!= col("s") && col("e") =!= col("o"))
        .withColumn("cs", when(col("side") === "head", col("s")).otherwise(col("e")))
        .withColumn("co", when(col("side") === "head", col("e")).otherwise(col("o")))
      cand.join(
        t.select(col("subject").as("cs"), col("predicate").as("p"),
          col("object").as("co")),
        Seq("cs", "p", "co"), "left_anti")
    }
    // one pick per distinct entity per block, earliest attempt wins
    def dedupe(surv: DataFrame): DataFrame =
      surv.withColumn("__rd", row_number().over(
          Window.partitionBy("s", "p", "o", "side", "e").orderBy(col("__a"))))
        .filter(col("__rd") === 1)
        .drop("__rd")

    def scoreKey(a: Column, b: Column, c: Column): Column =
      md5(concat_ws("|", a, b, c, lit("sc57")))
    def blocksFrom(surv: DataFrame): DataFrame =
      surv.withColumn("__rn", row_number().over(
          Window.partitionBy("s", "p", "o", "side").orderBy(col("__a"))))
        .filter(col("__rn") <= blockSize - 1)
        .groupBy(col("s"), col("p"), col("o"), col("side"))
        .agg(
          (sum(when(scoreKey(col("cs"), col("p"), col("co"))
            < scoreKey(col("s"), col("p"), col("o")), 1).otherwise(0)) + 1)
            .cast("long").as("rnk"),
          (count(lit(1)) + 1).cast("long").as("block_size"))

    def finish(forSides: DataFrame, blocks: DataFrame): DataFrame =
      forSides.join(blocks, Seq("s", "p", "o", "side"), "left")
        .select(col("s"), col("p"), col("o"), col("side"),
          coalesce(col("rnk"), lit(1L)).as("rnk"),
          coalesce(col("block_size"), lit(1L)).as("block_size"))

    // one fused AQE plan, full budget (see scaladoc for why one-shot
    // beats every probing variant at bounded-test-set size)
    finish(sides,
      blocksFrom(dedupe(survivors(attempts(sides, 0, fillRounds * nAtt)))))
  }
}
