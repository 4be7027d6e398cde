package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.core.Ids
import graft.prune.{AntiJoinReconcile, Splits}
import graft.queries.Q._

/** Driver-contract queries for the KG-shaped operator inventory
  * (SURVEY.md §2.2-2.7), each DuckDB-verifiable over /root/testdata.
  */
object KgQueries {

  /** Width of the event_id chunks q15 and q55 rank within: one task
    * sorts each (event_id % 100, event_id DIV RankChunk) group, so the
    * width bounds a task's sort. Results are exact for any width.
    */
  private val RankChunk = 1L << 26

  /** q15 and q55's ranking base over the triples: the label `pos`
    * (value > 100), `event_id`, its score bucket `__b` = event_id % 100
    * and its chunk `__g` = event_id DIV [[RankChunk]] (see q15).
    */
  private def rankBase(s: SparkSession, d: String): DataFrame =
    triples(s, d).select(
      (col("value") > 100.0).cast("int").as("pos"),
      col("event_id"),
      expr("event_id % 100").as("__b"),
      expr(s"event_id DIV ${RankChunk}L").as("__g"))

  /** The local rank order inside one (__b, __g) group of [[rankBase]]. */
  private def inGroup = Window.partitionBy(col("__b"), col("__g")).orderBy(col("event_id"))

  /** Width of the event_id buckets whose counts q64 collects to the
    * driver; exact for any width.
    */
  private val Chunk64Bucket = 1L << 16

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------- scans / projections
    QueryDef("q01_scan_project",
      (s, d) => table(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity
             |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin)),

    // ------------------------------------------------- filters (§2.2)
    QueryDef("q02_filter_empty_pred",
      // empty-predicate mask: isnull or trim('')==''
      // (Edge_Assignor.ipynb cell 12 l.20-22)
      (s, d) => triples(s, d)
        .withColumn("predicate",
          when(col("predicate") === "view", lit(" ")).otherwise(col("predicate")))
        .filter(col("predicate").isNull || trim(col("predicate")) === "")
        .select("subject", "object"),
      Some(s"""SELECT subject, "object"
              |FROM (SELECT subject,
              |             CASE WHEN predicate = 'view' THEN ' ' ELSE predicate END AS predicate,
              |             "object"
              |      FROM ($triplesSql) t) x
              |WHERE predicate IS NULL OR trim(predicate) = ''""".stripMargin)),

    QueryDef("q03_filter_target_set",
      // subject OR object in a literal target set (extract.py:94-98)
      (s, d) => triples(s, d)
        .filter(col("subject").isin("U:1", "U:2", "U:3") ||
          col("object").isin("E:7", "E:9"))
        .select("subject", "predicate", "object").distinct(),
      Some(s"""SELECT DISTINCT subject, predicate, "object"
              |FROM ($triplesSql) t
              |WHERE subject IN ('U:1','U:2','U:3') OR "object" IN ('E:7','E:9')""".stripMargin)),

    QueryDef("q04_distinct_nonempty_pred",
      (s, d) => triples(s, d)
        .filter(trim(col("predicate")) =!= "")
        .select("predicate").distinct(),
      Some(s"""SELECT DISTINCT predicate FROM ($triplesSql) t
              |WHERE trim(predicate) <> ''""".stripMargin)),

    QueryDef("q05_semijoin_known",
      // keep triples whose subject appears as a 'signup' subject
      // (known-entity filter, datasets.py:43-56)
      (s, d) => {
        val t = triples(s, d)
        val known = t.filter(col("predicate") === "signup").select("subject").distinct()
        t.join(known, Seq("subject"), "left_semi")
          .select("subject", "predicate", "object").distinct()
      },
      Some(s"""WITH t AS ($triplesSql)
              |SELECT DISTINCT subject, predicate, "object" FROM t
              |WHERE subject IN (SELECT subject FROM t WHERE predicate = 'signup')""".stripMargin)),

    // --------------------------------------------------- joins (§2.3)
    QueryDef("q06_antijoin_reconcile",
      // the reference's named core op (Edge_Assignor.ipynb cell 20)
      (s, d) => {
        val t = triples(s, d)
        val orig = t.groupBy("subject", "object").agg(min("predicate").as("predicate"))
          .select("subject", "predicate", "object")
        val refilled = t.filter(col("predicate") === "purchase")
          .select(col("subject"), lit("refilled").as("predicate"), col("object"))
          .distinct()
        // r8: both sides are key-unique here (groupBy resp. distinct), so
        // the single-left-join form applies — the anti+semi pair evaluated
        // the orig aggregation and the refilled distinct TWICE each
        // (12 Exchanges -> 5, plans/r08/q06_antijoin_reconcile_*.txt)
        AntiJoinReconcile.reconcileUnique(orig, refilled)
      },
      Some(s"""WITH t AS ($triplesSql),
              |orig AS (SELECT subject, min(predicate) AS predicate, "object"
              |         FROM t GROUP BY subject, "object"),
              |refilled AS (SELECT DISTINCT subject, 'refilled' AS predicate, "object"
              |             FROM t WHERE predicate = 'purchase')
              |SELECT o.subject, o.predicate, o."object" FROM orig o
              |WHERE NOT EXISTS (SELECT 1 FROM refilled r
              |                  WHERE r.subject = o.subject AND r."object" = o."object")
              |UNION ALL
              |SELECT r.subject, r.predicate, r."object" FROM refilled r
              |WHERE EXISTS (SELECT 1 FROM orig o
              |              WHERE o.subject = r.subject AND o."object" = r."object")""".stripMargin)),

    QueryDef("q07_node_lookup_join",
      // edge endpoints -> metadata via broadcast dims
      // (create_cytoscape_files.py:80-92)
      (s, d) => table(s, d, "customer")
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name")),
      Some("""SELECT c_custkey, c_name, n_name, r_name
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    QueryDef("q08_membership_count",
      // backbone ⊆ merged semi-join count (src/gnn/extract.py:213-225)
      (s, d) => {
        // r8: t feeds both the backbone filter and the semi-join right
        // side — checkpoint so the distinct shuffle runs once, not twice
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
          .localCheckpoint(true)
        val backbone = t.filter(col("predicate") === "error")
        backbone.join(t, Seq("subject", "predicate", "object"), "left_semi")
          .agg(count(lit(1)).as("n_present"))
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x)
              |SELECT count(*) AS n_present FROM t b
              |WHERE b.predicate = 'error'
              |  AND EXISTS (SELECT 1 FROM t m WHERE m.subject = b.subject
              |              AND m.predicate = b.predicate AND m."object" = b."object")""".stripMargin)),

    QueryDef("q09_negcheck_antijoin",
      // corrupted candidate must NOT be an existing edge
      // (graph_sampler.py:80)
      (s, d) => {
        // r8: distinct(cand) ANTI distinct(t) as ONE tagged-union keyed
        // aggregation — both sides project the same scan, so instead of
        // two distinct shuffles + an anti-join, union the rows with an
        // is_existing tag and keep keys seen as candidate but never as
        // existing (set-algebra identity over distinct sets; one
        // map-side-combinable shuffle of 2x narrow rows)
        val tr = triples(s, d)
        tr.select(col("subject"), col("predicate"), col("object"),
            lit(1).as("__is_t"))
          .unionAll(tr.select(
            col("subject"), col("predicate"),
            concat(lit("E:"), ((col("event_id") + 1) % 100).cast("string"))
              .as("object"),
            lit(0).as("__is_t")))
          .groupBy("subject", "predicate", "object")
          .agg(max(col("__is_t")).as("__has_t"))
          // max == 0 <=> every row for this key is a candidate row (so
          // at least one exists) and no existing-triple row was seen
          .filter(col("__has_t") === 0)
          .select("subject", "predicate", "object")
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |cand AS (SELECT DISTINCT subject, predicate,
              |                'E:' || CAST((event_id + 1) % 100 AS VARCHAR) AS "object"
              |         FROM ($triplesSql) y)
              |SELECT c.* FROM cand c
              |WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.subject = c.subject
              |                  AND t.predicate = c.predicate AND t."object" = c."object")""".stripMargin)),

    QueryDef("q10_dict_encode",
      // deterministic dense entity ids (data_utils.py:23-45 distributed)
      (s, d) => Ids.dictionary(
        triples(s, d).select(col("subject").as("entity"))
          .unionAll(triples(s, d).select(col("object").as("entity"))),
        "entity"),
      Some(s"""WITH t AS ($triplesSql),
              |e AS (SELECT DISTINCT entity FROM
              |      (SELECT subject AS entity FROM t UNION ALL SELECT "object" FROM t) u)
              |SELECT entity, row_number() OVER (ORDER BY entity) AS id FROM e""".stripMargin)),

    QueryDef("q11_salted_join_equiv",
      // salted SMJ == plain join (north_star skew discipline): degree of
      // each subject joined back onto distinct triples
      (s, d) => {
        // r8: t is both the salted join's big side and the degree
        // aggregate's input — checkpoint so the distinct shuffle runs
        // once (the salted-SMJ shape under test is untouched)
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
          .localCheckpoint(true)
        val deg = t.groupBy(col("subject")).agg(count(lit(1)).as("subj_degree"))
        graft.link.SkewJoin.salted(t, deg, Seq("subject"), 8,
          Seq(col("subject"), col("predicate"), col("object")))
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |deg AS (SELECT subject, count(*) AS subj_degree FROM t GROUP BY subject)
              |SELECT t.subject, t.predicate, t."object", deg.subj_degree
              |FROM t JOIN deg USING (subject)""".stripMargin)),

    // -------------------------------------------- aggregations (§2.4)
    QueryDef("q12_pred_counts",
      (s, d) => triples(s, d).groupBy("predicate").agg(count(lit(1)).as("n")),
      Some(s"""SELECT predicate, count(*) AS n FROM ($triplesSql) t GROUP BY predicate""")),

    QueryDef("q13_degree",
      // undirected node degree (prepare_meta_data.py:21-26)
      (s, d) => triples(s, d).select(col("subject").as("node"))
        .unionAll(triples(s, d).select(col("object").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")),
      Some(s"""WITH t AS ($triplesSql)
              |SELECT node, count(*) AS degree FROM
              |(SELECT subject AS node FROM t UNION ALL SELECT "object" FROM t) u
              |GROUP BY node""".stripMargin)),

    QueryDef("q14_group_stats",
      // mean/min/max/stddev summary (graph_sampler.py:176-222)
      (s, d) => table(s, d, "lineitem").groupBy("l_returnflag").agg(
        round(avg("l_quantity"), 6).as("avg_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        round(stddev_pop("l_quantity"), 6).as("sd_qty"),
        count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |  round(avg(l_quantity), 6) AS avg_qty,
             |  min(l_quantity) AS min_qty,
             |  max(l_quantity) AS max_qty,
             |  round(stddev_pop(l_quantity), 6) AS sd_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QueryDef("q15_auc",
      // rank-statistic AUC (trainer.py:143-144 reinterpreted):
      // label = value > 100, score as in Q.scored; deterministic
      // row_number tiebreak on event_id keeps both engines identical.
      // EXACT INTEGER output (round 1 shipped a rounded double whose
      // 6dp half-boundary hashed differently across engines): p, n, the
      // positive rank-sum, and the AUC in micro-units via integral
      // division — U = rank_sum - p(p+1)/2, auc_micro = U*1e6 div (p*n).
      (s, d) => {
        // Single-pass deterministic-bucket ranking: no range-sample
        // pass, checkpoint or join-back. The order key (score, event_id)
        // is DERIVED: score = (event_id % 100)/100.0 is strictly monotone
        // in event_id % 100, so bucketing by __b = event_id % 100
        // (refined by __g = event_id DIV RankChunk for bounded per-task
        // sorts at scale) is an exact, deterministic, sample-free prefix
        // of the total order — two passes over the same data always
        // agree. rank(row) = (rows in earlier groups) + (local rank), and
        // since the output is aggregates only, the per-group offsets fold
        // in WITHOUT a join-back: rank_sum_pos = SUM_g[pos_rank_sum_g +
        // pos_cnt_g * offset_g]. Plan: ONE data shuffle (hash by
        // (__b,__g), window + partial agg in the same stage), then a
        // metadata-sized single-partition window over the per-group
        // totals (#groups = 100 * ceil(max_id / RankChunk) rows of longs).
        val grp = rankBase(s, d)
          .withColumn("__rk", row_number().over(inGroup).cast("long"))
          .groupBy(col("__b"), col("__g"))
          .agg(count(lit(1)).as("__cnt"),
            sum(col("pos")).cast("long").as("__pcnt"),
            sum(when(col("pos") === 1, col("__rk")).otherwise(0L)).cast("long")
              .as("__prksum"))
        val offW = Window.orderBy(col("__b"), col("__g"))
          .rowsBetween(Window.unboundedPreceding, -1)
        grp
          .withColumn("__off", coalesce(sum(col("__cnt")).over(offW), lit(0L)))
          .agg(
            sum(col("__pcnt")).cast("long").as("p"),
            (sum(col("__cnt")) - sum(col("__pcnt"))).cast("long").as("n"),
            sum(col("__prksum") + col("__pcnt") * col("__off")).cast("long")
              .as("rank_sum_pos"))
          .select(col("p"), col("n"), col("rank_sum_pos"),
            // degenerate inputs (no positives or no negatives) emit NULL
            // instead of an ANSI DivideByZeroError
            expr("""CASE WHEN p = 0 OR n = 0 THEN NULL
                   |ELSE ((rank_sum_pos - (p * (p + 1)) DIV 2) * 1000000) DIV (p * n)
                   |END""".stripMargin)
              .as("auc_micro"))
      },
      Some(s"""WITH t AS (
              |  SELECT CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS pos,
              |         CAST(event_id % 100 AS DOUBLE) / 100.0 AS score, event_id
              |  FROM ($triplesSql) x),
              |r AS (SELECT pos, row_number() OVER (ORDER BY score, event_id) AS rnk FROM t),
              |agg AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
              |               CAST(sum(1 - pos) AS BIGINT) AS n,
              |               CAST(sum(CASE WHEN pos = 1 THEN rnk ELSE 0 END) AS BIGINT) AS rank_sum_pos
              |        FROM r)
              |SELECT p, n, rank_sum_pos,
              |  CASE WHEN p = 0 OR n = 0 THEN NULL
              |  ELSE ((rank_sum_pos - (p * (p + 1)) // 2) * 1000000) // (p * n)
              |  END AS auc_micro
              |FROM agg""".stripMargin)),

    QueryDef("q55_auc_pr",
      // AUC-PR / average precision (managers/evaluator.py:40-41,
      // ensembling/compute_auc.py:19-27): cumulative precision over the
      // score-descending ranking, averaged at the positive ranks. Exact
      // integers (same discipline as q15): per-positive precision in
      // micro-units via integral division, AP = their sum DIV p.
      (s, d) => {
        // Deterministic-bucket ranking (see q15). Order here is
        // (score DESC, event_id ASC) = (__b DESC, __g ASC, event_id ASC)
        // — same exact derived buckets, descending bucket order.
        // prec_micro = (cum_pos*1e6) DIV rnk is nonlinear PER POSITIVE
        // ROW, so unlike q15 the global offsets must reach the rows:
        // pass 1 aggregates per-group (count, pos_count) — map-side
        // partial agg, metadata-sized shuffle — into prefix
        // offsets; pass 2 re-scans (2 narrow columns, no checkpoint
        // needed because the bucketing is deterministic), computes local
        // rank + local running positive count per group in one window,
        // and a broadcast join shifts both by the group offsets.
        val base = rankBase(s, d)
        val offW = Window.orderBy(col("__b").desc, col("__g"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = base.groupBy(col("__b"), col("__g"))
          .agg(count(lit(1)).as("__cnt"), sum(col("pos")).cast("long").as("__pcnt"))
          .withColumn("__off", coalesce(sum(col("__cnt")).over(offW), lit(0L)))
          .withColumn("__poff", coalesce(sum(col("__pcnt")).over(offW), lit(0L)))
          .select(col("__b"), col("__g"), col("__off"), col("__poff"))
        val cum = inGroup.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        base
          .withColumn("__rk", row_number().over(inGroup).cast("long"))
          .withColumn("__cp", sum(col("pos")).over(cum).cast("long"))
          .filter(col("pos") === 1)
          .join(broadcast(offs), Seq("__b", "__g"))
          .select((col("__off") + col("__rk")).as("rnk"),
            (col("__poff") + col("__cp")).as("cum_pos"))
          .withColumn("prec_micro", expr("(cum_pos * 1000000) DIV rnk"))
          .agg(count(lit(1)).cast("long").as("p"),
            sum(col("prec_micro")).cast("long").as("prec_micro_sum"))
          .select(col("p"), col("prec_micro_sum"),
            expr("CASE WHEN p = 0 THEN NULL ELSE prec_micro_sum DIV p END")
              .as("ap_micro"))
      },
      Some(s"""WITH t AS (
              |  SELECT CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS pos,
              |         CAST(event_id % 100 AS DOUBLE) / 100.0 AS score, event_id
              |  FROM ($triplesSql) x),
              |r AS (SELECT pos,
              |        row_number() OVER (ORDER BY score DESC, event_id) AS rnk,
              |        sum(pos) OVER (ORDER BY score DESC, event_id
              |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
              |      FROM t),
              |pp AS (SELECT (CAST(cum_pos AS BIGINT) * 1000000) // rnk AS prec_micro
              |       FROM r WHERE pos = 1),
              |agg AS (SELECT CAST(count(*) AS BIGINT) AS p,
              |               CAST(sum(prec_micro) AS BIGINT) AS prec_micro_sum
              |        FROM pp)
              |SELECT p, prec_micro_sum,
              |  CASE WHEN p = 0 THEN NULL ELSE prec_micro_sum // p END AS ap_micro
              |FROM agg""".stripMargin)),

    QueryDef("q56_score_quantiles",
      // exact-rank score quantiles 0/25/50/75/100 (score_all_edges.py:
      // 256-268 prints min/25%/50%/75%/max on every scoring run). Exact
      // ELEMENT selection — no interpolation, no percentile_approx — so
      // the values hash identically across engines: index(q) =
      // (cnt-1)*q DIV 100 + 1 over the (score, edge_id)-sorted ranking.
      (s, d) => {
        // Exact-rank selection without ranking the whole table.
        // score = k/100.0 with k = min(event_id % 100) of the edge group,
        // so round(score*100) recovers k exactly and bucket __b = k is a
        // deterministic prefix of the (score, edge_id) total order (see
        // q15; <= 100 buckets by construction). The distinct-edge frame
        // is checkpointed ONCE (narrow: score + edge_id) and consumed
        // twice: (1) per-bucket counts — a bounded <=100-row collect —
        // from which the 5 target ranks resolve ON THE DRIVER to
        // (bucket, local rank) pairs; (2) a window over ONLY the <=5
        // buckets that contain a target rank, i.e. ~5% of rows ranked
        // instead of 100%, with no crossJoin(cnt) re-evaluation of the
        // ranking subtree and no explode.
        val se = scored(s, d).select("score", "edge_id").localCheckpoint(true)
        val cnts = se.groupBy(round(col("score") * 100).cast("int").as("__b"))
          .agg(count(lit(1)).as("__cnt"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val total = cnts.map(_._2).sum
        val cum = cnts.scanLeft(0L)(_ + _._2).init // offset before bucket i
        def locate(r: Long): Option[(Int, Long)] =
          cnts.indices.find(i => r > cum(i) && r <= cum(i) + cnts(i)._2)
            .map(i => (cnts(i)._1, r - cum(i)))
        val tgt = Seq(0, 25, 50, 75, 100).flatMap { p =>
          locate(Math.floorDiv((total - 1) * p, 100L) + 1L)
            .map { case (b, lr) => (p, b, lr) }
        }
        import s.implicits._
        val tgtDf = tgt.toDF("pct", "__tb", "__trk")
        val needed = tgt.map(_._2).distinct
        se.withColumn("__b", round(col("score") * 100).cast("int"))
          .filter(col("__b").isin(needed.map(Int.box): _*))
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("__b")).orderBy(col("edge_id"))).cast("long"))
          .join(broadcast(tgtDf),
            col("__b") === col("__tb") && col("__rk") === col("__trk"))
          .select(col("pct"), col("score"))
      },
      Some(s"""WITH se AS ($scoredSql),
              |ranked AS (SELECT score,
              |  row_number() OVER (ORDER BY score, edge_id) AS rn FROM se),
              |c AS (SELECT count(*) AS cnt FROM se),
              |p AS (SELECT unnest([0, 25, 50, 75, 100]) AS pct)
              |SELECT CAST(pct AS INTEGER) AS pct, score
              |FROM ranked, c, p
              |WHERE rn = ((cnt - 1) * pct) // 100 + 1""".stripMargin)),

    // ------------------------------------------------ windows (§2.5)
    QueryDef("q16_uncertainty_topk",
      // review selection (select_edges_for_review.py:26-43)
      (s, d) => scored(s, d)
        .withColumn("uncertainty", round(lit(1.0) - abs(col("score") - 0.5) * 2.0, 6))
        .orderBy(col("uncertainty").desc, col("edge_id"))
        .limit(10)
        .select("edge_id", "score", "uncertainty"),
      Some(s"""SELECT edge_id, score,
              |       round(1.0 - abs(score - 0.5) * 2.0, 6) AS uncertainty
              |FROM ($scoredSql) se
              |ORDER BY uncertainty DESC, edge_id LIMIT 10""".stripMargin)),

    QueryDef("q17_low_conf_topk",
      // lowest-score selection (select_edges_for_review.py:107-109)
      (s, d) => scored(s, d)
        .orderBy(col("score"), col("edge_id"))
        .limit(10)
        .select("edge_id", "score"),
      Some(s"""SELECT edge_id, score FROM ($scoredSql) se
              |ORDER BY score, edge_id LIMIT 10""".stripMargin)),

    QueryDef("q18_subject_cap",
      // <= 3 objects per subject (extract.py:139-148)
      (s, d) => {
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
        t.withColumn("rn", row_number().over(
          Window.partitionBy("subject").orderBy(col("object"), col("predicate"))))
          .filter(col("rn") <= 3).drop("rn")
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |r AS (SELECT *, row_number() OVER
              |      (PARTITION BY subject ORDER BY "object", predicate) AS rn FROM t)
              |SELECT subject, predicate, "object" FROM r WHERE rn <= 3""".stripMargin)),

    QueryDef("q19_removal_quota",
      // per-predicate 50% blanking quota, seeded by row hash
      // (Edge_Assignor.ipynb cell 5 l.33-41; md5 replaces random.choice)
      (s, d) => {
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
        val w = Window.partitionBy("predicate")
          .orderBy(md5(concat_ws("|", col("subject"), col("object"))))
        t.withColumn("rn", row_number().over(w))
          .withColumn("quota", floor(count(lit(1)).over(
            Window.partitionBy("predicate")) * 0.5).cast("long"))
          .withColumn("blanked", (col("rn") <= col("quota")).cast("int"))
          .select("subject", "predicate", "object", "blanked")
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |r AS (SELECT *,
              |  row_number() OVER (PARTITION BY predicate
              |                     ORDER BY md5(subject || '|' || "object")) AS rn,
              |  CAST(floor(count(*) OVER (PARTITION BY predicate) * 0.5) AS BIGINT) AS quota
              |  FROM t)
              |SELECT subject, predicate, "object",
              |       CASE WHEN rn <= quota THEN 1 ELSE 0 END AS blanked FROM r""".stripMargin)),

    QueryDef("q20_rank_corruptions",
      // rank of each edge within its subject block, desc score, min
      // method (compute_rank_metrics.py:8-18)
      (s, d) => scored(s, d)
        .withColumn("rnk", rank().over(
          Window.partitionBy("subject").orderBy(col("score").desc)))
        .select("subject", "object", "score", "rnk"),
      Some(s"""SELECT subject, "object", score,
              |  rank() OVER (PARTITION BY subject ORDER BY score DESC) AS rnk
              |FROM ($scoredSql) se""".stripMargin)),

    QueryDef("q21_mrr_hits",
      // MRR / Hits@k over per-subject ranking; true edge = min(object)
      // per subject (test_ranking.py:504-545 protocol shape)
      (s, d) => {
        // r8: truth (min object per subject) now rides the SAME
        // partition-by-subject window as the rank instead of a second
        // groupBy over a re-evaluated scored subtree + join — the scored
        // aggregation runs once and one exchange serves both (join on
        // (subject, object) vs min-per-subject == equality filter,
        // because truth had exactly one row per subject)
        val se = scored(s, d)
        val w = Window.partitionBy("subject")
        val ranked = se
          .withColumn("rnk", row_number().over(
            w.orderBy(col("score").desc, col("object"))))
          .withColumn("__min_o", min("object").over(w))
        ranked.filter(col("object") === col("__min_o"))
          .agg(
            round(avg(lit(1.0) / col("rnk")), 6).as("mrr"),
            round(avg((col("rnk") <= 1).cast("double")), 6).as("hits1"),
            round(avg((col("rnk") <= 5).cast("double")), 6).as("hits5"),
            round(avg((col("rnk") <= 10).cast("double")), 6).as("hits10"))
      },
      Some(s"""WITH se AS ($scoredSql),
              |ranked AS (SELECT subject, "object",
              |  row_number() OVER (PARTITION BY subject ORDER BY score DESC, "object") AS rnk
              |  FROM se),
              |truth AS (SELECT subject, min("object") AS "object" FROM se GROUP BY subject)
              |SELECT round(avg(1.0 / rnk), 6) AS mrr,
              |       round(avg(CASE WHEN rnk <= 1 THEN 1.0 ELSE 0.0 END), 6) AS hits1,
              |       round(avg(CASE WHEN rnk <= 5 THEN 1.0 ELSE 0.0 END), 6) AS hits5,
              |       round(avg(CASE WHEN rnk <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hits10
              |FROM ranked JOIN truth USING (subject, "object")""".stripMargin)),

    QueryDef("q57_ranking_protocol_5050",
      // 50-corruption-per-side ranking protocol (test_ranking.py:119-181)
      // feeding MRR / Hits@k (compute_rank_metrics.py:8-51): 100 test
      // edges, 49 hash-indexed dictionary picks per side (attempt order,
      // rejects dropped, never a full-entity pass; under-filled blocks
      // regenerate their deficit for up to 4 bounded rounds, oracle =
      // the equivalent one-shot 784-attempt budget), rank of the true
      // edge per block, exact-integer metrics (mrr_micro =
      // floor-average of floor(1e6/rank)). Blocks with every attempt
      // rejected rank the true edge alone (rnk=1).
      (s, d) => graft.prune.Sampling.rankingBlocks(triples(s, d), nTest = 100)
        .agg(
          count(lit(1)).cast("long").as("n_blocks"),
          sum(when(col("rnk") <= 1, 1).otherwise(0)).cast("long").as("hits1"),
          sum(when(col("rnk") <= 5, 1).otherwise(0)).cast("long").as("hits5"),
          sum(when(col("rnk") <= 10, 1).otherwise(0)).cast("long").as("hits10"),
          sum(expr("1000000 DIV rnk")).cast("long").as("rr_micro_sum"))
        .select(col("n_blocks"), col("hits1"), col("hits5"), col("hits10"),
          col("rr_micro_sum"), expr("rr_micro_sum DIV n_blocks").as("mrr_micro")),
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |test AS (SELECT subject AS s, predicate AS p, "object" AS o FROM t
              |         ORDER BY md5(subject || '|' || predicate || '|' || "object" || '|' || 'test57')
              |         LIMIT 100),
              |e AS (SELECT DISTINCT e FROM
              |      (SELECT subject AS e FROM t UNION ALL SELECT "object" FROM t) u),
              |dict AS (SELECT e, row_number() OVER (ORDER BY e) AS idx FROM e),
              |n AS (SELECT count(*) AS n_ent FROM e),
              |sides AS (SELECT s, p, o, side FROM test,
              |          (SELECT unnest(['head', 'tail']) AS side) sd),
              |att AS (SELECT s, p, o, side, a,
              |    CAST('0x' || substring(md5(s || '|' || p || '|' || o || '|' || side
              |      || '|' || CAST(a AS VARCHAR) || '|' || 'idx57'), 1, 12) AS BIGINT)
              |      % n_ent + 1 AS idx
              |  FROM sides, (SELECT unnest(range(784)) AS a) aa, n),
              |cand AS (SELECT att.s, att.p, att.o, att.side, att.a, d.e,
              |    CASE WHEN att.side = 'head' THEN att.s ELSE d.e END AS cs,
              |    CASE WHEN att.side = 'head' THEN d.e ELSE att.o END AS co
              |  FROM att JOIN dict d USING (idx)
              |  WHERE d.e <> att.s AND d.e <> att.o),
              |filt AS (SELECT * FROM cand WHERE NOT EXISTS (
              |  SELECT 1 FROM t WHERE t.subject = cand.cs AND t.predicate = cand.p
              |    AND t."object" = cand.co)),
              |ded AS (SELECT * FROM (
              |  SELECT filt.*, row_number() OVER (PARTITION BY s, p, o, side, e
              |    ORDER BY a) AS rd FROM filt) z WHERE rd = 1),
              |picked AS (SELECT * FROM (
              |  SELECT ded.*, row_number() OVER (PARTITION BY s, p, o, side
              |    ORDER BY a) AS rn FROM ded) z2 WHERE rn <= 49),
              |blocks AS (SELECT s, p, o, side,
              |    CAST(sum(CASE WHEN md5(cs || '|' || p || '|' || co || '|' || 'sc57')
              |                     < md5(s || '|' || p || '|' || o || '|' || 'sc57')
              |                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS rnk
              |  FROM picked GROUP BY s, p, o, side),
              |allb AS (SELECT sides.s, coalesce(b.rnk, 1) AS rnk
              |  FROM sides LEFT JOIN blocks b USING (s, p, o, side)),
              |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
              |  CAST(sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
              |  CAST(sum(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits5,
              |  CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
              |  CAST(sum(1000000 // rnk) AS BIGINT) AS rr_micro_sum
              |  FROM allb)
              |SELECT n_blocks, hits1, hits5, hits10, rr_micro_sum,
              |       rr_micro_sum // n_blocks AS mrr_micro FROM agg""".stripMargin)),

    // -------------------------------- sorts / limits / set ops (§2.6)
    QueryDef("q22_sort_limit_prefix",
      // reference Cypher read shape: prefix filter + distinct + order +
      // limit (download.py:21-56)
      (s, d) => triples(s, d)
        .filter(col("subject").rlike("^U:1[0-9]$"))
        .select("subject", "predicate", "object").distinct()
        .orderBy("subject", "predicate", "object")
        .limit(100),
      Some(s"""SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) t
              |WHERE regexp_matches(subject, '^U:1[0-9]$$')
              |ORDER BY subject, predicate, "object" LIMIT 100""".stripMargin)),

    QueryDef("q23_set_intersect",
      // common pairs (cell 20 l.33)
      (s, d) => {
        // r8: INTERSECT of two projections of the SAME scan as one
        // tagged-union keyed aggregation (keys seen with both tags) —
        // one map-side-combinable shuffle instead of two distinct-style
        // aggregations feeding a join
        val t = triples(s, d)
        t.filter(col("predicate") === "purchase")
          .select(col("subject"), col("object"), lit(1).as("__side"))
          .unionAll(t.filter(col("predicate") === "click")
            .select(col("subject"), col("object"), lit(2).as("__side")))
          .groupBy("subject", "object")
          .agg(min(col("__side")).as("__lo"), max(col("__side")).as("__hi"))
          .filter(col("__lo") === 1 && col("__hi") === 2)
          .select("subject", "object")
      },
      Some(s"""WITH t AS ($triplesSql)
              |SELECT subject, "object" FROM t WHERE predicate = 'purchase'
              |INTERSECT
              |SELECT subject, "object" FROM t WHERE predicate = 'click'""".stripMargin)),

    QueryDef("q24_split_assign",
      // seeded 70/15/15 split + leakage-free by construction
      // (extract.py:227-243)
      (s, d) => Splits.assign(
        triples(s, d).select("subject", "predicate", "object").distinct())
        .groupBy("split").agg(count(lit(1)).as("n")),
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |a AS (SELECT CASE
              |  WHEN substring(md5(subject || '|' || predicate || '|' || "object" || '|' || '42'), 1, 2) < 'b3' THEN 'train'
              |  WHEN substring(md5(subject || '|' || predicate || '|' || "object" || '|' || '42'), 1, 2) < 'd8' THEN 'valid'
              |  ELSE 'test' END AS split FROM t)
              |SELECT split, count(*) AS n FROM a GROUP BY split""".stripMargin)),

    QueryDef("q58_new_entity_triage",
      // new-entity triage (clean_data.py:25-42): valid/test triples with
      // an entity/relation unseen in train MOVE to train. Split is
      // deliberately train-starved (~10/45/45) so unseen vocabulary
      // actually occurs at every scale factor.
      (s, d) => {
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
        val px = substring(md5(concat_ws("|",
          col("subject"), col("predicate"), col("object"), lit("42"))), 1, 2)
        val withSplit = t.withColumn("split",
          when(px < "1a", "train").when(px < "8d", "valid").otherwise("test"))
        Splits.triageNewEntities(withSplit)
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |a AS (SELECT subject, predicate, "object",
              |  CASE WHEN substring(md5(subject || '|' || predicate || '|' || "object" || '|' || '42'), 1, 2) < '1a' THEN 'train'
              |       WHEN substring(md5(subject || '|' || predicate || '|' || "object" || '|' || '42'), 1, 2) < '8d' THEN 'valid'
              |       ELSE 'test' END AS split FROM t),
              |tr AS (SELECT * FROM a WHERE split = 'train'),
              |v AS (SELECT * FROM a WHERE split = 'valid'),
              |te AS (SELECT * FROM a WHERE split = 'test'),
              |e0 AS (SELECT subject AS e FROM tr UNION SELECT "object" FROM tr),
              |r0 AS (SELECT DISTINCT predicate AS r FROM tr),
              |vkept AS (SELECT * FROM v
              |  WHERE subject IN (SELECT e FROM e0) AND "object" IN (SELECT e FROM e0)
              |    AND predicate IN (SELECT r FROM r0)),
              |vmoved AS (SELECT * FROM v
              |  WHERE NOT (subject IN (SELECT e FROM e0) AND "object" IN (SELECT e FROM e0)
              |             AND predicate IN (SELECT r FROM r0))),
              |tr2 AS (SELECT subject, predicate, "object" FROM tr
              |        UNION ALL SELECT subject, predicate, "object" FROM vmoved),
              |e1 AS (SELECT subject AS e FROM tr2 UNION SELECT "object" FROM tr2),
              |r1 AS (SELECT DISTINCT predicate AS r FROM tr2),
              |tkept AS (SELECT * FROM te
              |  WHERE subject IN (SELECT e FROM e1) AND "object" IN (SELECT e FROM e1)
              |    AND predicate IN (SELECT r FROM r1)),
              |tmoved AS (SELECT * FROM te
              |  WHERE NOT (subject IN (SELECT e FROM e1) AND "object" IN (SELECT e FROM e1)
              |             AND predicate IN (SELECT r FROM r1)))
              |SELECT subject, predicate, "object", 'train' AS split FROM tr2
              |UNION ALL SELECT subject, predicate, "object", 'train' FROM tmoved
              |UNION ALL SELECT subject, predicate, "object", split FROM vkept
              |UNION ALL SELECT subject, predicate, "object", split FROM tkept""".stripMargin)),

    QueryDef("q59_priority_fill",
      // priority-fill to max_rows (extract.py:150-195): per-target-subject
      // cap 3, target<->target triples first, cap 30 / floor 10. Dataset
      // is large enough that the cap path is taken (the expansion branch
      // is covered by RefillSpec on a hand graph).
      (s, d) => {
        // r8: the distinct triple set is BOTH priorityFill inputs and
        // feeds the cap window plus two anti/semi join branches —
        // checkpoint it once instead of re-running the events scan +
        // distinct per consumer
        val t = triples(s, d).select("subject", "predicate", "object").distinct()
          .localCheckpoint(true)
        graft.prune.Refill.priorityFill(t, t,
          targets = Seq("U:1", "U:2", "U:3", "U:4", "U:5",
            "E:1", "E:2", "E:3", "E:4", "E:5"),
          maxRows = 30, minRows = 10, maxObjectsPerSubject = 3)
      },
      Some(s"""WITH t AS (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x),
              |capped AS (
              |  SELECT subject, predicate, "object" FROM (
              |    SELECT t.*, row_number() OVER (PARTITION BY subject
              |      ORDER BY md5(subject || '|' || predicate || '|' || "object")) AS rn
              |    FROM t) c
              |  WHERE subject NOT IN ('U:1','U:2','U:3','U:4','U:5','E:1','E:2','E:3','E:4','E:5')
              |     OR rn <= 3)
              |SELECT subject, predicate, "object", 'core' AS fill_source FROM (
              |  SELECT capped.*, row_number() OVER (ORDER BY
              |    CASE WHEN subject IN ('U:1','U:2','U:3','U:4','U:5','E:1','E:2','E:3','E:4','E:5')
              |          AND "object" IN ('U:1','U:2','U:3','U:4','U:5','E:1','E:2','E:3','E:4','E:5')
              |         THEN 1 ELSE 2 END,
              |    md5(subject || '|' || predicate || '|' || "object")) AS grn
              |  FROM capped) r
              |WHERE grn <= 30""".stripMargin)),

    // ----------------------------------------------- graph ops (§2.7)
    QueryDef("q25_undirected",
      (s, d) => {
        val e = graphEdges(s, d)
        e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      },
      Some(s"""WITH e AS ($graphSql)
              |SELECT src, dst FROM e
              |UNION
              |SELECT dst, src FROM e""".stripMargin)),

    QueryDef("q26_khop",
      // 2-hop BFS neighborhood of a seed (dgl_utils.py:8-31)
      (s, d) => {
        val e = graphEdges(s, d)
        val und = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        val h1 = und.filter(col("src") === "N:3").select(col("dst").as("node")).distinct()
        val h2 = und.join(h1, und("src") === h1("node")).select(col("dst").as("node"))
          .distinct()
        h1.unionAll(h2).distinct().filter(col("node") =!= "N:3")
      },
      Some(s"""WITH e AS ($graphSql),
              |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
              |h1 AS (SELECT DISTINCT dst AS node FROM und WHERE src = 'N:3'),
              |h2 AS (SELECT DISTINCT u.dst AS node FROM und u JOIN h1 ON u.src = h1.node)
              |SELECT DISTINCT node FROM (SELECT node FROM h1 UNION SELECT node FROM h2) x
              |WHERE node <> 'N:3'""".stripMargin)),

    QueryDef("q27_connected_components",
      // large-star/small-star CC vs recursive-CTE transitive closure
      (s, d) => ConnectedComponents.run(graphEdges(s, d)),
      Some(s"""WITH RECURSIVE e AS ($graphSql),
              |und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
              |reach(root, node) AS (
              |  SELECT a, a FROM und
              |  UNION
              |  SELECT r.root, u.b FROM reach r JOIN und u ON r.node = u.a)
              |SELECT node AS id, min(root) AS component FROM reach GROUP BY node""".stripMargin)),

    QueryDef("q61_community_f1",
      // community F1 (reference multicom.py:251-280: f1 = 2|A∩B| /
      // (|A|+|B|)): detected community = connected component containing
      // each region node; ground truth = the region's membership with
      // every third customer excluded (so F1 < 1 and the metric is
      // actually exercised). Exact-integer f1_micro.
      (s, d) => {
        val cc = ConnectedComponents.run(graphEdges(s, d))
        val regions = table(s, d, "region").select(
          concat(lit("R:"), col("r_regionkey").cast("string")).as("rnode"),
          col("r_regionkey").cast("long").as("region"))
        val regComp = cc.join(regions, col("id") === col("rnode"))
          .select(col("region"), col("component"))
        val det = cc.join(regComp.withColumnRenamed("component", "c2"),
          col("component") === col("c2"))
          .select(col("region"), col("id").as("node"))
        val truth = table(s, d, "customer")
          .join(table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .filter(col("c_custkey") % 3 =!= 0)
          .select(col("n_regionkey").cast("long").as("region"),
            concat(lit("C:"), col("c_custkey").cast("string")).as("node"))
          .unionAll(table(s, d, "nation").select(
            col("n_regionkey").cast("long").as("region"),
            concat(lit("N:"), col("n_nationkey").cast("string")).as("node")))
          .unionAll(table(s, d, "region").select(
            col("r_regionkey").cast("long").as("region"),
            concat(lit("R:"), col("r_regionkey").cast("string")).as("node")))
        // r8: |A|, |B| and |A∩B| per region as ONE tagged-union
        // aggregation chain instead of three aggregations + a semi-join
        // + two result joins. Both sides are unique per (region, node)
        // (cc is one row per id; customer/nation/region keys are
        // unique), so per-key max-tags then per-region sums reproduce
        // the three counts exactly; the old inner joins kept only
        // regions with an intersection row, hence the n_inter > 0
        // filter.
        val u = det.select(col("region"), col("node"),
            lit(1).as("__d"), lit(0).as("__t"))
          .unionAll(truth.select(col("region"), col("node"),
            lit(0).as("__d"), lit(1).as("__t")))
        u.groupBy("region", "node")
          .agg(max(col("__d")).as("__hd"), max(col("__t")).as("__ht"))
          .groupBy("region")
          .agg(sum(col("__hd")).cast("long").as("n_detected"),
            sum(col("__ht")).cast("long").as("n_truth"),
            sum(col("__hd") * col("__ht")).cast("long").as("n_inter"))
          .filter(col("n_inter") > 0)
          .select(col("region"), col("n_detected"), col("n_truth"), col("n_inter"),
            expr("""CASE WHEN n_detected + n_truth = 0 THEN NULL
                   |ELSE (2 * n_inter * 1000000) DIV (n_detected + n_truth)
                   |END""".stripMargin).as("f1_micro"))
      },
      Some(s"""WITH RECURSIVE e AS ($graphSql),
              |und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
              |reach(root, node) AS (
              |  SELECT a, a FROM und
              |  UNION
              |  SELECT r.root, u.b FROM reach r JOIN und u ON r.node = u.a),
              |cc AS (SELECT node AS id, min(root) AS component FROM reach GROUP BY node),
              |regnode AS (SELECT 'R:' || CAST(r_regionkey AS VARCHAR) AS rnode,
              |                   CAST(r_regionkey AS BIGINT) AS region FROM region),
              |regcomp AS (SELECT region, component FROM cc JOIN regnode ON id = rnode),
              |det AS (SELECT region, id AS node FROM cc JOIN regcomp USING (component)),
              |truth AS (
              |  SELECT CAST(n_regionkey AS BIGINT) AS region,
              |         'C:' || CAST(c_custkey AS VARCHAR) AS node
              |  FROM customer JOIN nation ON c_nationkey = n_nationkey
              |  WHERE c_custkey % 3 <> 0
              |  UNION ALL SELECT CAST(n_regionkey AS BIGINT),
              |         'N:' || CAST(n_nationkey AS VARCHAR) FROM nation
              |  UNION ALL SELECT CAST(r_regionkey AS BIGINT),
              |         'R:' || CAST(r_regionkey AS VARCHAR) FROM region),
              |nd AS (SELECT region, CAST(count(*) AS BIGINT) AS n_detected FROM det GROUP BY region),
              |nt AS (SELECT region, CAST(count(*) AS BIGINT) AS n_truth FROM truth GROUP BY region),
              |ni AS (SELECT d.region, CAST(count(*) AS BIGINT) AS n_inter
              |       FROM det d JOIN truth t ON d.region = t.region AND d.node = t.node
              |       GROUP BY d.region)
              |SELECT region, n_detected, n_truth, n_inter,
              |       CASE WHEN n_detected + n_truth = 0 THEN NULL
              |       ELSE (2 * n_inter * 1000000) // (n_detected + n_truth)
              |       END AS f1_micro
              |FROM nd JOIN nt USING (region) JOIN ni USING (region)""".stripMargin)),

    QueryDef("q62_eccentricity",
      // eccentricity / diameter / radius per component
      // (utils/graph_utils.py:163-180) over the nation-region subgraph:
      // bounded all-pairs BFS, component = min reachable node id.
      (s, d) => {
        val e = table(s, d, "nation").select(
          concat(lit("N:"), col("n_nationkey").cast("string")).as("src"),
          concat(lit("R:"), col("n_regionkey").cast("string")).as("dst"))
        graft.graph.Bfs.eccentricityStats(graft.graph.Bfs.undirected(e), 4)
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT 'N:' || CAST(n_nationkey AS VARCHAR) AS src,
             |         'R:' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation),
             |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
             |walk(a, node, d) AS (
             |  SELECT src, src, 0 FROM und
             |  UNION
             |  SELECT w.a, u.dst, w.d + 1 FROM walk w JOIN und u ON w.node = u.src
             |  WHERE w.d < 4),
             |dist AS (SELECT a, node, min(d) AS dist FROM walk GROUP BY a, node),
             |ecc AS (SELECT a, max(dist) AS ecc, min(node) AS component
             |        FROM dist GROUP BY a)
             |SELECT component, CAST(max(ecc) AS INTEGER) AS diameter,
             |       CAST(min(ecc) AS INTEGER) AS radius,
             |       CAST(count(*) AS BIGINT) AS n_nodes
             |FROM ecc GROUP BY component""".stripMargin)),

    QueryDef("q65_community_subgraph",
      // community-pruned enclosing subgraph (graph_sampler.py:319-325 +
      // multicom.py:52-141) on a bridged-triangle hand graph built from
      // the nation table: nations 0..5, k DIV 3 cliques {0,1,2} and
      // {3,4,5}, bridge 2-3; candidate edge (0,1), h=2. The PPR+sweep
      // community of a bridged-triangle seed pair is exactly the seed
      // triangle (GraphSpec golden 'bridged triangles'), which the
      // oracle states analytically (k DIV 3 = 0) and then derives the
      // double-radius labels relationally (BFS with the other root
      // removed, within the community-induced subgraph).
      (s, d) => {
        val n = table(s, d, "nation").filter(col("n_nationkey") < 6)
          .select(col("n_nationkey").cast("long").as("k"))
        val tri = n.select(col("k").as("src"))
          .join(n.select(col("k").as("dst")),
            expr("src < dst AND (src DIV 3) = (dst DIV 3)"))
        val bridge = s.range(1).select(lit(2L).as("src"), lit(3L).as("dst"))
        val edges = graft.graph.Bfs.undirected(tri.unionAll(bridge))
        val cands = s.range(1).select(lit("e1").as("edge_id"),
          lit(0L).as("head"), lit(1L).as("tail"))
        graft.graph.Subgraphs.encloseAndLabelCommunity(edges, cands, 2)
      },
      Some("""WITH RECURSIVE
             |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
             |          WHERE n_nationkey < 6),
             |tri AS (SELECT a.k AS src, b.k AS dst FROM nodes a, nodes b
             |        WHERE a.k < b.k AND a.k // 3 = b.k // 3
             |        UNION ALL SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
             |und AS (SELECT src, dst FROM tri UNION SELECT dst, src FROM tri),
             |comm AS (SELECT k FROM nodes WHERE k // 3 = 0),
             |sub AS (SELECT src, dst FROM und
             |        WHERE src IN (SELECT k FROM comm)
             |          AND dst IN (SELECT k FROM comm)),
             |walkh(node, d) AS (
             |  SELECT CAST(0 AS BIGINT), 0
             |  UNION
             |  SELECT u.dst, w.d + 1 FROM walkh w JOIN sub u ON w.node = u.src
             |  WHERE u.dst <> 1 AND w.d < 2),
             |dh AS (SELECT node, min(d) AS d_head FROM walkh GROUP BY node),
             |walkt(node, d) AS (
             |  SELECT CAST(1 AS BIGINT), 0
             |  UNION
             |  SELECT u.dst, w.d + 1 FROM walkt w JOIN sub u ON w.node = u.src
             |  WHERE u.dst <> 0 AND w.d < 2),
             |dt AS (SELECT node, min(d) AS d_tail FROM walkt GROUP BY node)
             |SELECT 'e1' AS edge_id, CAST(0 AS BIGINT) AS node,
             |       CAST(0 AS INTEGER) AS d_head, CAST(1 AS INTEGER) AS d_tail
             |UNION ALL
             |SELECT 'e1', CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(0 AS INTEGER)
             |UNION ALL
             |SELECT 'e1', c.k, CAST(dh.d_head AS INTEGER), CAST(dt.d_tail AS INTEGER)
             |FROM comm c JOIN dh ON dh.node = c.k JOIN dt ON dt.node = c.k
             |WHERE c.k NOT IN (0, 1) AND greatest(dh.d_head, dt.d_tail) <= 2""".stripMargin)),

    QueryDef("q87_subgraph_modes",
      // enclosing AND union subgraph extraction (graph_sampler.py:
      // 300-362, both branches of enclosing_sub_graph) as one oracled
      // query: candidates = (customer c, region of c's nation) for
      // c_custkey <= 2 on the numeric customer-nation-region graph
      // (disjoint id residues mod 8 keep node spaces apart in both
      // engines). Expected per candidate: the nation (1,1) plus every
      // same-nation customer (2,2) — other nations/regions prune on the
      // root-removed distances. Both modes are emitted with a mode
      // column; uncapped, union provably emits the enclosing rows
      // (Subgraphs scaladoc), so both labels carry the one enclosing
      // extraction, and the oracle, which computes ONE root-removed BFS
      // and cross-joins both labels, checks that on data.
      (s, d) => {
        val cust = table(s, d, "customer")
        val nat = table(s, d, "nation")
        val cn = cust.select(
          (col("c_custkey").cast("long") * 8 + 1).as("src"),
          (col("c_nationkey").cast("long") * 8 + 2).as("dst"))
        val nr = nat.select(
          (col("n_nationkey").cast("long") * 8 + 2).as("src"),
          (col("n_regionkey").cast("long") * 8 + 3).as("dst"))
        val edges = graft.graph.Bfs.undirected(cn.unionAll(nr))
        val cands = cust.join(nat, col("c_nationkey") === col("n_nationkey"))
          .filter(col("c_custkey") <= 2)
          .select(
            concat(lit("e"), col("c_custkey").cast("string")).as("edge_id"),
            (col("c_custkey").cast("long") * 8 + 1).as("head"),
            (col("n_regionkey").cast("long") * 8 + 3).as("tail"))
        val enc = graft.graph.Subgraphs.encloseAndLabel(edges, cands, 2)
        enc.withColumn("mode", lit("enclosing"))
          .unionByName(enc.withColumn("mode", lit("union")))
      },
      Some("""WITH RECURSIVE
             |und AS (
             |  SELECT c_custkey*8+1 AS a, c_nationkey*8+2 AS b FROM customer
             |  UNION ALL SELECT c_nationkey*8+2, c_custkey*8+1 FROM customer
             |  UNION ALL SELECT n_nationkey*8+2, n_regionkey*8+3 FROM nation
             |  UNION ALL SELECT n_regionkey*8+3, n_nationkey*8+2 FROM nation),
             |cand AS (
             |  SELECT 'e' || CAST(c_custkey AS VARCHAR) AS edge_id,
             |         CAST(c_custkey*8+1 AS BIGINT) AS head,
             |         CAST(n_regionkey*8+3 AS BIGINT) AS tail
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  WHERE c_custkey <= 2),
             |rh(edge_id, node, d) AS (
             |  SELECT edge_id, head, 0 FROM cand
             |  UNION
             |  SELECT r.edge_id, CAST(u.b AS BIGINT), r.d + 1
             |  FROM rh r JOIN und u ON u.a = r.node
             |            JOIN cand c ON c.edge_id = r.edge_id
             |  WHERE r.d < 2 AND u.b <> c.tail),
             |rt(edge_id, node, d) AS (
             |  SELECT edge_id, tail, 0 FROM cand
             |  UNION
             |  SELECT r.edge_id, CAST(u.b AS BIGINT), r.d + 1
             |  FROM rt r JOIN und u ON u.a = r.node
             |            JOIN cand c ON c.edge_id = r.edge_id
             |  WHERE r.d < 2 AND u.b <> c.head),
             |dh AS (SELECT edge_id, node, min(d) AS d_head FROM rh GROUP BY 1, 2),
             |dt AS (SELECT edge_id, node, min(d) AS d_tail FROM rt GROUP BY 1, 2),
             |lbl AS (
             |  SELECT edge_id, head AS node, 0 AS d_head, 1 AS d_tail FROM cand
             |  UNION ALL
             |  SELECT edge_id, tail, 1, 0 FROM cand
             |  UNION ALL
             |  SELECT dh.edge_id, dh.node, dh.d_head, dt.d_tail
             |  FROM dh JOIN dt ON dh.edge_id = dt.edge_id AND dh.node = dt.node
             |       JOIN cand c ON c.edge_id = dh.edge_id
             |  WHERE dh.node <> c.head AND dh.node <> c.tail
             |    AND greatest(dh.d_head, dt.d_tail) <= 2)
             |SELECT edge_id, node, CAST(d_head AS INTEGER) AS d_head,
             |       CAST(d_tail AS INTEGER) AS d_tail, m.mode
             |FROM lbl CROSS JOIN (VALUES ('enclosing'), ('union')) m(mode)""".stripMargin)),

    QueryDef("q63_target_component",
      // largest component by target-subject count (extract.py:117-131):
      // CC -> per-component target count -> argmax (tie: min component)
      // -> full membership of the winner
      (s, d) => {
        val cc = ConnectedComponents.run(graphEdges(s, d))
        val targets = Seq("C:1", "C:2", "C:3", "C:5", "C:8", "C:13", "C:21", "C:34")
        ConnectedComponents.targetComponent(cc,
          cc.filter(col("id").isin(targets: _*)).select("id"))
      },
      Some(s"""WITH RECURSIVE e AS ($graphSql),
              |und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
              |reach(root, node) AS (
              |  SELECT a, a FROM und
              |  UNION
              |  SELECT r.root, u.b FROM reach r JOIN und u ON r.node = u.a),
              |cc AS (SELECT node AS id, min(root) AS component FROM reach GROUP BY node),
              |cnt AS (SELECT component, count(*) AS n FROM cc
              |        WHERE id IN ('C:1','C:2','C:3','C:5','C:8','C:13','C:21','C:34')
              |        GROUP BY component),
              |win AS (SELECT component FROM cnt ORDER BY n DESC, component LIMIT 1)
              |SELECT id, component FROM cc JOIN win USING (component)""".stripMargin)),

    QueryDef("q64_row_chunk",
      // seeded contiguous row chunk (Edge_Assignor.ipynb cell 5
      // l.17-22: random start index + chunk_size contiguous rows):
      // global row_number over the stable event_id order — computed per
      // event_id bucket, NOT as a one-task window — then rows (start, start + chunk]. start = md5-hex-prefix
      // integer of the seed mod (n - chunk + 1), portable to DuckDB.
      (s, d) => {
        // Bucket-pruned extraction: ranks ~2 buckets instead of the
        // whole table to keep 500 rows. event_id DIV bw is a
        // deterministic prefix of the event_id order, so: pass 1
        // aggregates per-bucket counts (a driver collect of
        // max(event_id) / bw rows), the seeded start rank and the
        // covering CONTIGUOUS bucket run resolve on the driver, and pass
        // 2 re-scans ONLY that event_id range — a parquet min/max-pruned
        // pushdown filter.
        val chunk = 500
        val bw = Chunk64Bucket
        val base = table(s, d, "events").select("event_id", "event_type")
        val cnts = base.groupBy(expr(s"event_id DIV ${bw}L").as("__g"))
          .agg(count(lit(1)).as("__c"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val n = cnts.map(_._2).sum
        // same seeded start as the oracle: md5-hex-prefix integer of
        // 'chunk64|42' mod (n - chunk + 1)
        val hex12 = java.security.MessageDigest.getInstance("MD5")
          .digest("chunk64|42".getBytes("UTF-8"))
          .take(6).map(b => f"$b%02x").mkString
        val start = java.lang.Long.parseLong(hex12, 16) % math.max(n - chunk + 1, 1L)
        val (rLo, rHi) = (start + 1, start + chunk) // wanted global ranks
        val cum = cnts.scanLeft(0L)(_ + _._2).init // offset before bucket i
        val sel = cnts.indices.filter(i => cum(i) < rHi && cum(i) + cnts(i)._2 >= rLo)
        import s.implicits._
        if (sel.isEmpty)
          base.filter(lit(false))
            .select(lit(0L).as("rn"), col("event_id"), col("event_type"))
        else {
          val (gLo, gHi) = (cnts(sel.head)._1, cnts(sel.last)._1)
          val offDf = sel.map(i => (cnts(i)._1, cum(i))).toDF("__g", "__off")
          base
            .filter(col("event_id") >= gLo * bw && col("event_id") < (gHi + 1) * bw)
            .withColumn("__g", expr(s"event_id DIV ${bw}L"))
            .withColumn("__rk", row_number().over(
              Window.partitionBy(col("__g")).orderBy(col("event_id"))).cast("long"))
            .join(broadcast(offDf), Seq("__g"))
            .withColumn("rn", col("__off") + col("__rk"))
            .filter(col("rn") > start && col("rn") <= start + chunk)
            .select(col("rn"), col("event_id"), col("event_type"))
        }
      },
      Some("""WITH base AS (SELECT event_id, event_type FROM events),
             |ranked AS (SELECT event_id, event_type,
             |  row_number() OVER (ORDER BY event_id) AS rn FROM base),
             |n AS (SELECT count(*) AS n FROM base),
             |st AS (SELECT CAST('0x' || substring(md5('chunk64|42'), 1, 12) AS BIGINT)
             |              % greatest(n - 500 + 1, 1) AS start FROM n)
             |SELECT rn, event_id, event_type FROM ranked, st
             |WHERE rn > start AND rn <= start + 500""".stripMargin)),

    QueryDef("q28_induced_subgraph",
      // both-endpoints-in-set induced subgraph (extract.py:133-137)
      (s, d) => {
        val e = graphEdges(s, d)
        // r8: the node set feeds BOTH semi-joins — checkpoint so the
        // union+distinct shuffle runs once, not once per endpoint
        val nodes = e.select(col("src").as("node"))
          .unionAll(e.select(col("dst").as("node"))).distinct()
          .filter(col("node").rlike("^(N|R):"))
          .localCheckpoint(true)
        e.join(nodes.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(nodes.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select("src", "dst")
      },
      Some(s"""WITH e AS ($graphSql),
              |nodes AS (SELECT DISTINCT node FROM
              |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
              |  WHERE regexp_matches(node, '^(N|R):'))
              |SELECT src, dst FROM e
              |WHERE src IN (SELECT node FROM nodes) AND dst IN (SELECT node FROM nodes)""".stripMargin))
  )
}
