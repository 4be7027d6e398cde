package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.NgramJaccard.shingles
import graft.multimodal.Multimodal
import graft.queries.Q._

/** Driver-contract queries for the training-data-pipeline operators:
  * text analysis, deduplication, similarity search, plus string/scalar
  * functions and time windows (SURVEY.md §2.8; builder-prompt ops).
  */
object DataQueries {

  // ---------------------------------------------------------- helpers

  /** whitespace tokens */
  private def toks: Column = split(col("text"), " ")

  private val shinglesSqlDuck =
    "list_transform(range(len(t) - 2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])"

  /** min-hash signature component k (string-min of seeded md5 —
    * lexicographic min agrees across engines); DuckDB oracle form.
    */
  private def minhashSqlDuck(k: Int) =
    s"list_min(list_transform(sh, s -> md5('$k:' || s)))"

  /** (hid, tid, hv, rv, tv): consecutive embedding rows joined as an
    * (h, r, t) scoring frame — the shared scaffold of the KGE queries
    * q66/q67/q68/q72 (re/im halves: j and j+32 of the 64-dim vector).
    */
  private def kgeHrt(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val emb = table(s, d, "embeddings").filter(col("vec_id") < 100)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val h = emb.select(col("vec_id").as("hid"), col("v").as("hv"))
    val r = emb.select(col("vec_id").as("rid"), col("v").as("rv"))
    val t = emb.select(col("vec_id").as("tid"), col("v").as("tv"))
    h.join(r, col("rid") === col("hid") + 1)
      .join(t, col("tid") === col("hid") + 2)
  }

  private def kgeRe(v: String, i: Column) = element_at(col(v), i)
  private def kgeIm(v: String, i: Column) = element_at(col(v), i + 32)

  /** Pair-level ANN semi-oracle (q49/q69): DuckDB reads the emitted
    * (qid, nn_id) pairs back from the Verify output parquet
    * (`__SPARK_OUT__` is spliced to the absolute out dir by
    * [[graft.Verify]] at dump time), recomputes each pair's EXACT cosine
    * from the embeddings table (same operation order as the native
    * CosineSim, incl. its zero-norm -> 0.0 guard) and re-derives the
    * per-qid rank. The approximate candidate selection is taken as given
    * — but any wrong cosine, wrong ordering, duplicate pair, or pair
    * referencing a nonexistent vector breaks the rows/hash compare.
    */
  private def annPairOracle(name: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |          FROM embeddings),
       |pairs AS (SELECT qid, nn_id
       |          FROM read_parquet('__SPARK_OUT__/$name/*.parquet')),
       |scored AS (SELECT p.qid, p.nn_id,
       |  CASE WHEN list_sum(list_transform(q.v, x -> x*x)) = 0
       |         OR list_sum(list_transform(c.v, x -> x*x)) = 0 THEN 0.0
       |       ELSE round(
       |         list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
       |         / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
       |            * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 6) END AS cos
       |  FROM pairs p
       |  JOIN e q ON q.vec_id = p.qid
       |  JOIN e c ON c.vec_id = p.nn_id)
       |SELECT qid, nn_id, cos,
       |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id)
       |            AS INTEGER) AS rn
       |FROM scored""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ------------------------------------------- string / scalar (§2.8)
    QueryDef("q29_edge_ids",
      // edge_id s_p_o (score_edges.py:98) + pair key s|||o (cell 20)
      (s, d) => triples(s, d).select("subject", "predicate", "object").distinct()
        .select(
          concat_ws("_", col("subject"), col("predicate"), col("object")).as("edge_id"),
          concat_ws("|||", col("subject"), col("object")).as("pair_key")),
      Some(s"""SELECT subject || '_' || predicate || '_' || "object" AS edge_id,
              |       subject || '|||' || "object" AS pair_key
              |FROM (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x) t""".stripMargin)),

    QueryDef("q30_ntriples_format",
      // N-Triples sink line format (extract.py:146)
      (s, d) => triples(s, d).select("subject", "predicate", "object").distinct()
        .select(format_string("<%s> <%s> <%s> .",
          col("subject"), col("predicate"), col("object")).as("line")),
      Some(s"""SELECT printf('<%s> <%s> <%s> .', subject, predicate, "object") AS line
              |FROM (SELECT DISTINCT subject, predicate, "object" FROM ($triplesSql) x) t""".stripMargin)),

    QueryDef("q31_regex_extract_props",
      // numbered-line / key parse via regex (cell 12 l.103-106)
      (s, d) => table(s, d, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k")),
      Some("""SELECT event_id,
             |       CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k
             |FROM events""".stripMargin)),

    QueryDef("q60_regex_extract_all",
      // ALL-match regex extraction (reference Edge_Assignor.ipynb cell 18
      // l.144-158 collects every PMID in a block, not just the first):
      // every digit run in props, exploded with its match position.
      (s, d) => table(s, d, "events")
        .select(col("event_id"),
          posexplode(regexp_extract_all(col("props"), lit("(\\d+)"), lit(1)))
            .as(Seq("match_idx", "pmid"))),
      Some("""SELECT event_id,
             |  CAST(unnest(range(len(l))) AS INTEGER) AS match_idx,
             |  l[unnest(range(len(l))) + 1] AS pmid
             |FROM (SELECT event_id, regexp_extract_all(props, '(\d+)', 1) AS l
             |      FROM events) x""".stripMargin)),

    QueryDef("q32_scrub_filter",
      // affiliation-line scrub: explode + rlike drop (cell 16 l.32-36)
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(!col("word").rlike("^(the|a|of)$"))
        .groupBy("doc_id").agg(count(lit(1)).as("kept_words")),
      Some("""SELECT doc_id, count(*) AS kept_words FROM
             |(SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) w
             |WHERE NOT regexp_matches(word, '^(the|a|of)$')
             |GROUP BY doc_id""".stripMargin)),

    // ------------------------------------------------- pruning contract
    QueryDef("q33_prune_threshold",
      // terminal pruning predicate (score_all_edges.py:152-155)
      (s, d) => scored(s, d).filter(col("score") >= 0.6)
        .select("edge_id", "score"),
      Some(s"""SELECT edge_id, score FROM ($scoredSql) se WHERE score >= 0.6""")),

    QueryDef("q34_review_records",
      // review JSONL shape (select_edges_for_review.py:53-59)
      (s, d) => scored(s, d)
        .withColumn("uncertainty", round(lit(1.0) - abs(col("score") - 0.5) * 2.0, 6))
        .withColumn("status", lit("pending"))
        .orderBy(col("uncertainty").desc, col("edge_id")).limit(25)
        .select("edge_id", "score", "uncertainty", "status"),
      Some(s"""SELECT edge_id, score,
              |  round(1.0 - abs(score - 0.5) * 2.0, 6) AS uncertainty,
              |  'pending' AS status
              |FROM ($scoredSql) se
              |ORDER BY uncertainty DESC, edge_id LIMIT 25""".stripMargin)),

    // ------------------------------------------------- text analysis
    QueryDef("q35_token_stats",
      // token counting + LLM token estimate len*1.3 (cell 12 l.140-142)
      (s, d) => table(s, d, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        round(size(toks) * 1.3, 2).as("est_llm_tokens")),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  round(len(string_split(text, ' ')) * CAST(1.3 AS DOUBLE), 2) AS est_llm_tokens
             |FROM documents""".stripMargin)),

    QueryDef("q74_bpe_pretokenize",
      // BPE-style pre-tokenization (GPT-2-ish segmentation, simplified
      // to the Java-regex/RE2 common subset — no lookahead): letter
      // runs, digit runs, punctuation runs, each with an optional
      // leading space, plus residual whitespace runs. Token count per
      // doc plus the segmented prefix for inspection.
      (s, d) => {
        val pat = "\\s?\\p{L}+|\\s?\\p{N}+|\\s?[^\\s\\p{L}\\p{N}]+|\\s+"
        table(s, d, "documents")
          .select(col("doc_id"),
            regexp_extract_all(col("text"), lit(pat), lit(0)).as("tk"))
          .select(col("doc_id"),
            size(col("tk")).as("n_bpe_tokens"),
            concat_ws("|", slice(col("tk"), 1, 8)).as("head_tokens"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(tk) AS INTEGER) AS n_bpe_tokens,
             |  coalesce(array_to_string(tk[1:8], '|'), '') AS head_tokens
             |FROM (SELECT doc_id, regexp_extract_all(text,
             |        '\s?\p{L}+|\s?\p{N}+|\s?[^\s\p{L}\p{N}]+|\s+') AS tk
             |      FROM documents) x""".stripMargin)),

    QueryDef("q75_cdc_rolling_hash",
      // Content-defined chunking via a rolling window hash (the
      // dedup-friendly fingerprint form: chunk boundaries move with
      // content, not offsets). Window = 8 chars, H(i) = sum_j
      // codepoint(c_{i+j}) * 31^(7-j), codepoints from a once-split char
      // array (substr-per-window would rescan the string O(n^2));
      // weights by exact iterated multiplication (math.pow is only
      // 1-ulp-accurate by spec). ASCII fixture codepoints keep the sum
      // far below 2^63, so the arithmetic is exact BIGINT with NO
      // modular step — Spark ascii == DuckDB ord (both codePointAt(0)),
      // both sides CHARACTER-indexed (length(), not strlen) — hence
      // bit-identical across engines; boundary where H % 64 == 0.
      // Emits per doc: window count, boundary count, and the first
      // boundary positions (the chunk grid a CDC dedup would key on).
      // native CdcBoundaries expression: one compiled char loop per doc
      // instead of n-7 interpreted 8-term HOF lambda evals (OpsSpec
      // asserts bit-parity with the HOF form; oracle unchanged)
      (s, d) => {
        val w = 8
        table(s, d, "documents")
          .withColumn("n", length(col("text")))
          .filter(col("n") >= w)
          .withColumn("bpos", graft.functions.CdcBoundaries.of(col("text"), w, 64L))
          .select(col("doc_id"),
            (col("n") - (w - 1)).as("n_windows"),
            size(col("bpos")).as("n_boundaries"),
            concat_ws(",", transform(slice(col("bpos"), 1, 6),
              _.cast("string"))).as("head_boundaries"))
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
             |           WHERE length(text) >= 8),
             |b AS (SELECT doc_id, n,
             |  list_filter(
             |    list_transform(range(1, n - 6),
             |      i -> {'i': i, 'h':
             |        ord(substring(text, CAST(i AS INTEGER), 1)) * CAST(27512614111 AS BIGINT)
             |      + ord(substring(text, CAST(i + 1 AS INTEGER), 1)) * CAST(887503681 AS BIGINT)
             |      + ord(substring(text, CAST(i + 2 AS INTEGER), 1)) * CAST(28629151 AS BIGINT)
             |      + ord(substring(text, CAST(i + 3 AS INTEGER), 1)) * CAST(923521 AS BIGINT)
             |      + ord(substring(text, CAST(i + 4 AS INTEGER), 1)) * CAST(29791 AS BIGINT)
             |      + ord(substring(text, CAST(i + 5 AS INTEGER), 1)) * CAST(961 AS BIGINT)
             |      + ord(substring(text, CAST(i + 6 AS INTEGER), 1)) * CAST(31 AS BIGINT)
             |      + CAST(ord(substring(text, CAST(i + 7 AS INTEGER), 1)) AS BIGINT)}),
             |    x -> x.h % 64 = 0) AS bounds
             |  FROM d)
             |SELECT doc_id,
             |  CAST(n - 7 AS INTEGER) AS n_windows,
             |  CAST(len(bounds) AS INTEGER) AS n_boundaries,
             |  coalesce(array_to_string(
             |    list_transform(bounds[1:6], x -> CAST(x.i AS VARCHAR)), ','), '')
             |    AS head_boundaries
             |FROM b""".stripMargin)),

    QueryDef("q77_cdc_chunk_dedup",
      // CROSS-DOCUMENT chunk dedup — the operator q75's boundary grid
      // exists for: cut each doc at its content-defined boundaries,
      // hash each chunk, and key dedup on the chunk hash across docs
      // (boundaries move with content, so shared runs between
      // near-duplicate docs produce identical chunks even at different
      // offsets). Per shared chunk (>= 2 distinct docs): doc count,
      // occurrence count, keeper (min doc_id), chunk length.
      // Scale shape: chunking is narrow per-row; the only shuffle is
      // the groupBy on (chash) over small (hash, len) rows — document
      // text never shuffles.
      (s, d) => {
        val w = 8
        table(s, d, "documents")
          .withColumn("n", length(col("text")))
          .filter(col("n") >= w)
          // native boundary pass (see q75); chunk cutting stays HOF but
          // over ~n/64 chunks, not n-7 windows
          .withColumn("bpos", graft.functions.CdcBoundaries.of(col("text"), w, 64L))
          // cut points: [1] ++ boundary positions ++ [n+1] -> chunk k is
          // text[cuts(k) until cuts(k+1))
          .withColumn("cuts", concat(array(lit(1)),
            col("bpos"), array(col("n") + 1)))
          .withColumn("chunk", explode(
            transform(sequence(lit(1), size(col("cuts")) - 1), k =>
              col("text").substr(element_at(col("cuts"), k),
                element_at(col("cuts"), k + 1) - element_at(col("cuts"), k)))))
          .filter(length(col("chunk")) > 0)
          .select(col("doc_id"), md5(col("chunk")).as("chash"),
            length(col("chunk")).as("clen"))
          .groupBy("chash")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_occ"),
            min("doc_id").as("keeper_doc"),
            min("clen").as("chunk_len"))
          .filter(col("n_docs") >= 2)
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
             |           WHERE length(text) >= 8),
             |b AS (SELECT doc_id, text, n,
             |  list_filter(
             |    list_transform(range(1, n - 6),
             |      i -> {'i': i, 'h':
             |        ord(substring(text, CAST(i AS INTEGER), 1)) * CAST(27512614111 AS BIGINT)
             |      + ord(substring(text, CAST(i + 1 AS INTEGER), 1)) * CAST(887503681 AS BIGINT)
             |      + ord(substring(text, CAST(i + 2 AS INTEGER), 1)) * CAST(28629151 AS BIGINT)
             |      + ord(substring(text, CAST(i + 3 AS INTEGER), 1)) * CAST(923521 AS BIGINT)
             |      + ord(substring(text, CAST(i + 4 AS INTEGER), 1)) * CAST(29791 AS BIGINT)
             |      + ord(substring(text, CAST(i + 5 AS INTEGER), 1)) * CAST(961 AS BIGINT)
             |      + ord(substring(text, CAST(i + 6 AS INTEGER), 1)) * CAST(31 AS BIGINT)
             |      + CAST(ord(substring(text, CAST(i + 7 AS INTEGER), 1)) AS BIGINT)}),
             |    x -> x.h % 64 = 0) AS bounds
             |  FROM d),
             |cuts AS (SELECT doc_id, text,
             |  list_concat(list_concat([CAST(1 AS BIGINT)],
             |    list_transform(bounds, x -> x.i)), [CAST(n + 1 AS BIGINT)]) AS c
             |  FROM b),
             |chunks AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(c)), k ->
             |    substring(text, CAST(c[CAST(k AS INTEGER)] AS INTEGER),
             |      CAST(c[CAST(k AS INTEGER)+1] - c[CAST(k AS INTEGER)] AS INTEGER)))) AS ch
             |  FROM cuts),
             |h AS (SELECT doc_id, md5(ch) AS chash, length(ch) AS clen
             |      FROM chunks WHERE length(ch) > 0)
             |SELECT chash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
             |       min(doc_id) AS keeper_doc, min(clen) AS chunk_len
             |FROM h GROUP BY chash HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    QueryDef("q36_quality_score",
      // quality: stopword ratio, mean token length, length prior
      (s, d) => table(s, d, "documents")
        .withColumn("t", toks)
        .select(
          col("doc_id"),
          size(col("t")).as("n_tokens"),
          round(size(filter(col("t"), x => x.isin("the", "a", "of"))).cast("double") /
            size(col("t")), 6).as("stop_ratio"),
          round(aggregate(col("t"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
            size(col("t")), 6).as("mean_tok_len"),
          round(least(size(col("t")).cast("double") / 100.0, lit(1.0)) * 0.5 +
            size(filter(col("t"), x => x.isin("the", "a", "of"))).cast("double") /
              size(col("t")) * 0.5, 6).as("quality")),
      Some("""SELECT doc_id,
             |  len(t) AS n_tokens,
             |  round(CAST(len(list_filter(t, x -> x IN ('the','a','of'))) AS DOUBLE) / len(t), 6) AS stop_ratio,
             |  round(CAST(list_sum(list_transform(t, x -> strlen(x))) AS DOUBLE) / len(t), 6) AS mean_tok_len,
             |  round(least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.5 +
             |        CAST(len(list_filter(t, x -> x IN ('the','a','of'))) AS DOUBLE) / len(t) * 0.5, 6) AS quality
             |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d""".stripMargin)),

    QueryDef("q82_quality_filter",
      // The curation DECISION operator every training-data pipeline
      // ends with: a first-fail rule cascade (Gopher/C4-style) over the
      // per-doc quality signals — min length, mean token length band,
      // stopword floor, duplicate-3-gram ceiling — emitting keep/drop
      // with the failing rule as the reason. ONE narrow per-row pass,
      // no joins, no shuffle: trivially scalable. Ratios are exact
      // micro-unit integers (integral DIV, the AUC/MRR discipline), so
      // the oracle hash-matches by construction. The fixture text is
      // uniformly clean, so degradations are planted deterministically
      // IN-QUERY with identical CASE/repeat expressions in both
      // engines (the q70 PII pattern) — every branch is exercised.
      (s, d) => {
        val planted =
          """CASE WHEN doc_id % 11 = 0 THEN 'a b'
            |     WHEN doc_id % 13 = 0 THEN 'the ' || repeat('spam ', 30)
            |     WHEN doc_id % 17 = 0 THEN 'alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo'
            |     WHEN doc_id % 19 = 0 THEN repeat('abcdefghijklmnopqrst ', 12)
            |     ELSE text END""".stripMargin
        table(s, d, "documents")
          .withColumn("aug", expr(planted))
          .withColumn("t", expr("filter(split(aug, ' '), x -> length(x) > 0)"))
          .withColumn("n_tokens", expr("size(t)").cast("long"))
          .withColumn("sum_len",
            expr("aggregate(t, 0L, (acc, x) -> acc + length(x))"))
          .withColumn("n_stop",
            expr("size(filter(t, x -> x in ('the','a','of','and')))").cast("long"))
          .withColumn("sh",
            when(size(col("t")) >= 3, shingles(col("t"), 3)))
          .withColumn("mean_len_micro", expr(
            "CASE WHEN n_tokens = 0 THEN NULL ELSE (sum_len * 1000000) DIV n_tokens END"))
          .withColumn("stop_micro", expr(
            "CASE WHEN n_tokens = 0 THEN NULL ELSE (n_stop * 1000000) DIV n_tokens END"))
          .withColumn("rep_micro", expr(
            "CASE WHEN sh IS NULL OR size(sh) = 0 THEN NULL " +
              "ELSE ((size(sh) - size(array_distinct(sh))) * CAST(1000000 AS BIGINT)) DIV size(sh) END"))
          .withColumn("reason", expr(
            """CASE WHEN n_tokens < 10 THEN 'too_short'
              |     WHEN mean_len_micro < 2500000 OR mean_len_micro > 12000000 THEN 'bad_token_len'
              |     WHEN stop_micro < 10000 THEN 'low_stopword'
              |     WHEN rep_micro IS NOT NULL AND rep_micro > 50000 THEN 'repetitive'
              |     ELSE 'keep' END""".stripMargin))
          .withColumn("keep", col("reason") === "keep")
          .select("doc_id", "n_tokens", "mean_len_micro", "stop_micro",
            "rep_micro", "reason", "keep")
      },
      Some(s"""WITH aug AS (SELECT doc_id,
              |  CASE WHEN doc_id % 11 = 0 THEN 'a b'
              |       WHEN doc_id % 13 = 0 THEN 'the ' || repeat('spam ', 30)
              |       WHEN doc_id % 17 = 0 THEN 'alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo'
              |       WHEN doc_id % 19 = 0 THEN repeat('abcdefghijklmnopqrst ', 12)
              |       ELSE text END AS aug FROM documents),
              |d AS (SELECT doc_id,
              |  list_filter(string_split(aug, ' '), x -> length(x) > 0) AS t
              |  FROM aug),
              |m AS (SELECT doc_id, t, len(t) AS n_tokens,
              |  list_sum(list_transform(t, x -> length(x))) AS sum_len,
              |  len(list_filter(t, x -> x IN ('the','a','of','and'))) AS n_stop,
              |  CASE WHEN len(t) >= 3 THEN $shinglesSqlDuck END AS sh
              |  FROM d),
              |x AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CASE WHEN n_tokens = 0 THEN NULL
              |       ELSE (CAST(sum_len AS BIGINT) * 1000000) // n_tokens END AS mean_len_micro,
              |  CASE WHEN n_tokens = 0 THEN NULL
              |       ELSE (CAST(n_stop AS BIGINT) * 1000000) // n_tokens END AS stop_micro,
              |  CASE WHEN sh IS NULL OR len(sh) = 0 THEN NULL
              |       ELSE ((len(sh) - len(list_distinct(sh))) * CAST(1000000 AS BIGINT)) // len(sh) END AS rep_micro
              |  FROM m),
              |r AS (SELECT *,
              |  CASE WHEN n_tokens < 10 THEN 'too_short'
              |       WHEN mean_len_micro < 2500000 OR mean_len_micro > 12000000 THEN 'bad_token_len'
              |       WHEN stop_micro < 10000 THEN 'low_stopword'
              |       WHEN rep_micro IS NOT NULL AND rep_micro > 50000 THEN 'repetitive'
              |       ELSE 'keep' END AS reason
              |  FROM x)
              |SELECT doc_id, n_tokens, mean_len_micro, stop_micro, rep_micro,
              |       reason, (reason = 'keep') AS keep
              |FROM r""".stripMargin)),

    QueryDef("q37_langid",
      // n-gram/stopword-heuristic language id
      (s, d) => {
        val t = toks
        val en = size(filter(t, x => x.isin("the", "a", "of", "and")))
        val de = size(filter(t, x => x.isin("der", "die", "das", "und")))
        val fr = size(filter(t, x => x.isin("le", "les", "et")))
        table(s, d, "documents").select(
          col("doc_id"), col("lang"),
          en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"),
          when(en >= de && en >= fr && en > 0, "en")
            .when(de >= fr && de > 0, "de")
            .when(fr > 0, "fr")
            .otherwise("unknown").as("lang_guess"))
      },
      Some("""SELECT doc_id, lang,
             |  len(list_filter(t, x -> x IN ('the','a','of','and'))) AS en_hits,
             |  len(list_filter(t, x -> x IN ('der','die','das','und'))) AS de_hits,
             |  len(list_filter(t, x -> x IN ('le','les','et'))) AS fr_hits,
             |  CASE
             |    WHEN len(list_filter(t, x -> x IN ('the','a','of','and'))) >= len(list_filter(t, x -> x IN ('der','die','das','und')))
             |     AND len(list_filter(t, x -> x IN ('the','a','of','and'))) >= len(list_filter(t, x -> x IN ('le','les','et')))
             |     AND len(list_filter(t, x -> x IN ('the','a','of','and'))) > 0 THEN 'en'
             |    WHEN len(list_filter(t, x -> x IN ('der','die','das','und'))) >= len(list_filter(t, x -> x IN ('le','les','et')))
             |     AND len(list_filter(t, x -> x IN ('der','die','das','und'))) > 0 THEN 'de'
             |    WHEN len(list_filter(t, x -> x IN ('le','les','et'))) > 0 THEN 'fr'
             |    ELSE 'unknown' END AS lang_guess
             |FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents) d""".stripMargin)),

    QueryDef("q38_fingerprint",
      // document fingerprint: md5 of whitespace-normalized lowercase text
      (s, d) => table(s, d, "documents").select(
        col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp")),
      Some("""SELECT doc_id,
             |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
             |FROM documents""".stripMargin)),

    QueryDef("q79_tfidf_top_terms",
      // TF-IDF per (doc, term) with top-5 terms per doc — the classic
      // relevance weighting over the corpus. ONE tokenize pass AND
      // skew-safe df attachment, which under AQE requires materializing
      // the tf aggregate (the Spark ML IDF two-action pattern; q58's
      // localCheckpoint precedent):
      //  - deriving df by re-aggregating a LAZY tf duplicates the whole
      //    explode subtree — column pruning drops the count from the df
      //    branch so the two exchanges are not canonically equal and
      //    ReusedExchange refuses; even with the count forced live, AQE
      //    re-plans each stage and never reuses (measured: equal stage
      //    counts with and without the shared subtree);
      //  - a term-partitioned WINDOW over tf is single-pass but puts
      //    every tf row of a hot term ("the" ~ every doc) in ONE
      //    unsplittable partition — broken at web-corpus doc counts,
      //    while the join form AQE-skew-splits.
      // localCheckpoint pins tf once (the only Generate runs inside the
      // eager checkpoint job — PlanSpec asserts the final plan has zero
      // Generates over a checkpoint scan); df is a tiny keyed aggregate
      // of the pinned rows; the join back is a plain AQE-splittable
      // equi-join. Doc count rides as a 1-row crossJoin; ln at the 6dp
      // cross-engine contract (libm-vs-JVM ulps sit far below 6dp, the
      // q68 precedent).
      (s, d) => {
        val toks = table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = table(s, d, "documents").agg(count(lit(1)).as("__n"))
        tf.join(dfT, Seq("term"))
          .crossJoin(nDocs)
          .withColumn("tfidf", round(col("tf") *
            log((col("__n") + 1).cast("double") / (col("df") + 1)), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("tfidf").desc, col("term"))))
          .filter(col("rn") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("tfidf"), col("rn"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, w AS term
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |        FROM documents) u
             |  WHERE length(w) > 0),
             |tf AS (SELECT doc_id, term, count(*) AS tf
             |       FROM toks GROUP BY doc_id, term),
             |dfT AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
             |n AS (SELECT count(*) AS nd FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfT.df,
             |    round(tf.tf * ln(CAST(nd + 1 AS DOUBLE) / (dfT.df + 1)), 6) AS tfidf
             |  FROM tf JOIN dfT USING (term), n),
             |r AS (SELECT *, row_number() OVER
             |      (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
             |      FROM scored)
             |SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INTEGER) AS rn
             |FROM r WHERE rn <= 5""".stripMargin)),

    QueryDef("q80_bm25_search",
      // BM25 keyword search (Robertson/Sparck-Jones; k1=1.2, b=0.75):
      // score the corpus for a fixed 3-term query and return the top-10
      // docs — the inverted-index retrieval op composed from the same
      // tokenize/tf/df aggregations as q79. ONE explode of the corpus
      // (the r4 plan paid it three times): tf filters the token stream
      // to the query terms and is pinned with localCheckpoint (as q79 —
      // a tiny frame, |terms| x matching docs), df is a <=|terms|-row
      // aggregate of the pinned rows joined back broadcast, and dl
      // needs no explode at all — the per-doc nonempty-token count is
      // `size(regexp_extract_all(text, '[^ ]+'))`, a narrow codegen'd
      // per-row expression (maximal non-space runs == the nonempty
      // split-on-space tokens; docs with zero tokens are dropped to
      // match the aggregate form). Only the query-term tf rows
      // (|terms| x docs upper bound) flow past the token scan.
      (s, d) => {
        val terms = Seq("hash", "join", "scan")
        val toks = table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
        val dl = table(s, d, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0)))
              .cast("long").as("dl"))
          .filter(col("dl") > 0)
        val avgdl = dl.agg(avg(col("dl")).as("__avgdl"))
        val nDocs = table(s, d, "documents").agg(count(lit(1)).as("__n"))
        val tf = toks.filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val k1 = lit(1.2)
        val b = lit(0.75)
        val idf = log(lit(1.0) +
          (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
        val norm = col("tf") + k1 * (lit(1.0) - b + b * col("dl") / col("__avgdl"))
        tf.join(dfT, Seq("term"))
          .join(dl, Seq("doc_id"))
          .crossJoin(nDocs).crossJoin(avgdl)
          .withColumn("s_t", idf * col("tf") * (k1 + 1) / norm)
          .groupBy("doc_id")
          .agg(round(sum(col("s_t")), 6).as("score"),
            count(lit(1)).as("n_terms_hit"))
          // top-10 via orderBy+limit = distributed TakeOrdered partial
          // top-k (a global row_number window would single-partition the
          // whole scored corpus); rank assigned over the 10 survivors
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("score"), col("n_terms_hit"), col("rn"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, w AS term
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |        FROM documents) u
             |  WHERE length(w) > 0),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             |avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
             |n AS (SELECT count(*) AS nd FROM documents),
             |qt AS (SELECT doc_id, term, count(*) AS tf FROM toks
             |       WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
             |dfT AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
             |        WHERE term IN ('hash', 'join', 'scan') GROUP BY term),
             |st AS (
             |  SELECT qt.doc_id,
             |    ln(1.0 + (nd - dfT.df + CAST(0.5 AS DOUBLE)) / (dfT.df + CAST(0.5 AS DOUBLE)))
             |      * qt.tf * (CAST(1.2 AS DOUBLE) + 1)
             |      / (qt.tf + CAST(1.2 AS DOUBLE) *
             |         (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl.dl / avgdl.avgdl)) AS s_t
             |  FROM qt JOIN dfT USING (term) JOIN dl USING (doc_id), n, avgdl),
             |agg AS (SELECT doc_id, round(sum(s_t), 6) AS score, count(*) AS n_terms_hit
             |        FROM st GROUP BY doc_id),
             |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM agg)
             |SELECT doc_id, score, n_terms_hit, CAST(rn AS INTEGER) AS rn
             |FROM r WHERE rn <= 10""".stripMargin)),

    QueryDef("q70_pii_redact",
      // PII redaction (training-data scrub): mask emails and IPv4s,
      // count redactions. The fixture text carries no PII, so the query
      // plants a deterministic email + IP per doc IN BOTH ENGINES
      // (identical concat), then redacts — the operator is exercised
      // for real and stays hash-checkable. Patterns are written in the
      // Java-regex/RE2 common subset.
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        table(s, d, "documents")
          .select(col("doc_id"), concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com via 10.0."),
            pmod(col("doc_id"), lit(256)), lit(".7 thanks")).as("aug"))
          .select(col("doc_id"),
            regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
              ip, "<IP>").as("redacted"),
            (size(regexp_extract_all(col("aug"), lit(email), lit(0))) +
              size(regexp_extract_all(col("aug"), lit(ip), lit(0)))).as("n_pii"))
      },
      Some("""WITH aug AS (SELECT doc_id,
             |  text || ' contact user' || doc_id || '@example.com via 10.0.'
             |       || (doc_id % 256) || '.7 thanks' AS aug FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(aug,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
             |  CAST(len(regexp_extract_all(aug,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |   + len(regexp_extract_all(aug,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_pii
             |FROM aug""".stripMargin)),

    QueryDef("q71_repetition_ratio",
      // intra-document repetition (Gopher-style quality rule): fraction
      // of duplicate 3-gram occurrences; docs above the threshold are
      // flagged for removal. array_distinct/list_distinct are native
      // collection ops in both engines (no interpreted lambdas).
      (s, d) => table(s, d, "documents")
        .withColumn("t", toks).filter(size(col("t")) >= 3)
        .withColumn("sh", shingles(col("t"), 3))
        .select(col("doc_id"),
          size(col("sh")).as("n_grams"),
          size(array_distinct(col("sh"))).as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("sh"))).cast("double") /
            size(col("sh")), 6).as("rep_ratio"))
        .withColumn("flagged", col("rep_ratio") > 0.05),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |g AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM d WHERE len(t) >= 3)
              |SELECT doc_id,
              |  len(sh) AS n_grams,
              |  len(list_distinct(sh)) AS n_distinct,
              |  round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS rep_ratio,
              |  (round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) > 0.05) AS flagged
              |FROM g""".stripMargin)),

    QueryDef("q73_url_normalize",
      // URL canonicalization (webtext dedup prep): lowercase scheme+
      // host, strip default :443 port, drop utm_* params and fragments,
      // trim dangling separators. The fixture has no URLs, so a messy
      // one is planted deterministically per doc IN BOTH ENGINES (as
      // q70), then normalized by the identical regexp chain.
      (s, d) => {
        val raw = concat(lit("HTTPS://WWW.Example"), pmod(col("doc_id"), lit(7)),
          lit(".COM:443/Path/"), col("doc_id"),
          lit("?utm_source=x&id="), col("doc_id"), lit("&utm_campaign=y#frag"))
        table(s, d, "documents")
          .select(col("doc_id"), raw.as("url"))
          .withColumn("u1", regexp_replace(col("url"), "#.*$", ""))
          .withColumn("u2", regexp_replace(col("u1"), "utm_[A-Za-z]+=[^&]*&?", ""))
          .withColumn("u3", regexp_replace(col("u2"), "[?&]+$", ""))
          .withColumn("head", regexp_extract(col("u3"), "^([^/]*//[^/]*)", 1))
          .select(col("doc_id"), col("url"),
            concat(
              regexp_replace(lower(col("head")), ":443$", ""),
              expr("substring(u3, length(head) + 1)")).as("url_norm"))
      },
      Some("""WITH raw AS (SELECT doc_id,
             |  'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Path/' || doc_id
             |   || '?utm_source=x&id=' || doc_id || '&utm_campaign=y#frag' AS url
             |  FROM documents),
             |s1 AS (SELECT doc_id, url,
             |  regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
             |    'utm_[A-Za-z]+=[^&]*&?', '', 'g'), '[?&]+$', '') AS u3 FROM raw),
             |s2 AS (SELECT doc_id, url, u3,
             |  regexp_extract(u3, '^([^/]*//[^/]*)', 1) AS head FROM s1)
             |SELECT doc_id, url,
             |  regexp_replace(lower(head), ':443$', '')
             |    || substring(u3, length(head) + 1) AS url_norm
             |FROM s2""".stripMargin)),

    // ------------------------------------------------------- dedup
    QueryDef("q39_dedup_exact",
      // exact dedup: keeper = min doc_id per fingerprint
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies")),
      Some("""SELECT md5(lower(text)) AS fp, min(doc_id) AS keeper, count(*) AS copies
             |FROM documents GROUP BY fp""".stripMargin)),

    QueryDef("q40_minhash_lsh",
      // MinHash+LSH near-dup: 2 seeded string-min hashes, 2 bands of 1,
      // bucket join -> candidate pairs
      (s, d) => {
        // Native Md5MinHash expression: min-md5-hex over 3-shingles in
        // one compiled loop per row — bit-identical to the oracle's
        // list_min(list_transform(...)) SQL, but with no interpreted
        // shingle lambdas, no exploded shingle rows, and a fully narrow
        // plan until banding (unbounded over the whole table since
        // round 3). NULL = fewer than 3 tokens (== the oracle's
        // len(t) >= 3 filter). The signature array [s0, s1] is the
        // band keys. Checkpointed: both self-join sides read it, and
        // without it each side re-ran Md5MinHash — one MD5 per
        // 3-shingle per doc — over the whole corpus.
        val sig = table(s, d, "documents")
          .select(col("doc_id"),
            graft.functions.Md5MinHash.of(col("text"), n = 3, k = 2).as("keys"))
          .filter(col("keys").isNotNull)
          .localCheckpoint(true)
        graft.similarity.Banding.pairs(sig,
          sig.select(col("doc_id").as("id2"), col("keys")), "keys", bands = 2)
          .filter(col("doc_id") < col("id2"))
          .select(col("doc_id").as("id1"), col("id2"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t
              |             FROM documents),
              |sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM docs WHERE len(t) >= 3),
              |sig AS (SELECT doc_id,
              |  ${minhashSqlDuck(0)} AS s0, ${minhashSqlDuck(1)} AS s1 FROM sh),
              |bands AS (SELECT doc_id, '0:' || s0 AS band FROM sig
              |          UNION ALL SELECT doc_id, '1:' || s1 FROM sig)
              |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin)),

    QueryDef("q81_dedup_clusters",
      // Near-dup cluster canonicalization — the last step of web-scale
      // dedup: q40's banded-minhash candidate pairs become an edge set,
      // connected components group transitively-linked near-dups into
      // clusters, and exactly one document per cluster survives
      // (keep = the min doc_id, the component id itself). Docs with no
      // near-dup pair (or <3 tokens, no signature) are singletons that
      // keep themselves.
      //
      // Scale shape (r7): the pair graph is built over DISTINCT
      // contents only — the q88 collapse, applied here as a pure plan
      // optimization under the UNCHANGED raw-graph oracle. Signatures
      // are content-determined, so byte-identical copies always band
      // into their class rep's component: CC over the rep graph +
      // class-table attachment yields exactly the raw result (rep =
      // class min => component min over reps == min over all members;
      // null-signature docs never had pairs, so they stay individual
      // singletons and are exempt from the collapse). Before this, the
      // intermediate pair volume was quadratic in copy multiplicity —
      // measured 305 s at sf10 (100 identical copies/doc => ~250M
      // internal pairs) with every OUTPUT row per-doc, i.e. linear.
      // The driver hash-compare against the raw recursive-closure SQL
      // is the equivalence proof on real data at every SF.
      (s, d) => {
        // r8: sig feeds the class table AND the doc->rep attachment —
        // checkpoint the narrow signature frame so text is scanned (and
        // md5'd) once for both instead of once per consumer
        val sig = table(s, d, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"),
            graft.functions.Md5MinHash.of(col("text"), n = 3, k = 2).as("keys"))
          .filter(col("keys").isNotNull)
          .localCheckpoint(true)
        // one row per distinct content; checkpointed — feeds the band
        // self-join and the attachment join (the signature array
        // [s0, s1] is class-constant, min() just picks the value)
        val cls = sig.groupBy("fp").agg(min("doc_id").as("rep_id"),
          min("keys").as("keys"))
          .localCheckpoint(true)
        val reps = cls.select(col("rep_id").as("src"), col("keys"))
        val pairs = graft.similarity.Banding.pairs(reps,
          reps.withColumnRenamed("src", "dst"), "keys", bands = 2)
          .filter(col("src") < col("dst"))
        val ccRep = graft.canon.ConnectedComponents.run(pairs)
          .select(col("id").as("rep_id"), col("component"))
        // doc -> its class rep (absent for null-signature docs), then
        // rep -> component (absent for reps with no cross-class pair);
        // cluster = component, else the rep (pure-exact-copy class),
        // else the doc itself (no signature / true singleton)
        val doc2rep = sig.select(col("doc_id"), col("fp"))
          .join(cls.select(col("fp"), col("rep_id")), Seq("fp"))
        val all = table(s, d, "documents").select(col("doc_id"))
          .join(doc2rep.select(col("doc_id"), col("rep_id")), Seq("doc_id"), "left")
          .join(ccRep, Seq("rep_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("rep_id"), col("doc_id")).as("cluster"))
        val sz = all.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
        all.join(sz, Seq("cluster"))
          .select(col("doc_id"), col("cluster"),
            (col("doc_id") === col("cluster")).as("keep"), col("n_cluster"))
      },
      Some(s"""WITH RECURSIVE docs AS (SELECT doc_id, string_split(text, ' ') AS t
              |             FROM documents),
              |sh AS (SELECT doc_id, $shinglesSqlDuck AS sh FROM docs WHERE len(t) >= 3),
              |sig AS (SELECT doc_id,
              |  ${minhashSqlDuck(0)} AS s0, ${minhashSqlDuck(1)} AS s1 FROM sh),
              |bands AS (SELECT doc_id, '0:' || s0 AS band FROM sig
              |          UNION ALL SELECT doc_id, '1:' || s1 FROM sig),
              |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              |          FROM bands a JOIN bands b
              |            ON a.band = b.band AND a.doc_id < b.doc_id),
              |und AS (SELECT id1 AS a, id2 AS b FROM pairs
              |        UNION SELECT id2, id1 FROM pairs),
              |reach(root, node) AS (
              |  SELECT a, a FROM und
              |  UNION
              |  SELECT r.root, u.b FROM reach r JOIN und u ON r.node = u.a),
              |comp AS (SELECT node AS doc_id, min(root) AS cluster
              |         FROM reach GROUP BY node),
              |alld AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
              |         FROM documents d LEFT JOIN comp c USING (doc_id)),
              |sz AS (SELECT cluster, count(*) AS n_cluster FROM alld GROUP BY cluster)
              |SELECT a.doc_id, a.cluster, (a.doc_id = a.cluster) AS keep, s.n_cluster
              |FROM alld a JOIN sz s USING (cluster)""".stripMargin)),

    QueryDef("q41_ngram_jaccard",
      // n-gram Jaccard near-dup — the bounded pairwise verifier; the
      // bound and threshold are caller parameters of NgramJaccard.pairs
      // (fixture defaults here), not baked literals
      (s, d) => graft.dedup.NgramJaccard.pairs(
        table(s, d, "documents"), minJaccard = 0.02, candidateBound = Some(200L)),
      Some(s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t
              |             FROM documents WHERE doc_id < 200),
              |sh AS (SELECT doc_id, unnest(list_distinct($shinglesSqlDuck)) AS sh
              |       FROM docs WHERE len(t) >= 3),
              |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |          GROUP BY a.doc_id, b.doc_id)
              |SELECT id1, id2, inter,
              |       round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) AS jaccard
              |FROM inter
              |JOIN cnt c1 ON c1.doc_id = id1
              |JOIN cnt c2 ON c2.doc_id = id2
              |WHERE round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) >= 0.02""".stripMargin)),

    QueryDef("q90_decontaminate",
      // Benchmark decontamination (GPT-3 appx C / The Pile style): a
      // training corpus must drop documents that share n-gram shingles
      // with the evaluation benchmark, or downstream eval numbers are
      // fiction. Deterministic benchmark split: doc_id % 97 == 0 (~1%).
      // For every OTHER doc, count its DISTINCT 5-gram shingles that
      // appear anywhere in the benchmark side; contaminated = any
      // overlap. Scale shape — asymmetric, unlike the near-dup pair
      // ops: the benchmark shingle set is small and broadcasts; the
      // training side stays a narrow explode -> semi-join -> keyed
      // count (no pair materialization, no self-join). Sub-5-token
      // docs have no shingles and report 0 overlap. A 7-token leak
      // phrase is planted into every 50th doc IN BOTH ENGINES (q70/q73
      // convention) — doc 0 is benchmark (0 % 97 == 0), so the other
      // planted docs are guaranteed contaminated (>= the phrase's 3
      // internal 5-grams) at every SF, exercising the positive branch.
      (s, d) => {
        val docs = table(s, d, "documents")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(50)) === 0,
              concat(col("text"),
                lit(" leaked benchmark passage alpha beta gamma delta")))
              .otherwise(col("text")).as("text"))
        // operator core (shingle size / benchmark predicate / overlap
        // threshold all parameters) lives in dedup.DupAware
        graft.dedup.DupAware.decontaminate(docs,
          isBench = pmod(col("doc_id"), lit(97)) === 0, n = 5, minOverlap = 1L)
      },
      Some("""WITH docs AS (SELECT doc_id, string_split(
             |         CASE WHEN doc_id % 50 = 0
             |              THEN text || ' leaked benchmark passage alpha beta gamma delta'
             |              ELSE text END, ' ') AS t FROM documents),
             |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 4),
             |         i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
             |              || ' ' || t[i+5]))) AS sh
             |       FROM docs WHERE len(t) >= 5),
             |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
             |ovl AS (SELECT s.doc_id, count(*) AS n_overlap
             |        FROM sh s JOIN bench b USING (sh)
             |        WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
             |SELECT d.doc_id, coalesce(o.n_overlap, 0) AS n_overlap,
             |       coalesce(o.n_overlap, 0) >= 1 AS contaminated
             |FROM docs d LEFT JOIN ovl o USING (doc_id)
             |WHERE d.doc_id % 97 <> 0""".stripMargin)),

    // -------------------------------------------------- similarity
    QueryDef("q42_cosine_topk",
      // brute-force cosine top-3 per query vector (native CosineSim —
      // bit-equal to the HOF dot product, OpsSpec parity test). Ranks on
      // the 6-place rounded cosine, as the oracle does, so it does not
      // share Ann.rerank, which ranks on the raw cosine.
      (s, d) => {
        val emb = table(s, d, "embeddings")
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        val q = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val scored = q.crossJoin(emb).filter(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(
            graft.functions.VectorOps.cosine(col("qv"), col("v")), 6))
        scored.withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("vec_id").as("nn_id"), col("cos"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
             |scored AS (SELECT qid, vec_id,
             |  round(list_sum(list_transform(range(len(qv)), i -> qv[i+1] * v[i+1]))
             |        / (sqrt(list_sum(list_transform(qv, x -> x*x)))
             |           * sqrt(list_sum(list_transform(v, x -> x*x)))), 6) AS cos
             |  FROM q, e WHERE vec_id <> qid),
             |r AS (SELECT *, row_number() OVER
             |      (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM scored)
             |SELECT qid, vec_id AS nn_id, cos, rn FROM r WHERE rn <= 3""".stripMargin)),

    QueryDef("q43_embedding_neardup",
      // embedding-cosine near-dup pairs above threshold (bounded set)
      (s, d) => {
        val emb = table(s, d, "embeddings").filter(col("vec_id") < 300)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("v"))
        val e2 = emb.select(col("vec_id").as("id2"), col("label").as("label2"),
          col("v").as("v2"))
        emb.crossJoin(e2).filter(col("vec_id") < col("id2"))
          .withColumn("cos", round(
            graft.functions.VectorOps.cosine(col("v"), col("v2")), 6))
          .filter(col("cos") >= 0.35)
          .select(col("vec_id").as("id1"), col("id2"), col("cos"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 300)
             |SELECT a.vec_id AS id1, b.vec_id AS id2,
             |  round(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
             |        / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
             |           * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
             |FROM e a, e b WHERE a.vec_id < b.vec_id
             |  AND round(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1] * b.v[i+1]))
             |        / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
             |           * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) >= 0.35""".stripMargin)),

    QueryDef("q48_simhash_neardup",
      // Banded SimHash near-dup (Manku WWW'07): portable md5-hex-vote
      // fingerprints, 4 byte-bands, equi-join on (band, value), Hamming
      // verify <= 3 — exactly the all-pairs result at this threshold
      // (pigeonhole) with O(collisions) comparisons, not O(N^2). Round 1
      // shipped a crossJoin here; this is the form that survives 100 TB
      // and it gains the full rows+schema+hash oracle.
      (s, d) => {
        // native Md5SimHash: one compiled loop per doc (one MD5 per
        // token, votes from digest nibbles) — bit-identical to the
        // relational form in OpsSpec's parity tests and to the oracle
        // SQL, with no exploded token rows and no 32-vote aggregation
        // shuffle
        // r8: the band self-join consumes fp TWICE (left + right side),
        // and without materialization each side re-runs Md5SimHash —
        // one MD5 per token per doc — over the whole corpus. Checkpoint
        // the (doc_id, sh) frame (16 bytes/row, text never crosses) so
        // the per-token hashing runs exactly once (q88 already did this
        // via DupAware; this brings q48's raw variant in line).
        val fp = table(s, d, "documents").select(col("doc_id"),
          graft.functions.Md5SimHash.of(col("text")).as("sh"))
          .localCheckpoint(true)
        graft.functions.SimHash.bandedPairs(fp, maxHamming = 3)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, md5(t) AS h
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u),
             |votes AS (
             |  SELECT doc_id, b,
             |         sum(CASE WHEN substring(h, CAST(b + 1 AS INTEGER), 1) >= '8'
             |                  THEN 1 ELSE -1 END) AS vote
             |  FROM tok, range(32) r(b) GROUP BY doc_id, b),
             |fp AS (
             |  SELECT doc_id,
             |         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << CAST(b AS INTEGER))
             |                       ELSE 0 END) AS BIGINT) AS sh
             |  FROM votes GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, sh, b AS bd, (sh >> CAST(8 * b AS INTEGER)) & 255 AS bv
             |  FROM fp, range(4) r(b)),
             |pairs AS (
             |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sh1, b.sh AS sh2
             |  FROM bands a JOIN bands b
             |    ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id)
             |SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS INTEGER) AS hamming
             |FROM pairs WHERE bit_count(xor(sh1, sh2)) <= 3""".stripMargin)),

    QueryDef("q88_dup_aware_neardup",
      // Exact-duplicate collapse BEFORE near-dup candidate generation —
      // the r7 sf1 soak measured q48's pair output growing QUADRATICALLY
      // in exact-copy multiplicity (10x data -> 100.5x pairs when every
      // doc recurs 10x, the realistic web-crawl shape), so a 100 TB
      // pipeline must hash-dedup first: group by md5(text) (only
      // (doc_id, 32-hex) shuffles — text never does), keep
      // rep = min(doc_id) + the class size, SimHash-band only the
      // DISTINCT contents, and carry multiplicities so a rep pair
      // stands for copies1*copies2 raw pairs WITHOUT materializing
      // them. Byte-identical copies share a fingerprint (hamming 0,
      // every band collides), so q48's raw pair set over the same
      // corpus is recoverable losslessly: expand rep pairs by
      // multiplicity and add each class's internal c*(c-1)/2 hamming-0
      // pairs — DedupSpec proves that expansion equality on a
      // planted-copy corpus. Output volume is linear in distinct
      // contents: multiplicity-proof. An exact copy of every 10th doc
      // is planted deterministically IN BOTH ENGINES (doc_id +
      // 10,000,000 — q70/q73 convention) so the collapse is exercised
      // at every SF.
      (s, d) => {
        val base = table(s, d, "documents").select(col("doc_id"), col("text"))
        val corpus = base.unionAll(
          base.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
        // operator core lives in dedup.DupAware (checkpointed class
        // table + rep fingerprints — text scanned once per frame)
        graft.dedup.DupAware.nearDupRepPairs(corpus, maxHamming = 3)
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0),
             |classes AS (
             |  SELECT md5(text) AS fp, min(doc_id) AS rep_id, count(*) AS copies
             |  FROM corpus GROUP BY fp),
             |reps AS (
             |  SELECT co.doc_id, co.text
             |  FROM corpus co JOIN classes c ON co.doc_id = c.rep_id),
             |tok AS (
             |  SELECT doc_id, md5(t) AS h
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM reps) u),
             |votes AS (
             |  SELECT doc_id, b,
             |         sum(CASE WHEN substring(h, CAST(b + 1 AS INTEGER), 1) >= '8'
             |                  THEN 1 ELSE -1 END) AS vote
             |  FROM tok, range(32) r(b) GROUP BY doc_id, b),
             |fp AS (
             |  SELECT doc_id,
             |         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << CAST(b AS INTEGER))
             |                       ELSE 0 END) AS BIGINT) AS sh
             |  FROM votes GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, sh, b AS bd, (sh >> CAST(8 * b AS INTEGER)) & 255 AS bv
             |  FROM fp, range(4) r(b)),
             |pairs AS (
             |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sh1, b.sh AS sh2
             |  FROM bands a JOIN bands b
             |    ON a.bd = b.bd AND a.bv = b.bv AND a.doc_id < b.doc_id)
             |SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS INTEGER) AS hamming,
             |       c1.copies AS copies1, c2.copies AS copies2,
             |       c1.copies * c2.copies AS expanded_pairs
             |FROM pairs
             |JOIN classes c1 ON c1.rep_id = id1
             |JOIN classes c2 ON c2.rep_id = id2
             |WHERE bit_count(xor(sh1, sh2)) <= 3""".stripMargin)),

    QueryDef("q49_ann_lsh_topk",
      // LSH-bucketed approximate top-3 neighbors (scale path for q42's
      // brute force; r5 defaults: 8 tables x 6 planes with full 1-bit
      // multiprobe on the query side — fixture recall 0.93).
      // Pair-level semi-oracle: the approximate CANDIDATE
      // SELECTION stays unoracled (AnnSpec checks determinism + recall
      // vs the exact baseline), but the deterministic rerank math is
      // fully checked — the oracle reads the emitted (qid, nn_id) pairs
      // back from the Verify output (__SPARK_OUT__ spliced by Verify),
      // recomputes each pair's exact cosine from the embeddings table,
      // and re-derives the per-qid rank; rows+schema+hash must match.
      (s, d) => {
        val emb = table(s, d, "embeddings")
          .select(col("vec_id").as("id"),
            transform(col("embedding"), _.cast("double")).as("v"))
        val queries = emb.filter(col("id") < 20)
          .select(col("id").as("qid"), col("v").as("qv"))
        // emit oracle-comparable values: cosine at the 6dp cross-engine
        // contract, rank re-derived over the EMITTED pairs on the
        // rounded value (the internal top-k window ranked raw doubles)
        graft.similarity.Ann.lshTopK(emb, queries, 3)
          .withColumn("cos", round(col("cos"), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos").desc, col("nn_id"))))
      },
      Some(annPairOracle("q49_ann_lsh_topk"))),

    QueryDef("q69_ann_ivf_topk",
      // IVF approximate top-3: deterministic hash-seeded k-means coarse
      // quantizer (r5 defaults c=32, nprobe=8 — fixture recall 0.83 at
      // a 25% scanned-list fraction), exact cosine rerank — the second
      // ANN scale path beside q49's LSH. Same pair-level
      // semi-oracle as q49: selection unoracled (AnnSpec), rerank math
      // hash-checked against a DuckDB recomputation of the emitted pairs.
      (s, d) => {
        val emb = table(s, d, "embeddings")
          .select(col("vec_id").as("id"),
            transform(col("embedding"), _.cast("double")).as("v"))
        val queries = emb.filter(col("id") < 20)
          .select(col("id").as("qid"), col("v").as("qv"))
        graft.similarity.Ann.ivfTopK(emb, queries, 3)
          .withColumn("cos", round(col("cos"), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos").desc, col("nn_id"))))
      },
      Some(annPairOracle("q69_ann_ivf_topk"))),

    QueryDef("q89_dedup_ann_topk",
      // Dedup-before-index ANN — the composition the r7 sf10 ANN rung
      // motivates: byte-identical vector copies inflate LSH candidate
      // sets by ~copy-multiplicity (measured: q49 grew 5.6x for 10x
      // data and fell behind brute force at 100 copies/vector), so a
      // duplicate-heavy corpus dedups EXACTLY (group by the raw vector,
      // rep = min(vec_id), multiplicity carried — q39/q88's move) and
      // indexes only distinct contents. Search cost then scales with
      // distinct vectors, flat under replication, and each hit reports
      // how many corpus rows it stands for. Same pair-level semi-oracle
      // as q49/q69 (selection approximate; emitted pairs re-scored,
      // re-ranked, and multiplicity re-derived in DuckDB).
      (s, d) => {
        val raw = table(s, d, "embeddings")
        // grouping key = the raw float array (bit-exact both engines;
        // the double cast happens after collapse)
        val classes = raw.groupBy(col("embedding"))
          .agg(min("vec_id").as("id"), count(lit(1)).as("n_copies"))
          .localCheckpoint(true)
        val emb = classes.select(col("id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        val queries = raw.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"),
            transform(col("embedding"), _.cast("double")).as("qv"))
        graft.similarity.Ann.ivfTopK(emb, queries, 3)
          .join(classes.select(col("id").as("nn_id"), col("n_copies")), Seq("nn_id"))
          .withColumn("cos", round(col("cos"), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos").desc, col("nn_id"))))
          .select(col("qid"), col("nn_id"), col("cos"), col("rn"), col("n_copies"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding,
             |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings),
             |cls AS (SELECT embedding, min(vec_id) AS id, count(*) AS n_copies
             |        FROM e GROUP BY embedding),
             |pairs AS (SELECT qid, nn_id
             |          FROM read_parquet('__SPARK_OUT__/q89_dedup_ann_topk/*.parquet')),
             |scored AS (SELECT p.qid, p.nn_id,
             |  CASE WHEN list_sum(list_transform(q.v, x -> x*x)) = 0
             |         OR list_sum(list_transform(c.v, x -> x*x)) = 0 THEN 0.0
             |       ELSE round(
             |         list_sum(list_transform(range(len(q.v)), i -> q.v[i+1] * c.v[i+1]))
             |         / (sqrt(list_sum(list_transform(q.v, x -> x*x)))
             |            * sqrt(list_sum(list_transform(c.v, x -> x*x)))), 6) END AS cos
             |  FROM pairs p
             |  JOIN e q ON q.vec_id = p.qid
             |  JOIN e c ON c.vec_id = p.nn_id)
             |SELECT s.qid, s.nn_id, s.cos,
             |       CAST(row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.nn_id)
             |            AS INTEGER) AS rn,
             |       k.n_copies
             |FROM scored s JOIN cls k ON k.id = s.nn_id""".stripMargin)),

    QueryDef("q78_multimodal_ann",
      // End-to-end multimodal composition: documents -> opaque binary
      // media rows -> featurize -> IVF ANN top-3 over the extracted
      // features. The payloads are document text cast to binary, so no
      // row sniffs as PNG/WAV/GIF and every row takes the declared stub
      // (a deterministic fake) by design; q83-q85 carry the real
      // PNG/WAV/GIF codecs under the oracle. The feature vectors exist
      // only Spark-side, so the pair semi-oracle (q49/q69) is extended:
      // each pair is emitted WITH its two vectors (comma-joined strings
      // — Java shortest-round-trip double repr, parsed back exactly by
      // DuckDB's correctly-rounded CAST), and the oracle recomputes the
      // cosine + per-qid rank from those vectors. Only the stub decode
      // itself stays unchecked; the rerank math, ordering, pair
      // uniqueness and rank consistency are hash-gated. As in q49/q69,
      // rn is re-derived over the ROUNDED cos with the nn_id tiebreak
      // so a rounding-created tie cannot leave rn inconsistent with the
      // emitted ordering.
      (s, d) => {
        val media = Multimodal.mediaFromDocs(
          s, table(s, d, "documents"))
        def vecStr(v: Column): Column =
          concat_ws(",", transform(v, _.cast("string")))
        // pin the featurized vectors once (q79's localCheckpoint
        // pattern): ivfTopK's index build alone walks emb several
        // times (seed + Lloyd collects + assignment) and the two
        // vector-emitting join-backs would each replay the stub
        // decode of every document again
        val emb = Multimodal.featurize(media)
          .toDF()
          .select(col("media_id").as("id"),
            transform(col("features"), _.cast("double")).as("v"))
          .withColumn("v_str", vecStr(col("v")))
          .localCheckpoint(true)
        val queries = emb.filter(col("id") < 10)
          .select(col("id").as("qid"), col("v").as("qv"),
            col("v_str").as("qv_str"))
        graft.similarity.Ann.ivfTopK(
            emb.select("id", "v"), queries.select("qid", "qv"), 3)
          .withColumn("cos", round(col("cos"), 6))
          .join(queries.select("qid", "qv_str"), Seq("qid"))
          .join(emb.select(col("id").as("nn_id"), col("v_str")), Seq("nn_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("qid").orderBy(col("cos").desc, col("nn_id"))))
          .select(col("qid"), col("nn_id"), col("qv_str"), col("v_str"),
            col("cos"), col("rn"))
      },
      Some("""WITH pairs AS (
             |  SELECT qid, nn_id, qv_str, v_str
             |  FROM read_parquet('__SPARK_OUT__/q78_multimodal_ann/*.parquet')),
             |vecs AS (
             |  SELECT qid, nn_id, qv_str, v_str,
             |    list_transform(string_split(qv_str, ','), x -> CAST(x AS DOUBLE)) AS qv,
             |    list_transform(string_split(v_str, ','), x -> CAST(x AS DOUBLE)) AS v
             |  FROM pairs),
             |scored AS (
             |  SELECT qid, nn_id, qv_str, v_str,
             |    CASE WHEN list_sum(list_transform(qv, x -> x*x)) = 0
             |           OR list_sum(list_transform(v, x -> x*x)) = 0 THEN 0.0
             |         ELSE round(
             |           list_sum(list_transform(range(len(qv)), i -> qv[i+1] * v[i+1]))
             |           / (sqrt(list_sum(list_transform(qv, x -> x*x)))
             |              * sqrt(list_sum(list_transform(v, x -> x*x)))), 6) END AS cos
             |  FROM vecs)
             |SELECT qid, nn_id, qv_str, v_str, cos,
             |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id)
             |            AS INTEGER) AS rn
             |FROM scored""".stripMargin)),

    QueryDef("q83_image_decode",
      // REAL image codec round-trip: per doc_id a 16x16 synthetic image
      // (closed-form pixel gray = (id*31 + x*7 + y*13) % 256) is PNG-
      // ENCODED by the JDK codec in the executors, the binary payload
      // flows through the MediaRow seam, and the JDK DECODER pools it
      // into exact-integer 4x4 block sums. PNG over TYPE_INT_RGB is
      // lossless, so the oracle can hash-check the ENTIRE codec path by
      // recomputing the block sums straight from the pixel formula —
      // any encoder/decoder pixel divergence breaks the hash. Narrow
      // per-row work end-to-end: zero shuffles beyond the balance
      // repartition, scales as pure map parallelism.
      (s, d) => {
        val media = Multimodal.mediaFromDocsEncoded(
          table(s, d, "documents"), "image", 16, 16)(Multimodal.encodePng(_, 16, 16))
        Multimodal.imageBlockSums(media)
      },
      Some("""SELECT doc_id AS media_id, 16 AS width, 16 AS height,
             |  array_to_string(list_transform(range(16), b ->
             |    CAST(CAST(list_sum(list_transform(range(16), p ->
             |      (doc_id * 31 + ((b % 4) * 4 + (p % 4)) * 7
             |       + ((b // 4) * 4 + (p // 4)) * 13) % 256
             |    )) AS BIGINT) AS VARCHAR)), ',') AS feat_str
             |FROM documents""".stripMargin)),

    QueryDef("q84_audio_decode",
      // REAL audio codec round-trip, the q83 pattern over the other
      // JDK-shipped codec (javax.sound.sampled WAV/PCM — compressed
      // audio has no JVM codec and stays stubbed): per doc_id a
      // 256-sample 16-bit PCM clip (closed-form sample formula) is
      // WAV-encoded by the JDK in the executors, flows as binary
      // through the MediaRow seam, and the JDK parser decodes it back
      // into exact-integer 16-window sample sums. PCM is lossless, so
      // the oracle recomputes the sums straight from the sample
      // formula — any framing/endianness/sign divergence in the codec
      // path breaks the hash.
      (s, d) => {
        val media = Multimodal.mediaFromDocsEncoded(
          table(s, d, "documents"), "audio", 256, 1)(Multimodal.encodeWav(_, 256))
        Multimodal.audioWindowSums(media)
      },
      Some("""SELECT doc_id AS media_id, 256 AS n_samples,
             |  array_to_string(list_transform(range(16), w ->
             |    CAST(CAST(list_sum(list_transform(range(16), i ->
             |      (doc_id * 131 + (w * 16 + i) * 17) % 65536 - 32768
             |    )) AS BIGINT) AS VARCHAR)), ',') AS feat_str
             |FROM documents""".stripMargin)),

    QueryDef("q85_video_frames",
      // REAL video codec round-trip over the JVM's one moving-picture
      // container (animated GIF; MP4/WebM have no JDK codec): per
      // doc_id a 4-frame 16x16 clip (closed-form per-frame pixel
      // formula, indexed 256-gray palette so the GIF round-trip is
      // lossless) is encoded by the JDK writer in the executors, and
      // the JDK reader extracts EVERY frame back out — one output row
      // per decoded frame with its exact-integer 4x4 block sums. The
      // oracle recomputes sums from the formula over documents x
      // range(4): a missing/extra/reordered frame or any pixel
      // divergence breaks the rows or the hash.
      (s, d) => {
        val media = Multimodal.mediaFromDocsEncoded(
          table(s, d, "documents"), "video", 16, 16)(Multimodal.encodeGif(_, 4, 16, 16))
        Multimodal.videoFrameSums(media)
      },
      Some("""SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
             |  array_to_string(list_transform(range(16), b ->
             |    CAST(CAST(list_sum(list_transform(range(16), p ->
             |      (doc_id * 31 + f * 41 + ((b % 4) * 4 + (p % 4)) * 7
             |       + ((b // 4) * 4 + (p // 4)) * 13) % 256
             |    )) AS BIGINT) AS VARCHAR)), ',') AS feat_str
             |FROM documents, range(4) t(f)""".stripMargin)),

    // ------------------------------------------------ time windows
    QueryDef("q44_tumbling_window",
      // hourly tumbling aggregation
      (s, d) => table(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp").cast("long")
          .as("hour_epoch"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total")),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             |       event_type, count(*) AS n, round(sum(value), 4) AS total
             |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("q45_sessionize",
      // per-user ordered event sequence stats: first/last ts + count
      (s, d) => table(s, d, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).cast("timestamp").cast("long").as("first_ts"),
          max(col("ts")).cast("timestamp").cast("long").as("last_ts"),
          countDistinct("event_type").as("n_types")),
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts,
             |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts,
             |  count(DISTINCT event_type) AS n_types
             |FROM events GROUP BY user_id""".stripMargin)),

    QueryDef("q76_gap_sessions",
      // TRUE gap sessionization (q45 is per-user lifetime stats): native
      // session_window, 8h gap — a new session starts when the
      // inter-event gap reaches the threshold, s_end = last event + gap.
      (s, d) => table(s, d, "events")
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours"))
        // size(collect_set) rather than countDistinct: it aggregates
        // partially before the shuffle and merges sessions in one step
        // (MergingSessions), where a distinct aggregate shuffles every
        // raw event and stacks two more aggregation levels
        .agg(count(lit(1)).as("n_events"),
          size(collect_set("event_type")).cast("long").as("n_types"),
          round(sum("value"), 4).as("total"))
        .select(col("user_id"),
          col("session_window.start").cast("long").as("s_start"),
          col("session_window.end").cast("long").as("s_end"),
          col("n_events"), col("n_types"), col("total")),
      // oracle: lag + cumulative-sum session ids (deterministic; no
      // (user_id, ts) duplicates in the fixture so ORDER BY ts is total)
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_type, value,
             |    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
             |           (PARTITION BY user_id ORDER BY ts) >= 28800
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |s AS (
             |  SELECT *, sum(brk) OVER
             |    (PARTITION BY user_id ORDER BY ts
             |     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM o)
             |SELECT user_id,
             |  CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
             |  CAST(floor(epoch(max(ts))) AS BIGINT) + 28800 AS s_end,
             |  count(*) AS n_events,
             |  count(DISTINCT event_type) AS n_types,
             |  round(sum(value), 4) AS total
             |FROM s GROUP BY user_id, sid""".stripMargin)),

    QueryDef("q50_blend",
      // linear score ensembling (ensembling/blend.py:40-52)
      (s, d) => {
        // the two scorer frames group the SAME source by the SAME full
        // key, so their inner join is algebraically one groupBy
        // computing both aggregates — one events aggregation instead of
        // two plus an equi-join (double arithmetic order replicated term
        // for term: round(round(0.6*s1 + 0.4*s2 + 0.0, 9), 6))
        triples(s, d).groupBy("subject", "predicate", "object")
          .agg((min(col("event_id") % 100).cast("double") / 100.0).as("__s1"),
            (min(col("event_id") % 97).cast("double") / 97.0).as("__s2"))
          .select(col("subject"), col("predicate"), col("object"),
            round(col("__s1"), 6).as("s1"), round(col("__s2"), 6).as("s2"),
            round(round(lit(0.6) * col("__s1") + lit(0.4) * col("__s2") + lit(0.0),
              9), 6).as("score"))
      },
      Some(s"""WITH t AS ($triplesSql),
              |a AS (SELECT subject, predicate, "object",
              |      CAST(min(event_id % 100) AS DOUBLE)/100.0 AS s1
              |      FROM t GROUP BY 1,2,3),
              |b AS (SELECT subject, predicate, "object",
              |      CAST(min(event_id % 97) AS DOUBLE)/97.0 AS s2
              |      FROM t GROUP BY 1,2,3)
              |SELECT subject, predicate, "object",
              |       round(s1, 6) AS s1, round(s2, 6) AS s2,
              |       round(round(0.6 * s1 + 0.4 * s2 + 0.0, 9), 6) AS score
              |FROM a JOIN b USING (subject, predicate, "object")""".stripMargin)),

    QueryDef("q86_blend_fit",
      // TRAINED blend weights (ensembling/blend.py:40-52 learns the
      // 2->1 nn.Linear; q50 uses the fixed-weight form as the
      // cross-check). Deterministic stand-in for the margin-ranking
      // fit: closed-form least squares (s1, s2) -> 0/1 label via the
      // 2x2 normal equations over exact-integer sufficient statistics
      // (order-independent sums — see Ensemble.fitBlend for the
      // overflow/parity arithmetic). Small moduli (10, 7, 3) keep every
      // cross-product term far inside long and double-exact range.
      (s, d) => {
        // r8: fitBlend touches g twice (sufficient-statistics pass +
        // the weight-attach output pass) — checkpoint the small exact-
        // integer frame so the events aggregation runs once (integer
        // sums are order-independent, so materialization cannot move a
        // single bit)
        val g = triples(s, d).groupBy("subject", "predicate", "object")
          .agg((min(col("event_id")) % 10).as("a"),
            (min(col("event_id")) % 7).as("b"),
            when(min(col("event_id")) % 3 === 0, 1L).otherwise(0L).as("y"))
          .localCheckpoint(true)
        graft.prune.Ensemble.fitBlend(g, 10, 7)
      },
      Some(s"""WITH t AS ($triplesSql),
              |g AS (SELECT subject, predicate, "object",
              |        min(event_id) % 10 AS a,
              |        min(event_id) % 7 AS b,
              |        CASE WHEN min(event_id) % 3 = 0 THEN 1 ELSE 0 END AS y
              |      FROM t GROUP BY 1,2,3),
              |st AS (SELECT CAST(sum(a*a) AS BIGINT) AS saa,
              |              CAST(sum(a*b) AS BIGINT) AS sab,
              |              CAST(sum(b*b) AS BIGINT) AS sbb,
              |              CAST(sum(a*y) AS BIGINT) AS say,
              |              CAST(sum(b*y) AS BIGINT) AS sby
              |       FROM g),
              |w AS (SELECT
              |        CAST(10*(say*sbb - sby*sab) AS DOUBLE)
              |          / CAST(saa*sbb - sab*sab AS DOUBLE) AS w1,
              |        CAST(7*(sby*saa - say*sab) AS DOUBLE)
              |          / CAST(saa*sbb - sab*sab AS DOUBLE) AS w2
              |      FROM st)
              |SELECT subject, predicate, "object",
              |  round(CAST(a AS DOUBLE) / CAST(10 AS DOUBLE), 6) AS s1,
              |  round(CAST(b AS DOUBLE) / CAST(7 AS DOUBLE), 6) AS s2,
              |  round(w1, 6) AS w1, round(w2, 6) AS w2,
              |  round(w1 * (CAST(a AS DOUBLE) / CAST(10 AS DOUBLE))
              |      + w2 * (CAST(b AS DOUBLE) / CAST(7 AS DOUBLE)), 6) AS score
              |FROM g CROSS JOIN w""".stripMargin)),

    QueryDef("q51_softmax_rel",
      // relation sampling distribution: softmax over per-relation counts
      // (graph_sampler.py:51-56)
      (s, d) => {
        val counts = triples(s, d).groupBy("predicate").agg(count(lit(1)).as("n"))
        counts.withColumn("p", round(
          exp(col("n").cast("double") / 1000.0) /
            sum(exp(col("n").cast("double") / 1000.0)).over(Window.partitionBy()),
          6)).select("predicate", "n", "p")
      },
      Some(s"""WITH c AS (SELECT predicate, count(*) AS n
              |          FROM ($triplesSql) t GROUP BY predicate)
              |SELECT predicate, n,
              |  round(exp(CAST(n AS DOUBLE)/1000.0) /
              |        sum(exp(CAST(n AS DOUBLE)/1000.0)) OVER (), 6) AS p
              |FROM c""".stripMargin)),

    QueryDef("q52_stratified_sample",
      // hash-Bernoulli stratified sample, ~25% per lang stratum
      // (balance_negatives.py:120-193 reinterpreted deterministically)
      (s, d) => graft.prune.Sampling.hashSample(
        table(s, d, "documents").select("doc_id", "lang"),
        Seq(col("doc_id").cast("string"), col("lang")), 0.25, 42L),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE substring(md5(CAST(doc_id AS VARCHAR) || '|' || lang || '|' || '42'), 1, 4) < '4000'""".stripMargin)),

    QueryDef("q53_chunk_text",
      // deterministic text chunking 500 chars / 100 overlap
      // (Edge_Assignor.ipynb cell 16 l.51)
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(400)),
            start => substring(col("text"), (start + 1).cast("int"), lit(500))))
            .as(Seq("chunk_idx", "chunk"))),
      Some("""SELECT doc_id,
             |  CAST(unnest(range(len(starts))) AS INTEGER) AS chunk_idx,
             |  starts[unnest(range(len(starts))) + 1] AS chunk
             |FROM (SELECT doc_id,
             |      list_transform(range(0, greatest(strlen(text) - 1, 0) + 1, 400),
             |                     s -> substring(text, CAST(s + 1 AS INTEGER), 500)) AS starts
             |      FROM documents) x""".stripMargin)),

    QueryDef("q54_transe_score",
      // TransE scoring gamma - ||h + r - t|| as a pure vector expression
      // (reference kge/model.py TransE)
      (s, d) => {
        val emb = table(s, d, "embeddings").filter(col("vec_id") < 100)
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
        val h = emb.select(col("vec_id").as("hid"), col("v").as("hv"))
        val t = emb.select(col("vec_id").as("tid"), col("v").as("tv"))
        h.join(t, col("tid") === col("hid") + 1)
          .withColumn("dist", sqrt(aggregate(
            zip_with(col("hv"), col("tv"), (x, y) => (x + 0.1 - y) * (x + 0.1 - y)),
            lit(0.0), (acc, x) => acc + x)))
          .select(col("hid"), col("tid"), round(lit(12.0) - col("dist"), 6).as("transe"))
      },
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 100)
             |SELECT h.vec_id AS hid, t.vec_id AS tid,
             |  round(12.0 - sqrt(list_sum(list_transform(range(len(h.v)),
             |        i -> (h.v[i+1] + 0.1 - t.v[i+1]) * (h.v[i+1] + 0.1 - t.v[i+1])))), 6) AS transe
             |FROM e h JOIN e t ON t.vec_id = h.vec_id + 1""".stripMargin)),

    QueryDef("q66_distmult_score",
      // DistMult scoring sum(h * r * t) (reference kge/model.py:175-182)
      // over consecutive embedding rows as (h, r, t)
      (s, d) => kgeHrt(s, d)
        .select(col("hid"), col("tid"),
          round(aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
            acc + element_at(col("hv"), i) * element_at(col("rv"), i) *
              element_at(col("tv"), i)), 6).as("distmult")),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 100)
             |SELECT h.vec_id AS hid, t.vec_id AS tid,
             |  round(list_sum(list_transform(range(64),
             |        i -> h.v[i+1] * r.v[i+1] * t.v[i+1])), 6) AS distmult
             |FROM e h JOIN e r ON r.vec_id = h.vec_id + 1
             |         JOIN e t ON t.vec_id = h.vec_id + 2""".stripMargin)),

    QueryDef("q67_complex_score",
      // ComplEx scoring (kge/model.py:184-199): vectors split into
      // real/imag halves (dim 64 -> 32+32);
      // score = sum_j (re_h*re_r - im_h*im_r)*re_t + (re_h*im_r + im_h*re_r)*im_t
      (s, d) => kgeHrt(s, d)
        .select(col("hid"), col("tid"),
          round(aggregate(sequence(lit(1), lit(32)), lit(0.0), (acc, i) =>
            acc +
              (kgeRe("hv", i) * kgeRe("rv", i) - kgeIm("hv", i) * kgeIm("rv", i)) * kgeRe("tv", i) +
              (kgeRe("hv", i) * kgeIm("rv", i) + kgeIm("hv", i) * kgeRe("rv", i)) * kgeIm("tv", i)),
            6).as("complex")),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 100)
             |SELECT h.vec_id AS hid, t.vec_id AS tid,
             |  round(list_sum(list_transform(range(32), i ->
             |    (h.v[i+1] * r.v[i+1] - h.v[i+33] * r.v[i+33]) * t.v[i+1] +
             |    (h.v[i+1] * r.v[i+33] + h.v[i+33] * r.v[i+1]) * t.v[i+33])), 6) AS complex
             |FROM e h JOIN e r ON r.vec_id = h.vec_id + 1
             |         JOIN e t ON t.vec_id = h.vec_id + 2""".stripMargin)),

    QueryDef("q68_rotate_score",
      // RotatE scoring (kge/model.py:201-232): h rotated by relation
      // phases (phase_j = r_j * pi, i.e. embedding_range = 1), complex
      // modulus distance to t, gamma = 12;
      // score = gamma - sum_j |h_j * e^(i*phase_j) - t_j|
      (s, d) => kgeHrt(s, d)
        .select(col("hid"), col("tid"),
          round(lit(12.0) - aggregate(sequence(lit(1), lit(32)), lit(0.0), (acc, i) => {
            val ph = kgeRe("rv", i) * math.Pi
            val reS = kgeRe("hv", i) * cos(ph) - kgeIm("hv", i) * sin(ph) - kgeRe("tv", i)
            val imS = kgeRe("hv", i) * sin(ph) + kgeIm("hv", i) * cos(ph) - kgeIm("tv", i)
            acc + sqrt(reS * reS + imS * imS)
          }), 6).as("rotate")),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 100)
             |SELECT h.vec_id AS hid, t.vec_id AS tid,
             |  round(12.0 - list_sum(list_transform(range(32), i ->
             |    sqrt(pow(h.v[i+1] * cos(r.v[i+1] * pi()) - h.v[i+33] * sin(r.v[i+1] * pi()) - t.v[i+1], 2) +
             |         pow(h.v[i+1] * sin(r.v[i+1] * pi()) + h.v[i+33] * cos(r.v[i+1] * pi()) - t.v[i+33], 2)))),
             |    6) AS rotate
             |FROM e h JOIN e r ON r.vec_id = h.vec_id + 1
             |         JOIN e t ON t.vec_id = h.vec_id + 2""".stripMargin)),

    QueryDef("q72_protate_score",
      // pRotatE scoring (kge/model.py:231-249): phase-only rotation —
      // phases phi = v_j * pi (embedding_range = 1, as q68),
      // modulus = 0.5 * embedding_range = 0.5, gamma = 12;
      // score = gamma - modulus * sum_j |sin(phi_h + phi_r - phi_t)|
      (s, d) => kgeHrt(s, d)
        .select(col("hid"), col("tid"),
          round(lit(12.0) - lit(0.5) *
            aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
              acc + abs(sin((element_at(col("hv"), i) + element_at(col("rv"), i) -
                element_at(col("tv"), i)) * math.Pi))), 6).as("protate")),
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |          FROM embeddings WHERE vec_id < 100)
             |SELECT h.vec_id AS hid, t.vec_id AS tid,
             |  round(12.0 - 0.5 * list_sum(list_transform(range(64), i ->
             |    abs(sin((h.v[i+1] + r.v[i+1] - t.v[i+1]) * pi())))), 6) AS protate
             |FROM e h JOIN e r ON r.vec_id = h.vec_id + 1
             |         JOIN e t ON t.vec_id = h.vec_id + 2""".stripMargin)),

    // ------------------------------------------------- TPC-H-ish
    QueryDef("q46_tpch1",
      (s, d) => table(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 4) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q47_revenue_by_nation",
      (s, d) => table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT n_name,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name""".stripMargin))
  )
}
