package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-page deduplication ahead of extraction — the standard first stage
  * of a Common-Crawl-scale pipeline (a large fraction of crawled pages
  * are exact or near duplicates; extracting from them double-counts
  * evidence and wastes the whole downstream pipeline).
  *
  * - exact: md5 fingerprint of whitespace-normalized lowercased text,
  *   keep the lexicographically smallest url per fingerprint.
  * - minhash: 4-component seeded-md5 MinHash over 3-gram word shingles,
  *   2 LSH bands; a page is dropped when any of its band buckets
  *   contains a smaller url ("keep first in bucket" — deterministic,
  *   one aggregation + one join; no transitive clustering pass).
  */
object PageDedup {

  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Urls to drop under exact dedup. Only (url, fp) is ever shuffled —
    * never the html payloads.
    */
  def exactDropped(pages: DataFrame): DataFrame = {
    // r8: fp feeds both the keeper aggregation and the drop join —
    // checkpoint the narrow (url, fp) rows so the text scan +
    // fingerprint md5 run once, not once per consumer (same shape as
    // minhashDropped's band checkpoint)
    val fp = pages.select(col("url"), fingerprint(col("text")).as("__fp"))
      .localCheckpoint(true)
    val keepers = fp.groupBy(col("__fp")).agg(min(col("url")).as("__keeper"))
    fp.join(keepers, "__fp")
      .filter(col("url") > col("__keeper"))
      .select(col("url"))
  }

  /** (url, band) rows: 2 bands of 3 over a 6-component minhash
    * signature — per-band collision probability is jaccard^3, steep
    * enough that merely-templated pages don't collide.
    *
    * Signatures come from the native Catalyst expression
    * [[graft.functions.TextMinHash]] — one compiled loop per row.
    * The equivalent `transform`+`aggregate` higher-order-function form
    * is interpreted per array element by Catalyst's lambda evaluator and
    * measured ~200 core-seconds per million pages; the expression is
    * ~100x cheaper at identical semantics.
    */
  private val shingleN = 3

  private def bands(pages: DataFrame): DataFrame = {
    // signature straight from the text bytes (zero per-token allocation
    // — the banding pass is allocation-bound at high core counts);
    // NULL = fewer tokens than one shingle. Short pages can't be
    // near-dup'd by shingles — they fall back to the exact fingerprint
    // below (round-2 fix: the old sentinel signature mass-dropped them).
    val sig = graft.functions.MinHash.signatureFromText(col("text"), n = shingleN, k = 6)
    pages.select(col("url"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("url"), explode(array(
        xxhash64(element_at(col("sig"), 1), element_at(col("sig"), 2),
          element_at(col("sig"), 3), lit(0)),
        xxhash64(element_at(col("sig"), 4), element_at(col("sig"), 5),
          element_at(col("sig"), 6), lit(1)))).as("band"))
  }

  /** Urls to drop under minhash near-dup. Sub-shingle-length pages are
    * deduplicated by exact fingerprint instead (see [[bands]]).
    */
  def minhashDropped(pages: DataFrame): DataFrame = {
    // r8: the band frame feeds BOTH the keeper aggregation and the
    // drop join's probe side — without materialization each consumer
    // re-ran the MinHash signature over the full page text (the single
    // hottest per-row expression in the pipeline; the banding pass is
    // allocation-bound at high core counts). Checkpoint the narrow
    // (url, band) rows so the signature computes once; text still
    // never shuffles.
    val b = bands(pages).localCheckpoint(true)
    val keepers = b.groupBy(col("band")).agg(min(col("url")).as("__keeper"))
    val near = b.join(keepers, "band")
      .filter(col("url") > col("__keeper"))
      .select(col("url"))
    val shortExact = exactDropped(
      pages.filter(size(split(col("text"), " ")) < shingleN))
    near.unionAll(shortExact).distinct()
  }

  /** Dropped-url set for the given mode; empty for "none". The pipeline
    * applies this to EXTRACTED assertions (url-keyed small rows), never
    * to the page table itself — anti-joining the pages would shuffle
    * every html payload, which measured 6x the entire pipeline cost.
    */
  def droppedUrls(pages: DataFrame, mode: String): DataFrame = mode match {
    case "none" => pages.select(col("url")).limit(0)
    case "exact" => exactDropped(pages)
    case "minhash" => minhashDropped(pages)
    case other => throw new IllegalArgumentException(s"unknown dedup mode: $other")
  }
}
