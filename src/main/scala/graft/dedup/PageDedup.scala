package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-page deduplication ahead of extraction — the standard first stage
  * of a Common-Crawl-scale pipeline (a large fraction of crawled pages
  * are exact or near duplicates; extracting from them double-counts
  * evidence and wastes the whole downstream pipeline).
  *
  * Both modes are "keep the first url of each block" (a block in
  * SparkER's sense, PAPERS.md): one text pass turns every page into
  * narrow (url, key) rows, and one window computes min(url) per key; a
  * url is dropped when any of its keys carries a smaller url. No
  * transitive clustering pass, no materialization, no join-back.
  *  - exact: the key is the md5 fingerprint of the whitespace-normalized
  *    lowercased text.
  *  - minhash: the keys are the 2 LSH band buckets of a 6-component
  *    MinHash over 3-gram word shingles, plus the exact fingerprint for
  *    pages too short to have a shingle.
  *
  * Skew trade-off: the window sorts all rows of one key in one task,
  * where a keeper aggregation (combinable) plus a broadcast join-back
  * would not. The rows are a url plus an 8-byte band or a 32-character
  * fingerprint, so even a hot bucket is a narrow sort; the pipeline's
  * skew-guarded join is the hub-entity degree join, not this one.
  */
object PageDedup {

  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  private val shingleN = 3

  /** Urls of `keyed` (url, __key) rows whose key also carries a smaller
    * url; null keys never match.
    */
  private def notFirstInBlock(keyed: DataFrame): DataFrame =
    keyed.filter(col("__key").isNotNull)
      .withColumn("__keeper", min(col("url")).over(Window.partitionBy(col("__key"))))
      .filter(col("url") > col("__keeper"))
      .select(col("url"))

  /** Urls to drop under minhash near-dup. Each page yields up to three
    * struct(band, fp) keys: 2 bands of 3 over the signature (per-band
    * collision probability is jaccard^3, steep enough that merely
    * templated pages don't collide), fp null; and, for pages with fewer
    * tokens than one shingle, the exact fingerprint, band null — short
    * pages can't be near-dup'd by shingles, and one shared sentinel
    * signature would make them all collide.
    *
    * Signatures come from the native Catalyst expression
    * [[graft.functions.TextMinHash]] — one compiled loop per row, NULL
    * below one shingle. The equivalent `transform`+`aggregate`
    * higher-order-function form is interpreted per array element by
    * Catalyst's lambda evaluator and measured ~200 core-seconds per
    * million pages; the expression is ~100x cheaper at identical
    * semantics.
    */
  private def minhashDropped(pages: DataFrame): DataFrame = {
    val sig = col("__sig")
    def band(i: Int): Column = when(sig.isNotNull, struct(
      xxhash64(element_at(sig, 3 * i + 1), element_at(sig, 3 * i + 2),
        element_at(sig, 3 * i + 3), lit(i)).as("band"),
      lit(null).cast("string").as("fp")))
    val exact = when(col("__fp").isNotNull,
      struct(lit(null).cast("bigint").as("band"), col("__fp").as("fp")))
    pages.select(col("url"),
        graft.functions.MinHash.signatureFromText(col("text"), n = shingleN, k = 6).as("__sig"),
        when(size(split(col("text"), " ")) < shingleN, fingerprint(col("text"))).as("__fp"))
      .select(col("url"), explode(array(band(0), band(1), exact)).as("__key"))
      .transform(notFirstInBlock)
      .distinct()
  }

  /** Dropped-url set for the given mode; empty for "none". The pipeline
    * applies this to EXTRACTED assertions (url-keyed small rows), never
    * to the page table itself — anti-joining the pages would shuffle
    * every html payload, which measured 6x the entire pipeline cost.
    */
  def droppedUrls(pages: DataFrame, mode: String): DataFrame = mode match {
    case "none" => pages.select(col("url")).limit(0)
    case "exact" => notFirstInBlock(pages.select(col("url"), fingerprint(col("text")).as("__key")))
    case "minhash" => minhashDropped(pages)
    case other => throw new IllegalArgumentException(s"unknown dedup mode: $other")
  }
}
