package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic HTML -> text extraction.
  *
  * The north rule requires byte-identical extracted text per url, so the
  * transform is a pure function of the html bytes, defined ONCE as a
  * regex pipeline over Catalyst Columns ([[extractTextCol]]: a
  * regexp_replace chain, fully whole-stage-codegen'd — no UDF in the hot
  * path). ExtractSpec runs the same patterns through `String.replaceAll`
  * and checks both forms against the fixture's stored text.
  *
  * Semantics: take <body> content; drop <script>/<style> blocks; replace
  * every remaining tag with a space; decode the 6 standard entities;
  * collapse whitespace runs to single spaces; trim.
  */
object TextExtract {

  private[graft] val bodyRe = "(?is).*<body[^>]*>(.*?)</body>.*"
  private[graft] val scriptRe = "(?is)<script[^>]*>.*?</script>"
  private[graft] val styleRe = "(?is)<style[^>]*>.*?</style>"
  private[graft] val tagRe = "(?s)<[^>]*>"
  private[graft] val wsRe = "\\s+"
  /** Entity decodings in application order: &amp; LAST so &amp;lt; -> &lt; stays literal. */
  private[graft] val entities = Seq(
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&apos;", "'"), ("&amp;", "&"))

  /** Column form — used by the pipeline; codegen-friendly. */
  def extractTextCol(html: Column): Column = {
    val s = decode(html, "UTF-8")
    val body = regexp_replace(s, bodyRe, "$1")
    val noScript = regexp_replace(regexp_replace(body, scriptRe, " "), styleRe, " ")
    val noTags = regexp_replace(noScript, tagRe, " ")
    val decoded = entities.foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(decoded, wsRe, " "))
  }
}
