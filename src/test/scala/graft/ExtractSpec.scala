package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{TextExtract, TripleExtract}
import graft.fixtures.Fixtures

class ExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val cfg = Fixtures.tiny

  /** Scala form of [[TextExtract.extractTextCol]]: the same patterns,
    * applied with `String.replaceAll`; must agree byte for byte.
    */
  private def extractText(html: Array[Byte]): String = {
    import TextExtract._
    val body = new String(html, java.nio.charset.StandardCharsets.UTF_8).replaceAll(bodyRe, "$1")
    val noScript = body.replaceAll(scriptRe, " ").replaceAll(styleRe, " ")
    val noTags = noScript.replaceAll(tagRe, " ")
    val decoded = entities.foldLeft(noTags) { case (c, (from, to)) => c.replaceAll(from, to) }
    decoded.replaceAll(wsRe, " ").trim
  }

  test("text extraction is byte-identical per url (Scala form)") {
    (0L until cfg.nPages).foreach { j =>
      val p = Fixtures.pageOf(cfg, j)
      assert(extractText(p.html) == p.text, s"page $j")
    }
  }

  test("text extraction Column form agrees with stored text on every row") {
    val pages = Fixtures.pages(spark, cfg)
    val bad = pages.toDF()
      .withColumn("extracted", TextExtract.extractTextCol(col("html")))
      .where(col("extracted") =!= col("text"))
      .count()
    assert(bad == 0L)
  }

  test("entity decoding: &amp; survives as & byte-identically") {
    val p = Fixtures.pageOf(cfg, 13L) // j%13==0 page embeds A&B
    assert(p.text.contains("A&B Labs"))
    assert(new String(p.html, "UTF-8").contains("A&amp;B Labs"))
    assert(extractText(p.html).contains("A&B Labs"))
  }

  test("triple extraction recovers exactly the generated assertions (en pages)") {
    import spark.implicits._
    val got = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
      .select("url", "sent_idx", "predicate").as[(String, Int, String)]
      .collect().toSet
    val want = Fixtures.truth(spark, cfg)
      .filter(col("lang") === "en")
      .select("url", "sent_idx")
      .as[(String, Int)].collect().toSet
    assert(got.map(t => (t._1, t._2)) == want)
    // predicates are from the closed vocabulary
    assert(got.map(_._3).subsetOf(Fixtures.predicateVocab.toSet))
  }

  test("non-en pages are filtered out") {
    val got = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
    val deUrls = (0L until cfg.nPages)
      .filter(j => Fixtures.langOf(j) == "de").map(Fixtures.urlOf)
    assert(deUrls.nonEmpty)
    assert(got.where(col("url").isin(deUrls: _*)).count() == 0)
  }

  test("assertion context carries the disambiguation keywords") {
    import spark.implicits._
    val rows = TripleExtract.assertions(Fixtures.pages(spark, cfg).toDF())
      .select($"context")
      .as[Array[String]].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(ctx => ctx.exists(_.startsWith("kw"))))
  }
}
