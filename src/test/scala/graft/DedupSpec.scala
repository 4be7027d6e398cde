package graft

import java.sql.Timestamp

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Page
import graft.dedup.PageDedup
import graft.fixtures.Fixtures

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def page(url: String, text: String): Page =
    Page(url, new Timestamp(0L), text.getBytes("UTF-8"), text, "en")

  /** Urls the pipeline keeps under `mode`: the pages' urls minus
    * [[PageDedup.droppedUrls]].
    */
  def kept(pages: DataFrame, mode: String): Set[String] =
    pages.select("url").as[String].collect().toSet --
      PageDedup.droppedUrls(pages, mode).as[String].collect()

  test("exact dedup: smallest url survives per identical text") {
    val pages = Seq(
      page("https://a/1", "alpha beta gamma delta epsilon zeta eta"),
      page("https://b/2", "alpha beta gamma delta epsilon zeta eta"), // dup
      page("https://c/3", "unique content entirely different here now"))
      .toDF()
    val out = kept(pages, "exact")
    assert(out == Set("https://a/1", "https://c/3"))
  }

  test("minhash dedup: near-duplicates dropped, distinct pages kept") {
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home tonight"
    val near = base.replace("runs", "walks") // 1-token perturbation
    val far = "completely different words about spark catalyst shuffles joins windows aggregates and parquet"
    val pages = Seq(
      page("https://a/1", base),
      page("https://b/2", base), // exact dup
      page("https://c/3", near), // near dup: most shingles shared
      page("https://d/4", far))
      .toDF()
    val out = kept(pages, "minhash")
    assert(out.contains("https://a/1") && out.contains("https://d/4"))
    assert(!out.contains("https://b/2"), "exact dup must collide in every band")
  }

  test("minhash dedup: distinct short pages all survive; identical short pages dedup") {
    // ADVICE r1: sub-shingle pages all got the sentinel signature and were
    // mass-dropped as 'near-duplicates' of each other
    val pages = Seq(
      page("https://s/1", "alpha beta"),
      page("https://s/2", "gamma delta"),
      page("https://s/3", "epsilon"),
      page("https://s/4", "gamma delta"), // exact dup of s/2
      page("https://t/1", "one two three four five six seven eight nine ten"))
      .toDF()
    val out = kept(pages, "minhash")
    assert(out == Set("https://s/1", "https://s/2", "https://s/3", "https://t/1"))
  }

  test("dedup modes: none is identity; exact drops the fixture's true dups") {
    val cfg = Fixtures.tiny
    val pages = Fixtures.pages(spark, cfg).toDF()
    assert(kept(pages, "none").size == 200)
    // the fixture embeds true duplicates (srcOf: j%7==3 republishes j-1)
    val nDups = (0L until cfg.nPages).count(j => Fixtures.srcOf(j) != j)
    assert(nDups > 20)
    assert(kept(pages, "exact").size == 200 - nDups)
    assertThrows[IllegalArgumentException](PageDedup.droppedUrls(pages, "bogus"))
  }

  // seeded corpus: 60 base pages of 24 tokens; every 3rd republished
  // byte-identical, every 5th in upper case with doubled spaces (an exact
  // dup after normalization, but a different shingle set), every 4th with
  // one token replaced (a near dup); 30 sub-shingle pages drawn from 8
  // short texts; two empty and two null texts
  def seededPages: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 50).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val long = (0 until 60).flatMap { i =>
      val toks = words(24)
      val text = toks.mkString(" ")
      Seq(page(f"https://p/$i%02d/a", text)) ++
        (if (i % 3 == 0) Seq(page(f"https://p/$i%02d/b", text)) else Nil) ++
        (if (i % 5 == 0) Seq(page(f"https://p/$i%02d/d", text.toUpperCase.replace(" ", "  ")))
        else Nil) ++
        (if (i % 4 == 0) Seq(page(f"https://p/$i%02d/c",
          toks.updated(rnd.nextInt(24), "zz").mkString(" ")))
        else Nil)
    }
    val shorts = Seq.fill(8)(words(1 + rnd.nextInt(2)).mkString(" "))
    val short = (0 until 30).map(i => page(f"https://s/$i%02d", shorts(rnd.nextInt(8))))
    val odd = Seq(page("https://e/1", ""), page("https://e/2", ""),
      Page("https://n/1", new Timestamp(0L), Array.emptyByteArray, null, "en"),
      Page("https://n/2", new Timestamp(0L), Array.emptyByteArray, null, "en"))
    rnd.shuffle(long ++ short ++ odd).toDF()
  }

  /** Order-insensitive, multiplicity-keeping digest of a url column. */
  def digest(df: DataFrame): String = {
    val rows = df.as[String].collect().sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    s"${rows.length}:" + md.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  test("pinned drop sets on a seeded corpus: exact and minhash") {
    // digests recorded with the checkpointed keeper-join implementation
    val expected = Map("exact" -> "55:f518d181f31aa449", "minhash" -> "55:2fbe4b0921496d33")
    val pages = seededPages
    val got = Seq("exact", "minhash").map(m => m -> digest(PageDedup.droppedUrls(pages, m))).toMap
    assert(got == expected)
  }

  test("building a drop set starts no Spark job") {
    val pages = seededPages
    val jobs = TestBus.jobsDuring(spark.sparkContext) {
      PageDedup.droppedUrls(pages, "minhash")
      PageDedup.droppedUrls(pages, "exact")
    }
    assert(jobs.isEmpty)
  }

  test("pipeline P/R unchanged with minhash dedup on the fixture") {
    val cfg = Fixtures.tiny
    val res = graft.pipeline.KgPipeline.runWith(
      spark, graft.pipeline.KgPipeline.fixtureInputs(spark, cfg), dedup = "minhash")
    val got = graft.pipeline.KgPipeline.outputTriples(res)
    val want = Fixtures.expectedTriples(spark, cfg).toDF()
    val hit = got.join(want, Seq("subject", "predicate", "object"), "left_semi").count()
    // near-dup banding may drop a few legitimately similar fixture pages;
    // precision must hold exactly, recall nearly
    assert(hit.toDouble / got.count() >= 0.95)
    assert(hit.toDouble / want.count() >= 0.90)
  }

  test("NgramJaccard: candidateBound parameterized; None == bound above max id") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d x y"), // share shingles
      (250L, "a b c d e f"), // above the fixture default bound
      (3L, "p q r s t u")) // no shared shingles
      .toDF("doc_id", "text")
    val bounded = graft.dedup.NgramJaccard.pairs(docs, 0.02, Some(200L))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(bounded.map(p => (p._1, p._2)) == Set((1L, 2L)))
    val unbounded = graft.dedup.NgramJaccard.pairs(docs, 0.02, None)
      .as[(Long, Long, Long, Double)].collect().toSet
    // doc 250 duplicates doc 1 exactly: unbounded finds the pair the
    // bound excluded, and a bound past the max id is identical to None
    assert(unbounded.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 250L), (2L, 250L)))
    val wide = graft.dedup.NgramJaccard.pairs(docs, 0.02, Some(10000L))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(wide == unbounded)
    // threshold is a parameter too: jaccard(1,250) = 1.0 survives 0.5
    val strict = graft.dedup.NgramJaccard.pairs(docs, 0.5, None)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(strict.map(p => (p._1, p._2)) == Set((1L, 250L)))
  }

  test("q81 collapse == raw pair-graph CC, incl. sub-shingle identical copies") {
    import org.apache.spark.sql.functions.{coalesce, col, concat, count, element_at, lit}
    // differential test of the r7 rep-graph collapse against the raw
    // (pre-r7) formulation, on the one branch the driver fixture can't
    // exercise: byte-identical copies SHORTER than a 3-shingle have no
    // minhash signature, never pair in the raw graph, and must remain
    // SEPARATE singleton clusters — the collapse is forbidden from
    // merging them even though their md5(text) matches.
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val y = x + " omega" // near-dup of x (may or may not band-collide)
    val docs = Seq(
      (1L, "a b"), (2L, "a b"), // identical, sub-shingle: two singletons
      (10L, x), (11L, x), (12L, x), // identical long copies: one cluster
      (20L, y),
      (30L, "completely different words about shuffles joins and windows"))
      .toDF("doc_id", "text")
    // raw reference: bands over ALL docs (copies included) -> pairs ->
    // CC -> attach -> sizes — the exact pre-r7 shape
    val sig = docs.select(col("doc_id"),
        graft.functions.Md5MinHash.of(col("text"), n = 3, k = 2).as("sg"))
      .filter(col("sg").isNotNull)
      .select(col("doc_id"), element_at(col("sg"), 1).as("s0"),
        element_at(col("sg"), 2).as("s1"))
    val bands = sig.select(col("doc_id"), concat(lit("0:"), col("s0")).as("band"))
      .unionAll(sig.select(col("doc_id"), concat(lit("1:"), col("s1")).as("band")))
    val pairs = bands.join(bands.withColumnRenamed("doc_id", "id2"), Seq("band"))
      .filter(col("doc_id") < col("id2"))
      .select(col("doc_id").as("src"), col("id2").as("dst")).distinct()
    val cc = graft.canon.ConnectedComponents.run(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster"))
    val allRaw = docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
    val szRaw = allRaw.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
    val expected = allRaw.join(szRaw, Seq("cluster"))
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("keep"), col("n_cluster"))
      .as[(Long, Long, Boolean, Long)].collect().toSet
    val got = TestSpark.withTempDir("q81diff") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SparkEntry.queries("q81_dedup_clusters")(spark, dir)
        .as[(Long, Long, Boolean, Long)].collect().toSet
    }
    assert(got == expected)
    // and the branch under test really is exercised as claimed
    assert(got.contains((1L, 1L, true, 1L)) && got.contains((2L, 2L, true, 1L)),
      "sub-shingle identical copies must stay separate singletons")
    // (cluster size left open: whether the near-dup y band-collides
    // with the x class is a hash accident the differential assert
    // above already covers)
    assert(got.exists(t => t._1 == 10L && t._2 == 10L && t._3) &&
      got.exists(t => t._1 == 11L && t._2 == 10L && !t._3) &&
      got.exists(t => t._1 == 12L && t._2 == 10L && !t._3),
      "identical long copies must collapse to the min-id cluster")
  }

  test("q88 collapse is lossless: rep pairs x multiplicities + intra-class == raw pairs") {
    import org.apache.spark.sql.functions.{col, count, lit, md5, min}
    // the theorem behind q88_dup_aware_neardup: byte-identical copies
    // share a simhash (every band collides, hamming 0), so the RAW
    // banded pair set over the full corpus equals the rep-level pair
    // set expanded by copy multiplicities plus each class's internal
    // c*(c-1)/2 pairs. Corpus: class A with 3 copies, its near-dup
    // class B with 2 copies, one far singleton.
    // 35 tokens keep the per-bit vote margins wide enough that a single
    // token swap moves the fingerprint by hamming 1 (verified): a real
    // near-dup, not an exact copy
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi " +
      "omicron pi rho sigma tau upsilon phi chi psi omega one two three four five " +
      "six seven eight nine ten"
    val b = "zebra" + a.stripPrefix("alpha") // near-dup of A
    val far = "completely different words about catalyst shuffles joins and parquet files"
    val docs = Seq(
      (1L, a), (11L, a), (21L, a),
      (2L, b), (12L, b),
      (3L, far)).toDF("doc_id", "text")
    def banded(d: org.apache.spark.sql.DataFrame) =
      graft.functions.SimHash.bandedPairs(
        d.select(col("doc_id"), graft.functions.Md5SimHash.of(col("text")).as("sh")))
        .as[(Long, Long, Int)].collect()
    val raw = banded(docs)
    val classes = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("rep"), count(lit(1)).as("copies"))
    val repOf = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(classes, "fp").select(col("doc_id"), col("rep"))
      .as[(Long, Long)].collect().toMap
    val copiesOf = classes.select(col("rep"), col("copies"))
      .as[(Long, Long)].collect().toMap
    val collapsed = banded(docs.filter(col("doc_id").isin(copiesOf.keys.toSeq: _*)))
    // the near-dup classes must actually collide for the test to bite
    assert(collapsed.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // intra-class raw pairs are hamming 0 without exception
    raw.foreach { case (i, j, h) => if (repOf(i) == repOf(j)) assert(h == 0) }
    // multiset equality: raw pairs grouped by (rep(i), rep(j)) ==
    // {rep pair -> copies1*copies2} ++ {(r, r) -> c*(c-1)/2}
    val grouped = raw.groupBy { case (i, j, _) =>
      val (x, y) = (repOf(i), repOf(j)); if (x < y) (x, y) else (y, x)
    }.view.mapValues(_.length.toLong).toMap
    val expected =
      collapsed.map { case (i, j, _) => (i, j) -> copiesOf(i) * copiesOf(j) }.toMap ++
        copiesOf.collect { case (r, c) if c > 1 => (r, r) -> c * (c - 1) / 2 }
    assert(grouped == expected)
  }
}
