package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Ids
import graft.fixtures.Fixtures
import graft.link.SkewJoin
import graft.prune.{AntiJoinReconcile, AssertionPruning, Splits}

class PruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ----------------------------------------------------- pruning contract

  test("uncertainty formula: documented example score 0.52 -> 0.96") {
    // reference /root/reference/src/gnn/README_HITL.md:150-158
    val scored = Seq(
      ("e1", "s", "p", "o", 1L, 0.9, 1.0, 1.0, 2L, 0.52),
      ("e2", "s", "p", "o", 1L, 0.9, 1.0, 1.0, 2L, 0.99),
      ("e3", "s", "p", "o", 1L, 0.9, 1.0, 1.0, 2L, 0.07))
      .toDF("edge_id", "subject", "predicate", "object",
        "support", "conf", "type_ok", "card_ok", "subj_degree", "score")
    val review = AssertionPruning.reviewQueue(scored, 3).collect()
    val byId = review.map(r => r.getAs[String]("edge_id") -> r.getAs[Double]("uncertainty")).toMap
    assert(math.abs(byId("e1") - 0.96) < 1e-9)
    // ordering: most uncertain first
    assert(review.map(_.getAs[String]("edge_id")).head == "e1")
    assert(review.forall(_.getAs[String]("status") == "pending"))
  }

  test("threshold filter keeps exactly score >= thr (score_all_edges.py:152-155)") {
    val scored = (1 to 100).map(i =>
      (s"e$i", "s", "p", s"o$i", 1L, 1.0, 1.0, 1.0, 1L, i / 100.0))
      .toDF("edge_id", "subject", "predicate", "object",
        "support", "conf", "type_ok", "card_ok", "subj_degree", "score")
    val kept = AssertionPruning.prune(scored, 0.6)
    assert(kept.count() == 41) // 0.60 .. 1.00 inclusive
    assert(kept.agg(min("score")).as[Double].head() >= 0.6)
  }

  test("type-violating triples score below threshold; valid ones above") {
    val cfg = Fixtures.tiny
    val ontology = Fixtures.ontology(spark, cfg)
    // valid: CHEBI treats MONDO; garbage: CHEBI treats GO (obj not allowed)
    val linked = Seq(
      ("CHEBI:10002", "biolink:treats", "MONDO:10000", "u1", 0.8),
      ("CHEBI:10002", "biolink:treats", "GO:10003", "u1", 0.8))
      .toDF("subject", "predicate", "object", "url", "link_conf")
    val scored = AssertionPruning.score(linked, ontology)
    val good = scored.where($"object" === "MONDO:10000").select("score").as[Double].head()
    val bad = scored.where($"object" === "GO:10003").select("score").as[Double].head()
    assert(good >= AssertionPruning.defaultThreshold)
    assert(bad < AssertionPruning.defaultThreshold)
  }

  test("functional-predicate cardinality window penalizes multi-object subjects") {
    val cfg = Fixtures.tiny
    val ontology = Fixtures.ontology(spark, cfg)
    // located_in is functional; HGNC:x located_in two GOs
    val linked = Seq(
      ("HGNC:10001", "biolink:located_in", "GO:10003", "u1", 0.9),
      ("HGNC:10001", "biolink:located_in", "GO:10008", "u2", 0.9),
      ("HGNC:10006", "biolink:located_in", "GO:10003", "u3", 0.9))
      .toDF("subject", "predicate", "object", "url", "link_conf")
    val scored = AssertionPruning.score(linked, ontology)
    val multi = scored.where($"subject" === "HGNC:10001").select("card_ok").as[Double].collect()
    val single = scored.where($"subject" === "HGNC:10006").select("card_ok").as[Double].collect()
    assert(multi.forall(_ == 0.5))
    assert(single.forall(_ == 1.0))
  }

  test("evidence counts distinct supporting urls (map-side-combinable path)") {
    val linked = Seq(
      ("A:1", "p", "B:1", "u1", 0.7),
      ("A:1", "p", "B:1", "u1", 0.9), // same url twice
      ("A:1", "p", "B:1", "u2", 0.6))
      .toDF("subject", "predicate", "object", "url", "link_conf")
    val ev = AssertionPruning.evidence(linked).collect()
    assert(ev.length == 1)
    assert(ev.head.getAs[Long]("support") == 2L)
    assert(ev.head.getAs[Double]("conf") == 0.9)
  }

  test("score: broadcast-degree fast path == salted-join path") {
    val cfg = Fixtures.tiny
    val ontology = Fixtures.ontology(spark, cfg)
    val linked = Seq(
      ("CHEBI:10002", "biolink:treats", "MONDO:10000", "u1", 0.8),
      ("CHEBI:10002", "biolink:treats", "HP:10004", "u2", 0.7),
      ("HGNC:10001", "biolink:causes", "MONDO:10000", "u3", 0.9))
      .toDF("subject", "predicate", "object", "url", "link_conf")
    val auto = AssertionPruning.score(linked, ontology)
      .collect().map(_.toString).sorted.toSeq
    val fast = AssertionPruning.score(linked, ontology, degJoin = "broadcast")
      .collect().map(_.toString).sorted.toSeq
    val salted = AssertionPruning.score(linked, ontology, degJoin = "salted")
      .collect().map(_.toString).sorted.toSeq
    assert(fast == salted)
    assert(auto == salted)
    assertThrows[IllegalArgumentException](
      AssertionPruning.score(linked, ontology, degJoin = "bogus"))
  }

  test("hashSample boundary fractions: 1.0 keeps all rows, 0.0 keeps none") {
    // ADVICE r1: bound "10000" (5 chars) compared lexicographically against
    // 4-char prefixes excluded high-hash rows at fraction 1.0
    val df = (1 to 500).map(i => (i, s"k$i")).toDF("id", "k")
    assert(graft.prune.Sampling.hashSample(df, Seq(col("k")), 1.0, 7L).count() == 500)
    assert(graft.prune.Sampling.hashSample(df, Seq(col("k")), 0.9999999, 7L).count() == 500)
    assert(graft.prune.Sampling.hashSample(df, Seq(col("k")), 0.0, 7L).count() == 0)
    val half = graft.prune.Sampling.hashSample(df, Seq(col("k")), 0.5, 7L).count()
    assert(half > 200 && half < 300)
  }

  // ------------------------------------------------- anti-join reconcile

  /** The reference's own anti+semi form (Edge_Assignor.ipynb cell 20):
    * original rows whose (subject, object) pair is not refilled, plus the
    * refilled rows whose pair is original. It is the oracle that
    * [[AntiJoinReconcile.reconcileUnique]] must match on key-unique
    * inputs.
    */
  private def reconcileAntiSemi(original: DataFrame, refilled: DataFrame): DataFrame = {
    val key = Seq("subject", "object")
    val keepOriginal = original.join(refilled.select(key.map(col): _*).distinct(),
      key, "left_anti")
    val takeRefilled = refilled.join(original.select(key.map(col): _*).distinct(),
      key, "left_semi")
    keepOriginal.select("subject", "predicate", "object")
      .unionAll(takeRefilled.select("subject", "predicate", "object"))
  }

  /** q06's reconcile plus the reference's row-count invariant (cell 20
    * l.81-85): the output has exactly as many rows as the original.
    */
  private def reconcileChecked(original: DataFrame, refilled: DataFrame): DataFrame = {
    val out = AntiJoinReconcile.reconcileUnique(original, refilled)
    val (n0, n1) = (original.count(), out.count())
    assert(n0 == n1, s"anti-join reconciliation changed row count: original=$n0 output=$n1")
    out
  }

  test("anti-join reconciliation: row count conserved, refilled pairs win") {
    val orig = Seq(
      ("s1", "orig_p", "o1"), ("s2", "orig_p", "o2"), ("s3", "orig_p", "o3"))
      .toDF("subject", "predicate", "object")
    val refilled = Seq(
      ("s2", "new_p", "o2"), ("s9", "new_p", "o9")) // s9 not in orig: dropped
      .toDF("subject", "predicate", "object")
    val out = reconcileChecked(orig, refilled)
    val rows = out.as[(String, String, String)].collect().toSet
    assert(rows == Set(
      ("s1", "orig_p", "o1"), ("s2", "new_p", "o2"), ("s3", "orig_p", "o3")))
  }

  test("anti-join algebra property: anti ⊎ semi ≡ original keys (seeded)") {
    (0 until 5).foreach { trial =>
      val orig = (0 until 50).map { i =>
        val h = Ids.mix64(trial * 77L + i)
        (s"s${math.abs(h % 20)}", "p0", s"o${math.abs(Ids.mix64(h) % 20)}")
      }.distinct.toDF("subject", "predicate", "object")
      val refilled = (0 until 30).map { i =>
        val h = Ids.mix64(trial * 991L + i + 7)
        (s"s${math.abs(h % 20)}", "p1", s"o${math.abs(Ids.mix64(h) % 20)}")
      }.distinct.toDF("subject", "predicate", "object")
      val out = reconcileAntiSemi(orig, refilled)
      // key multiset of output == key multiset of original
      val k0 = orig.select("subject", "object").as[(String, String)].collect().sorted.toSeq
      val k1 = out.select("subject", "object").as[(String, String)].collect().sorted.toSeq
      assert(k0 == k1, s"trial $trial")
      // r8 differential: the single-left-join form is row-for-row the
      // anti+semi pair on key-unique inputs (both sides are here)
      val viaJoin = AntiJoinReconcile.reconcileUnique(orig, refilled)
        .as[(String, String, String)].collect().sorted.toSeq
      val viaAntiSemi = out.as[(String, String, String)].collect().sorted.toSeq
      assert(viaJoin == viaAntiSemi, s"trial $trial")
    }
  }

  // -------------------------------------------------------------- splits

  test("seeded split: deterministic, 70/15/15 ratios within tolerance") {
    val triples = (0 until 2000).map(i => (s"s$i", "p", s"o$i"))
      .toDF("subject", "predicate", "object")
    // no separate leakage check: a triple's split is a function of the
    // triple alone (Splits scaladoc)
    val withSplit = Splits.assign(triples)
    val counts = withSplit.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") / 2000.0 - 0.70) < 0.05)
    assert(math.abs(counts("valid") / 2000.0 - 0.15) < 0.04)
    assert(math.abs(counts("test") / 2000.0 - 0.15) < 0.04)
    // determinism
    val again = Splits.assign(triples).groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("new-entity triage: unseen vocabulary moves to train; no unseen entity survives") {
    // train knows {a,b,p}; valid v1 is covered, v2 brings new entity c;
    // test t1 is covered only thanks to v2's move (c now in train),
    // t2 brings new relation q and must move
    val rows = Seq(
      ("a", "p", "b", "train"),
      ("a", "p", "b2", "valid"), // unseen b2 -> moves
      ("b", "p", "a", "valid"), // covered -> stays
      ("a", "p", "b2", "test"), // covered AFTER valid move -> stays
      ("a", "q", "b", "test")) // unseen relation -> moves
      .toDF("subject", "predicate", "object", "split")
    val out = Splits.triageNewEntities(rows)
      .as[(String, String, String, String)].collect().toSet
    assert(out == Set(
      ("a", "p", "b", "train"),
      ("a", "p", "b2", "train"),
      ("b", "p", "a", "valid"),
      ("a", "p", "b2", "test"),
      ("a", "q", "b", "train")))
    // invariant (clean_data.py net guarantee): every valid/test entity and
    // relation is in the final train vocabulary
    val outDf = Splits.triageNewEntities(rows)
    val train = outDf.filter(col("split") === "train")
    val trainVocab = train.select(col("subject").as("v"))
      .unionAll(train.select(col("object").as("v")))
      .unionAll(train.select(col("predicate").as("v")))
      .as[String].collect().toSet
    val evalRows = outDf.filter(col("split") =!= "train")
      .as[(String, String, String, String)].collect()
    assert(evalRows.forall(r =>
      trainVocab(r._1) && trainVocab(r._2) && trainVocab(r._3)))
  }

  test("ranking protocol 50+50: block shape, rejection rules, determinism") {
    val edges = (0 until 60).map(i =>
      (s"s${i % 12}", s"p${i % 3}", s"o${i % 20}")).toDF("subject", "predicate", "object")
    val blocks = graft.prune.Sampling.rankingBlocks(edges, nTest = 8, blockSize = 10)
    val rows = blocks.collect()
    // two sides per test edge
    assert(rows.length == 16)
    assert(rows.forall(_.getAs[Long]("block_size") <= 10))
    assert(rows.forall(r => r.getAs[Long]("rnk") >= 1 &&
      r.getAs[Long]("rnk") <= r.getAs[Long]("block_size")))
    // deterministic
    val again = graft.prune.Sampling.rankingBlocks(edges, nTest = 8, blockSize = 10).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("ranking deficit regeneration: attemptFactor=1 fills via rounds") {
    // 32 entities / blockSize 10: one 9-attempt round under-fills after
    // rejection; the bounded fill rounds must close the deficit
    val edges = (0 until 64).map(i =>
      (s"s${i % 16}", s"p${i % 2}", s"o${i % 16 + 16}")).toDF("subject", "predicate", "object")
    val lowAtt = graft.prune.Sampling.rankingBlocks(
      edges, nTest = 8, blockSize = 10, attemptFactor = 1, fillRounds = 4)
      .collect()
    assert(lowAtt.forall(_.getAs[Long]("block_size") == 10L),
      s"under-filled blocks remain: ${lowAtt.map(_.getAs[Long]("block_size")).mkString(",")}")
    // adaptive rounds == one-shot over the same total attempt budget
    // (1x4 rounds vs 4x1 round, both 36 attempts): row-identical, so
    // the DuckDB oracle's one-shot form stays the Spark semantics
    val oneShot = graft.prune.Sampling.rankingBlocks(
      edges, nTest = 8, blockSize = 10, attemptFactor = 4, fillRounds = 1)
      .collect()
    assert(lowAtt.map(_.toString).sorted.toSeq == oneShot.map(_.toString).sorted.toSeq)
  }

  // ------------------------------------------------------------ skew join

  test("salted join result is identical to the plain join (seeded skew)") {
    val big = (0 until 3000).map { i =>
      val key = if (i % 5 != 0) "hub" else s"k${i % 97}" // 80% hub skew
      (key, i.toLong)
    }.toDF("k", "payload")
    val small = (Seq("hub") ++ (0 until 97).map(i => s"k$i")).zipWithIndex
      .toDF("k", "v")
    val plain = big.join(small, Seq("k")).select("k", "payload", "v")
      .as[(String, Long, Int)].collect().sorted.toSeq
    val salted = SkewJoin.salted(big, small, Seq("k"), 8, Seq(col("payload")))
      .select("k", "payload", "v")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(salted == plain)
  }

  // ----------------------------------------------------- trained blend fit

  test("fitBlend recovers exact weights when the label is exactly linear") {
    // y = 2a + 3b exactly => least squares is exact: u1=2, u2=3, so in
    // normalized-score space w1 = d1*2 = 20, w2 = d2*3 = 21, residual 0
    val g = (0 until 200).map { i =>
      val a = (i * 7 + 3) % 10L
      val b = (i * 5 + 1) % 7L
      (s"s$i", "p", s"o$i", a, b, 2 * a + 3 * b)
    }.toDF("subject", "predicate", "object", "a", "b", "y")
    val out = graft.prune.Ensemble.fitBlend(g, 10, 7)
    val rows = out.collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      assert(r.getAs[Double]("w1") == 20.0, s"w1=${r.getAs[Double]("w1")}")
      assert(r.getAs[Double]("w2") == 21.0, s"w2=${r.getAs[Double]("w2")}")
      // perfect fit: blended score reproduces the integer label 2a + 3b
      // (recover a, b from the 6dp-rounded s columns before scaling —
      // comparing against s2*7 directly re-amplifies the rounding)
      val a = math.round(r.getAs[Double]("s1") * 10)
      val b = math.round(r.getAs[Double]("s2") * 7)
      assert(math.abs(r.getAs[Double]("score") - (2.0 * a + 3.0 * b)) < 1e-6)
    }
  }

  test("fitBlend: collinear feature columns raise loudly, not null weights") {
    // b = 2a exactly => det = Saa*Sbb - Sab^2 = 0: Spark would emit
    // null weights (and DuckDB version-dependently null/inf) — the
    // guard must turn the silent parity divergence into a hard error
    val g = (0 until 50).map { i =>
      val a = (i * 7 + 3) % 10L
      (s"s$i", "p", s"o$i", a, 2 * a, a)
    }.toDF("subject", "predicate", "object", "a", "b", "y")
    val ex = intercept[Exception] {
      graft.prune.Ensemble.fitBlend(g, 10, 20).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("singular normal equations")),
      s"expected the det=0 raise, got: ${messages(ex).mkString(" | ")}")
  }

  test("fitBlend on a 0/1 label: weights finite, score = w1*s1 + w2*s2") {
    val g = (0 until 300).map { i =>
      val a = (i * 11 + 2) % 10L
      val b = (i * 13 + 5) % 7L
      val y = if ((a + 2 * b) % 3 == 0) 1L else 0L
      (s"s$i", "p", s"o$i", a, b, y)
    }.toDF("subject", "predicate", "object", "a", "b", "y")
    val rows = graft.prune.Ensemble.fitBlend(g, 10, 7).collect()
    assert(rows.length == 300)
    val w1 = rows.head.getAs[Double]("w1")
    val w2 = rows.head.getAs[Double]("w2")
    assert(!w1.isNaN && !w1.isInfinite && !w2.isNaN && !w2.isInfinite)
    assert(rows.forall(r => r.getAs[Double]("w1") == w1)) // one global fit
    rows.foreach { r =>
      val s = r.getAs[Double]("score")
      val recomputed = w1.*(r.getAs[Double]("s1")) + w2.*(r.getAs[Double]("s2"))
      assert(math.abs(s - recomputed) < 2e-6, s"score=$s recomputed=$recomputed")
    }
  }
}
