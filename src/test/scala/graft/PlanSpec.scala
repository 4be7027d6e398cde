package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.TripleExtract
import graft.fixtures.Fixtures
import graft.link.EntityLink
import graft.pipeline.KgPipeline

/** Physical-plan audits: the scale disciplines the builder prompt calls
  * out (pushdown, broadcast, no gratuitous shuffles, codegen) asserted
  * against the actual plans so they can't silently regress.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan: filter pushed down, columns pruned") {
    val df = SparkEntry.queries("q01_scan_project")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"),
      s"missing pushdown:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice"), "projection not pruned to used columns")
  }

  test("dimension joins are broadcast, not shuffled") {
    val plan = planOf(SparkEntry.queries("q07_node_lookup_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$plan")
  }

  test("link stage: zero shuffles, broadcast dictionary, codegen") {
    val inputs = KgPipeline.fixtureInputs(spark, Fixtures.tiny)
    val linked = EntityLink.link(
      TripleExtract.assertions(inputs.pages), inputs.aliasDict, inputs.entityKeywords)
    val plan = planOf(linked)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the big (mention) side must not shuffle. Exchanges inside the
    // broadcast dictionary build (tiny side) are fine; the plan prints
    // pre-order with the probe/mention subtree BEFORE the first
    // BroadcastExchange, so any probe-side shuffle would appear there.
    val probeSide = plan.substring(0, plan.indexOf("BroadcastExchange"))
    assert(!probeSide.contains("Exchange hashpartitioning") &&
      !probeSide.contains("Exchange rangepartitioning"),
      s"link stage shuffles the mention table:\n$plan")
    // note: the argmax uses higher-order `aggregate`/`transform`
    // (CodegenFallback) so this operator is interpreted by design; the
    // regex-heavy extraction below stays in whole-stage codegen.
  }

  test("extraction is a narrow codegen pipeline over the scan (no Exchange)") {
    val inputs = KgPipeline.fixtureInputs(spark, Fixtures.tiny)
    val df = TripleExtract.assertions(inputs.pages)
    df.count() // resolve AQE final plan
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"extraction shuffles:\n$plan")
    // codegen'd operators print as "*(n) Op" in the final plan string
    assert(plan.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"extraction fell out of codegen:\n$plan")
  }

  test("CC distributed path shuffles long-typed keys (dictionary-encoded)") {
    import spark.implicits._
    val edges = Seq(("CHEBI:1", "MONDO:2"), ("MONDO:2", "HP:3")).toDF("src", "dst")
    val (encoded, dict) = graft.canon.ConnectedComponents.encodeEdges(edges)
    assert(encoded.schema.fields.map(_.dataType.typeName).toSeq == Seq("long", "long"),
      "star-round shuffle keys must be 8-byte longs, not strings")
    assert(dict.columns.toSeq == Seq("k", "id"))
    // order-isomorphism: ids follow lexicographic key order, so min-id
    // roots decode to min-string roots
    val d = dict.as[(String, Long)].collect().sortBy(_._2).map(_._1).toSeq
    assert(d == d.sorted)
    // banded SimHash (q48) plans with NO cartesian product
    val q48 = planOf(SparkEntry.queries("q48_simhash_neardup")(spark, sf))
    assert(!q48.contains("CartesianProduct"), s"q48 must be banded, not all-pairs:\n$q48")
    // Banding.pairs emits each pair once: no pair-level distinct
    // (q48 and q40 have no other aggregate)
    val q40 = planOf(SparkEntry.queries("q40_minhash_lsh")(spark, sf))
    for (p <- Seq(q48, q40))
      assert(!p.contains("HashAggregate"), s"pair set is aggregated:\n$p")
  }

  test("Ids.dictionary: distributed ranking, no single-partition global sort") {
    import spark.implicits._
    // enough keys that a one-task sort would be a real bottleneck shape
    val keys = (0 until 5000).map(i => f"K:${(i * 2654435761L) % 1000000}%07d").distinct
    // driverRows = 0 forces the distributed ranking (the adaptive
    // default would window-sort a 5000-key set on one task, by design)
    val dict = TestSpark.withDriverRows(0)(graft.core.Ids.dictionary(keys.toDF("k"), "k"))
    val plan = planOf(dict)
    assert(!plan.contains("SinglePartition"),
      s"dictionary ranking funnels through one task:\n$plan")
    // ids are dense 1..n following lexicographic key order (the CC
    // min-root order-isomorphism depends on this)
    val got = dict.as[(String, Long)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == (1L to keys.length).toSeq)
    assert(got.map(_._1).toSeq == keys.sorted.toSeq)
    // the adaptive small path must produce IDENTICAL ids
    val small = graft.core.Ids.dictionary(keys.toDF("k"), "k")
      .as[(String, Long)].collect().sortBy(_._2)
    assert(small.toSeq == got.toSeq, "small-path ids diverge from distributed ids")
    // the CC encode path (which routes every node of an arbitrary graph
    // through the dictionary) must inherit the distributed ranking
    val edges = keys.sliding(2).map(p => (p.head, p.last)).toSeq.toDF("src", "dst")
    val (encoded, _) = graft.canon.ConnectedComponents.encodeEdges(edges)
    assert(!planOf(encoded).contains("SinglePartition"),
      "encodeEdges funnels the node set through one task")
  }

  test("q57 ranking protocol: hash-indexed picks, no test x entities cross join") {
    import spark.implicits._
    val edges = (0 until 500).map(i =>
      (s"s${i % 40}", s"p${i % 3}", s"o${i % 60}")).toDF("subject", "predicate", "object")
    val df = graft.prune.Sampling.rankingBlocks(edges, nTest = 8, blockSize = 10)
    val plan = planOf(df)
    // the only permitted cross join is the 1-row entity count; the
    // old full-entity candidate generation planned a CartesianProduct
    assert(!plan.contains("CartesianProduct"),
      s"rankingBlocks pairs every test edge with every entity:\n$plan")
  }

  test("salted join plans as a non-broadcast equi-join on the salted key") {
    import spark.implicits._
    val big = (0 until 1000).map(i => ("k" + i % 3, i)).toDF("k", "v")
    val small = (0 until 3).map(i => ("k" + i, i)).toDF("k", "w")
    // disable auto-broadcast to model the big-dimension case salting targets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(graft.link.SkewJoin.salted(big, small, Seq("k"), 4, Seq(col("v"))))
      assert(plan.contains("__salt") && (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")),
        s"salted join not a shuffled equi-join on (k, __salt):\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q77 chunk dedup: document text never shuffles") {
    val df = SparkEntry.queries("q77_cdc_chunk_dedup")(spark, sf)
    val plan = planOf(df)
    // the only exchange is the (chash) aggregation over small
    // (hash, len, doc_id) rows — chunk/document text must be cut and
    // hashed map-side, never serialized through a shuffle
    val exchanges = plan.split("\\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, s"expected a chash aggregation exchange:\n$plan")
    exchanges.foreach { e =>
      assert(e.contains("chash"), s"unexpected shuffle key: $e")
      assert(!e.contains("text") && !e.contains("chunk"),
        s"document/chunk text crosses a shuffle: $e")
    }
  }

  test("q79/q80: the corpus is tokenized exactly once (checkpointed tf)") {
    // r4 paid the text-column explode 2-3x per query (separate tf/df/dl
    // subtrees). The tf aggregate is now pinned with an eager
    // localCheckpoint — the ONLY Generate runs once inside the
    // checkpoint job, and the final plan derives df and the join probe
    // from the checkpoint scan (ExistingRDD): zero Generates may remain
    // in the final plan, and the df attachment must be a join (AQE
    // skew-splittable), never a term-partitioned window (a hot term
    // would single-partition at corpus scale)
    Seq("q79_tfidf_top_terms", "q80_bm25_search").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      val nGenerate = plan.split("\\n").count(_.contains("Generate explode"))
      assert(nGenerate == 0, s"$q: expected 0 Generate explode (tokenize " +
        s"must happen once inside the checkpoint job), got $nGenerate:\n$plan")
      assert(plan.contains("ExistingRDD"), s"$q: no checkpoint scan:\n$plan")
      // the doc_id-partitioned top-k window (q79) is fine; a
      // term-partitioned one is not
      assert(!plan.contains("windowspecdefinition(term"),
        s"$q: df must not ride a term-partitioned window:\n$plan")
    }
  }

  test("q86 blend fit: weights return via broadcast NL join, stats aggregate once") {
    val plan = planOf(SparkEntry.queries("q86_blend_fit")(spark, sf))
    // the 1-row weight frame must come back as a broadcast, never a
    // shuffled join of the corpus against itself
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), s"weights crossJoin degraded:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fit shuffled the corpus:\n$plan")
    // sufficient statistics: partial HashAggregate below the exchange
    // (integer sums are map-side combinable by construction)
    val firstExchange = plan.indexOf("Exchange")
    assert(plan.indexOf("HashAggregate") >= 0 && firstExchange > 0, plan)
  }

  test("prune evidence aggregation is two-phase (partial before shuffle)") {
    import spark.implicits._
    val linked = Seq(("s", "p", "o", "u", 0.9)).toDF("subject", "predicate", "object", "url", "link_conf")
    val plan = planOf(graft.prune.AssertionPruning.evidence(linked))
    // map-side combine: a HashAggregate must appear BELOW the first Exchange
    val firstExchange = plan.indexOf("Exchange")
    val aggBelow = plan.indexOf("HashAggregate", firstExchange)
    val aggAbove = plan.lastIndexOf("HashAggregate")
    assert(firstExchange > 0 && aggBelow > 0 && aggAbove > 0, plan)
    assert(plan.indexOf("HashAggregate") < firstExchange || aggBelow > firstExchange,
      s"no partial aggregation before shuffle:\n$plan")
  }

  test("q88 dup-aware near-dup: document text never shuffles") {
    val df = SparkEntry.queries("q88_dup_aware_neardup")(spark, sf)
    val plan = planOf(df)
    // the final plan reads the two checkpointed narrow frames (classes
    // + rep fingerprints); text was consumed inside their checkpoint
    // jobs and must not appear in any remaining exchange
    val exchanges = plan.split("\\n").filter(_.contains("Exchange"))
    exchanges.foreach { e =>
      assert(!e.contains("text"), s"document text crosses a shuffle: $e")
    }
  }

  test("q90 decontamination: benchmark side broadcasts, no pair materialization") {
    val plan = planOf(SparkEntry.queries("q90_decontaminate")(spark, sf))
    // the contamination check must be a LeftSemi against the BROADCAST
    // benchmark shingle set — an inner/sort-merge pair join would
    // materialize (train shingle x bench shingle) rows at corpus scale
    val semiLines = plan.split("\\n").filter(_.contains("LeftSemi"))
    assert(semiLines.nonEmpty && semiLines.forall(_.contains("BroadcastHashJoin")),
      s"benchmark overlap is not a broadcast semi join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
