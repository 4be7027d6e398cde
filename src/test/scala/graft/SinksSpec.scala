package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.prune.{Ensemble, Sampling}
import graft.sources.Sinks

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val triples = Seq(
    ("A:1", "p1", "B:1"), ("A:2", "p2", "B:2"), ("A:3", "p1", "B:3"))

  def tmp(): String = Files.createTempDirectory("graft-sink").toString

  test("tsv / csv / nt exports round-trip") {
    val df = triples.toDF("subject", "predicate", "object")
    val dir = tmp()
    Sinks.exportTriples(df, s"$dir/t.tsv", "tsv")
    val tsv = spark.read.option("sep", "\t").csv(s"$dir/t.tsv")
    assert(tsv.count() == 3 && tsv.columns.length == 3)
    Sinks.exportTriples(df, s"$dir/t.csv", "csv")
    val csv = spark.read.option("header", "true").csv(s"$dir/t.csv")
    assert(csv.columns.toSeq == Seq("subject", "predicate", "object"))
    Sinks.exportTriples(df, s"$dir/t.nt", "nt")
    val nt = spark.read.text(s"$dir/t.nt").as[String].collect()
    assert(nt.forall(_.matches("<.*> <.*> <.*> \\.")))
    assertThrows[IllegalArgumentException](Sinks.exportTriples(df, dir, "xml"))
  }

  test("jsonl score export honors threshold and triplet shape") {
    val scored = Seq(("e1", "A:1", "p1", "B:1", 0.9), ("e2", "A:2", "p1", "B:2", 0.2))
      .toDF("edge_id", "subject", "predicate", "object", "score")
    val dir = tmp()
    Sinks.exportScoresJsonl(scored, s"$dir/scores", Some(0.5))
    val back = spark.read.json(s"$dir/scores")
    assert(back.count() == 1)
    assert(back.select(size(col("triplet"))).as[Int].head() == 3)
  }

  test("cytoscape sink: sorted deterministic JSON; missing node is a hard error") {
    // control characters in a value are escaped, not altered
    val described = "d1\tcol\nline \"q\" \\"
    val nodes = Seq(("A:1", "a one", described), ("B:1", "b one", "d2"))
      .toDF("id", "name", "description")
    val edges = Seq(("A:1", "p1", "B:1")).toDF("subject", "predicate", "object")
    val dir = tmp()
    Sinks.cytoscapeJson(nodes, edges, s"$dir/graph.json")
    val json = new String(Files.readAllBytes(Paths.get(s"$dir/graph.json")))
    assert(json.startsWith("""{"elements":{"edges":["""))
    assert(json.contains(""""id":"A:1""""))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(tree.at("/elements/nodes/0/data/description").asText() == described)
    // missing node metadata
    val badEdges = Seq(("A:1", "p1", "C:9")).toDF("subject", "predicate", "object")
    assertThrows[IllegalStateException](
      Sinks.cytoscapeJson(nodes, badEdges, s"$dir/bad.json"))
  }

  test("ensemble blend: weighted sum + alignment guard") {
    val a = Seq(("s", "p", "o", 0.5), ("s2", "p", "o2", 1.0))
      .toDF("subject", "predicate", "object", "score")
    val b = Seq(("s", "p", "o", 1.0), ("s2", "p", "o2", 0.0))
      .toDF("subject", "predicate", "object", "score")
    val out = Ensemble.blendChecked(a, b, 0.6, 0.4, 0.1).collect()
      .map(r => (r.getAs[String]("subject"), r.getAs[Double]("score"))).toMap
    assert(math.abs(out("s") - 0.8) < 1e-9)
    assert(math.abs(out("s2") - 0.7) < 1e-9)
    val short = b.limit(1)
    assertThrows[IllegalStateException](Ensemble.blendChecked(a, short, 0.5, 0.5, 0.0))
  }

  test("exact stratified sample: n per stratum, deterministic") {
    val df = (0 until 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "stratum")
    val got = Sampling.exactStratified(df, "stratum", 10, Seq(col("id").cast("string")), 42L)
    val counts = got.groupBy("stratum").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 10))
    val again = Sampling.exactStratified(df, "stratum", 10, Seq(col("id").cast("string")), 42L)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      again.collect().map(_.toString).sorted.toSeq)
  }

  test("negative sampling: no existing edges, no self-loops, per-positive count") {
    val edges = (0 until 30).map(i => (s"E:$i", "p", s"E:${(i + 1) % 30}"))
      .toDF("subject", "predicate", "object")
    val entities = (0 until 30).map(i => (s"E:$i", (i + 1).toLong))
      .toDF("entity_id", "id")
    val negs = Sampling.negativeSample(edges, entities, 2, 42L)
    val rows = negs.as[(String, String, String)].collect()
    assert(rows.forall { case (s, _, o) => s != o })
    val pos = edges.as[(String, String, String)].collect().toSet
    assert(rows.forall(!pos.contains(_)))
    assert(rows.length <= 60 && rows.length >= 40)
  }

  test("constrained negative sampling draws from the predicate's valid pools") {
    // two predicates over DISJOINT entity alphabets: constrained
    // corruptions (graph_sampler.py:64-79) can never cross alphabets,
    // uniform ones (almost surely) do
    val edges = ((0 until 15).map(i => (s"A:$i", "pa", s"A:${(i + 1) % 15}")) ++
      (0 until 15).map(i => (s"B:$i", "pb", s"B:${(i + 1) % 15}")))
      .toDF("subject", "predicate", "object")
    val entities = ((0 until 15).map(i => s"A:$i") ++ (0 until 15).map(i => s"B:$i"))
      .zipWithIndex.map { case (e, i) => (e, (i + 1).toLong) }
      .toDF("entity_id", "id")
    def alphabet(x: String) = x.take(1)
    val con = Sampling.negativeSample(edges, entities, 2, 42L, constrainedProb = 1.0)
      .as[(String, String, String)].collect()
    assert(con.nonEmpty)
    assert(con.forall { case (s, p, o) =>
      val want = if (p == "pa") "A" else "B"
      alphabet(s) == want && alphabet(o) == want
    }, "constrained mode corrupted with an out-of-pool entity")
    val uni = Sampling.negativeSample(edges, entities, 2, 42L, constrainedProb = 0.0)
      .as[(String, String, String)].collect()
    assert(uni.exists { case (s, p, o) =>
      val want = if (p == "pa") "A" else "B"
      alphabet(s) != want || alphabet(o) != want
    }, "uniform mode never crossed alphabets — pool constraint not exercised")
    // determinism
    val again = Sampling.negativeSample(edges, entities, 2, 42L, constrainedProb = 1.0)
      .as[(String, String, String)].collect()
    assert(con.sorted.toSeq == again.sorted.toSeq)
  }
}
