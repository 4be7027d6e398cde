package graft

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.{digest, withDriverRows}
import graft.core.Session.DefaultDriverRows
import graft.graph.{Bfs, Ppr, Subgraphs}

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // hand-sized fixture graph (FIXTURES.md F8): path + diamond + satellite
  //   1-2-3-4-5 path;  10-11, 10-12, 11-13, 12-13 diamond;  3-10 bridge
  val rawEdges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (10L, 12L), (11L, 13L), (12L, 13L),
    (3L, 10L))
  def edges = Bfs.undirected(rawEdges.toDF("src", "dst"))

  test("kHop: levels and reach are exact") {
    val got = Bfs.kHop(edges, Seq(1L).toDF("node"), 2)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
    val got3 = Bfs.kHop(edges, Seq(1L).toDF("node"), 3)
      .as[(Long, Int)].collect().toMap
    assert(got3 == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 10L -> 3))
  }

  test("enclosing subgraph + double-radius labels: diamond candidate") {
    // candidate edge (10,13): N_2(10) ∩ N_2(13) with roots removed
    val cands = Seq(("e1", 10L, 13L)).toDF("edge_id", "head", "tail")
    val got = Subgraphs.encloseAndLabel(edges, cands, 2)
      .as[(String, Long, Int, Int)].collect()
      .map { case (_, n, dh, dt) => n -> ((dh, dt)) }.toMap
    // roots keep fixed labels
    assert(got(10L) == ((0, 1)))
    assert(got(13L) == ((1, 0)))
    // 11 and 12 are 1 hop from each root (with the other root removed)
    assert(got(11L) == ((1, 1)))
    assert(got(12L) == ((1, 1)))
    // path nodes are NOT in the intersection within h=2 of 13 (root
    // removal matters: 3 is 1 hop from 10 but unreachable from 13 in 2
    // hops without passing 10)
    assert(!got.contains(3L))
  }

  test("community pruning (multicom wiring): appendage node pruned, diamond kept") {
    // candidate (11,12) inside the diamond; node 3 is in the plain
    // h=2 enclosing intersection (labels (2,2) via 10) but is OUTSIDE the
    // PPR+sweep community of the diamond — the reference's always-on
    // multicom filter (graph_sampler.py:319-325) must drop it
    val cands = Seq(("e1", 11L, 12L)).toDF("edge_id", "head", "tail")
    val plain = Subgraphs.encloseAndLabel(edges, cands, 2)
      .as[(String, Long, Int, Int)].collect().map(r => r._2 -> ((r._3, r._4))).toMap
    assert(plain.contains(3L), "precondition: plain enclosing keeps the appendage")
    val pruned = Subgraphs.encloseAndLabelCommunity(edges, cands, 2)
      .as[(String, Long, Int, Int)].collect().map(r => r._2 -> ((r._3, r._4))).toMap
    assert(pruned(11L) == ((0, 1)) && pruned(12L) == ((1, 0)))
    assert(!pruned.contains(3L), "community filter must prune the appendage")
    // the full-degree sweep keeps the whole diamond
    assert(pruned(10L) == ((1, 1)) && pruned(13L) == ((1, 1)))
    // all labels within h
    assert(pruned.values.forall { case (a, b) => math.max(a, b) <= 2 })
  }

  test("community pruning: bridged triangles — community is exactly the seed triangle") {
    val tri = Seq((21L, 22L), (22L, 23L), (21L, 23L),
      (31L, 32L), (32L, 33L), (31L, 33L), (23L, 31L))
    val e = Bfs.undirected(tri.toDF("src", "dst"))
    val cands = Seq(("t", 21L, 22L)).toDF("edge_id", "head", "tail")
    val got = Subgraphs.encloseAndLabelCommunity(e, cands, 2)
      .as[(String, Long, Int, Int)].collect().map(_._2).toSet
    assert(got == Set(21L, 22L, 23L), s"got $got")
  }

  test("community beam: driver fast path == distributed path") {
    val cands = Seq(("e1", 11L, 12L), ("e2", 1L, 2L), ("e3", 10L, 13L))
      .toDF("edge_id", "head", "tail")
    val fast = Subgraphs.encloseAndLabelCommunity(edges, cands, 2)
      .as[(String, Long, Int, Int)].collect().toSet
    val dist = withDriverRows(0)(Subgraphs.encloseAndLabelCommunity(edges, cands, 2)
      .as[(String, Long, Int, Int)].collect().toSet)
    assert(fast == dist, s"fast ${fast.size} vs dist ${dist.size}\n" +
      s"only-fast=${fast.diff(dist)}\nonly-dist=${dist.diff(fast)}")
  }

  test("eccentricity stats: per-component diameter/radius on a hand graph") {
    // component A: star 1-(2,3,4) -> radius 1 (center), diameter 2
    // component B: path 10-11-12 -> radius 1, diameter 2
    val e = Bfs.undirected(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (11L, 12L)).toDF("src", "dst"))
    val want = Map(1L -> ((2, 1, 4L)), 10L -> ((2, 1, 3L)))
    // driver fast path (default) and distributed rounds must agree
    for (rows <- Seq(DefaultDriverRows, 0)) {
      val got = withDriverRows(rows)(Bfs.eccentricityStats(e, 4)
        .as[(Long, Int, Int, Long)].collect())
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == want, s"driverRows=$rows: $got")
    }
  }

  test("eccentricity stats throw loudly when maxDepth truncates a component") {
    // path 1-2-3-4-5: diameter 4. maxDepth=2 truncates -> must throw on
    // BOTH paths; maxDepth=4 (== diameter exactly) must NOT throw.
    val e = Bfs.undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst"))
    for (rows <- Seq(DefaultDriverRows, 0)) withDriverRows(rows) {
      assertThrows[IllegalStateException](Bfs.eccentricityStats(e, 2).collect())
      val ok = Bfs.eccentricityStats(e, 4).as[(Long, Int, Int, Long)].collect()
      assert(ok.toSeq == Seq((1L, 4, 2, 5L)), s"driverRows=$rows: ${ok.toSeq}")
    }
  }

  test("PPR push: mass concentrates near seeds; sweep cut finds the diamond") {
    val adj: Map[Long, Array[Long]] = rawEdges
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toArray).toMap
    val ppr = Ppr.approximatePpr(adj, Seq(10L, 13L), eps = 1e-5)
    assert(ppr(10L) > ppr.getOrElse(1L, 0.0))
    assert(ppr(13L) > ppr.getOrElse(5L, 0.0))
    val cut = Ppr.sweepCut(adj, ppr)
    assert(Set(10L, 11L, 12L, 13L).subsetOf(cut))
    assert(!cut.contains(5L))
  }

  test("encloseAndLabel driver fast path == distributed path") {
    // two candidates (one diamond, one bridge-spanning): the sub-64k
    // fast path must emit exactly the distributed rows (driverRows = 0
    // forces distributed — the encloseAndLabelCommunity test discipline)
    val cands = Seq(("e1", 10L, 13L), ("e2", 3L, 10L))
      .toDF("edge_id", "head", "tail")
    val fast = Subgraphs.encloseAndLabel(edges, cands, 2)
      .collect().map(_.toString).sorted.toSeq
    val dist = withDriverRows(0)(Subgraphs.encloseAndLabel(edges, cands, 2)
      .collect().map(_.toString).sorted.toSeq)
    assert(fast == dist)
    assert(fast.nonEmpty)
  }

  // seeded ~300-edge graph: hub 0 joined to 60 nodes plus 240 random
  // edges over 1..120, so candidates touching the hub gather wide
  // neighbourhoods
  def hubEdges: DataFrame = {
    val rnd = new scala.util.Random(9)
    val hub = (1L to 60L).map(i => (0L, 2 * i))
    val rest = Seq.fill(240)((1L + rnd.nextInt(120), 1L + rnd.nextInt(120)))
      .filter { case (a, b) => a != b }
    Bfs.undirected((hub ++ rest).toDF("src", "dst"))
  }
  val hubCands = Seq(("c0", 0L, 2L), ("c1", 0L, 7L), ("c2", 5L, 9L),
    ("c3", 2L, 4L), ("c4", 11L, 13L), ("c5", 1L, 120L))

  test("pinned rows on a seeded hub graph: both paths") {
    // digests recorded before the graph layer was folded onto one BFS
    val expected = Map(
      "allPairs/distributed" -> "14400:6f17c4e7402f8f11",
      "allPairs/driver" -> "14400:6f17c4e7402f8f11",
      "community/distributed" -> "93:0d74482cb022b919",
      "community/driver" -> "93:0d74482cb022b919",
      "eccentricity/distributed" -> "1:619985489c2b2521",
      "eccentricity/driver" -> "1:619985489c2b2521",
      "enclosing/distributed" -> "149:c84ea563f41e7f25",
      "enclosing/driver" -> "149:c84ea563f41e7f25")
    val e = hubEdges
    val cands = hubCands.toDF("edge_id", "head", "tail")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "enclosing" -> (() => Subgraphs.encloseAndLabel(e, cands, 2)),
      "community" -> (() => Subgraphs.encloseAndLabelCommunity(e, cands, 2)),
      "eccentricity" -> (() => Bfs.eccentricityStats(e, 8)),
      "allPairs" -> (() => Bfs.allPairsDistances(e, 8)))
    val got = cases.flatMap { case (name, run) =>
      Seq(s"$name/driver" -> digest(run()),
        s"$name/distributed" -> withDriverRows(0)(digest(run())))
    }.toMap
    assert(got == expected)
  }

  test("encloseAndLabelCommunity starts as many Spark jobs as the encloseAndLabel fast path") {
    val cands = Seq(("e1", 11L, 12L), ("e2", 1L, 2L)).toDF("edge_id", "head", "tail")
    def jobsOf(run: => DataFrame): Int = TestBus.jobsDuring(spark.sparkContext)(run.collect()).size
    val plain = jobsOf(Subgraphs.encloseAndLabel(edges, cands, 2))
    val community = jobsOf(Subgraphs.encloseAndLabelCommunity(edges, cands, 2))
    assert(plain > 0 && community == plain, s"plain=$plain community=$community")
  }

  test("with driverRows = 0, plain and community labelling start at most 17 and 26 Spark jobs") {
    val cands = Seq(("e1", 11L, 12L), ("e2", 1L, 2L)).toDF("edge_id", "head", "tail")
    def jobsOf(run: => DataFrame): Int =
      withDriverRows(0)(TestBus.jobsDuring(spark.sparkContext)(run.collect()).size)
    val plain = jobsOf(Subgraphs.encloseAndLabel(edges, cands, 2))
    val community = jobsOf(Subgraphs.encloseAndLabelCommunity(edges, cands, 2))
    assert(plain <= 17 && community <= 26, s"plain=$plain community=$community")
  }

  test("kHop runs one action per level: 1 + h checkpoints, no emptiness probes") {
    val e = edges.localCheckpoint(true)
    def actions(seed: Long, h: Int): Int =
      TestBus.jobsDuring(spark.sparkContext)(Bfs.kHop(e, Seq(seed).toDF("node"), h)).distinct.size
    // node 1 still has unvisited nodes 3 levels out: every level runs
    for (h <- 1 to 3) assert(actions(1L, h) == 1 + h, s"h=$h")
    // node 5's walk empties after level 5: the empty level-6 checkpoint
    // stops it, so h = 8 runs 1 + 6 actions
    assert(actions(5L, 8) == 1 + 6)
    assert(Bfs.kHop(e, Seq(5L).toDF("node"), 8).as[(Long, Int)].collect().toMap ==
      Map(5L -> 0, 4L -> 1, 3L -> 2, 2L -> 3, 10L -> 3, 1L -> 4, 11L -> 4, 12L -> 4, 13L -> 5))
  }

  // both labellings of one candidate set, by name
  def labellings(cands: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "enclosing" -> (() => Subgraphs.encloseAndLabel(edges, cands, 2)),
    "community" -> (() => Subgraphs.encloseAndLabelCommunity(edges, cands, 2)))

  test("a candidate row repeated byte for byte is labelled once on both paths") {
    val once = labellings(Seq(("e", 10L, 13L)).toDF("edge_id", "head", "tail"))
    val twice = labellings(Seq(("e", 10L, 13L), ("e", 10L, 13L)).toDF("edge_id", "head", "tail"))
    for (((name, one), (_, two)) <- once.zip(twice); rows <- Seq(DefaultDriverRows, 0))
      withDriverRows(rows) {
        val want = one().collect().map(_.toString).sorted.toSeq
        assert(want.nonEmpty && two().collect().map(_.toString).sorted.toSeq == want, s"$name/$rows")
      }
  }

  test("an edge_id repeated with different roots is rejected on both paths") {
    val cands = Seq(("e", 10L, 13L), ("e", 10L, 13L), ("e", 3L, 4L))
      .toDF("edge_id", "head", "tail")
    for ((name, run) <- labellings(cands); rows <- Seq(DefaultDriverRows, 0)) {
      val ex = intercept[IllegalArgumentException](withDriverRows(rows)(run().collect()))
      assert(ex.getMessage.contains("edge_id e "), s"$name/$rows: ${ex.getMessage}")
    }
  }

  test("a null candidate endpoint is rejected on both paths, naming its edge_id") {
    val cands = Seq(("e1", Some(10L), Some(13L)), ("e2", None, Some(2L)))
      .toDF("edge_id", "head", "tail")
    for ((name, run) <- labellings(cands); rows <- Seq(DefaultDriverRows, 0)) {
      val ex = intercept[IllegalArgumentException](withDriverRows(rows)(run().collect()))
      assert(ex.getMessage.contains("edge_id e2 has a null head or tail"),
        s"$name/$rows: ${ex.getMessage}")
    }
  }
}
