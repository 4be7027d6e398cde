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

  test("kHop maxNodesPerHop caps each level deterministically") {
    val a = Bfs.kHop(edges, Seq(3L).toDF("node"), 2, Some(2)).collect()
    val b = Bfs.kHop(edges, Seq(3L).toDF("node"), 2, Some(2)).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq)
    val perLevel = Bfs.kHop(edges, Seq(3L).toDF("node"), 2, Some(2))
      .as[(Long, Int)].collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(perLevel.forall { case (lvl, n) => lvl == 0 || n <= 2 })
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

  test("union mode: uncapped output coincides with enclosing (theorem) — diamond") {
    // With no per-hop cap the two reference modes emit identical rows:
    // every node on a <= h root-removed path is itself within h of that
    // root, so the union-induced distances equal the full-graph
    // root-removed distances and the max(d) <= h prune collapses the
    // union set to the intersection set (see Subgraphs.encloseAndLabel
    // scaladoc). Assert the exact golden on both modes.
    val cands = Seq(("e1", 10L, 13L)).toDF("edge_id", "head", "tail")
    val expect = Map(10L -> ((0, 1)), 13L -> ((1, 0)),
      11L -> ((1, 1)), 12L -> ((1, 1)))
    for (mode <- Seq("enclosing", "union")) {
      val got = Subgraphs.encloseAndLabel(edges, cands, 2, None, mode)
        .as[(String, Long, Int, Int)].collect()
        .map { case (_, n, dh, dt) => n -> ((dh, dt)) }.toMap
      assert(got == expect, s"mode=$mode")
    }
  }

  test("union vs enclosing diverge under a binding per-hop cap (golden)") {
    // head=1, tail=20, shared neighbors {5, 13}; h=1, cap=1.
    // md5 order: md5("20")=98f… < md5("1")=c4c… < md5("13")=c51… <
    // md5("5")=e4d… . The union gather's sampling domain INCLUDES the
    // other root (get_neighbor_nodes removes no roots), so the cap=1
    // pick from node 1's frontier {20, 5, 13} is the tail itself and
    // the real neighbors are crowded out; the enclosing gather samples
    // the root-removed frontier {5, 13} and keeps 13. Exactly the
    // reference's two np.random.choice domains, md5-deterministic.
    val e = Bfs.undirected(Seq(
      (1L, 20L), (1L, 5L), (1L, 13L), (20L, 5L), (20L, 13L))
      .toDF("src", "dst"))
    val cands = Seq(("e1", 1L, 20L)).toDF("edge_id", "head", "tail")
    def run(mode: String): Map[Long, (Int, Int)] =
      Subgraphs.encloseAndLabel(e, cands, 1, Some(1), mode)
        .as[(String, Long, Int, Int)].collect()
        .map { case (_, n, dh, dt) => n -> ((dh, dt)) }.toMap
    val enclosing = run("enclosing")
    val union = run("union")
    assert(enclosing == Map(1L -> ((0, 1)), 20L -> ((1, 0)), 13L -> ((1, 1))))
    assert(union == Map(1L -> ((0, 1)), 20L -> ((1, 0))))
    assert(enclosing != union)
  }

  test("encloseAndLabel rejects an unknown mode") {
    val cands = Seq(("e1", 10L, 13L)).toDF("edge_id", "head", "tail")
    val ex = intercept[IllegalArgumentException] {
      Subgraphs.encloseAndLabel(edges, cands, 2, None, "both")
    }
    assert(ex.getMessage.contains("enclosing|union"))
  }

  test("encloseAndLabel supernode guard: per-level cap bounds the frontier") {
    // hub node 100 with 80 leaves, plus a candidate touching the hub:
    // without the cap the frontier is candidates x hub-degree
    val hubEdges = (1L to 80L).map(i => (100L, 200L + i))
    val all = Bfs.undirected((rawEdges ++ Seq((3L, 100L)) ++ hubEdges).toDF("src", "dst"))
    val cands = Seq(("e1", 3L, 100L)).toDF("edge_id", "head", "tail")
    val capped = Subgraphs.encloseAndLabel(all, cands, 2, Some(5))
    val rows = capped.collect()
    // roots + at most 5 nodes per level per side can intersect
    assert(rows.length <= 2 + 2 * 5)
    // deterministic under re-run
    val again = Subgraphs.encloseAndLabel(all, cands, 2, Some(5)).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
    // roots always present with fixed labels
    val byNode = rows.map(r => r.getLong(1) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(byNode(3L) == ((0, 1)) && byNode(100L) == ((1, 0)))
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

  test("community beam: driver fast path == distributed path (incl. hop cap)") {
    val cands = Seq(("e1", 11L, 12L), ("e2", 1L, 2L), ("e3", 10L, 13L))
      .toDF("edge_id", "head", "tail")
    for (cap <- Seq(None, Some(2))) {
      val fast = Subgraphs.encloseAndLabelCommunity(edges, cands, 2, cap)
        .as[(String, Long, Int, Int)].collect().toSet
      val dist = withDriverRows(0)(Subgraphs.encloseAndLabelCommunity(edges, cands, 2, cap)
        .as[(String, Long, Int, Int)].collect().toSet)
      assert(fast == dist, s"cap=$cap: fast ${fast.size} vs dist ${dist.size}\n" +
        s"only-fast=${fast.diff(dist)}\nonly-dist=${dist.diff(fast)}")
    }
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

  test("encloseAndLabel driver fast path == distributed path (modes x caps)") {
    // two candidates (one diamond, one bridge-spanning), both modes,
    // capped and uncapped: the sub-64k fast path must emit exactly the
    // distributed rows (driverRows = 0 forces distributed — the
    // encloseAndLabelCommunity test discipline)
    val cands = Seq(("e1", 10L, 13L), ("e2", 3L, 10L))
      .toDF("edge_id", "head", "tail")
    for (mode <- Seq("enclosing", "union"); cap <- Seq(None, Some(2))) {
      val fast = Subgraphs.encloseAndLabel(edges, cands, 2, cap, mode)
        .collect().map(_.toString).sorted.toSeq
      val dist = withDriverRows(0)(Subgraphs.encloseAndLabel(edges, cands, 2, cap, mode)
        .collect().map(_.toString).sorted.toSeq)
      assert(fast == dist, s"mode=$mode cap=$cap")
      assert(fast.nonEmpty)
    }
  }

  // seeded ~300-edge graph: hub 0 joined to 60 nodes plus 240 random
  // edges over 1..120, so a per-hop cap of 3 binds at every level
  def hubEdges: DataFrame = {
    val rnd = new scala.util.Random(9)
    val hub = (1L to 60L).map(i => (0L, 2 * i))
    val rest = Seq.fill(240)((1L + rnd.nextInt(120), 1L + rnd.nextInt(120)))
      .filter { case (a, b) => a != b }
    Bfs.undirected((hub ++ rest).toDF("src", "dst"))
  }
  val hubCands = Seq(("c0", 0L, 2L), ("c1", 0L, 7L), ("c2", 5L, 9L),
    ("c3", 2L, 4L), ("c4", 11L, 13L), ("c5", 1L, 120L))

  test("pinned rows on a seeded hub graph: both paths, binding caps") {
    // digests recorded before the graph layer was folded onto one BFS
    val expected = Map(
      "allPairs/distributed" -> "14400:6f17c4e7402f8f11",
      "allPairs/driver" -> "14400:6f17c4e7402f8f11",
      "community/None/distributed" -> "93:0d74482cb022b919",
      "community/None/driver" -> "93:0d74482cb022b919",
      "community/Some(3)/distributed" -> "14:2451dc42477f95dd",
      "community/Some(3)/driver" -> "14:2451dc42477f95dd",
      "eccentricity/distributed" -> "1:619985489c2b2521",
      "eccentricity/driver" -> "1:619985489c2b2521",
      "enclosing/None/distributed" -> "149:c84ea563f41e7f25",
      "enclosing/None/driver" -> "149:c84ea563f41e7f25",
      "enclosing/Some(3)/distributed" -> "15:121ce07f09fe0f9c",
      "enclosing/Some(3)/driver" -> "15:121ce07f09fe0f9c",
      "kHop" -> "14:1f17488b6327a15f",
      "union/None/distributed" -> "149:c84ea563f41e7f25",
      "union/None/driver" -> "149:c84ea563f41e7f25",
      "union/Some(3)/distributed" -> "25:f1ee229e4d05bdcb",
      "union/Some(3)/driver" -> "25:f1ee229e4d05bdcb")
    val e = hubEdges
    val cands = hubCands.toDF("edge_id", "head", "tail")
    val cases: Seq[(String, () => DataFrame)] =
      (for (mode <- Seq("enclosing", "union"); cap <- Seq(None, Some(3)))
        yield s"$mode/$cap" -> (() => Subgraphs.encloseAndLabel(e, cands, 2, cap, mode))) ++
      Seq(None, Some(3)).map(cap => s"community/$cap" -> (() =>
        Subgraphs.encloseAndLabelCommunity(e, cands, 2, cap))) :+
      ("eccentricity" -> (() => Bfs.eccentricityStats(e, 8))) :+
      ("allPairs" -> (() => Bfs.allPairsDistances(e, 8)))
    val got = cases.flatMap { case (name, run) =>
      Seq(s"$name/driver" -> digest(run()),
        s"$name/distributed" -> withDriverRows(0)(digest(run())))
    }.toMap + ("kHop" -> digest(Bfs.kHop(e, Seq(0L, 5L).toDF("node"), 3, Some(4))))
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

  test("a candidate row repeated byte for byte is labelled once on both paths") {
    def runs(cands: DataFrame): Seq[(String, () => DataFrame)] =
      Seq("enclosing", "union").map(m => m -> (() =>
        Subgraphs.encloseAndLabel(edges, cands, 2, None, m))) :+
      ("community" -> (() => Subgraphs.encloseAndLabelCommunity(edges, cands, 2)))
    val once = runs(Seq(("e", 10L, 13L)).toDF("edge_id", "head", "tail"))
    val twice = runs(Seq(("e", 10L, 13L), ("e", 10L, 13L)).toDF("edge_id", "head", "tail"))
    for (((name, one), (_, two)) <- once.zip(twice); rows <- Seq(DefaultDriverRows, 0))
      withDriverRows(rows) {
        val want = one().collect().map(_.toString).sorted.toSeq
        assert(want.nonEmpty && two().collect().map(_.toString).sorted.toSeq == want, s"$name/$rows")
      }
  }

  test("an edge_id repeated with different roots is rejected on both paths") {
    val cands = Seq(("e", 10L, 13L), ("e", 10L, 13L), ("e", 3L, 4L))
      .toDF("edge_id", "head", "tail")
    val runs: Seq[(String, () => DataFrame)] =
      Seq("enclosing", "union").map(m => m -> (() =>
        Subgraphs.encloseAndLabel(edges, cands, 2, None, m))) :+
      ("community" -> (() => Subgraphs.encloseAndLabelCommunity(edges, cands, 2)))
    for ((name, run) <- runs; rows <- Seq(DefaultDriverRows, 0)) {
      val ex = intercept[IllegalArgumentException](withDriverRows(rows)(run().collect()))
      assert(ex.getMessage.contains("edge_id e "), s"$name/$rows: ${ex.getMessage}")
    }
  }
}
