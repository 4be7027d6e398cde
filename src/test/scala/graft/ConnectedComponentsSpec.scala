package graft

import org.apache.spark.TestBus
import org.scalatest.funsuite.AnyFunSuite

import graft.canon.{Canonicalize, ConnectedComponents}
import graft.core.Ids
import graft.fixtures.Fixtures
import graft.graph.Bfs

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** brute-force union-find oracle */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  /** force the DISTRIBUTED large-star/small-star path */
  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    TestSpark.withDriverRows(0) {
      ConnectedComponents.run(edges.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    }

  test("chain, star, two components, self-loops") {
    val edges = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 4L, // chain
      10L -> 11L, 10L -> 12L, 10L -> 13L, // star
      20L -> 20L, // self loop (ignored)
      30L -> 31L, 31L -> 30L // duplicate both directions
    )
    assert(ccOf(edges) == ufComponents(edges).removed(20L))
  }

  test("long path converges (O(log n) rounds, not diameter)") {
    val n = 200L
    val edges = (0L until n).map(i => i -> (i + 1))
    val got = ccOf(edges)
    assert(got.values.toSet == Set(0L))
    assert(got.size == (n + 1).toInt)
  }

  test("property: matches union-find on seeded random graphs") {
    (0 until 8).foreach { trial =>
      val edges = (0 until 40).map { k =>
        val h = Ids.mix64(trial * 1000L + k)
        (math.abs(h % 31), math.abs(Ids.mix64(h) % 31))
      }.filter(e => e._1 != e._2)
      assert(ccOf(edges) == ufComponents(edges), s"trial $trial edges=$edges")
    }
  }

  test("small-graph driver fast path == distributed algorithm (long + string ids)") {
    val edges = Seq(2L -> 10L, 10L -> 3L, 7L -> 8L)
    val fast = ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(fast == ccOf(edges))
    val sEdges = Seq("2" -> "10", "10" -> "3", "7" -> "8")
    val sFast = ConnectedComponents.run(sEdges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    val sDist = TestSpark.withDriverRows(0) {
      ConnectedComponents.run(sEdges.toDF("src", "dst")).as[(String, String)].collect().toMap
    }
    assert(sFast == sDist)
    // orderings differ between the two id types, as they must
    assert(fast(2L) == 2L && fast(3L) == 2L)
    assert(sFast("2") == "10") // string min of {"2","10","3"} = "10"
    assert(sDist("3") == "10")
  }

  test("driver fast paths start as many Spark jobs as before the shared probe") {
    // counts read before the size probe moved into graft.core.Session;
    // the KG build reaches CC through Canonicalize and the dictionary
    // through KgPipeline, and q27 reaches CC
    def jobsOf(run: => Any): Int = TestBus.jobsDuring(spark.sparkContext)(run).size
    val long = Seq(2L -> 10L, 10L -> 3L, 7L -> 8L).toDF("src", "dst").localCheckpoint(true)
    val str = Seq("2" -> "10", "10" -> "3", "7" -> "8").toDF("src", "dst").localCheckpoint(true)
    val und = Bfs.undirected(long).localCheckpoint(true)
    val keys = Seq("b", "a", "c", "a").toDF("k").localCheckpoint(true)
    val got = Map(
      "cc/long" -> jobsOf(ConnectedComponents.run(long).collect()),
      "cc/string" -> jobsOf(ConnectedComponents.run(str).collect()),
      "allPairs" -> jobsOf(Bfs.allPairsDistances(und, 8).collect()),
      "dictionary" -> jobsOf(Ids.dictionary(keys, "k").collect()))
    assert(got == Map("cc/long" -> 2, "cc/string" -> 2, "allPairs" -> 1, "dictionary" -> 6))
  }

  test("driver fast path survives a deep chain processed in descending order") {
    // ADVICE r1: the recursive find overflowed the stack on chain-shaped
    // graphs near the 64k threshold; the iterative form must not
    val n = 60000L
    val edges = (n to 1L by -1L).map(i => i -> (i - 1)) // descending: worst case
    val got = ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == (n + 1).toInt)
    assert(got.values.toSet == Set(0L))
  }

  test("canonicalization matches the driver union-find oracle") {
    val cfg = Fixtures.tiny
    val sameAs = Fixtures.sameAs(spark, cfg).toDF("src", "dst")
    val got = Canonicalize.canonicalMap(sameAs)
      .as[(String, String)].collect().toMap
    val oracle = Fixtures.canonicalOracle(cfg).filter { case (k, v) => k != v }
    assert(got == oracle)
  }
}
