package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-synchronous k-hop BFS as iterative frontier joins
  * (reference: /root/reference/src/gnn/lcilp/utils/dgl_utils.py:8-31).
  *
  * `maxNodesPerHop` reproduces the reference's per-level down-sampling
  * (dgl_utils.py:26-27) — the supernode/skew guard — but with a
  * deterministic hash order instead of np.random.choice, so results are
  * retry-stable (SURVEY.md §7.4).
  */
object Bfs {

  /** edges(src,dst) directed as given (pass the symmetrized edge list
    * for undirected semantics); seeds(node). Returns (node, dist) for
    * all nodes within <= h hops, dist = BFS level (seeds at 0).
    */
  def kHop(
      edges: DataFrame,
      seeds: DataFrame,
      h: Int,
      maxNodesPerHop: Option[Int] = None): DataFrame = {
    var visited = seeds.select(col("node"), lit(0).as("dist")).distinct()
      .localCheckpoint(true)
    var frontier = visited
    var level = 0
    while (level < h && frontier.limit(1).count() > 0) {
      level += 1
      var next = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("dst").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
      maxNodesPerHop.foreach { cap =>
        next = next.orderBy(md5(col("node").cast("string"))).limit(cap)
      }
      frontier = next.select(col("node"), lit(level).as("dist")).localCheckpoint(true)
      visited = visited.unionAll(frontier).localCheckpoint(true)
    }
    visited
  }

  /** All-pairs shortest-path distances within components, bounded by
    * maxDepth (reference eccentricity/diameter/radius stats,
    * /root/reference/src/gnn/lcilp/utils/graph_utils.py:163-180 —
    * networkx single-process; here one BFS frontier DataFrame keyed by
    * source node, so every source expands in the same level-synchronous
    * job). und(src,dst) must be symmetric. Returns (a, node, dist) for
    * every node within maxDepth of a (dist is the exact shortest path:
    * first level reached = minimum, enforced by the visited anti-join).
    *
    * This op is inherently O(V*E): every node seeds a BFS. It is a
    * STATS op for dictionary-sized graphs (the reference runs networkx
    * eccentricity on subgraphs), NOT a full-graph operator — `maxNodes`
    * makes misapplication a hard error instead of a runaway job.
    *
    * Small inputs (< `driverThreshold` edges) short-circuit to a
    * driver-side BFS — the same adaptivity as ConnectedComponents.run:
    * maxDepth distributed rounds of 3 jobs each cost ~15 job launches
    * for work a collect finishes in microseconds at stats-subgraph
    * size. BFS distances depend only on id EQUALITY (no ordering), so
    * the string-cast round trip is type-safe. Pass driverThreshold=0 to
    * force the distributed rounds (tests do).
    */
  def allPairsDistances(und: DataFrame, maxDepth: Int,
      maxNodes: Int = 10000, driverThreshold: Long = 1 << 16,
      // default TRUE: silently truncated distances poison any
      // downstream stat; a caller doing intentionally-bounded k-hop
      // exploration opts out explicitly
      requireConverged: Boolean = true): DataFrame = {
    def guard(nNodes: Long): Unit = require(nNodes <= maxNodes,
      s"allPairsDistances seeds a BFS from EVERY node (O(V*E)); refusing a graph " +
        s"with > $maxNodes nodes — raise maxNodes only for bounded stats subgraphs")
    def failTruncated(): Unit = throw new IllegalStateException(
      s"allPairsDistances: BFS still had a non-empty frontier at maxDepth=$maxDepth " +
        "— distances are truncated and downstream per-component stats would " +
        "silently fragment; raise maxDepth above the true diameter")
    if (driverThreshold > 0) {
      // the fast path collects the edges anyway — the node-count guard
      // runs for free on the collected array instead of as an extra
      // distributed distinct+count job. r8: probe BY collecting (the
      // Subgraphs/CC dispatch discipline) — limit(th).collect answers
      // the size question and already is the adjacency input, one job
      // instead of the old limit+count probe plus a second full collect.
      val spark = und.sparkSession
      import spark.implicits._
      val idType = und.schema(und.columns(0)).dataType
      val edges = und.select(col("src").cast("string"), col("dst").cast("string"))
        .limit(driverThreshold.toInt).collect()
        .map(r => (r.getString(0), r.getString(1)))
      if (edges.length >= driverThreshold.toInt) ()
      else {
      val adj = edges.groupBy(_._1).map { case (s, es) => (s, es.map(_._2)) }
      val allNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      guard(allNodes.length.toLong)
      val out = Seq.newBuilder[(String, String, Int)]
      allNodes.foreach { a =>
        val dist = scala.collection.mutable.Map(a -> 0)
        var frontier = Seq(a)
        var d = 0
        while (d < maxDepth && frontier.nonEmpty) {
          d += 1
          frontier = frontier
            .flatMap(n => adj.getOrElse(n, Array.empty[String]))
            .distinct.filterNot(dist.contains)
          frontier.foreach(n => dist(n) = d)
        }
        // truncation = one MORE level would still discover nodes (a
        // non-empty final frontier alone just means diameter == maxDepth)
        if (requireConverged && frontier.nonEmpty &&
            frontier.iterator.flatMap(n => adj.getOrElse(n, Array.empty[String]))
              .exists(n => !dist.contains(n))) failTruncated()
        dist.foreach { case (n, dd) => out += ((a, n, dd)) }
      }
      return spark.createDataset(out.result()).toDF("a", "node", "dist")
        .select(col("a").cast(idType).as("a"),
          col("node").cast(idType).as("node"), col("dist"))
      }
    }
    val nodes = und.select(col("src").as("a"))
      .unionAll(und.select(col("dst").as("a"))).distinct()
    guard(nodes.limit(maxNodes + 1).count())
    var dist = nodes
      .select(col("a"), col("a").as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    var frontier = dist
    var d = 0
    while (d < maxDepth && frontier.limit(1).count() > 0) {
      d += 1
      val next = frontier
        .join(und, frontier("node") === und("src"))
        .select(col("a"), col("dst").as("node")).distinct()
        .join(dist.select(col("a").as("__va"), col("node").as("__vn")),
          col("a") === col("__va") && col("node") === col("__vn"), "left_anti")
        .select(col("a"), col("node"), lit(d).as("dist"))
      frontier = next.localCheckpoint(true)
      dist = dist.unionAll(frontier).localCheckpoint(true)
    }
    // truncation check mirrors the driver path: expand the final
    // frontier once more and fail only if unseen nodes remain (an extra
    // join job, paid only when the last frontier is non-empty)
    if (requireConverged && frontier.limit(1).count() > 0) {
      val more = frontier
        .join(und, frontier("node") === und("src"))
        .select(col("a"), col("dst").as("node")).distinct()
        .join(dist.select(col("a").as("__va"), col("node").as("__vn")),
          col("a") === col("__va") && col("node") === col("__vn"), "left_anti")
      if (more.limit(1).count() > 0) failTruncated()
    }
    dist
  }

  /** Per-component eccentricity stats over the bounded all-pairs
    * distances: (component, diameter, radius, n_nodes); component id =
    * min node id reachable (graph_utils.py:163-180).
    *
    * CONTRACT: `maxDepth` must be >= the true diameter of every
    * component — ENFORCED: a BFS whose frontier is still non-empty at
    * maxDepth throws (IllegalStateException) instead of silently
    * fragmenting components into rows keyed by inconsistent
    * min-reachable ids. Use ConnectedComponents.run for component ids
    * when the diameter is unknown.
    */
  def eccentricityStats(und: DataFrame, maxDepth: Int,
      driverThreshold: Long = 1 << 16): DataFrame = {
    val ecc = allPairsDistances(und, maxDepth, driverThreshold = driverThreshold,
      requireConverged = true)
      .groupBy(col("a"))
      .agg(max(col("dist")).as("ecc"), min(col("node")).as("component"))
    ecc.groupBy(col("component"))
      .agg(max(col("ecc")).as("diameter"), min(col("ecc")).as("radius"),
        count(lit(1)).as("n_nodes"))
  }

  /** Both-direction edge list. */
  def undirected(edges: DataFrame): DataFrame = {
    val (s, d) = (col(edges.columns(0)), col(edges.columns(1)))
    edges.select(s.as("src"), d.as("dst"))
      .unionAll(edges.select(d.as("src"), s.as("dst")))
      .distinct()
  }
}
