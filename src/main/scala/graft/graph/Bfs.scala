package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The graph layer's one BFS: level-synchronous k-hop walks
  * (reference code: src/gnn/lcilp/utils/dgl_utils.py:8-31),
  * as frontier joins over Spark ([[kHop]]) and as its driver twin over
  * an adjacency map ([[kHopLocal]]). Every walk in `Bfs` and
  * [[Subgraphs]] is one of these two with its own keys and blocked
  * node, so the two forms reach the same nodes at the same levels.
  * Walks are uncapped: [[Subgraphs]] states why the reference's per-level
  * down-sampling (dgl_utils.py:26-27) is not reproduced.
  */
object Bfs {

  /** edges(src,dst) directed as given (pass the symmetrized edge list
    * for undirected semantics). Walks one BFS per distinct value of the
    * `keys` columns, all keys in the same level-synchronous job.
    *
    * seeds carries `keys`, the optional `blocked` column and `node`; its
    * distinct rows are the level-0 nodes. Returns those columns plus
    * `dist` (the BFS level, seeds at 0) for every node within h hops of
    * its key's seeds — the first level that reaches a node is its
    * shortest distance, enforced by the visited anti-join. `blocked`
    * names a seed column holding a node the walk never enters (the
    * enclosing subgraph's "other root removed" rule).
    */
  def kHop(
      edges: DataFrame,
      seeds: DataFrame,
      h: Int,
      keys: Seq[String] = Nil,
      blocked: Option[String] = None): DataFrame = {
    val carried = (keys ++ blocked).map(col)
    // each level is checkpointed once; an Observation on that job counts
    // its rows, so emptiness needs no probe job of its own
    def checkpointNonEmpty(df: DataFrame): (DataFrame, Boolean) = {
      val rows = Observation()
      val cp = df.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
      (cp, rows.get("n").asInstanceOf[Long] > 0)
    }
    var (visited, nonEmpty) = checkpointNonEmpty(
      seeds.select(carried :+ col("node"): _*).distinct().withColumn("dist", lit(0)))
    var frontier = visited
    var level = 0
    while (level < h && nonEmpty) {
      level += 1
      val stepped = frontier.join(edges, frontier("node") === edges("src"))
      val next = blocked.fold(stepped)(b => stepped.filter(col("dst") =!= col(b)))
        .select(carried :+ col("dst").as("node"): _*)
        .distinct()
        .join(visited.select((keys :+ "node").map(c => col(c).as(s"__v_$c")): _*),
          (keys :+ "node").map(c => col(c) === col(s"__v_$c")).reduce(_ && _),
          "left_anti")
      val (cp, more) = checkpointNonEmpty(next.withColumn("dist", lit(level)))
      frontier = cp
      nonEmpty = more
      // a union of checkpointed frames: the next anti-join re-reads
      // cached blocks, so visited needs no eager job of its own
      visited = visited.unionAll(frontier)
    }
    visited
  }

  /** Driver twin of [[kHop]] for one key: the same levels and blocked
    * node, over an in-memory adjacency map. Returns node -> dist.
    */
  def kHopLocal[N: ClassTag](
      adj: Map[N, Array[N]],
      seeds: Seq[N],
      h: Int,
      blocked: Option[N] = None): Map[N, Int] = {
    val dist = scala.collection.mutable.Map.empty[N, Int]
    var frontier = seeds.distinct
    frontier.foreach(dist(_) = 0)
    var level = 0
    while (level < h && frontier.nonEmpty) {
      level += 1
      frontier = frontier
        .flatMap(n => adj.getOrElse(n, Array.empty[N]))
        .filter(n => !blocked.contains(n) && !dist.contains(n))
        .distinct
      frontier.foreach(dist(_) = level)
    }
    dist.toMap
  }

  private val MaxAllPairsNodes = 10000

  /** All-pairs shortest-path distances within components, bounded by
    * maxDepth (the reference's eccentricity/diameter/radius stats,
    * src/gnn/lcilp/utils/graph_utils.py:163-180 —
    * networkx single-process; here one [[kHop]] keyed by source node
    * `a`, so every source expands in the same level-synchronous job).
    * und(src,dst) must be symmetric. Returns (a, node, dist) for every
    * node within maxDepth of a.
    *
    * This op is inherently O(V*E): every node seeds a BFS. It is a
    * STATS op for dictionary-sized graphs (the reference runs networkx
    * eccentricity on subgraphs), NOT a full-graph operator — a graph
    * of more than 10,000 nodes is a hard error instead of a runaway job.
    *
    * The walk goes one level past maxDepth and throws if any node lands
    * there: truncated distances would silently fragment every
    * per-component stat downstream.
    *
    * Small inputs (fewer than [[graft.core.Session.driverRows]] edges)
    * run [[kHopLocal]] on the driver instead: a bounded collect answers
    * "is it small?" and already is the adjacency input, where the
    * distributed walk pays a checkpoint per level (4 Spark jobs under
    * AQE on a small graph). BFS distances depend only on id EQUALITY, so
    * the string-cast round trip is type-safe. `spark.graft.driverRows=0`
    * forces the distributed walk.
    */
  def allPairsDistances(und: DataFrame, maxDepth: Int): DataFrame = {
    def guard(nNodes: Long): Unit = require(nNodes <= MaxAllPairsNodes,
      s"allPairsDistances seeds a BFS from EVERY node (O(V*E)); refusing a graph " +
        s"with > $MaxAllPairsNodes nodes — it is a stats op for bounded subgraphs")
    def failTruncated(): Nothing = throw new IllegalStateException(
      s"allPairsDistances: BFS still had a non-empty frontier at maxDepth=$maxDepth " +
        "— distances are truncated and downstream per-component stats would " +
        "silently fragment; raise maxDepth above the true diameter")
    val depth = maxDepth + 1
    val spark = und.sparkSession
    val idType = und.schema(und.columns(0)).dataType
    graft.core.Session.collectIfSmall(
        und.select(col("src").cast("string"), col("dst").cast("string"))).foreach { rows =>
      import spark.implicits._
      val edges = rows.map(r => (r.getString(0), r.getString(1)))
      val adj = edges.groupBy(_._1).map { case (s, es) => (s, es.map(_._2)) }
      val allNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      guard(allNodes.length.toLong)
      val out = allNodes.toSeq.flatMap { a =>
        val dist = kHopLocal(adj, Seq(a), depth)
        if (dist.valuesIterator.exists(_ > maxDepth)) failTruncated()
        dist.map { case (n, d) => (a, n, d) }
      }
      return spark.createDataset(out).toDF("a", "node", "dist")
        .select(col("a").cast(idType).as("a"),
          col("node").cast(idType).as("node"), col("dist"))
    }
    val nodes = und.select(col("src").as("a"))
      .unionAll(und.select(col("dst").as("a"))).distinct()
    guard(nodes.limit(MaxAllPairsNodes + 1).count())
    val dist = kHop(und, nodes.withColumn("node", col("a")), depth, keys = Seq("a"))
    if (dist.filter(col("dist") > maxDepth).limit(1).count() > 0)
      failTruncated()
    dist
  }

  /** Per-component eccentricity stats over the bounded all-pairs
    * distances: (component, diameter, radius, n_nodes); component id =
    * min node id reachable (graph_utils.py:163-180).
    *
    * CONTRACT: `maxDepth` must be >= the true diameter of every
    * component — ENFORCED: a BFS that still reaches nodes past maxDepth
    * throws (IllegalStateException) instead of silently fragmenting
    * components into rows keyed by inconsistent min-reachable ids. Use
    * ConnectedComponents.run for component ids when the diameter is
    * unknown.
    */
  def eccentricityStats(und: DataFrame, maxDepth: Int): DataFrame = {
    val ecc = allPairsDistances(und, maxDepth)
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
