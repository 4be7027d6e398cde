package graft.graph

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Enclosing-subgraph extraction + double-radius node labeling for
  * candidate edges, batched over ALL candidates
  * (reference semantics: src/gnn/lcilp/subgraph_extraction/graph_sampler.py:300-391 —
  * per-link python workers in an mp.Pool; here every walk is one
  * [[Bfs.kHop]] keyed by edge_id, so a million candidates are just more
  * rows, or its driver twin [[Bfs.kHopLocal]] per candidate when the
  * input is small).
  *
  * Semantics reproduced exactly:
  *  - nodes = {head, tail} ∪ (N_h(head) ∩ N_h(tail))   (enclosing)
  *  - d(v, head) is computed with tail REMOVED from the graph, and
  *    d(v, tail) with head removed (graph_sampler.py:365-391) — the
  *    walk's blocked node;
  *  - roots keep labels (0,1)/(1,0);
  *  - only nodes within h of both roots are kept.
  *
  * The reference's other two knobs are not reproduced, because neither
  * changes an answer the reference recorded. Its run was "hop=3,
  * enclosing, no per-hop cap" (SURVEY.md:499), so the per-level
  * down-sampling (utils/dgl_utils.py:26-27) is left out. Without that
  * cap the `enclosing_sub_graph = False` union mode
  * (graph_sampler.py:327-331) emits exactly the enclosing rows: any
  * <= h root-removed path from a kept node to a root consists of nodes
  * that are themselves within h of that root, hence inside the union
  * neighborhood, so union-induced distances equal full-graph
  * root-removed distances and the max(d) <= h prune collapses the union
  * set to the intersection set. q87 checks this on data.
  *
  * [[encloseAndLabelCommunity]] (the reference's ALWAYS-ON multicom
  * community pruning, graph_sampler.py:319-325) gathers the union
  * neighborhood, collects its induced edges behind a per-candidate
  * marker row, and labels inside one beam body per candidate
  * ([[communityLabelBeam]]).
  *
  * Small inputs (both under [[graft.core.Session.driverRows]] rows, read
  * by one bounded collect each) run on the driver with the same walks
  * and the same beam body: the distributed form costs a checkpoint per
  * BFS level, pure overhead at dictionary-sized graphs.
  * `spark.graft.driverRows=0` forces the distributed form; GraphSpec
  * asserts both emit identical rows.
  */
object Subgraphs {

  /** edges(src,dst) symmetric; candidates(edge_id, head, tail), where
    * one edge_id names one (head, tail): an edge_id carrying two, or a
    * null head or tail, throws IllegalArgumentException on both paths
    * (the distributed walks and beam key by edge_id alone); a candidate
    * row repeated byte for byte is labelled once. Returns one row per
    * kept subgraph node: (edge_id, node, d_head, d_tail).
    *
    * The driver path engages only for BIGINT node ids and a string
    * edge_id: the local body reads them without casts, and a cast would
    * silently canonicalize "0123"-style string ids.
    */
  def encloseAndLabel(edges: DataFrame, candidates: DataFrame, h: Int): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val localShape = candidates.schema("edge_id").dataType == StringType &&
      Seq(candidates.schema("head"), candidates.schema("tail"),
        edges.schema("src"), edges.schema("dst")).forall(_.dataType == LongType)
    label(edges, candidates, h, community = false, tryLocal = localShape)
  }

  /** One gathered beam row: an induced edge of a candidate's h-hop
    * union neighborhood, with the candidate roots and the src node's
    * FULL-graph degree carried along (the conductance sweep must see
    * true degrees, not beam-truncated ones, to match the reference's
    * full-graph multicom).
    */
  final case class BeamEdge(
      edge_id: String, head: Long, tail: Long, src: Long, dst: Long,
      src_deg: Long)
  final case class LabeledNode(
      edge_id: String, node: Long, d_head: Int, d_tail: Int)

  /** Community-pruned enclosing subgraphs — the reference's ALWAYS-ON
    * flow (graph_sampler.py:319-325):
    *
    *   1. union neighborhood U = N_h(head) ∪ N_h(tail);
    *   2. multicom: approximate PPR from seeds {head, tail} + conductance
    *      sweep cut -> community C (multicom.py:52-141);
    *   3. nodes = {head, tail} ∪ ((C \ roots) ∩ U);
    *   4. double-radius labels = BFS distances WITHIN the induced
    *      subgraph on those nodes, other root removed
    *      (node_label, graph_sampler.py:365-391);
    *   5. prune to max(d_head, d_tail) <= h.
    *
    * Steps 2-5 run in the per-candidate beam over the gathered h-hop
    * subgraph — the reference runs the same per-link computation
    * in an mp.Pool worker. Deviation (documented): the reference
    * evaluates PPR on the full graph; the beam evaluates it on the
    * gathered h-hop neighborhood — the push algorithm's mass outside the
    * seeds' neighborhood is below eps by construction.
    *
    * edges(src,dst) symmetric with LONG node ids (dictionary-encode
    * upstream; the driver path casts ids to long and edge_id to string);
    * candidates(edge_id, head, tail).
    * Returns (edge_id, node, d_head, d_tail).
    */
  def encloseAndLabelCommunity(edges: DataFrame, candidates: DataFrame, h: Int): DataFrame =
    label(edges, candidates, h, community = true, tryLocal = true)

  // both candidate errors share the prefix the distributed catch maps
  private val (candidatePrefix, repeatedSuffix, nullSuffix) =
    ("Subgraphs: candidate edge_id ", " carries more than one (head, tail)",
      " has a null head or tail")

  /** Dispatch for both entry points. The size probe IS the driver
    * input: a bounded collect answers "is it small?" and, when yes, is
    * what the local walks run on — nothing is read twice. Edges with a
    * null endpoint are dropped before the limit; they never contribute
    * rows on either path.
    */
  private def label(edges: DataFrame, candidates: DataFrame, h: Int,
      community: Boolean, tryLocal: Boolean): DataFrame = {
    import graft.core.Session.collectIfSmall
    val local = if (!tryLocal) None else for {
      e <- collectIfSmall(edges.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src").isNotNull && col("dst").isNotNull))
      c <- collectIfSmall(candidates.select(col("edge_id").cast("string"),
        col("head").cast("long"), col("tail").cast("long")))
    } yield {
      def reject(eid: String, suffix: String) =
        throw new IllegalArgumentException(candidatePrefix + eid + suffix)
      c.find(r => r.isNullAt(1) || r.isNullAt(2)).foreach(r => reject(r.getString(0), nullSuffix))
      c.groupBy(_.getString(0)).collectFirst {
        case (eid, rs) if rs.map(r => (r.get(1), r.get(2))).distinct.length > 1 => eid
      }.foreach(reject(_, repeatedSuffix))
      labelLocal(edges.sparkSession, e.map(r => (r.getLong(0), r.getLong(1))),
        c.map(r => (r.getString(0), r.getLong(1), r.getLong(2))), h, community)
    }
    local.getOrElse(labelDistributed(edges, candidates, h, community))
  }

  /** Driver path: the distributed walks per candidate over one
    * adjacency map, the same marker-first induced-edge list and the same
    * beam body, so both paths emit identical rows.
    */
  private def labelLocal(spark: SparkSession, e: Array[(Long, Long)],
      cands: Array[(String, Long, Long)], h: Int, community: Boolean): DataFrame = {
    import spark.implicits._
    val adj: Map[Long, Array[Long]] = e.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    // full-graph degrees; only the community sweep reads them
    def deg(n: Long): Int = adj.get(n).fold(0)(_.length)
    val out = cands.distinct.toSeq.flatMap { case (eid, head, tail) =>
      if (!community) {
        val dh = Bfs.kHopLocal(adj, Seq(head), h, Some(tail))
        val dt = Bfs.kHopLocal(adj, Seq(tail), h, Some(head))
        Iterator(LabeledNode(eid, head, 0, 1), LabeledNode(eid, tail, 1, 0)) ++
          dh.iterator.collect { case (n, a) if n != head && n != tail && dt.contains(n) =>
            LabeledNode(eid, n, a, dt(n))
          }
      } else {
        val u = Bfs.kHopLocal(adj, Seq(head, tail), h).keySet
        val induced = Iterator((head, head, deg(head))) ++
          u.iterator.flatMap { a =>
            adj.getOrElse(a, Array.empty[Long]).iterator.filter(u).map(b => (a, b, deg(a)))
          }
        communityLabelBeam(eid, head, tail, induced, e.length.toDouble, h)
      }
    }
    spark.createDataset(out).toDF()
  }

  /** Distributed path. Every walk is one [[Bfs.kHop]] over the same
    * seeds: side 0 starts at head with tail as the other root, side 1
    * the reverse.
    *  - enclosing: keyed by (edge_id, side), other root blocked; keep
    *    the nodes both sides reach.
    *  - community: keyed by edge_id, both roots in one frontier (a
    *    multi-seed BFS reaches the union of the per-seed reaches).
    */
  private def labelDistributed(edges: DataFrame, rawCandidates: DataFrame, h: Int,
      community: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val candidates = rawCandidates.select("edge_id", "head", "tail").distinct()
    // one edge_id names one non-null (head, tail): the guard rides on a
    // window over edge_id whose partitioning the walk's seed distinct
    // reuses, so the walk's first checkpoint job raises it and no job
    // is added
    val ends = struct(col("head"), col("tail"))
    val byEdge = Window.partitionBy(col("edge_id"))
    def reject(suffix: String) = raise_error(concat(lit(candidatePrefix),
      coalesce(col("edge_id").cast("string"), lit("null")), lit(suffix)))
    val seeds = candidates
      .select(col("edge_id"), explode(array(
          struct(lit(0).as("side"), col("tail").as("other"), col("head").as("node")),
          struct(lit(1).as("side"), col("head").as("other"), col("tail").as("node")))).as("__s"),
        (min(ends).over(byEdge) =!= max(ends).over(byEdge)).as("__repeated"))
      .select(col("edge_id"), col("__s.side").as("side"), col("__s.other").as("other"),
        when(col("__s.node").isNull || col("__s.other").isNull, reject(nullSuffix))
          .when(col("__repeated"), reject(repeatedSuffix))
          .otherwise(col("__s.node")).as("node"))
    def walk(keys: Seq[String], blocked: Option[String] = None): DataFrame =
      try Bfs.kHop(edges, seeds, h, keys, blocked)
      catch {
        case e: RuntimeException with SparkThrowable if e.getCondition == "USER_RAISED_EXCEPTION" &&
            e.getMessageParameters.get("errorMessage").startsWith(candidatePrefix) =>
          throw new IllegalArgumentException(e.getMessageParameters.get("errorMessage"), e)
      }

    if (!community) {
      val walked = walk(Seq("edge_id", "side"), Some("other"))
      def side(s: Int, d: String) = walked.filter(col("side") === s)
        .select(col("edge_id"), col("node"), col("dist").as(d))
      val roots = candidates.select(col("edge_id"),
        col("head").as("node"), lit(0).as("d_head"), lit(1).as("d_tail"))
        .unionAll(candidates.select(col("edge_id"),
          col("tail").as("node"), lit(1).as("d_head"), lit(0).as("d_tail")))
      val nonRoots = side(0, "d_head").join(side(1, "d_tail"), Seq("edge_id", "node"))
        .join(candidates, Seq("edge_id"))
        .filter(col("node") =!= col("head") && col("node") =!= col("tail"))
        .select(col("edge_id"), col("node"), col("d_head"), col("d_tail"))
      return roots.unionAll(nonRoots)
    }

    val u = walk(Seq("edge_id")).select("edge_id", "node").distinct()
    // induced edges per candidate (both endpoints in U) plus one marker
    // row per candidate, so every candidate forms a group even when its
    // beam has no induced edges (the beam's adjacency build drops it)
    val n1 = u.select(col("edge_id"), col("node").as("__s"))
    val n2 = u.select(col("edge_id").as("__e2"), col("node").as("__d"))
    val induced = edges
      .join(n1, edges("src") === n1("__s"))
      .join(n2, col("edge_id") === col("__e2") && edges("dst") === n2("__d"))
      .select(col("edge_id"), col("src"), col("dst"))
    val markers = candidates.select(col("edge_id"),
      col("head").as("src"), col("head").as("dst"))
    val beam = induced.unionAll(markers).join(candidates, Seq("edge_id"))
    // full-graph degrees and the total volume (symmetric edge list:
    // out-degree == degree, row count == volume), over the non-null
    // rows the driver path collects
    val clean = edges.filter(col("src").isNotNull && col("dst").isNotNull)
    val totalVol = clean.count().toDouble
    beam.join(clean.groupBy(col("src")).agg(count(lit(1)).as("__deg")), Seq("src"), "left")
      .select(col("edge_id"), col("head"), col("tail"), col("src"), col("dst"),
        coalesce(col("__deg"), lit(0L)).as("src_deg"))
      .as[BeamEdge]
      .groupByKey(_.edge_id).flatMapGroups { (eid, rows) =>
        val buf = rows.toArray
        communityLabelBeam(eid, buf.head.head, buf.head.tail,
          buf.iterator.map(r => (r.src, r.dst, r.src_deg.toInt)), totalVol, h)
      }.toDF()
  }

  /** The per-candidate beam body — ONE implementation shared by the
    * distributed flatMapGroups path and the driver path so the
    * community/label semantics cannot diverge. `edges` is the gathered
    * symmetric induced edge list with full-graph src degrees
    * (self-loop marker rows tolerated: dropped by the adjacency build).
    */
  private def communityLabelBeam(eid: String, head: Long, tail: Long,
      edges: Iterator[(Long, Long, Int)], totalVol: Double, h: Int): Iterator[LabeledNode] = {
    val buf = edges.toArray
    val fullDeg: Map[Long, Int] = buf.iterator.map(r => r._1 -> r._3).toMap
    val adj: Map[Long, Array[Long]] = buf.iterator
      .filter(r => r._1 != r._2)
      .map(r => r._1 -> r._2) // edges arrive symmetric
      .toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).distinct.sorted.toArray }
    val ppr = Ppr.approximatePpr(adj, Seq(head, tail), fullDeg = fullDeg)
    val comm = Ppr.sweepCut(adj, ppr, fullDeg, Some(totalVol))
    val cluster = (comm - head - tail)
      .intersect(adj.keySet ++ adj.valuesIterator.flatten) // C ∩ U
    val subNodes = Set(head, tail) ++ cluster
    val subAdj: Map[Long, Array[Long]] = adj.collect {
      case (k, vs) if subNodes(k) => k -> vs.filter(subNodes)
    }
    // BFS within the induced subgraph, other root removed; a node
    // unreachable within h from either root is pruned
    val dh = Bfs.kHopLocal(subAdj, Seq(head), h, blocked = Some(tail))
    val dt = Bfs.kHopLocal(subAdj, Seq(tail), h, blocked = Some(head))
    Iterator(LabeledNode(eid, head, 0, 1), LabeledNode(eid, tail, 1, 0)) ++
      cluster.iterator.collect { case n if dh.contains(n) && dt.contains(n) =>
        LabeledNode(eid, n, dh(n), dt(n))
      }
  }
}
