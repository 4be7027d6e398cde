package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Connected components via alternating large-star / small-star rounds
  * implemented as iterative DataFrame self-joins under AQE — the exact
  * algorithm the north rule mandates (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14).
  *
  * Reference semantics anchor: the recursive-DFS component finder at
  * /root/reference/src/knowledge-graph/extract.py:33-52 — single-process
  * and stack-bound; this version converges in O(log n) rounds and scales
  * to arbitrary edge counts because each round is two shuffles on the
  * (node -> neighbors) grouping.
  *
  * Node ids are treated as an ordered opaque column (strings order
  * lexicographically). The distributed path dictionary-encodes string
  * ids to dense longs before the star rounds — shuffle keys are 8 bytes
  * regardless of id width — and decodes afterwards; the encoding is
  * order-isomorphic so min-id roots equal min-string roots. Every round
  * the plan lineage is truncated with
  * localCheckpoint — otherwise Catalyst re-analysis grows superlinearly
  * (SURVEY.md §4 item 2).
  */
object ConnectedComponents {

  /** Canonical undirected edge list: a < b, distinct, no self-loops. */
  private def canonical(edges: DataFrame): DataFrame = {
    val (a, b) = (col(edges.columns(0)), col(edges.columns(1)))
    edges
      .filter(a =!= b)
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .distinct()
  }

  /** Large-star: for each node u, m = min(N(u) ∪ {u}); emit (v, m) for
    * every strictly larger neighbor v.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.union(e.select(col("b").as("a"), col("a").as("b"))) // (u=a, v=b)
    val mins = und.groupBy(col("a").as("u"))
      .agg(least(min(col("b")), first(col("a"))).as("m"))
    und.join(mins, und("a") === mins("u"))
      .filter(col("b") > col("a"))
      .select(col("m").as("a"), col("b")) // m <= u < v, already canonical
  }

  /** Small-star: for each node u, over smaller neighbors N-(u):
    * m = min(N-(u) ∪ {u}); emit (v, m) for v in N-(u) and (u, m).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    // lower = (u, v) with v < u  ==  canonical rows read as (v=a, u=b)
    val mins = e.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
    val rewired = e.join(mins, e("b") === mins("u"))
      .filter(col("a") =!= col("m"))
      .select(col("m").as("a"), col("a").as("b")) // m < v always
    val self = mins.select(col("m").as("a"), col("u").as("b"))
    rewired.union(self)
  }

  /** Dictionary-encode string edge endpoints to dense longs (order-
    * isomorphic: ids follow lexicographic key order). Returns
    * (encoded(a: long, b: long), dict(k: string, id: long)).
    */
  def encodeEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val (c0, c1) = (edges.columns(0), edges.columns(1))
    val nodes = edges.select(col(c0).as("k"))
      .unionAll(edges.select(col(c1).as("k"))).distinct()
    // always the distributed ranking: this path is only reached for
    // graphs past the driver threshold, where the node set must never
    // funnel through a one-task sort
    val dict = graft.core.Ids.globalRowNumber(nodes, "k", "id")
      .localCheckpoint(true)
    val encoded = edges
      .join(dict.select(col("k").as(c0), col("id").as("__ea")), Seq(c0))
      .join(dict.select(col("k").as(c1), col("id").as("__eb")), Seq(c1))
      .select(col("__ea").as("a"), col("__eb").as("b"))
    (encoded, dict)
  }

  /** Target-component choice (reference
    * /root/reference/src/knowledge-graph/extract.py:117-131: among the
    * connected components, keep the one containing the MOST target
    * subjects). cc(id, component) from [[run]]; targets(one node
    * column). Ties break to the min component id (deterministic; the
    * reference's `>` keeps the first-seen max, an iteration-order
    * notion). Returns the winning component's full (id, component)
    * membership.
    *
    * Scale shape: the count is a per-component aggregate of the
    * semi-joined target rows (small), the argmax is a limit(1) on that
    * aggregate, and the membership filter is a broadcast join of the
    * 1-row winner — no full-graph sort anywhere.
    */
  def targetComponent(cc: DataFrame, targets: DataFrame): DataFrame = {
    val tcol = targets.columns(0)
    val counts = cc
      .join(targets.select(col(tcol).as("id")), Seq("id"), "left_semi")
      .groupBy(col("component")).agg(count(lit(1)).as("__n"))
    val winner = counts.orderBy(col("__n").desc, col("component")).limit(1)
      .select(col("component"))
    cc.join(broadcast(winner), Seq("component")).select(col("id"), col("component"))
  }

  private def checksum(e: DataFrame): (BigDecimal, Long) = {
    // decimal(38,0) sum: ANSI mode (Spark 4 default) would throw on a
    // wrapped long sum of 64-bit hashes
    val r = e.agg(
      coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")), lit(BigDecimal(0))),
      count(lit(1))).collect()(0)
    (BigDecimal(r.getDecimal(0)), r.getLong(1))
  }

  /** edges(any two columns) -> (id, component) for every node appearing
    * in an edge; component = min node id of the component.
    *
    * Small inputs (fewer than [[graft.core.Session.driverRows]] edges)
    * short-circuit to a driver-side union-find: running ~6 alternating-
    * star rounds (3 jobs each) on a dictionary-sized graph costs ~20 job
    * launches for work a single collect finishes in microseconds — the
    * same adaptivity Catalyst applies when it broadcasts a small join
    * side. `spark.graft.driverRows=0` forces the distributed algorithm.
    */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    // MIN ordering must match the column's native ordering, so the
    // union-find runs on the original type (numeric vs string), not on
    // a lossy string cast ("10" < "2" but 2 < 10), and strings compare
    // as Spark compares them on the distributed path: by UTF-8 bytes,
    // not by the UTF-16 units of `String.compareTo`, which order
    // U+1F600 below U+FFFD. The bounded probe's rows are the union-find
    // input: one job, nothing read twice.
    val (c0, c1) = (edges.columns(0), edges.columns(1))
    val idType = edges.schema(c0).dataType
    val isNumeric = idType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def unionFind[T: scala.reflect.ClassTag](pairs: Array[(T, T)], ord: Ordering[T]): Array[(T, T)] = {
      val parent = scala.collection.mutable.Map[T, T]()
      // iterative find (walk to root, then compress) — chain-shaped
      // inputs near the 64k threshold would overflow the stack with a
      // non-tail-recursive form
      def find(x: T): T = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
        root
      }
      pairs.foreach { case (a, b) =>
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        }
      }
      pairs.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, find(n)))
    }
    val as = if (isNumeric) "long" else "string"
    graft.core.Session.collectIfSmall(edges.select(col(c0).cast(as), col(c1).cast(as)))
      .fold(distributed(edges, maxIter)) { local =>
        import spark.implicits._
        val cc =
          if (isNumeric)
            unionFind(local.map(r => (r.getLong(0), r.getLong(1))), Ordering.Long).toSeq.toDF()
          else unionFind(local.map(r => (r.getString(0), r.getString(1))),
            Ordering.by[String, UTF8String](UTF8String.fromString)).toSeq.toDF()
        cc.select(col("_1").cast(idType).as("id"), col("_2").cast(idType).as("component"))
      }
  }

  /** [[run]]'s star rounds, whatever the input's size. */
  private def distributed(edges: DataFrame, maxIter: Int): DataFrame = {
    // Distributed path over STRING ids: dictionary-encode to dense longs
    // first (the file's own scale note, r1 VERDICT item 10). ~6 star
    // rounds x 3 shuffles each move every id; 8-byte longs instead of
    // arbitrary strings cut the shuffle width, for the price of one
    // dictionary sort + two encode joins + two decode joins. Ids are
    // assigned in lexicographic key order (Ids.dictionary), so min-id
    // component roots decode back to exactly the min-string roots.
    if (edges.schema(edges.columns(0)).dataType ==
        org.apache.spark.sql.types.StringType) {
      val (encoded, dict) = encodeEdges(edges)
      return distributed(encoded, maxIter)
        .join(dict.select(col("k").as("__ik"), col("id")), Seq("id"))
        .join(dict.select(col("k").as("__ck"), col("id").as("component")),
          Seq("component"))
        .select(col("__ik").as("id"), col("__ck").as("component"))
    }
    var e = canonical(edges).localCheckpoint(true)
    var prev = checksum(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = canonical(smallStar(largeStar(e))).localCheckpoint(true)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      e = next
      it += 1
    }
    // fixpoint is a star forest: a = component root, b = member.
    // A node can appear with several parents mid-convergence; min() is a
    // safe final projection.
    val members = e.groupBy(col("b").as("id")).agg(min(col("a")).as("component"))
    val roots = e.select(col("a")).distinct()
      .join(members.select(col("id")), col("a") === col("id"), "left_anti")
      .select(col("a").as("id"), col("a").as("component"))
    members.union(roots)
  }
}
