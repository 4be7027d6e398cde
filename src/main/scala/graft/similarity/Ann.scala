package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Approximate nearest neighbor over embedding columns.
  *
  * Baseline: brute-force cosine top-k, the driver query q42 (AnnSpec
  * measures recall against [[rerank]] over the full cross join). Scale
  * path: random-hyperplane LSH — L hash tables of P Rademacher
  * hyperplanes each; vectors sharing a bucket in ANY table are
  * candidates; exact cosine reranks candidates. All hyperplanes are
  * derived from splitmix64, so signatures are deterministic across
  * retries and engines.
  *
  * At 10^9+ vectors the bucket join replaces the O(N*Q) cross join with
  * O(candidates) work: shuffle keys are (table, bucket), and skewed
  * buckets split fine under AQE because the join is a plain equi-join.
  */
object Ann {

  /** LSH-bucketed top-k: queries x corpus restricted to shared buckets,
    * exact cosine rerank, deterministic tiebreak. 8 tables of 6
    * hyperplanes each: all 8 bucket ids of a vector come from one native
    * [[graft.functions.LshBuckets]] pass per row and are the band keys
    * of [[Banding.pairs]], so a pair that shares buckets in several
    * tables is a candidate once.
    *
    * Full 1-bit multiprobe: per table, the query also probes the 6
    * buckets at Hamming distance 1 from its own (one hyperplane bit
    * flipped). Probing happens ONLY on the query side — the corpus
    * keeps exactly 8 signature rows per vector — so the extra recall is
    * paid by the small side of the join, not by corpus shuffle volume.
    *
    * Sized on weakly-clustered data. Fixture sweep (sf0.001, recall@3 vs
    * brute force): exact-bucket 8x6 -> 0.33, 16x6 -> 0.57, 24x6 -> 0.67;
    * with full 1-bit multiprobe 8x6 -> 0.93 (chosen: the recall of >3x
    * the tables at 1/3 the corpus-side index; AnnSpec floor 0.7),
    * 12x6 -> 1.00. The probe fan-out costs ~2.3x the candidate rerank of
    * 24x6-exact but only on the query side; corpus signature memory and
    * shuffle — the 10^9-vector cost — stay at 8 rows per vector.
    */
  def lshTopK(
      emb: DataFrame, // (id, v: array<double>)
      queries: DataFrame, // (qid, qv: array<double>)
      k: Int): DataFrame = {
    val (tables, planes) = (8, 6)
    def sig(df: DataFrame, v: String) = df.withColumn("keys",
      graft.functions.VectorOps.lshBuckets(col(v), tables, planes))
    // table t matches when xor(query bucket, corpus bucket) is 0 or one
    // of the probed bits; the probes of one bucket are distinct
    val probes = identity[Column] _ +: (0 until planes).map(b =>
      (c: Column) => c.bitwiseXOR(lit(1 << b)))
    rerank(Banding.pairs(sig(queries, "qv"), sig(emb, "v"), "keys", tables, probes), k)
  }

  /** The shared top-k tail: candidate (qid, qv, id, v) rows minus
    * self-matches, exact cosine, the k best per query (ties by id).
    * Returns (qid, nn_id, cos, rn). Ranks on the raw cosine; q42 keeps
    * its own brute force because it ranks on the 6-place rounded cosine,
    * as its oracle does.
    */
  private[graft] def rerank(cands: DataFrame, k: Int): DataFrame =
    cands.filter(col("qid") =!= col("id"))
      .withColumn("cos", graft.functions.VectorOps.cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id").as("nn_id"), col("cos"), col("rn"))

  // ------------------------------------------------------------------
  // IVF: coarse-quantizer inverted file (the second scale path)
  // ------------------------------------------------------------------

  /** Inline matrices below this size ride in the expression tree (and
    * therefore in EVERY serialized task binary); at or above it the
    * matrix ships once per executor as a torrent broadcast and tasks
    * carry only the handle. 128 KiB ~ the point where per-task copies
    * start to dominate task-launch bytes: the fixture default
    * (c=32 x dim=16 = 4 KiB) stays inline, a production
    * c ~ sqrt(10^9) ~ 31k x dim=16 = 4 MB matrix broadcasts. Both
    * paths are bit-identical (AnnSpec c=1024 parity).
    */
  private[graft] val InlineCentroidLimitBytes: Long = 128L * 1024

  /** Pick inline vs broadcast transport for a centroid matrix by its
    * size. Exposed package-private so AnnSpec can assert the cutover.
    */
  private[graft] def centroidSource(emb: DataFrame,
      m: Array[Array[Double]]): graft.functions.CentroidSource = {
    val bytes = m.iterator.map(_.length.toLong * 8).sum
    if (bytes < InlineCentroidLimitBytes) graft.functions.InlineCentroids(m)
    else graft.functions.BroadcastCentroids(
      emb.sparkSession.sparkContext.broadcast(m))
  }

  /** IVF index build: deterministic k-means over cosine similarity.
    *
    * Seeding: the C corpus vectors with the smallest xxhash64(id) — a
    * pure hash choice (no rand(); retry-stable), evaluated as a
    * TakeOrdered of C rows, never a full sort. Then 2 Lloyd
    * rounds, each a single narrow pass over the corpus: the centroid
    * matrix (C x dim doubles — bounded metadata, like the ranking
    * offsets collect) is embedded in a native
    * [[graft.functions.CentroidRanks]] expression, so assignment is a
    * compiled per-row argmax with NO join and NO shuffle of the corpus;
    * new centroids are `dim` map-side-combinable avg aggregates keyed
    * on cid (the same 1-aggregation discipline as the SimHash votes).
    * Empty clusters keep their previous centroid.
    *
    * The dimensionality is read off the collected seed vectors — a
    * caller-supplied dim that disagreed with the data either NPE'd
    * (larger: all-null avg columns) or silently truncated centroids
    * (smaller), so there is no parameter to disagree with.
    *
    * Returns (centroid matrix indexed by cid, index = (id, v, cid), the
    * final matrix's transport source). ivfTopK's query probes rank
    * against that same matrix and reuse the source, so a broadcast
    * matrix ships once, not twice.
    */
  private[graft] def ivfIndexWithSource(emb: DataFrame, c: Int)
      : (Array[Array[Double]], DataFrame, graft.functions.CentroidSource) = {
    var centroids: Array[Array[Double]] = emb
      .orderBy(pmod(xxhash64(col("id")), lit(Int.MaxValue.toLong)), col("id"))
      .limit(c)
      .select(col("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty, "IVF index: empty corpus")
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim),
      s"IVF index: mixed vector dimensionality in seed sample (expected $dim)")
    for (_ <- 1 to 2) {
      val src = centroidSource(emb, centroids)
      val cid = element_at(
        graft.functions.VectorOps.centroidRanks(col("v"), src), 1)
      val means = emb.withColumn("cid", cid)
        .groupBy(col("cid"))
        .agg(array((0 until dim).map(d => avg(col("v")(d))): _*).as("cv"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
      // the collect above completed the only job that reads this
      // iteration's matrix — destroy a broadcast transport now instead
      // of letting one stale multi-MB block per Lloyd round pile up on
      // the driver and executors until GC-driven cleanup
      src match {
        case graft.functions.BroadcastCentroids(bc) => bc.destroy()
        case _ => ()
      }
      centroids = centroids.indices
        .map(i => means.getOrElse(i, centroids(i))).toArray
    }
    val src = centroidSource(emb, centroids)
    val cid = element_at(
      graft.functions.VectorOps.centroidRanks(col("v"), src), 1)
    (centroids, emb.select(col("id"), col("v"), cid.as("cid")), src)
  }

  /** IVF top-k: each query probes its `nprobe` max-cosine centroids and
    * exact-reranks only those inverted lists. The candidate join is a
    * plain equi-join on cid (AQE splits skewed lists); vs the LSH path,
    * recall degrades gracefully with nprobe instead of with band
    * collision luck.
    */
  def ivfTopK(
      emb: DataFrame, // (id, v: array<double>)
      queries: DataFrame, // (qid, qv: array<double>)
      k: Int,
      // fixture sweep (sf0.001 recall@3): at the SAME scanned-list
      // fraction (nprobe/c = 0.25), c=32 measures 0.83 vs c=16's 0.67
      // — finer quantization beats coarser at equal probe cost (c=64
      // over-fragments the 1k-vector fixture). These literal defaults
      // fit the registry queries' tables; larger corpora want c ~ sqrt(N).
      c: Int = 32,
      nprobe: Int = 8): DataFrame = {
    require(c >= 1, s"ivfTopK: c must be >= 1, got $c")
    val (_, index, src) = ivfIndexWithSource(emb, c)
    // probes rank against the SAME final matrix as the index assignment
    // — reuse its transport (one broadcast total, not one per use site)
    val probes = queries.select(col("qid"), col("qv"),
      explode(slice(
        graft.functions.VectorOps.centroidRanks(col("qv"), src),
        1, nprobe)).as("cid"))
    rerank(probes.join(index, Seq("cid")), k)
  }
}
