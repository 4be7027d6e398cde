package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic id assignment + seeded hashing utilities.
  *
  * The reference builds entity/relation dictionaries by first-seen file
  * order (/root/reference/src/gnn/lcilp/utils/data_utils.py:23-45) — a
  * single-process notion. Distributed equivalent must be retry-stable:
  * NEVER monotonically_increasing_id (non-deterministic under task
  * retry). Ranks follow the global order of the key column, computed
  * WITHOUT a single-partition global sort — SURVEY.md §4 item 3.
  */
object Ids {

  /** Global dense rank (1..n) by `orderCol` without a one-task global
    * sort: range-partition on the key, rank locally per partition, then
    * add broadcast per-partition offset prefix-sums. Range partitions
    * are ordered by key, so offset + local rank == global rank exactly;
    * the result is independent of where the (sampled) range boundaries
    * fall, hence deterministic and retry-stable.
    *
    * The partitioned frame is localCheckpoint'ed so the offset-count
    * pass and the ranking pass see the SAME partitioning (range-sampler
    * seeds differ across separate executions). The offsets collect is
    * bounded metadata: one (pid, count) row per shuffle partition.
    *
    * `orderCol` values must be distinct (callers rank distinct keys or
    * unique row keys); ties within a partition would rank
    * nondeterministically.
    */
  def globalRowNumber(df: DataFrame, orderCol: String, rnCol: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val ranged = df
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = ranged.groupBy(col("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2))
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
    ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(rnCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** (key -> dense long id) dictionary, deterministic: ids follow the
    * lexicographic order of the distinct keys.
    *
    * Adaptive like ConnectedComponents.run: dictionary-sized key sets
    * (fewer than [[Session.driverRows]]) rank through one window — the
    * partition-offset machinery costs ~4 jobs (checkpoint, counts,
    * broadcast, join) that dwarf a one-task sort of a few thousand keys
    * — while anything larger takes [[globalRowNumber]] so no full-graph
    * node set ever funnels through one task. Both paths produce
    * IDENTICAL ids (global lexicographic rank). The probe counts rather
    * than collects, so the small path still sorts in Spark: Spark
    * orders strings by UTF-8 bytes, the JVM's `String` by UTF-16 units.
    * `spark.graft.driverRows=0` forces the distributed ranking.
    */
  def dictionary(df: DataFrame, keyCol: String, idCol: String = "id"): DataFrame = {
    val distinct = df.select(col(keyCol)).distinct()
    val th = Session.driverRows(df.sparkSession)
    if (th > 0) {
      // materialize the distinct ONCE before probing: without it the
      // probe's limit+count runs the full aggregation and the chosen
      // path re-runs the identical distinct from scratch — doubling the
      // dominant cost exactly in the large-input case
      val mat = distinct.localCheckpoint(true)
      if (mat.limit(th).count() < th)
        mat.withColumn(idCol,
          row_number().over(Window.orderBy(col(keyCol))).cast("long"))
      else globalRowNumber(mat, keyCol, idCol)
    } else globalRowNumber(distinct, keyCol, idCol)
  }

  /** Pure 64-bit mix (splitmix64 finalizer). Stable across JVMs/retries;
    * used anywhere the reference used a sequential RNG (SURVEY.md §7.4:
    * "make it a pure hash-based function of (s,o,seed)").
    */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** mix64 of two longs (seeded). */
  def mix64(a: Long, b: Long): Long = mix64(mix64(a) ^ b)

  /** Uniform double in [0,1) from a long, pure. */
  def unitDouble(x: Long): Double = (mix64(x) >>> 11).toDouble / (1L << 53).toDouble
}
