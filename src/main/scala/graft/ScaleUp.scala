package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session

/** Deterministic scale-up of the driver testdata ladder (TESTDATA.md):
  * replicate every fact table `factor` times with each copy's keys
  * shifted into a disjoint key space, so referential integrity
  * (orders.o_custkey -> customer, lineitem.l_orderkey -> orders, ...)
  * holds within every copy and the result is a valid sf = src * factor
  * dataset for the same query suite. Dimension tables (region, nation)
  * stay fixed — the TPC-H convention at all SFs.
  *
  * Non-key payload columns (text, embeddings, timestamps, prices) are
  * byte-identical across copies: the realistic web-corpus shape (exact
  * duplicates recur at scale) and the property that keeps every
  * oracle-expressible query deterministic — DuckDB recomputes on the
  * same parquet, so duplicated payloads cannot desynchronize the
  * compare. Key shifts use stride = max(key)+1 of the source table, so
  * literal filters in the suite (vec_id < 20, doc_id < 200) select
  * exactly the base copy and stay constant-size under scale-up.
  *
  * Usage: graft.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = Session.builder("graft-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    // stride = max(key)+1 per source table: one tiny agg job each,
    // driver-side scalars only (bounded metadata, not data movement)
    def stride(name: String, key: String): Long =
      src(name).agg(max(col(key))).head.getLong(0) + 1L

    val sC = stride("customer", "c_custkey")
    val sS = stride("supplier", "s_suppkey")
    val sP = stride("part", "p_partkey")
    val sO = stride("orders", "o_orderkey")
    val sE = stride("events", "event_id")
    val sU = src("events").agg(max(col("user_id"))).head.getLong(0) + 1L
    val sD = stride("documents", "doc_id")
    val sV = stride("embeddings", "vec_id")

    /** Replicate `df` `factor` times, shifting each (column -> stride)
      * in `shifts` by copy * stride; column order and types preserved.
      */
    def scaled(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val copies = broadcast(spark.range(factor).toDF("__copy"))
      val outCols = df.columns.map { c =>
        shifts.get(c) match {
          case Some(st) => (col(c) + col("__copy") * lit(st)).as(c)
          case None => col(c)
        }
      }
      df.crossJoin(copies).select(outCols.toIndexedSeq: _*)
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // dimension tables: fixed at all SFs
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    write(scaled(src("customer"), Map("c_custkey" -> sC)), "customer", 4)
    write(scaled(src("supplier"), Map("s_suppkey" -> sS)), "supplier", 1)
    write(scaled(src("part"), Map("p_partkey" -> sP)), "part", 4)
    write(scaled(src("orders"), Map("o_orderkey" -> sO, "o_custkey" -> sC)),
      "orders", 8)
    write(scaled(src("lineitem"),
      Map("l_orderkey" -> sO, "l_partkey" -> sP, "l_suppkey" -> sS)),
      "lineitem", 16)
    write(scaled(src("events"), Map("event_id" -> sE, "user_id" -> sU)),
      "events", 8)
    write(scaled(src("documents"), Map("doc_id" -> sD)), "documents", 8)
    write(scaled(src("embeddings"), Map("vec_id" -> sV)), "embeddings", 4)

    // verify: every table row count = src * factor (dims: = src)
    val tables = Seq("region" -> 1, "nation" -> 1, "customer" -> factor,
      "supplier" -> factor, "part" -> factor, "orders" -> factor,
      "lineitem" -> factor, "events" -> factor, "documents" -> factor,
      "embeddings" -> factor)
    tables.foreach { case (t, f) =>
      val n0 = src(t).count()
      val n1 = spark.read.parquet(s"$outDir/$t.parquet").count()
      require(n1 == n0 * f, s"$t: expected ${n0 * f}, got $n1")
      println(s"[scaleup] $t: $n0 -> $n1")
    }
    spark.stop()
  }
}
