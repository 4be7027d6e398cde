package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Ids.{mix64, unitDouble}

/** Seeded generator for the operator-query tables: the TPC-H-shaped star
  * schema plus `events`, `documents` and `embeddings`, with the column
  * names, types and value ranges of the engine's test data. Row counts
  * scale with `sf` as in that data (lineitem ~ 6M x sf); documents and
  * embeddings keep a floor of 500 rows. Every value is a pure function of
  * (seed, table, row), so one seed always yields the same tables.
  */
object OpsData {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
      p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
      l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val colors = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Vector("click", "error", "purchase", "signup", "view")
  private val langs = Vector("de", "en", "en", "es", "fr", "zh")
  private val words = Vector("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private val day = 86400000L
  private val orderEpoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val eventEpoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def pick[T](v: Vector[T], h: Long): T = v(((h & 0x7fffffffL) % v.size).toInt)
  private def between(h: Long, lo: Double, hi: Double): Double =
    math.round((lo + unitDouble(h) * (hi - lo)) * 100) / 100.0

  final case class Sizes(customers: Long, orders: Long, parts: Long, suppliers: Long,
      events: Long, users: Long, documents: Long)

  def sizes(sf: Double): Sizes = Sizes(
    customers = math.max(1L, (150000 * sf).toLong),
    orders = math.max(1L, (1500000 * sf).toLong),
    parts = math.max(1L, (200000 * sf).toLong),
    suppliers = math.max(1L, (10000 * sf).toLong),
    events = math.max(1L, (1000000 * sf).toLong),
    users = math.max(1L, (15000 * sf).toLong),
    documents = math.max(500L, (50000 * sf).toLong))

  /** Document text: 10-99 words; every 10th document repeats its
    * predecessor with the last word changed (near duplicate) and every
    * 25th repeats it exactly, so the dedup operators find real pairs.
    */
  private def docText(seed: Long, j: Long): String = {
    def base(k: Long): Vector[String] = {
      val h = mix64(seed, 7000000000L + k)
      val n = 10 + ((h & 0x7fffffffL) % 90).toInt
      Vector.tabulate(n)(i => pick(words, mix64(h, i)))
    }
    if (j % 25 == 24) base(j - 1).mkString(" ")
    else if (j % 10 == 9) { val b = base(j - 1); b.updated(b.size - 1, pick(words, j)).mkString(" ") }
    else base(j).mkString(" ")
  }

  /** Writes every table as `<dir>/<name>.parquet`, one file each; the
    * tables are written concurrently, one job each.
    */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val n = sizes(sf)
    def h(table: Long, j: Long, k: Int) = mix64(mix64(seed, table * 1000003L + k), j)
    val jobs = scala.collection.mutable.ArrayBuffer[Future[Unit]]()
    def save[T](name: String, ds: Dataset[T]): Unit = jobs += Future(
      ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))

    save("region", regions.indices.map(i => Region(i, regions(i))).toDS())
    save("nation", (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)).toDS())
    save("customer", spark.range(n.customers).map { j =>
      Customer(j, f"Customer#$j%09d", (h(1, j, 0) & 0x7fffffffL).toInt % 25,
        between(h(1, j, 1), -999.99, 9999.99), pick(segments, h(1, j, 2)))
    })
    save("supplier", spark.range(n.suppliers).map { j =>
      Supplier(j, f"Supplier#$j%09d", (h(2, j, 0) & 0x7fffffffL).toInt % 25,
        between(h(2, j, 1), -999.99, 9999.99))
    })
    save("part", spark.range(n.parts).map { j =>
      Part(j, s"${pick(colors, h(3, j, 0))} ${pick(nouns, h(3, j, 1))}",
        s"Brand#${1 + (h(3, j, 2) & 0x7fffffffL) % 25}", pick(partTypes, h(3, j, 3)),
        1 + ((h(3, j, 4) & 0x7fffffffL) % 50).toInt, 900.0 + (j % 1000) / 10.0)
    })
    val orders = spark.range(n.orders).map { j =>
      Order(j, (h(4, j, 0) & 0x7fffffffL) % n.customers, pick(Vector("F", "O", "P"), h(4, j, 1)),
        between(h(4, j, 2), 1000.0, 500000.0),
        new Timestamp(orderEpoch + ((h(4, j, 3) & 0x7fffffffL) % 2404) * day),
        pick(priorities, h(4, j, 4)))
    }
    save("orders", orders)
    save("lineitem", orders.flatMap { o =>
      val j = o.o_orderkey
      (1 to 1 + ((h(5, j, 0) & 0x7fffffffL) % 7).toInt).map { l =>
        val q = 1.0 + ((h(5, j, 10 * l + 1) & 0x7fffffffL) % 50)
        val part = (h(5, j, 10 * l + 2) & 0x7fffffffL) % n.parts
        LineItem(j, part, (h(5, j, 10 * l + 3) & 0x7fffffffL) % n.suppliers, l, q,
          math.round(q * (900.0 + (part % 1000) / 10.0) * 100) / 100.0,
          ((h(5, j, 10 * l + 4) & 0x7fffffffL) % 11) / 100.0,
          ((h(5, j, 10 * l + 5) & 0x7fffffffL) % 9) / 100.0,
          pick(Vector("A", "N", "R"), h(5, j, 10 * l + 6)), pick(Vector("F", "O"), h(5, j, 10 * l + 7)),
          new Timestamp(o.o_orderdate.getTime + (1 + (h(5, j, 10 * l + 8) & 0x7fffffffL) % 121) * day))
      }
    })
    save("events", spark.range(n.events).map { j =>
      Event(j, new Timestamp(eventEpoch + (unitDouble(h(6, j, 0)) * 30 * day).toLong),
        (h(6, j, 1) & 0x7fffffffL) % n.users, pick(eventTypes, h(6, j, 2)),
        between(h(6, j, 3), 0.01, 330.0), s"""{"k": ${(h(6, j, 4) & 0x7fffffffL) % 100}}""")
    })
    save("documents", spark.range(n.documents).map { j =>
      val text = docText(seed, j)
      Document(j, text, pick(langs, h(7, j, 0)), s"src${j % 20}", text.length.toLong)
    })
    save("embeddings", spark.range(n.documents).map { j =>
      val raw = Array.tabulate(64)(k => (unitDouble(h(8, j, k)) - 0.5).toFloat)
      val norm = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      Embedding(j, raw.map(_ / norm), ((h(8, j, 100) & 0x7fffffffL) % 10).toInt)
    })
    jobs.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
  }
}
