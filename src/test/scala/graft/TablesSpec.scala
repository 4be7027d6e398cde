package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TableFormat, Tables}

class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // nullable and non-nullable columns, a nested struct, two partition keys
  def rows: DataFrame =
    Seq((1L, "x", Some(1.5), 0, "p"), (2L, "y", None, 1, "q"), (3L, "z", Some(2.5), 1, "p"))
      .toDF("id", "name", "score", "a", "b")
      .withColumn("st", struct(col("id"), col("name")))

  def sameAsSpark(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema) // StructType equality includes nullability
    val order = ours.columns.toSeq.map(col)
    assert(ours.orderBy(order: _*).collect().toSeq == theirs.orderBy(order: _*).collect().toSeq)
  }

  test("same schema and rows as spark.read.parquet: flat, empty, 1- and 2-level partitioned") {
    TestSpark.withTempDir("graft-tables") { dir =>
      rows.write.parquet(s"$dir/flat")
      rows.filter(lit(false)).write.parquet(s"$dir/empty")
      rows.write.partitionBy("a").parquet(s"$dir/part1")
      rows.write.partitionBy("a", "b").parquet(s"$dir/part2")
      rows.write.option("parquet.summary.metadata.level", "ALL").parquet(s"$dir/summary")
      assert(Files.exists(Paths.get(s"$dir/summary/_common_metadata")))
      for (t <- Seq("flat", "empty", "part1", "part2", "summary")) sameAsSpark(s"$dir/$t")
      assert(Tables.parquet(spark, s"$dir/empty").isEmpty)
    }
  }

  test("with schema merging on, the schema is merged over every file as Spark does") {
    TestSpark.withTempDir("graft-tables") { dir =>
      rows.select("id", "name").write.parquet(s"$dir/t")
      rows.select("id", "score").write.mode("append").parquet(s"$dir/t")
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try {
        sameAsSpark(s"$dir/t")
        assert(Tables.parquet(spark, s"$dir/t").columns.toSet == Set("id", "name", "score"))
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("same schema and rows as spark.read.parquet on a snapshot=<id> leaf") {
    TestSpark.withTempDir("graft-tables") { dir =>
      val tf = new TableFormat(dir)
      val snap = tf.writeTable(rows, "t", "s1", partitionCols = Seq("b"))
      assert(snap.rowCount == 3)
      sameAsSpark(s"${tf.root}/t/snapshot=s1")
      assert(tf.readTable(spark, "t", "s1").schema.fieldNames.toSeq ==
        Seq("id", "name", "score", "a", "st", "b"))
    }
  }

  test("empty directory and missing path raise Spark's own exception type") {
    TestSpark.withTempDir("graft-tables") { empty =>
      for (p <- Seq(empty, s"$empty/missing")) {
        val theirs = intercept[Exception](spark.read.parquet(p))
        val ours = intercept[Exception](Tables.parquet(spark, p))
        assert(ours.getClass == theirs.getClass, s"$p: ${ours.getMessage}")
      }
    }
  }

  test("no Spark job starts while a table is opened") {
    TestSpark.withTempDir("graft-tables") { dir =>
      rows.write.parquet(s"$dir/flat")
      rows.write.partitionBy("a", "b").parquet(s"$dir/part2")
      val jobs = TestBus.jobsDuring(spark.sparkContext) {
        Tables.parquet(spark, s"$dir/flat")
        Tables.parquet(spark, s"$dir/part2")
      }
      assert(jobs.isEmpty)
    }
  }

  test("writeTable's only Spark action is the write; lineage rows are its files' row counts") {
    TestSpark.withTempDir("graft-tables") { dir =>
      val tf = new TableFormat(dir)
      var snap: tf.Snapshot = null
      val jobs = TestBus.jobsDuring(spark.sparkContext) {
        snap = tf.writeTable(rows, "t", "s1", partitionCols = Seq("a", "b"))
      }
      assert(jobs.nonEmpty && jobs.forall(_.isDefined) && jobs.distinct.size == 1, jobs)
      assert(snap.rowCount == 3)
      val lineage = Files.readAllLines(Paths.get(tf.root, "_lineage.jsonl")).toArray.map(_.toString)
      val file = "\"file\":\"a=\\d/b=[pq]/part-[^\"]+\\.parquet\",\"rows\":(\\d+)".r
      assert(lineage.map(l => file.findFirstMatchIn(l).get.group(1).toLong).sum == 3)
    }
  }

  test("TableFormat.jsonEscape: quote/backslash/control-safe, identity otherwise") {
    assert(TableFormat.jsonEscape("k=v;x.y=2") == "k=v;x.y=2")
    assert(TableFormat.jsonEscape("a\"b\\c") == "a\\\"b\\\\c")
    assert(TableFormat.jsonEscape("a\nb\tc") == "a\\u000ab\\u0009c")
    // the escaped value must parse back as legal JSON string content
    val v = TableFormat.jsonEscape("he said \"x=\\1\"\n")
    assert(!v.contains("\n") && !v.matches(""".*(?<!\\)".*"""))
  }
}
