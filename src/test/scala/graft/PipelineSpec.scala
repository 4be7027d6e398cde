package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TableFormat
import graft.fixtures.Fixtures
import graft.pipeline.KgPipeline

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("end-to-end P/R >= 0.95 vs fixture oracle (tiny)") {
    val cfg = Fixtures.tiny
    val res = KgPipeline.run(spark, cfg)
    val (p, r) = KgPipeline.precisionRecall(spark, cfg, res)
    info(f"tiny precision=$p%.4f recall=$r%.4f")
    assert(p >= 0.95, s"precision $p")
    assert(r >= 0.95, s"recall $r")
  }

  test("end-to-end P/R >= 0.95 vs fixture oracle (small, 5k pages)") {
    val cfg = Fixtures.small
    val res = KgPipeline.run(spark, cfg)
    val (p, r) = KgPipeline.precisionRecall(spark, cfg, res)
    info(f"small precision=$p%.4f recall=$r%.4f")
    assert(p >= 0.95, s"precision $p")
    assert(r >= 0.95, s"recall $r")
  }

  test("checkpoint resume: second run skips all stages, same output") {
    val cfg = Fixtures.tiny
    TestSpark.withTempDir("graft-tables") { root =>
      val tf = new TableFormat(root)
      val r1 = KgPipeline.run(spark, cfg, Some(tf), runId = "rA")
      val out1 = KgPipeline.outputTriples(r1).count()
      assert(r1.metrics.map(_.stage) == Seq("assertions", "linked",
        "canonical_map", "canonical_triples", "scored", "triples",
        "review_queue", "entity_dict", "relation_dict", "adjacency"))
      val r2 = KgPipeline.run(spark, cfg, Some(tf), runId = "rA")
      assert(r2.metrics.isEmpty, "resume must skip every stage")
      assert(KgPipeline.outputTriples(r2).count() == out1)
      // lineage reconciles: for every stage the per-file lineage rows sum
      // to the manifest rowCount, which is Spark's count of the snapshot
      def lines(first: String, more: String*) = Files.readAllLines(Paths.get(first, more: _*)).asScala
      def field(line: String, key: String) =
        s""""$key":"?([^",}]*)""".r.findFirstMatchIn(line).get.group(1)
      val lineage = lines(root, "_lineage.jsonl")
      for (m <- r1.metrics) {
        val snapId = s"rA-${m.stage}"
        val fromLineage = lineage.filter(field(_, "snapshot_id") == snapId).map(field(_, "rows").toLong)
        val manifest = lines(root, m.stage, "_manifest.jsonl")
          .filter(field(_, "snapshotId") == snapId).map(field(_, "rowCount").toLong)
        val counted = spark.read.parquet(s"$root/${m.stage}/snapshot=$snapId").count()
        assert(fromLineage.nonEmpty && fromLineage.sum == counted, m.stage)
        assert(manifest == Seq(counted) && m.rows == counted, m.stage)
      }
      // relation-partitioned materialization (D3): triples partitioned by
      // predicate, adjacency partitioned by rel, dictionaries present
      val triplesDir = new java.io.File(s"$root/triples/snapshot=rA-triples")
      assert(triplesDir.list().exists(_.startsWith("predicate=")))
      val adjDir = new java.io.File(s"$root/adjacency/snapshot=rA-adjacency")
      assert(adjDir.list().exists(_.startsWith("rel=")))
      val ent = spark.read.parquet(s"$root/entity_dict/snapshot=rA-entity_dict")
      assert(ent.columns.toSeq.sorted == Seq("entity", "id"))
    }
  }

  test("a resumed run starts no Spark job") {
    TestSpark.withTempDir("graft-tables") { dir =>
      val tf = new TableFormat(dir)
      KgPipeline.run(spark, Fixtures.tiny, Some(tf), runId = "rC")
      var resumed: Seq[graft.pipeline.StageMetrics] = null
      val jobs = TestBus.jobsDuring(spark.sparkContext) {
        resumed = KgPipeline.run(spark, Fixtures.tiny, Some(tf), runId = "rC").metrics
      }
      assert(resumed.isEmpty, "resume must skip every stage")
      assert(jobs.isEmpty, s"${jobs.size} Spark jobs")
    }
  }

  test("resume is keyed by input identity: same runId over a DIFFERENT input re-runs") {
    TestSpark.withTempDir("graft-tables") { root =>
      val tf = new TableFormat(root)
      val r1 = KgPipeline.run(spark, Fixtures.tiny, Some(tf), runId = "rB")
      def assertionRows(m: Seq[graft.pipeline.StageMetrics]): Long =
        m.find(_.stage == "assertions").map(_.rows).getOrElse(-1L)
      assert(assertionRows(r1.metrics) > 0)
      // same runId, bigger fixture: silently skipping would report the tiny
      // run's output under the new label (ADVICE r1, medium)
      val cfg2 = Fixtures.tiny.copy(nPages = Fixtures.tiny.nPages * 2)
      val r2 = KgPipeline.run(spark, cfg2, Some(tf), runId = "rB")
      assert(r2.metrics.nonEmpty, "different input with the same runId must NOT resume")
      assert(assertionRows(r2.metrics) > assertionRows(r1.metrics),
        "the re-run must process the NEW (larger) input")
    }
  }

  test("review queue has at most N rows, ordered by uncertainty desc") {
    val cfg = Fixtures.tiny
    val res = KgPipeline.run(spark, cfg)
    val rows = res.review.collect()
    assert(rows.length <= 10)
    val u = rows.map(_.getAs[Double]("uncertainty")).toSeq
    assert(u == u.sorted.reverse)
  }
}
