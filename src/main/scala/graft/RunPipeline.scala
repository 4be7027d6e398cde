package graft

import graft.core.{Session, TableFormat}
import graft.fixtures.Fixtures
import graft.pipeline.KgPipeline

/** CLI surface for the KG construction-and-pruning pipeline.
  *
  * Usage: RunPipeline <tiny|small|bench> <tablesDir> [runId]
  *
  * Runs pages -> extract -> link -> canonicalize -> prune with
  * checkpointed stage boundaries in <tablesDir> (resume: re-running with
  * the same runId skips completed stages), prints per-stage metrics and
  * the P/R vs the fixture oracle as one JSON line.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: RunPipeline <tiny|small|bench> <tablesDir> [runId]")
      sys.exit(2)
    }
    val cfg = args(0) match {
      case "tiny" => Fixtures.tiny
      case "small" => Fixtures.small
      case "bench" => Fixtures.bench
      case other =>
        System.err.println(s"unknown scale '$other' (expected tiny|small|bench)")
        sys.exit(2); throw new IllegalStateException
    }
    val tablesDir = args(1)
    val runId = if (args.length > 2) args(2) else "run1"
    val cpus = Session.cpus

    val spark = Session.builder("graft-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val res = KgPipeline.run(spark, cfg, Some(new TableFormat(tablesDir)), runId)
    val outTriples = KgPipeline.outputTriples(res).count()
    val (p, r) = KgPipeline.precisionRecall(spark, cfg, res)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val stages = res.metrics
      .map(m => s"""{"stage":"${m.stage}","rows":${m.rows},"wall_ms":${m.wallMs}}""")
      .mkString("[", ",", "]")
    println(
      s"""{"scale":"${args(0)}","runId":"$runId","cpus":"$cpus","pages":${cfg.nPages},""" +
        s""""output_triples":$outTriples,"precision":$p,"recall":$r,""" +
        s""""wall_sec":$wallSec,"stages_run":${res.metrics.size},"stages":$stages}""")
    spark.stop()
  }
}
