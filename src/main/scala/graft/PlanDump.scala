package graft

import java.nio.file.{Files, Paths}

import graft.core.Session

/** Dumps `.explain("formatted")` for named driver-contract queries to
  * plans/<dir>/<query>_<suffix>.txt — the r08 optimization-evidence
  * artifacts. The session is Bench's configuration ([[Session]]), so the
  * captured plans are the benched plans.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
