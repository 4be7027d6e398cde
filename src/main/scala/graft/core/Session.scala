package graft.core

import org.apache.spark.sql.SparkSession

/** The one Spark session configuration of the engine's mains: the one
  * `graft.Bench` runs with, so a main measures or prints what the bench
  * runs. `Bench` and `Verify` are frozen and keep inline copies of it.
  */
object Session {

  /** `local[N]` parallelism: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A builder with the bench configuration; callers may add confs. */
  def builder(appName: String): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      // 4 shuffle partitions per core: one slow task of a single wave
      // would idle every other core; AQE coalesces what is too fine
      .config("spark.sql.shuffle.partitions", (n * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      // broadcast up to 256 MB; larger joins prefer shuffled-hash over
      // sort-merge (no sort of the big side)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
  }
}
