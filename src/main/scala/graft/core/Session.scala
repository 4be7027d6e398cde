package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one Spark session configuration of the engine's mains: the one
  * `graft.Bench` runs with, so a main measures or prints what the bench
  * runs. `Bench` and `Verify` are frozen and keep inline copies of it.
  *
  * It also holds the engine's one small-or-large switch. Every operator
  * with a driver path and a distributed path (`ConnectedComponents.run`,
  * `Bfs.allPairsDistances`, `Subgraphs`, `Ids.dictionary`) takes the
  * driver path when its input has fewer than `spark.graft.driverRows`
  * rows (default 65,536), as `spark.sql.autoBroadcastJoinThreshold` is
  * one conf for one broadcast-or-shuffle choice. At 0 every operator
  * takes its distributed path; the conf is read per call, so
  * `-Dspark.graft.driverRows=0` or a `spark.conf.set` switches a run.
  */
object Session {

  val DriverRowsConf = "spark.graft.driverRows"
  val DefaultDriverRows: Int = 1 << 16

  def driverRows(spark: SparkSession): Int =
    spark.conf.get(DriverRowsConf, DefaultDriverRows.toString).toInt

  /** The switch's bounded probe: `df`'s rows when it has fewer than
    * [[driverRows]] of them, else None. The probe reads at most that
    * many rows in one job, and its answer already is the driver path's
    * input; at 0 it starts no job.
    */
  def collectIfSmall(df: DataFrame): Option[Array[Row]] = {
    val th = driverRows(df.sparkSession)
    if (th <= 0) None
    else Some(df.limit(th).collect()).filter(_.length < th)
  }

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
