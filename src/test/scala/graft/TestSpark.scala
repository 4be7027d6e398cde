package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with the driver-or-distributed switch
    * (`graft.core.Session.driverRows`) at `n` rows, then restores the
    * previous value, also when `body` throws. At 0 every size-switched
    * operator takes its distributed path.
    */
  def withDriverRows[A](n: Int)(body: => A): A = {
    val key = graft.core.Session.DriverRowsConf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toLong)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` on a fresh directory under java.io.tmpdir and deletes
    * the directory tree when the block ends, also when it throws.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  /** Order-insensitive, multiplicity-keeping digest of a result. */
  def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
    s"${rows.length}:" + md.take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
