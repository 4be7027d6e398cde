package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-shaped table seam (SURVEY.md §7.0).
  *
  * No Iceberg runtime jar ships in /opt/spark/jars, so "Iceberg tables"
  * are realized as snapshot-versioned partitioned Parquet directories plus
  * an explicit manifest (JSONL, one row per committed snapshot). The API
  * surface — partition spec, snapshot ids, atomic-ish commit, lineage —
  * is kept Iceberg-shaped so a real catalog can be dropped in later.
  *
  * Layout:  root/<table>/snapshot=<id>/part-*.parquet
  *          root/<table>/_manifest.jsonl
  *
  * Resume semantics (north_rule "resumable from checkpoint"): a stage is
  * skipped iff its output table already has a committed snapshot whose
  * `inputSnapshot` matches the current input snapshot id — see
  * [[graft.pipeline.KgPipeline]].
  */
final class TableFormat(val root: String) {
  import TableFormat.jsonEscape


  private def tableDir(name: String) = s"$root/$name"
  private def manifestPath(name: String) = Paths.get(tableDir(name), "_manifest.jsonl")

  /** One committed snapshot of a table. */
  final case class Snapshot(
      table: String,
      snapshotId: String,
      inputSnapshot: String,
      rowCount: Long,
      partitionCols: Seq[String],
      committedAtMs: Long)

  /** Write `df` as snapshot `snapshotId`; append a manifest row on success. */
  def writeTable(
      df: DataFrame,
      name: String,
      snapshotId: String,
      inputSnapshot: String = "",
      partitionCols: Seq[String] = Nil): Snapshot = {
    val dir = s"${tableDir(name)}/snapshot=$snapshotId"
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    val n = Tables.parquet(df.sparkSession, dir).count()
    val snap = Snapshot(name, snapshotId, inputSnapshot, n, partitionCols, System.currentTimeMillis())
    Files.createDirectories(Paths.get(tableDir(name)))
    val line =
      s"""{"table":"${jsonEscape(name)}","snapshotId":"${jsonEscape(snapshotId)}","inputSnapshot":"${jsonEscape(inputSnapshot)}","rowCount":$n,"partitionCols":"${jsonEscape(partitionCols.mkString(","))}","committedAtMs":${snap.committedAtMs}}""" + "\n"
    Files.write(manifestPath(name), line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    snap
  }

  def readTable(spark: SparkSession, name: String, snapshotId: String): DataFrame =
    Tables.parquet(spark, s"${tableDir(name)}/snapshot=$snapshotId")

  /** True iff `name` has a committed snapshot `snapshotId` produced from
    * `inputSnapshot` — the stage-skip predicate for resume.
    */
  def hasSnapshot(name: String, snapshotId: String, inputSnapshot: String): Boolean = {
    val p = manifestPath(name)
    Files.exists(p) && {
      val needle = s""""snapshotId":"${jsonEscape(snapshotId)}","inputSnapshot":"${jsonEscape(inputSnapshot)}""""
      Files.readAllLines(p).stream().anyMatch(l => l.contains(needle))
    }
  }

  /** Append per-partition lineage rows for a just-written stage output.
    * Row counts are computed per physical input partition with
    * spark_partition_id() — one shuffle-free pass.
    */
  def appendLineage(df: DataFrame, stage: String, snapshotId: String, wallMs: Long): Unit = {
    val rows = df
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"))
      .collect()
    val ts = System.currentTimeMillis()
    val lines = rows.map { r =>
      s"""{"stage":"${jsonEscape(stage)}","snapshot_id":"${jsonEscape(snapshotId)}","partition_id":${r.getInt(0)},"rows":${r.getLong(1)},"wall_ms":$wallMs,"ts":$ts}""" + "\n"
    }.mkString
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(root, "_lineage.jsonl"), lines.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

object TableFormat {

  /** JSON string-escape for values interpolated into hand-built
    * records: quote, backslash and control characters escaped, so a
    * value carrying them cannot break the jsonl row.
    */
  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
