package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-shaped table seam (SURVEY.md §7.0).
  *
  * No Iceberg runtime jar ships in /opt/spark/jars, so "Iceberg tables"
  * are realized as snapshot-versioned partitioned Parquet directories plus
  * an explicit manifest (JSONL, one row per committed snapshot). The API
  * surface — partition spec, snapshot ids, atomic-ish commit, lineage —
  * is kept Iceberg-shaped so a real catalog can be dropped in later.
  *
  * Layout:  root/<table>/snapshot=<id>/[<col>=<v>/]part-*.parquet
  *          root/<table>/_manifest.jsonl
  *          root/_lineage.jsonl  (one row per written data file: its path
  *                                under snapshot=<id>/ and footer row count)
  *
  * Commit order: data, lineage rows, manifest row. The manifest row, which
  * [[hasSnapshot]] reads, is the commit point: a run stopped before it
  * re-runs the stage, which appends its lineage rows again (a snapshot's
  * lineage is the rows of its latest `ts`).
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

  /** One committed snapshot of a table; `wallMs` timed its build and write. */
  final case class Snapshot(
      table: String,
      snapshotId: String,
      inputSnapshot: String,
      rowCount: Long,
      partitionCols: Seq[String],
      wallMs: Long,
      committedAtMs: Long)

  /** Build `df`, write it as snapshot `snapshotId` and commit it. The
    * written files' footers give the lineage rows and the manifest
    * `rowCount`, so the write is the only Spark action.
    */
  def writeTable(
      df: => DataFrame,
      name: String,
      snapshotId: String,
      inputSnapshot: String = "",
      partitionCols: Seq[String] = Nil): Snapshot = {
    val t0 = System.nanoTime()
    val data = df
    val dir = s"${tableDir(name)}/snapshot=$snapshotId"
    val w = data.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val files = Tables.fileRowCounts(data.sparkSession, dir)
    appendLineage(name, snapshotId, files, wallMs)
    val snap = Snapshot(name, snapshotId, inputSnapshot, files.map(_._2).sum, partitionCols,
      wallMs, System.currentTimeMillis())
    append(manifestPath(name),
      s"""{"table":"${jsonEscape(name)}","snapshotId":"${jsonEscape(snapshotId)}","inputSnapshot":"${jsonEscape(inputSnapshot)}","rowCount":${snap.rowCount},"partitionCols":"${jsonEscape(partitionCols.mkString(","))}","committedAtMs":${snap.committedAtMs}}""" + "\n")
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

  /** One lineage row per written data file: (relative path, rows). */
  private def appendLineage(stage: String, snapshotId: String, files: Seq[(String, Long)],
      wallMs: Long): Unit = {
    val ts = System.currentTimeMillis()
    append(Paths.get(root, "_lineage.jsonl"), files.map { case (file, rows) =>
      s"""{"stage":"${jsonEscape(stage)}","snapshot_id":"${jsonEscape(snapshotId)}","file":"${jsonEscape(file)}","rows":$rows,"wall_ms":$wallMs,"ts":$ts}""" + "\n"
    }.mkString)
  }

  private def append(p: Path, lines: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.getBytes(StandardCharsets.UTF_8),
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
