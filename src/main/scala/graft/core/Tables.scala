package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The engine's one way to open a parquet table and to list its files. */
object Tables {

  /** `spark.read.parquet(path)` with the schema read from one footer on
    * the driver. Spark's own inference reads that same footer inside a
    * one-task Spark job on every read; here it is a single file read and
    * the read starts no job. The schema is the one inference would give:
    * the file is the one it would touch (`_common_metadata`, then
    * `_metadata`, then the first data file by path, under the listing's
    * filter for hidden and `_`-prefixed names), converted with the
    * session's parquet settings; partition columns are still discovered
    * from the paths by Spark. With no such file (missing path, empty
    * directory), or with schema merging on, this is plain
    * `spark.read.parquet(path)`, so Spark's own answer or error surfaces.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val file = if (conf.isParquetSchemaMergingEnabled) None else {
      val files = listing(hadoopConf, path).map(_._2)
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    }
    file match {
      case Some(f) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private val summaries = Seq("_common_metadata", "_metadata")

  /** Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName,
    * private to Spark): `_`/`.`-prefixed names and files still being
    * copied are not part of a table, except the summary files.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summaries.exists(name.startsWith)

  /** The files of the table at `path` (summaries included) sorted by
    * path, each with its path relative to `path`. Descends only into
    * partition directories (`name=value`): the files of a table without
    * partition columns are the ones directly in it.
    */
  private def listing(hadoopConf: Configuration, path: String): Seq[(String, FileStatus)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    def leaves(dir: Path, rel: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq
        .filterNot(s => hidden(s.getPath.getName))
        .flatMap { s =>
          val name = rel + s.getPath.getName
          if (s.isFile) Seq(name -> s)
          else if (s.getPath.getName.contains("=")) leaves(s.getPath, name + "/")
          else Nil
        }
    if (!fs.exists(root)) Nil
    else {
      val st = fs.getFileStatus(root)
      if (st.isFile) Seq(st.getPath.getName -> st)
      else leaves(root, "").sortBy(_._1)
    }
  }

  /** Row count of each data file of the table at `path` from its parquet
    * footer, read on the driver (no Spark job), keyed by the file's path
    * relative to `path`. These are the files `spark.read.parquet(path)`
    * scans, so the counts sum to its count.
    */
  def fileRowCounts(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    listing(hadoopConf, path).filterNot { case (_, f) => summaries.contains(f.getPath.getName) }
      .map { case (rel, f) =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), NO_FILTER)
        rel -> footer.getBlocks.asScala.map(_.getRowCount).sum
      }
  }
}
