/* Lives in Spark's package on purpose: ParquetFileFormat's driver-side
 * footer reader (readParquetFootersInParallel) and its footer-to-schema
 * conversion (readSchema) are private to this package. Spark's own
 * inference (ParquetUtils.inferSchema → mergeSchemasInParallel) wraps
 * the same two calls in a Spark job, even for the one footer it reads
 * with mergeSchema off. Reaching them here keeps Spark's exact semantics
 * (row-metadata schema, nanosAsLong, inferTimestampNTZ, binaryAsString,
 * int96AsTimestamp, ignoreCorruptFiles) without the job. Same rationale
 * as GraftColumnBridge. */
package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

object GraftParquetFooter {

  /** The schema `spark.read.parquet(path)` infers, read on the driver from
    * the one footer Spark's inference would read. None means "let Spark
    * infer": `mergeSchema` is on in the session, the path is a glob, or no
    * readable footer exists (an empty or missing path then fails with
    * Spark's own error). */
  def inferSchema(spark: SparkSession, path: String): Option[StructType] = {
    val options = new ParquetOptions(Map.empty[String, String], SessionStateHelper.getSqlConf(spark))
    val root = new Path(path)
    if (options.mergeSchema || SparkHadoopUtil.get.isGlobPath(root)) None
    else try {
      val conf = SessionStateHelper.getHadoopConf(spark)
      schemaFile(root.getFileSystem(conf), root).flatMap { f =>
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f), options.ignoreCorruptFiles),
          spark)
      }
    } catch { case NonFatal(_) => None }
  }

  /** The file ParquetUtils.inferSchema reads with mergeSchema off: the
    * first `_common_metadata`, else the first `_metadata`, else the first
    * data file, "first" being least by full path string. Hidden names are
    * skipped by Spark's listing rule (HadoopFSUtils.shouldFilterOutPathName:
    * a leading `_` or `.` except `=` directories and the summary files).
    *
    * The walk is depth first and lazy: one directory is listed at a time,
    * children in path-string order (a directory sorts as `name/`, which is
    * where its leaves sort), and it stops at the first data file, so a
    * large table is listed once, by the scan. Summary files are honoured
    * in every directory the walk lists: the table root always, where
    * Parquet's committer writes them. */
  private def schemaFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    val summaries = Seq.newBuilder[FileStatus]
    def visible(s: Seq[FileStatus]) =
      s.filterNot(f => HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
    def firstData(level: Seq[FileStatus]): Option[FileStatus] = {
      val sorted = level.sortBy(f => if (f.isDirectory) f.getPath.getName + "/" else f.getPath.getName)
      val (summary, rest) = sorted.partition(f => !f.isDirectory && isSummary(f.getPath.getName))
      summaries ++= summary
      rest.iterator.map { f =>
        if (f.isDirectory) firstData(visible(fs.listStatus(f.getPath).toSeq)) else Some(f)
      }.collectFirst { case Some(f) => f }
    }
    val top = fs.getFileStatus(root)
    val data = firstData(if (top.isDirectory) visible(fs.listStatus(root).toSeq) else visible(Seq(top)))
    val seen = summaries.result().sortBy(_.getPath.toString)
    seen.find(_.getPath.getName == PARQUET_COMMON_METADATA_FILE)
      .orElse(seen.find(_.getPath.getName == PARQUET_METADATA_FILE))
      .orElse(data)
  }

  private def isSummary(name: String): Boolean =
    name == PARQUET_COMMON_METADATA_FILE || name == PARQUET_METADATA_FILE
}
