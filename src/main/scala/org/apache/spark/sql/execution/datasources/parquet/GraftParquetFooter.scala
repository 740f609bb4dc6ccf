package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's package-private parquet schema reader: the schema a
  * parquet read would infer, read on the driver from one footer.
  *
  * `spark.read.parquet(path)` without a schema infers it in a one-task
  * Spark job (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`), even
  * for a single file, and every query that opens a table pays that job.
  * Without `mergeSchema` the job reads exactly one footer: the first
  * summary file, or else the first data file in path order. This reads
  * the same footer with the same converter and the same preference for
  * Spark's own row metadata (`ParquetFileFormat.readSchema`), without
  * the job. */
object GraftParquetFooter {

  /** Schema of the parquet data under `path` (a file, a directory of part
    * files or Hive partition dirs, or a glob), from the footer of its
    * first data file in path order. None when the path matches no data
    * file, or when a summary file (`_metadata`, `_common_metadata`)
    * comes first: Spark would read the summary, so the caller should
    * let Spark infer. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    firstLeaf(fs, Option(fs.globStatus(glob)).toSeq.flatten)
      .filterNot(f => isSummary(f.getPath.getName))
      .flatMap(readSchema(spark, conf, _))
  }

  private def readSchema(spark: SparkSession, conf: Configuration,
                         file: FileStatus): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }

  private def isSummary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The first leaf under `statuses` in full-path order, skipping inside
    * directories what Spark's file listing skips. A directory sorts as
    * `path/`, so the depth-first walk visits leaves in the order of their
    * path strings (Spark sorts the listed leaves by path) and stops at
    * the first. */
  private def firstLeaf(fs: FileSystem, statuses: Seq[FileStatus]): Option[FileStatus] =
    statuses.sortBy(s => s.getPath.toString + (if (s.isDirectory) "/" else ""))
      .iterator.flatMap { s =>
        if (!s.isDirectory) Some(s)
        else firstLeaf(fs, fs.listStatus(s.getPath).toSeq
          .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName)))
      }.nextOption()
}
