package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema resolution for [[graft.Tables.parquet]].
  *
  * `spark.read.parquet(path)` learns a schema through
  * `ParquetUtils.inferSchema`, which in Spark 4.1 always launches a
  * one-task Spark job (`SchemaMergeUtils.mergeSchemasInParallel`) just to
  * read one footer. This reads that same footer on the driver instead:
  * the same file choice (`_common_metadata`, then `_metadata`, then the
  * first data file by path), the same footer reader and the same
  * converter settings (binaryAsString, INT96, inferTimestampNTZ,
  * nanosAsLong from the session conf), so the schema is the one inference
  * would produce. Lives in Spark's parquet package for the same reason as
  * [[org.apache.spark.sql.graftshim.SqlShims]]: the helpers it reuses are
  * internal.
  *
  * Only a file or a flat directory is accepted; a directory with
  * subdirectories (a Hive-partitioned layout) needs Spark's partition
  * discovery and fails the `require`. A missing path or a directory with
  * no data file raises the same `AnalysisException` that
  * `spark.read.parquet` does. */
object ParquetShims {
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    val status = fs.getFileStatus(qualified)
    val files: Seq[FileStatus] =
      if (status.isDirectory) {
        val leaves = fs.listStatus(qualified).toSeq.filterNot(f => hidden(f.getPath.getName))
        require(!leaves.exists(_.isDirectory),
          s"$path has subdirectories (a partitioned layout); read it with spark.read.parquet")
        leaves.sortBy(_.getPath.toString)
      } else Seq(status)
    def named(n: String) = files.find(_.getPath.getName == n)
    val chosen = named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
    chosen.toSeq
      .flatMap(f => ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(f), conf.ignoreCorruptFiles))
      .headOption
      .map(ParquetFileFormat.readSchemaFromFooter(_, new ParquetToSparkSchemaConverter(conf)))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }

  private def isSummary(name: String): Boolean =
    name == PARQUET_COMMON_METADATA_FILE || name == PARQUET_METADATA_FILE

  private def hidden(name: String): Boolean =
    (name.startsWith("_") || name.startsWith(".")) && !isSummary(name)
}
