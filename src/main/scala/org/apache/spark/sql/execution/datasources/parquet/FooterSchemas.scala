package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Driver-side parquet footer reads for small fragment sets.
  *
  * Spark's `mergeSchema` inference runs one distributed job per read,
  * however few files there are. For a handful of fragments the same
  * footers are read here on the driver, with the reader, schema
  * converter and merge Spark's own job uses (`ParquetFooterReader`,
  * `ParquetFileFormat.readSchemaFromFooter`, `StructType.merge`; the
  * first two are `private[parquet]`, hence this package).
  */
object FooterSchemas {

  /** Footers of `files`, row-group metadata included, read on up to 8
    * driver threads. Corrupt files are skipped under
    * `spark.sql.files.ignoreCorruptFiles`, as schema inference does. */
  def read(spark: SparkSession, files: Seq[FileStatus]): Seq[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val ignoreCorrupt = spark.sessionState.conf.ignoreCorruptFiles
    ThreadUtils.parmap(files, "graftParquetFooters", 8) { f =>
      try Some(new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)))
      catch {
        case _: Exception if ignoreCorrupt => None
        case e: Exception => throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      }
    }.flatten
  }

  /** The merged schema of `footers`, as `mergeSchema` inference would
    * give over the same files in the same order. `readSchema` is not
    * used: it merges case-sensitively, while the distributed merge
    * follows `spark.sql.caseSensitive`. */
  def merged(spark: SparkSession, footers: Seq[Footer]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).reduceOption { (l, r) =>
      try l.merge(r, conf.caseSensitiveAnalysis)
      catch { case e: Throwable => throw QueryExecutionErrors.failedToMergeIncompatibleSchemasError(l, r, e) }
    }
  }
}
