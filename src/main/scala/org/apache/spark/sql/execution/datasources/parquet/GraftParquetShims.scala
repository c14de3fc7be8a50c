package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer reads for catalog registration
  * ([[graft.sources.CatalogStats.register]]). `ParquetFileFormat.readSchema`
  * is `private[parquet]`, so the bridge lives in its package. */
object GraftParquetShims {

  /** The full footer of one file, row groups included.
    * `ParquetFileFormat.readParquetFootersInParallel` skips the row groups,
    * so its footers carry no row counts. */
  def readFooter(file: FileStatus, conf: Configuration): Footer =
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER))

  /** The schema Spark's own inference derives from these footers (the
    * Spark row metadata when a writer stored it, else the converted
    * parquet schema, merged across footers). */
  def readSchema(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
