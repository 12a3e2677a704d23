package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's footer-to-schema code is `private[parquet]`; this shim lives in
  * that package (the pattern of `org.apache.spark.graft.ListenerShim`) so
  * [[graft.core.Lake.open]] can resolve a table's schema on the driver.
  *
  * It repeats, for one file and without a Spark job, what non-merging
  * schema inference (`ParquetFileFormat.mergeSchemasInParallel`) does
  * inside its one-task job: read the footer without row groups, take the
  * Spark schema stored under the row-metadata key, else convert the
  * parquet schema with the session's settings (binary-as-string, INT96,
  * NTZ inference, `nanosAsLong`, unknown-type annotations). */
object FooterSchema {
  def read(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val input = HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf())
    val footer = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }
}
