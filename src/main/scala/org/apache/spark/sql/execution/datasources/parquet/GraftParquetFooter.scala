package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark's own footer-to-schema conversion, callable on the driver.
  * `ParquetFileFormat.readSchema` is `private[parquet]`, hence this
  * package; it is the conversion Spark's schema inference applies to the
  * footer it reads (the Spark schema stored in the file's key-value
  * metadata, else the parquet schema converted under the session's
  * `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ` and
  * `nanosAsLong` settings). */
object GraftParquetFooter {

  /** The Spark schema of the parquet file `file`, read from its footer
    * (row groups skipped) with the session's Hadoop configuration plus
    * `options`, exactly as a read with those options would see it. */
  def schema(spark: SparkSession, file: FileStatus,
      options: Map[String, String]): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConfWithOptions(options)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), session)
  }
}
