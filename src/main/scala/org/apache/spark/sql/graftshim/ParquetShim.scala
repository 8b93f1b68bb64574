package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's footer-to-schema conversion, `private[parquet]` in
  * Spark 4. Same access rationale as [[ColumnShim]]: this file sits in
  * an `org.apache.spark.sql` subpackage purely for visibility.
  */
object ParquetShim {
  /** The schema a parquet scan's own inference derives from one
    * footer's file metadata: the Spark schema the writer stored, else
    * the converted parquet schema under the session's current
    * binary-as-string, INT96, timestamp-NTZ and nanos-as-long settings.
    */
  def footerSchema(spark: SparkSession, file: Path, meta: FileMetaData): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, new ParquetMetadata(meta, java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(conf(spark)))

  /** `a` merged with `b` as a `mergeSchema` read folds two files'
    * schemas: `a`'s fields first, `b`'s new ones appended.
    */
  def merge(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, conf(spark).caseSensitiveAnalysis)

  private def conf(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
}
