package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own Parquet schema inference, minus the job: the file-index
  * name filter and the footer-to-schema conversion are package-private,
  * so a caller that reads one footer on the driver still resolves names
  * and types exactly as `spark.read.parquet` would.
  */
object FooterSchema {

  /** The file index's skip rule: `_`/`.` names, except `k=v` partition
    * directories and the Parquet summary files.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one data file, converted under the session's
    * Parquet settings (`nanosAsLong`, `inferTimestampNTZ`, binary-as-
    * string) — or the Spark schema its writer stored in the footer.
    */
  def of(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }
}
