package graft.util

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.SparkSession

/** Parquet footer introspection for the fixture contract: the events
  * fixture's `ts` column has shipped in two physical shapes across
  * driver regenerations (TIMESTAMP(NANOS) in early rounds, then
  * TIMESTAMP(MICROS, isAdjustedToUTC=false)), and each flip broke a
  * different set of readers until [[graft.Tables.events]] /
  * [[graft.streaming.EventStream.readEvents]] grew normalization arms.
  * Reading the annotation straight off the footer lets the contract
  * spec fail a FUTURE flip with a message naming the new annotation,
  * instead of the type-mismatch error a downstream query would throw.
  */
object ParquetFooter {

  /** Physical + logical type of `column`, read from the parquet footer
    * of `path` — a single file or a directory of part files (the first
    * part is representative: one writer, one schema per directory).
    */
  def columnType(
      spark: SparkSession,
      path: String,
      column: String): (String, Option[LogicalTypeAnnotation]) = {
    val file = graft.Tables.firstDataFile(spark, path)
      .getOrElse(sys.error(s"no parquet part files under $path"))
    val in = HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val prim = schema.getType(schema.getFieldIndex(column)).asPrimitiveType()
      (prim.getPrimitiveTypeName.toString, Option(prim.getLogicalTypeAnnotation))
    } finally reader.close()
  }

  /** Human-readable form for assertion messages. */
  def describe(physical: String, ann: Option[LogicalTypeAnnotation]): String =
    s"$physical / ${ann.map(_.toString).getOrElse("<no logical annotation>")}"

  /** The events.ts shapes [[graft.Tables.events]] has normalization
    * arms for: INT64 TIMESTAMP at NANOS (read as LongType under
    * `nanosAsLong`, converted `div 1000`) or MICROS (TimestampType
    * under `inferTimestampNTZ=false`; the NTZ cast arm covers
    * differently-configured sessions, and a UTC-adjusted writer is the
    * trivially-standard case). Anything else — MILLIS, a bare INT64, a
    * string column — has NO arm and must fail the contract spec loudly.
    */
  def isKnownEventsTsShape(
      physical: String, ann: Option[LogicalTypeAnnotation]): Boolean =
    physical == "INT64" && (ann match {
      case Some(t: TimestampLogicalTypeAnnotation) =>
        t.getUnit == TimeUnit.NANOS || t.getUnit == TimeUnit.MICROS
      case _ => false
    })
}
