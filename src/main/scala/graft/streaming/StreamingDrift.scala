package graft.streaming

import graft.Tables
import graft.pipeline.DriftMonitor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous distribution-drift monitoring — the streaming face of
  * [[graft.pipeline.DriftMonitor]]: a fixed reference snapshot's
  * bucket counts are built once; each arriving micro-batch folds its
  * counts into a tiny maintained state (#buckets rows, never corpus),
  * and the per-batch report compares the CUMULATIVE arrived
  * distribution against the reference with the same ppm-share χ²
  * implementation the batch path runs — so after N batches the report
  * is identical to a batch comparison over the union (spec-pinned).
  *
  * Same replay-fence discipline as [[IndexMaintenance]]: a crash
  * between the counts merge and the fence write can double-count one
  * in-flight batch on replay; the fence bounds replay duplication to
  * that single batch.
  */
object StreamingDrift {

  private def countsPath(statePath: String) = s"$statePath/counts"
  private def reportPath(statePath: String) = s"$statePath/report"
  private def refPath(statePath: String) = s"$statePath/ref_counts"

  /** Reduce and persist the reference snapshot's bucket counts. */
  def buildReference(
      ref: DataFrame, bucketCols: Seq[String], statePath: String): Unit =
    DriftMonitor.bucketCounts(ref, bucketCols, "ref_n")
      .write.mode("overwrite").parquet(refPath(statePath))

  /** The maintained report: drift of everything arrived so far vs the
    * reference. Empty-schema-safe only after the first applied batch.
    */
  def report(spark: SparkSession, statePath: String): DataFrame =
    Tables.read(spark, reportPath(statePath))

  /** Fold one micro-batch into the cumulative counts and refresh the
    * report; fenced on batchId. @return true iff applied.
    */
  def applyBatch(
      statePath: String,
      bucketCols: Seq[String],
      batch: DataFrame,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    IndexMaintenance.fenced(spark, statePath, batch, batchId) {
      val fresh = DriftMonitor.bucketCounts(batch, bucketCols, "cur_n")
      val existing = {
        val p = new org.apache.hadoop.fs.Path(countsPath(statePath))
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p)) Some(Tables.read(spark, p.toString)) else None
      }
      // #buckets rows: localCheckpoint materializes the merge before the
      // overwrite of the path it was read from (the stats-merge shape of
      // LexicalSearch.upsertIndex)
      val merged = existing.map(_.unionByName(fresh)).getOrElse(fresh)
        .groupBy(bucketCols.map(col): _*)
        .agg(sum(col("cur_n")).as("cur_n"))
        .localCheckpoint()
      merged.write.mode("overwrite").parquet(countsPath(statePath))
      DriftMonitor.chiSquareDriftFromCounts(
          Tables.read(spark, refPath(statePath)), merged, bucketCols)
        .write.mode("overwrite").parquet(reportPath(statePath))
    }
  }

  /** Start the monitoring stream: each micro-batch updates the
    * cumulative counts and the served report, fenced against replay.
    * [[buildReference]] must have run against `statePath` first.
    */
  def maintain(
      docs: DataFrame,
      statePath: String,
      bucketCols: Seq[String],
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(statePath, bucketCols, batch, batchId); ()
      }
      .start()
}
