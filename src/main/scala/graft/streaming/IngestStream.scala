package graft.streaming

import graft.Tables
import graft.embed.Embedder
import graft.ingest.{IngestJob, MdxSplitter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming document ingest — the reference's `ingestData`
  * (vector-client.ts:141-152, one awaited document per call) as a
  * continuous service: watch a directory for new .mdx files, run the
  * SAME split→validate→chunk→embed→index transforms per micro-batch,
  * and append to a partitioned parquet index.
  *
  * Batch/stream fidelity: the per-batch body IS
  * [[graft.ingest.IngestJob.chunkSections]] (plus the A-6 validation),
  * so a streaming-built index cannot drift from a batch-built one —
  * pinned by `IngestStreamSpec`. The per-document `total_chunks` window
  * needs no cross-batch state because `wholetext` delivers each file
  * complete in one batch.
  *
  * Exactly-once: each micro-batch writes `batch=<id>` under the index
  * root with overwrite semantics — a retried batch replaces its own
  * directory instead of appending duplicates, and the checkpoint
  * guarantees committed files are never re-read. Readers see an extra
  * `batch` partition column and project it away ([[readIndex]]).
  *
  * 100 TB/day shape: the file source shards by file; everything up to
  * the per-doc window is narrow; `maxFilesPerTrigger` bounds batch size
  * and therefore executor memory per trigger.
  */
object IngestStream {

  /** Start the ingest stream over `mdxDir`. AvailableNow by default:
    * drain what exists, then stop — rerun on a schedule or switch the
    * trigger for continuous operation.
    */
  def start(
      spark: SparkSession,
      mdxDir: String,
      indexPath: String,
      checkpointPath: String,
      cfg: IngestJob.Config = IngestJob.Config(),
      embedder: Embedder = graft.embed.HashingEmbedder.default,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.mdx")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // same projection as the batch source — doc ids cannot drift
    val docs = graft.sources.MdxDirectorySource.projectDocs(reader.text(mdxDir))
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val secs = MdxSplitter.split(batch, "doc_id", "mdx")
        val bad = MdxSplitter.invalidDocs(secs, "doc_id").limit(1).count()
        require(bad == 0,
          s"validateContext: first chunk must start with '## Context' (batch $batchId)")
        IngestJob.indexFrom(IngestJob.chunkSections(secs, cfg, embedder))
          .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
      }
      .start()
  }

  /** The streaming-built index with the `batch` bookkeeping column
    * projected away — same schema as a batch-built index.
    */
  def readIndex(spark: SparkSession, indexPath: String): org.apache.spark.sql.DataFrame =
    Tables.read(spark, indexPath).drop("batch")
}
