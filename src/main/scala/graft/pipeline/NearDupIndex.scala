package graft.pipeline

import graft.Tables
import graft.util.{BucketGuard, Compaction, Generation, PartitionedWrite}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted MinHash probe index: one writer, one corpus probe and
  * one compaction, shared by [[CurationStore]] (cluster maintenance)
  * and [[graft.streaming.StreamingNearDup]] (admission). A batch's
  * similarity join against the stored corpus runs off the same index
  * the corpus was written to, with the banding, estimator and exact
  * gram verification of the in-corpus path ([[Dedup.nearDupPairs]]).
  *
  * Layout under `path` (the [[graft.query.LexicalSearch]]
  * bucketed-index discipline):
  *   - `bands/`   (doc_id, band, bucket) parquet-partitioned by
  *     `__bucket` = pmod(hash(band, bucket), [[IndexBuckets]]) — a probe
  *     reads only the partition directories the batch's own bands hash
  *     into (≤ [[IndexBuckets]] directories, collected driver-side:
  *     query compilation, not data movement).
  *   - `sigdocs/` (doc_id, sig, text) partitioned by `__sbucket` =
  *     pmod(hash(doc_id), [[IndexBuckets]]) — estimator and verification
  *     payloads for exactly the candidate corpus ids' buckets, never a
  *     full corpus scan.
  *
  * Every entry point first completes a compaction swap a crash tore
  * ([[Generation.recover]]), so a missing table always means an empty
  * corpus, never a stranded one. Ids must increase append over append
  * (the ordered-feed contract the streaming operators share).
  */
object NearDupIndex {

  /** Partition-directory count for both index tables. */
  val IndexBuckets = 64

  private def bandsPath(path: String) = s"$path/bands"
  private def sigdocsPath(path: String) = s"$path/sigdocs"

  private def bucketedBands(sigs: DataFrame): DataFrame =
    Dedup.minhashBands(sigs)
      .withColumn("__bucket", pmod(hash(col("band"), col("bucket")), lit(IndexBuckets)))

  /** Append the index rows of the documents `sigs` (doc_id, sig) holds;
    * `docs` (doc_id, text) supplies their text and may hold more rows.
    */
  def append(sigs: DataFrame, docs: DataFrame, path: String): Unit = {
    Generation.recover(sigs.sparkSession, path)
    bucketedBands(sigs)
      // bounded files/dir per append, cluster-scaled parallelism — see
      // graft.util.PartitionedWrite
      .transform(PartitionedWrite.spread(
        _, IndexBuckets, col("__bucket"), col("doc_id")))
      .write.mode("append").partitionBy("__bucket").parquet(bandsPath(path))
    sigs.join(docs.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("sig"), col("text"))
      .withColumn("__sbucket", pmod(hash(col("doc_id")), lit(IndexBuckets)))
      .transform(PartitionedWrite.spread(
        _, IndexBuckets, col("__sbucket"), col("doc_id")))
      .write.mode("append").partitionBy("__sbucket").parquet(sigdocsPath(path))
  }

  /** Verified (d1, d2, jac) near-dup pairs of a batch against the
    * stored corpus: d1 a stored id, d2 a batch id of `sigs`
    * (doc_id, sig), whose text `docs` (doc_id, text) supplies. Empty
    * when nothing is stored yet.
    */
  def probe(
      spark: SparkSession,
      path: String,
      sigs: DataFrame,
      docs: DataFrame,
      threshold: Double): DataFrame = {
    import spark.implicits._
    Generation.recover(spark, path)
    val empty = spark.emptyDataset[(Long, Long, Double)].toDF("d1", "d2", "jac")
    if (!Tables.exists(spark, bandsPath(path))) return empty
    val bands = bucketedBands(sigs).localCheckpoint()
    val probeBuckets = bands.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ IndexBuckets: bounded
    // the stored side may be naturally spread (StreamingNearDup indexes
    // only mutually non-duplicate docs), but the BATCH side has no such
    // guarantee — a boilerplate-heavy batch would flood the probe join;
    // same capped-with-logged-drops discipline as the in-corpus path
    val capped = BucketGuard.capOccupancy(
      bands, Seq("band", "bucket"), Dedup.MaxBucketOccupancy, "near-dup corpus probe")
    val cand = Tables.read(spark, bandsPath(path))
      .filter(col("__bucket").isin(probeBuckets: _*))
      .select(col("doc_id").as("d1"), col("band"), col("bucket"))
      .join(capped.select(col("doc_id").as("d2"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      // ids are contractually increasing, so stored ids are always
      // smaller than batch ids — EXCEPT on crash replay of a batch whose
      // rows were appended before its fence was written, where a
      // replayed doc meets its own stored copy at jac 1.0 and would
      // reject every previously admitted doc. The strict inequality
      // degrades that to a repeated verdict instead of self-rejection.
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .localCheckpoint()
    if (cand.isEmpty) return empty
    val sigBuckets = cand
      .select(pmod(hash(col("d1")), lit(IndexBuckets)).as("__sb"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded
    val stored = Tables.read(spark, sigdocsPath(path))
      .filter(col("__sbucket").isin(sigBuckets: _*))
    Dedup.verifyPlausiblePairs(
      Dedup.minhashPlausible(cand, stored, sigs, threshold), stored, docs, threshold)
  }

  /** Compact both index tables ([[graft.util.Compaction]]): each append
    * lands files per touched bucket, so at micro-batch cadence the index
    * decays into thousands of small files — run this off the append
    * path on a maintenance cadence. Partition layouts are preserved, so
    * pruned probes are unaffected.
    */
  def compact(spark: SparkSession, path: String): Seq[Compaction.Report] =
    Compaction.compactExisting(spark, Seq(
      bandsPath(path) -> Seq("__bucket"), sigdocsPath(path) -> Seq("__sbucket")))
}
