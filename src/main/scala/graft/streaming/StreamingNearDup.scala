package graft.streaming

import graft.Tables
import graft.pipeline.Dedup
import graft.util.PartitionedWrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous NEAR-dup admission — the streaming face of the banded
  * MinHash-LSH dedup family (q15/q32/q41/q60): every arriving document
  * is admitted iff no PREVIOUSLY-ADMITTED document is a verified
  * near-duplicate (char-gram Jaccard ≥ threshold); rejected documents
  * report their best admitted match. This is q60's "is this already in
  * the training set?" gate run forever, with the corpus index
  * maintained incrementally instead of re-derived.
  *
  * Admission contract (the spec-pinned property): the verdict sequence
  * equals the sequential greedy fold over arrival order — doc d is
  * rejected iff some ADMITTED doc with smaller id near-matches it —
  * and is INVARIANT under how the feed is cut into micro-batches.
  * Within a batch that greedy runs per connected component of the
  * verified new-new pair graph (components are the only places where
  * in-batch admissions interact), executor-side via `flatMapGroups`;
  * across batches the admitted set is the persisted index. Ids must
  * arrive in increasing order (the ordered-feed contract of
  * [[StreamingDedup]]/[[StreamingAsof]]); "first" is otherwise
  * ill-defined. Documents shorter than the gram length carry no
  * signature and are always admitted (exact-dedup upstream — q10 /
  * [[StreamingDedup]] — owns identical payloads).
  *
  * Index layout under `workDir` (the [[graft.query.LexicalSearch]]
  * bucketed-index discipline):
  *   - `bands/`   (doc_id, band, bucket) parquet-partitioned by a
  *     band-hash bucket — the probe reads only the partition
  *     directories the batch's own bands hash into (≤ [[IndexBuckets]]
  *     directories, collected driver-side: query compilation, not data
  *     movement).
  *   - `sigdocs/` (doc_id, sig, text) partitioned by an id-hash bucket
  *     — estimator/verification payloads for exactly the candidate old
  *     ids' buckets, never a full corpus scan.
  *
  * 100 TB shape: per-batch cost scales with the BATCH (its bands, its
  * candidate buckets, its verified pairs), not the corpus. And because
  * only admitted — i.e. mutually non-duplicate — documents are ever
  * indexed, the index cannot accumulate the boilerplate clusters that
  * blow up LSH bucket occupancy: the corpus side stays naturally
  * spread, which is what keeps the probe join linear over time.
  */
object StreamingNearDup {

  /** Partition-directory count for both index tables. */
  val IndexBuckets = 64

  case class Verdict(
      doc_id: Long, admitted: Boolean,
      dup_of: Option[Long], jac: Option[Double])

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  /** Decide one batch against the corpus-so-far at `workDir`, emit one
    * [[Verdict]] per batch doc, and append the admitted docs' index
    * rows. Works identically as the first batch (empty corpus) and as
    * a one-shot batch call (= the greedy fold from an empty corpus).
    * `batch` must have (doc_id long, text string).
    */
  def admissionStep(
      batch: DataFrame, workDir: String, threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bandsPath = s"$workDir/bands"
    val sigPath = s"$workDir/sigdocs"

    val docs = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint()
    val sigs = docs.filter(length(col("text")) >= Dedup.GramLen)
      .select(col("doc_id"),
        graft.functions.minhash_text(
          col("text"), lit(Dedup.GramLen), lit(Dedup.NumHashes)).as("sig"))
      .localCheckpoint()
    val bands = Dedup.minhashBands(sigs)
      .withColumn("__bucket", pmod(hash(col("band"), col("bucket")), lit(IndexBuckets)))
      .localCheckpoint()

    // ---- candidates vs the admitted corpus (partition-pruned probe) ----
    val oldNewVerified: DataFrame =
      if (!exists(spark, bandsPath)) {
        spark.emptyDataset[(Long, Long, Double)].toDF("d1", "d2", "jac")
      } else {
        val probeBuckets = bands.select("__bucket").distinct()
          .collect().map(_.getInt(0)).toSeq // ≤ IndexBuckets: bounded
        // corpus-side occupancy is naturally low (only mutually
        // non-duplicate docs are indexed), but the BATCH side has no
        // such guarantee — a boilerplate-heavy batch would flood the
        // probe join; same capped-with-logged-drops discipline as the
        // in-batch path (Dedup.minhashCollisions)
        val cappedBands = graft.util.BucketGuard.capOccupancy(
          bands, Seq("band", "bucket"),
          Dedup.MaxBucketOccupancy, "streaming near-dup corpus probe")
        val cand = Tables.read(spark, bandsPath)
          .filter(col("__bucket").isin(probeBuckets: _*))
          .select(col("doc_id").as("d1"), col("band"), col("bucket"))
          .join(cappedBands.select(col("doc_id").as("d2"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          // ids are contractually increasing, so corpus ids are always
          // smaller than batch ids — EXCEPT on crash replay inside the
          // documented fence window (index appended, fence not yet
          // written), where a replayed doc meets its own just-indexed
          // copy at jac 1.0 and would reject every previously admitted
          // doc. The strict inequality degrades that to the documented
          // duplicate-verdict case instead of self-rejection.
          .filter(col("d1") < col("d2"))
          .select("d1", "d2")
          .localCheckpoint()
        if (cand.isEmpty) {
          spark.emptyDataset[(Long, Long, Double)].toDF("d1", "d2", "jac")
        } else {
          val sigBuckets = cand
            .select(pmod(hash(col("d1")), lit(IndexBuckets)).as("__sb"))
            .distinct().collect().map(_.getInt(0)).toSeq // bounded
          val oldSigDocs = Tables.read(spark, sigPath)
            .filter(col("__sbucket").isin(sigBuckets: _*))
          val estFloor = Dedup.estimatorFloor(threshold)
          val plausible = cand
            .join(oldSigDocs.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
            .join(sigs.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
            .filter(graft.functions.sig_jaccard_est(col("s1"), col("s2")) >= estFloor)
            .select("d1", "d2").distinct()
          plausible
            .join(oldSigDocs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
            .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
            .withColumn("g1", Dedup.charGramsOf(col("t1")))
            .withColumn("g2", Dedup.charGramsOf(col("t2")))
            .withColumn("i", size(array_intersect(col("g1"), col("g2"))).cast("long"))
            .withColumn("jac",
              col("i").cast("double") /
                (size(col("g1")).cast("long") + size(col("g2")).cast("long") - col("i")))
            .filter(col("jac") >= threshold)
            .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
        }
      }

    // ---- in-batch verified pairs (batch-sized; full banded machinery) ----
    val newNew = Dedup.nearDupPairs(docs, sigs, threshold).localCheckpoint()

    // best admitted-corpus match per new doc: highest jac, tie lowest old id
    val cm = oldNewVerified
      .groupBy(col("d2").as("doc_id"))
      .agg(
        max_by(col("d1"), struct(col("jac"), -col("d1"))).as("cm_dup"),
        max(struct(col("jac"), -col("d1"))).getField("jac").as("cm_jac"))
      .localCheckpoint()

    // ---- per-component sequential greedy ([[AdmissionGreedy]]) ----
    val labels = Dedup.connectedComponents(newNew.select("d1", "d2"))
    val greedy = AdmissionGreedy.decide(
        labels,
        newNew.select(col("d1"), col("d2"), col("jac").as("score")),
        cm.select(col("doc_id"), col("cm_dup"), col("cm_jac").as("cm_score")))
      .withColumnRenamed("score", "jac")

    // docs outside any in-batch component: corpus-matched → rejected;
    // everything else (incl. short docs with no signature) → admitted
    val inComp = labels.select(col("node").as("doc_id"))
    val cmOnly = cm.join(inComp, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(false).as("admitted"),
        col("cm_dup").as("dup_of"), col("cm_jac").as("jac"))
    val decided = greedy.select("doc_id").unionByName(cmOnly.select("doc_id"))
    val freePass = docs.join(decided, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(true).as("admitted"),
        lit(null).cast("long").as("dup_of"), lit(null).cast("double").as("jac"))

    val verdicts = greedy.unionByName(cmOnly).unionByName(freePass)
      .localCheckpoint()

    // ---- index append for the admitted (only non-duplicates enter) ----
    val admittedIds = verdicts.filter(col("admitted")).select("doc_id")
    bands.join(admittedIds, "doc_id")
      // bounded files/dir per batch, cluster-scaled parallelism
      .transform(PartitionedWrite.spread(
        _, IndexBuckets, col("__bucket"), col("doc_id")))
      .write.mode("append").partitionBy("__bucket").parquet(bandsPath)
    sigs.join(admittedIds, "doc_id")
      .join(docs, "doc_id")
      .withColumn("__sbucket", pmod(hash(col("doc_id")), lit(IndexBuckets)))
      .transform(PartitionedWrite.spread(
        _, IndexBuckets, col("__sbucket"), col("doc_id")))
      .write.mode("append").partitionBy("__sbucket").parquet(sigPath)

    verdicts
  }

  /** Compact both index tables ([[graft.util.Compaction]]): per-batch
    * appends land one file per bucket per batch, so at micro-batch
    * cadence the index decays into thousands of small files — run this
    * off the admission path on a maintenance cadence. Partition
    * layouts are preserved, so the pruned probes are unaffected.
    */
  def compactIndex(spark: SparkSession, workDir: String): Seq[graft.util.Compaction.Report] =
    Seq(
      (s"$workDir/bands", "__bucket"),
      (s"$workDir/sigdocs", "__sbucket")).collect {
      case (dir, pcol) if exists(spark, dir) =>
        graft.util.Compaction.compact(spark, dir, Seq(pcol))
    }

  /** Wire a (doc_id, text) stream through [[admissionStep]]; verdicts
    * append to `workDir/verdicts` as the audit log. Replayed batch ids
    * are fenced exactly like [[IndexMaintenance.applyBatch]] (skip ids
    * at or below the recorded last-applied id), narrowing replay
    * duplication to at most the one in-flight batch; the residual
    * window between the index appends and the fence write is the same
    * documented at-least-once gap.
    */
  def start(
      stream: DataFrame, workDir: String, checkpoint: String,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.fenced(batch.sparkSession, workDir, batch, batchId)(
          admissionStep(batch, workDir, threshold)
            .write.mode("append").parquet(s"$workDir/verdicts"))
        ()
      }
      .start()
}
