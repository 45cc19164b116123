package graft.streaming

import graft.pipeline.{Dedup, NearDupIndex}
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
  * Index under `workDir`: the [[graft.pipeline.NearDupIndex]] over the
  * admitted documents (`bands/`, `sigdocs/`; the same index
  * [[graft.pipeline.CurationStore]] keeps over its corpus) — each batch
  * probes it partition-pruned, then appends its admitted docs.
  *
  * 100 TB shape: per-batch cost scales with the BATCH (its bands, its
  * candidate buckets, its verified pairs), not the corpus. And because
  * only admitted — i.e. mutually non-duplicate — documents are ever
  * indexed, the index cannot accumulate the boilerplate clusters that
  * blow up LSH bucket occupancy: the corpus side stays naturally
  * spread, which is what keeps the probe join linear over time.
  */
object StreamingNearDup {

  case class Verdict(
      doc_id: Long, admitted: Boolean,
      dup_of: Option[Long], jac: Option[Double])

  /** Decide one batch against the corpus-so-far at `workDir`, emit one
    * [[Verdict]] per batch doc, and append the admitted docs' index
    * rows. Works identically as the first batch (empty corpus) and as
    * a one-shot batch call (= the greedy fold from an empty corpus).
    * `batch` must have (doc_id long, text string).
    */
  def admissionStep(
      batch: DataFrame, workDir: String, threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    val docs = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint()
    val sigs = Dedup.minhashSigs(docs).localCheckpoint()

    // ---- verified pairs vs the admitted corpus (partition-pruned probe) ----
    val oldNewVerified = NearDupIndex.probe(spark, workDir, sigs, docs, threshold)

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
    NearDupIndex.append(
      sigs.join(verdicts.filter(col("admitted")).select("doc_id"), "doc_id"),
      docs, workDir)

    verdicts
  }

  /** Compact the index ([[graft.pipeline.NearDupIndex.compact]]) off
    * the admission path, on a maintenance cadence.
    */
  def compactIndex(spark: SparkSession, workDir: String): Seq[graft.util.Compaction.Report] =
    NearDupIndex.compact(spark, workDir)

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
