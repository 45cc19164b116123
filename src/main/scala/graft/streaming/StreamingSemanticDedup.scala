package graft.streaming

import graft.Tables
import graft.query.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous SEMANTIC-dedup admission — the streaming face of the
  * embedding-cosine dedup family (q20/q25/q102): every arriving vector
  * is admitted iff no PREVIOUSLY-ADMITTED vector is τ-close in cosine;
  * rejected vectors report their best admitted match. This is
  * SemDeDup's τ-prune (Abbas et al. 2023) run as an admission gate
  * with arrival order as the survivor rank — which also makes the
  * semantics subtly DIFFERENT from batch q102 on chains: a vector
  * whose only τ-neighbor was itself rejected IS admitted here (its
  * neighbor never entered the admitted set), where the published
  * batch drop rule rejects against all earlier-ranked cell-mates,
  * admitted or not. Both are deliberate: the batch rule is the paper,
  * the admission rule is the only causally-computable online variant
  * (you cannot reject against vectors you never kept), and it is the
  * same contract [[StreamingNearDup]] pins for Jaccard.
  *
  * The admitted corpus lives as a maintained IVF index
  * ([[graft.query.IvfIndex]]) under `workDir/ivf`, so the
  * "any admitted τ-neighbor?" probe is EXACT by the cell-radius bound
  * (no LSH recall caveat), reads only bound-surviving cell
  * directories, and the index grows by [[IvfIndex.upsert]] appends
  * with optional [[IvfIndex.splitHotCells]] occupancy repair — the
  * complete maintenance loop, composed. Per-batch cost scales with
  * the BATCH (its probes, its pairs) plus the probed cells, not the
  * corpus; the in-batch pair check is exact all-pairs over the
  * micro-batch (batches are micro-batch-sized by contract — thousands,
  * not millions; feed bigger backfills through the batch operators).
  *
  * Admission contract (spec-pinned, the [[StreamingNearDup]] one):
  * the verdict sequence equals the sequential greedy fold over
  * arrival order and is INVARIANT under how the feed is cut into
  * micro-batches. Ids must arrive in increasing order (the shared
  * ordered-feed contract); on crash replay inside the fence window a
  * vector meets its own indexed copy — the strict id filter degrades
  * that to a duplicate verdict instead of a self-rejection.
  */
object StreamingSemanticDedup {

  /** Hard ceiling on one micro-batch. The in-batch pair check is exact
    * all-pairs over the batch and the replay-proof probe uses
    * k = batch+1 (a batch-sized per-query heap), so cost is quadratic
    * in BATCH size by design — fine at micro-batch scale, a grind/OOM
    * for an oversized backfill. The contract is enforced, not
    * comment-only: a larger batch fails fast with a pointer to the
    * batch operators (q102's [[graft.pipeline.SemanticDedup]]) instead
    * of resource-exhausting mid-stream.
    */
  val MaxBatchRows = 65536L

  private def ivfPath(workDir: String) = s"$workDir/ivf"

  /** Decide one batch against the admitted-so-far corpus, emit one
    * verdict row (vec_id, admitted, dup_of, sim) per batch vector,
    * and fold the admitted vectors into the IVF index. Works
    * identically as the first batch (index built from the first
    * admitted set) and as a one-shot call (= the greedy fold from an
    * empty corpus). `batch` must have (vec_id long, embedding
    * array<float>), ids unique and above all previously-fed ids.
    */
  def admissionStep(
      batch: DataFrame,
      workDir: String,
      tau: Double,
      splitCap: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idx = ivfPath(workDir)
    val vecs = batch
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .localCheckpoint()

    // best admitted τ-neighbor per arriving vector, exact via the IVF
    // bound. queryTopK's threshold is strict (>), SemDeDup's τ-rule is
    // inclusive (≥): nextDown makes `> nextDown(τ)` ⟺ `≥ τ` in
    // doubles. k = batch+1, NOT a small constant: on crash replay
    // inside the fence window the index already holds copies of this
    // batch's admitted rows, and up to batch-many of them can outrank
    // a query's true earlier admitted match — a k=2 probe would
    // truncate that match away BEFORE the id filter below removes the
    // replayed copies, flipping a rejection into a wrong admit. With
    // k = batch+1 the best legitimate match always survives (at most
    // batch poison rows can outrank it). The per-query top-k heap is
    // batch-sized, which the micro-batch contract bounds.
    // Before the index exists (a build needs ≥ 2 rows), the admitted-
    // so-far corpus is the tiny `seed/` stash — probed by a broadcast
    // exact join; the seed holds at most one row by the build-as-soon-
    // as-two invariant below.
    val seedPath = s"$workDir/seed"
    val nBatch = vecs.count()
    require(nBatch <= MaxBatchRows,
      s"StreamingSemanticDedup: micro-batch has $nBatch rows, over the " +
        s"$MaxBatchRows ceiling — the in-batch all-pairs check and the " +
        "batch-sized replay-proof probe are quadratic in batch size; " +
        "feed backfills this large through the batch operator " +
        "(graft.pipeline.SemanticDedup) instead")
    val batchK = (nBatch + 1).min(Int.MaxValue - 1).toInt
    val cm: DataFrame =
      if (Tables.exists(spark, idx))
        IvfIndex.queryTopK(spark, idx, "vec_id", "embedding",
            vecs.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
            "query_id", "qvec", k = batchK, threshold = Math.nextDown(tau))
          .filter(col("vec_id") < col("query_id"))
          .groupBy(col("query_id").as("doc_id"))
          .agg(
            max_by(col("vec_id"), struct(col("sim"), -col("vec_id"))).as("cm_dup"),
            max(struct(col("sim"), -col("vec_id"))).getField("sim").as("cm_score"))
      else if (Tables.exists(spark, seedPath))
        vecs.select(col("vec_id").as("doc_id"), col("embedding").as("__qe"))
          .crossJoin(broadcast(Tables.read(spark, seedPath)
            .select(col("vec_id").as("__sid"), col("embedding").as("__se"))))
          .filter(col("__sid") < col("doc_id"))
          .withColumn("__s", graft.functions.cosine_sim(col("__qe"), col("__se")))
          .filter(col("__s") >= tau)
          .groupBy(col("doc_id"))
          .agg(
            max_by(col("__sid"), struct(col("__s"), -col("__sid"))).as("cm_dup"),
            max(struct(col("__s"), -col("__sid"))).getField("__s").as("cm_score"))
      else
        spark.emptyDataset[(Long, Long, Double)].toDF("doc_id", "cm_dup", "cm_score")

    // verified in-batch τ-pairs: exact all-pairs over the micro-batch
    val pairs = vecs.select(col("vec_id").as("d1"), col("embedding").as("e1"))
      .crossJoin(broadcast(
        vecs.select(col("vec_id").as("d2"), col("embedding").as("e2"))))
      .filter(col("d1") < col("d2"))
      .withColumn("score", graft.functions.cosine_sim(col("e1"), col("e2")))
      .filter(col("score") >= tau)
      .select("d1", "d2", "score")
      .localCheckpoint()

    val labels = graft.pipeline.Dedup.connectedComponents(pairs.select("d1", "d2"))
    val greedy = AdmissionGreedy.decide(labels, pairs, cm)

    val inComp = labels.select(col("node").as("doc_id"))
    val cmOnly = cm.join(inComp, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(false).as("admitted"),
        col("cm_dup").as("dup_of"), col("cm_score").as("score"))
    val decided = greedy.select("doc_id").unionByName(cmOnly.select("doc_id"))
    val freePass = vecs.select(col("vec_id").as("doc_id"))
      .join(decided, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(true).as("admitted"),
        lit(null).cast("long").as("dup_of"), lit(null).cast("double").as("score"))
    val verdicts = greedy.unionByName(cmOnly).unionByName(freePass)
      .localCheckpoint()

    // fold the admitted into the index; before the index exists the
    // admitted-so-far set stashes in `seed/` until it reaches the two
    // rows an index build needs (a cold start whose first batch admits
    // a single vector), then builds and drops the seed. Optional split
    // keeps occupancy bounded under continuous admission.
    val admitted = vecs.join(
      verdicts.filter(col("admitted")).select(col("doc_id").as("vec_id")), "vec_id")
    if (!admitted.isEmpty) {
      if (Tables.exists(spark, idx)) {
        IvfIndex.upsert(spark, idx, "vec_id", "embedding", admitted)
        splitCap.foreach(cap =>
          IvfIndex.splitToConvergence(spark, idx, "vec_id", "embedding", cap))
      } else {
        val total = (if (Tables.exists(spark, seedPath))
          Tables.read(spark, seedPath).unionByName(admitted)
        else admitted).localCheckpoint()
        val n = total.count()
        if (n >= 2) {
          IvfIndex.build(total, "vec_id", "embedding", idx)
          val p = new org.apache.hadoop.fs.Path(seedPath)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          ()
        } else total.write.mode("overwrite").parquet(seedPath)
      }
    }
    verdicts
      .select(col("doc_id").as("vec_id"), col("admitted"),
        col("dup_of"), col("score").as("sim"))
  }

  /** Compact the admitted index off the admission path. */
  def compactIndex(spark: SparkSession, workDir: String): Seq[graft.util.Compaction.Report] =
    IvfIndex.compactIndex(spark, ivfPath(workDir))

  /** Wire a (vec_id, embedding) stream through [[admissionStep]];
    * verdicts append to `workDir/verdicts` as the audit log, replayed
    * batch ids fenced like every maintenance face (at-least-once
    * residual window documented at [[IndexMaintenance.applyBatch]]).
    */
  def start(
      stream: DataFrame, workDir: String, checkpoint: String,
      tau: Double, splitCap: Option[Long] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.fenced(batch.sparkSession, workDir, batch, batchId)(
          admissionStep(batch, workDir, tau, splitCap)
            .write.mode("append").parquet(s"$workDir/verdicts"))
        ()
      }
      .start()
}
