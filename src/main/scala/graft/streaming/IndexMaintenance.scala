package graft.streaming

import graft.Tables
import graft.query.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous vector-index maintenance — the streaming face of
  * [[graft.query.IvfIndex.upsert]]: every micro-batch of arriving
  * vectors is folded into the persisted IVF index (nearest-centroid
  * assignment + partition append + radius growth), so the index a
  * query session reads is never more than one trigger behind the
  * stream, and never needs a rebuild to stay EXACT (the triangle
  * bound's radius-coverage invariant is maintained per batch — q85's
  * oracle-gated property).
  *
  * `foreachBatch` is the right sink shape: an upsert touches two
  * paths (cells append + cells_meta overwrite) and must see each
  * micro-batch exactly once as a batch DataFrame. Restart semantics:
  * foreachBatch is at-least-once across crashes — a batch replayed
  * after a crash between the two writes would double its vectors
  * (upsert is append-only by contract). Production deployments fence
  * that with the (batchId, checkpoint) pair: skip batches at or below
  * the last fully-applied id recorded next to the index. That fence
  * is [[maintainIvf]]'s `appliedBatchId` hook, default-on, stored as
  * one tiny parquet row beside the index — the same
  * idempotent-per-batch discipline as [[IngestStream]]'s partition
  * overwrite.
  */
object IndexMaintenance {

  private[streaming] def fencePath(indexPath: String) = s"$indexPath/applied_batch"

  /** Record `batchId` as applied — the write half of the fence,
    * shared by every streaming maintenance face.
    */
  private[streaming] def writeFence(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      batchId: Long): Unit = {
    import spark.implicits._
    Seq(batchId).toDF("applied_batch_id")
      .write.mode("overwrite").parquet(fencePath(indexPath))
  }

  private[graft] def lastApplied(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): Long = {
    // existence resolved through the Hadoop FileSystem API, not
    // java.io.File — the index lives wherever Spark writes it
    // (HDFS/S3/local); a local-only check would silently disable the
    // fence on every distributed filesystem.
    val p = new org.apache.hadoop.fs.Path(fencePath(indexPath))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Tables.read(spark, p.toString).head.getLong(0)
    else -1L
  }

  /** The per-batch handler, exposed for direct testing of the replay
    * fence. @return true iff the batch was applied (not fenced/empty).
    *
    * Residual at-least-once window: the fence row is written AFTER the
    * upsert and not atomically with it. A crash after the cells append
    * but before the fence write (or between the cells append and the
    * cells_meta overwrite inside upsert) still double-applies that one
    * batch on replay. The fence narrows replay duplication from "every
    * batch since the last checkpoint" to "at most the one in-flight
    * batch"; closing it fully needs a durable-atomic apply (write
    * cells/meta/fence into a temp generation directory and commit via
    * rename), which is filesystem-dependent and out of scope here.
    */
  def applyBatch(
      indexPath: String,
      idCol: String,
      embCol: String,
      batch: DataFrame,
      batchId: Long,
      splitCap: Option[Long] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = batch.sparkSession
    if (batchId <= lastApplied(spark, indexPath) || batch.isEmpty) false
    else {
      // CDC-shaped feed: with `opCol` set, rows tagged "delete" mask
      // their ids out of the index ([[graft.query.IvfIndex.delete]] —
      // O(batch), exact from this batch on) and every other row
      // upserts — including rows whose op is NULL (the common CDC
      // encoding for plain inserts; a bare =!= comparison would
      // evaluate NULL and silently drop them from both branches).
      // Deletes apply FIRST. Replay semantics are BETTER than the
      // upsert's benign-duplication window: a replayed tombstone
      // append is a duplicate mask row, deduplicated by every reader
      // and by compaction.
      val (deletes, upserts) = opCol match {
        case Some(oc) =>
          (batch.filter(col(oc) === "delete").select(col(idCol)),
            batch.filter(coalesce(col(oc), lit("")) =!= "delete").drop(oc))
        case None => (batch.limit(0).select(col(idCol)), batch)
      }
      if (!deletes.isEmpty) IvfIndex.delete(spark, indexPath, idCol, deletes)
      if (!upserts.isEmpty) {
        // a CDC stream must CONVERGE on replay: an id deleted in an
        // earlier batch (or earlier in THIS batch) and re-inserted now
        // would trip the upsert's tombstone-overlap guard — and a
        // foreachBatch retry would trip it identically forever,
        // wedging the stream on an error only an out-of-band
        // compaction could clear. The caller-owned two-step (compact,
        // then re-insert) folds in here instead: when the batch
        // overlaps pending tombstones, the physical fold-in runs
        // FIRST, so the upsert lands on an index whose old rows are
        // gone — replace semantics, idempotent under replay (a
        // replayed compaction is a clean rerun by the
        // tombstones-are-the-marker discipline). Costs one semi-join
        // against the cadence-bounded tombstone table only when one
        // exists, and only in CDC mode (the plain path keeps the loud
        // guard: there deletes happen out of band, and silently
        // compacting them here would hide an O(affected-cells) rewrite
        // inside an append).
        if (opCol.isDefined &&
            graft.query.Tombstones.overlaps(spark, indexPath, idCol, upserts))
          IvfIndex.compactTombstones(spark, indexPath, idCol, embCol)
        IvfIndex.upsert(spark, indexPath, idCol, embCol, upserts)
      }
      // optional in-line occupancy repair before the fence is written:
      // result-invisible (the radius-coverage contract). Replay
      // semantics differ from the upsert's benign-duplication window:
      // a split that crashes between its cells rewrite and its meta
      // swap leaves the fresh directory meta-less (INVISIBLE to
      // queries, not lost) — the next split pass's head-of-call
      // IvfIndex.repairOrphanCells adopts it, and fresh ids allocate
      // above filesystem directory ids so a replayed split can never
      // overwrite the orphan
      splitCap.foreach(cap =>
        IvfIndex.splitToConvergence(spark, indexPath, idCol, embCol, cap))
      // optional physical fold-in of accumulated tombstones at a batch
      // cadence (the deletion twin of reclusterEvery): cell-pruned
      // rewrite, radii re-tightened, spent tombstones retired — the
      // tombstones-are-the-marker discipline makes a crashed pass a
      // clean rerun, so it composes with the replay fence for free
      compactDeletesEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          IvfIndex.compactTombstones(spark, indexPath, idCol, embCol)
      }
      // optional full re-cluster at a batch cadence — the centroid-
      // PLACEMENT repair splits cannot provide ([[IvfIndex.recluster]]:
      // generation built off the query path, marker-fenced atomic
      // swap). Result-invisible, so replay semantics stay the fence's:
      // a crash mid-swap is completed by the next reader's
      // ensureGeneration, and a replayed batch is fenced before any of
      // this re-runs. Cadence (every Nth applied batch), not drift-
      // triggered: the trigger input a drift rule would want (probe
      // counts) lives in query sessions, not here.
      reclusterEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          IvfIndex.recluster(spark, indexPath, idCol, embCol)
      }
      writeFence(spark, indexPath, batchId)
      true
    }
  }

  /** Start a maintenance stream: each micro-batch upserts into the
    * index at `indexPath`, fenced so a replayed batch id is a no-op.
    * With `splitCap` set, any cell the append pushes over the cap is
    * split in the same batch — occupancy (and so probe cost) stays
    * bounded under continuous ingest without ever re-clustering.
    */
  def maintainIvf(
      vectors: DataFrame,
      indexPath: String,
      idCol: String,
      embCol: String,
      checkpointDir: String,
      splitCap: Option[Long] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(indexPath, idCol, embCol, batch, batchId, splitCap,
          reclusterEvery, opCol, compactDeletesEvery); ()
      }
      .start()

  /** The product-quantization twin of [[applyBatch]]: encode one
    * micro-batch against the index's FROZEN codebooks and append to
    * the codes + vectors tables ([[graft.query.PqIndex.upsert]]),
    * behind the same replay fence. Query results after N batches
    * equal a from-scratch rebuild over the union — not bit-identical
    * codes (a rebuild refits codebooks), but identical ANSWERS, which
    * is the contract PQ retrieval actually makes (exact for any
    * codebook). @return true iff the batch was applied.
    */
  def applyPqBatch(
      indexPath: String,
      idCol: String,
      embCol: String,
      batch: DataFrame,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= lastApplied(spark, indexPath) || batch.isEmpty) false
    else {
      graft.query.PqIndex.upsert(spark, indexPath, idCol, embCol, batch)
      writeFence(spark, indexPath, batchId)
      true
    }
  }

  /** The composed IVF+PQ twin of [[applyBatch]]: one micro-batch folds
    * into cells + radii + frozen-codebook cell codes
    * ([[graft.query.IvfPq.upsert]]) behind the shared replay fence —
    * q109's result-invisibility contract per batch, hence under any
    * batch sequence. Every encode reads the PQ geometry from the
    * index's codebooks; `params` is used only by the `reclusterEvery`
    * re-cluster, the one step here that fits codebooks.
    * @return true iff the batch was applied.
    */
  def applyIvfPqBatch(
      indexPath: String,
      idCol: String,
      embCol: String,
      batch: DataFrame,
      batchId: Long,
      params: graft.query.IvfPq.Params = graft.query.IvfPq.Params(),
      splitCap: Option[Long] = None,
      reencodeDriftCap: Option[Double] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = batch.sparkSession
    if (batchId <= lastApplied(spark, indexPath) || batch.isEmpty) false
    else {
      // CDC-shaped feed — the [[applyBatch]] opCol contract verbatim
      // (NULL-op rows upsert; a delete→re-insert overlap compacts
      // first so replay converges); one shared tombstone table masks
      // code AND payload rows
      val (deletes, upserts) = opCol match {
        case Some(oc) =>
          (batch.filter(col(oc) === "delete").select(col(idCol)),
            batch.filter(coalesce(col(oc), lit("")) =!= "delete").drop(oc))
        case None => (batch.limit(0).select(col(idCol)), batch)
      }
      if (!deletes.isEmpty)
        graft.query.IvfPq.delete(spark, indexPath, idCol, deletes)
      if (!upserts.isEmpty) {
        if (opCol.isDefined &&
            graft.query.Tombstones.overlaps(spark, indexPath, idCol, upserts))
          graft.query.IvfPq.compactTombstones(spark, indexPath, idCol, embCol)
        graft.query.IvfPq.upsert(spark, indexPath, idCol, embCol, upserts)
      }
      // optional in-line occupancy repair (the [[applyBatch]] splitCap
      // story, now available for the composed family too): the split
      // moves code rows with their cells under the split_pending
      // marker, so a replayed/crashed split reconciles at the next
      // pass's head-of-call repair instead of desyncing codes
      splitCap.foreach(cap => graft.query.IvfPq.splitToConvergence(
        spark, indexPath, idCol, embCol, cap))
      // optional in-line residual-drift repair AFTER the split (splits
      // re-center cells, which is exactly what mints drift): any cell
      // whose enc_drift exceeds the cap re-encodes against its current
      // centroid in the same fenced batch, so residual-mode bound
      // tightness is maintained — not merely observable — under
      // continuous ingest. No-op on global-codebook indexes and on
      // drift-free batches; result-invisible always.
      reencodeDriftCap.foreach(cap => graft.query.IvfPq.reencodeDrifted(
        spark, indexPath, idCol, embCol, cap))
      // optional physical deletion fold-in at a batch cadence — the
      // [[applyBatch]] compactDeletesEvery story; the composed pass
      // moves surviving code rows with their cells
      compactDeletesEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          graft.query.IvfPq.compactTombstones(spark, indexPath, idCol, embCol)
      }
      // optional full composed re-cluster at a batch cadence — the
      // centroid-placement repair ([[graft.query.IvfPq.recluster]]:
      // whole artifact set rebuilt off the query path, marker-fenced
      // atomic swap that any reader completes after a crash). Inside
      // the replay fence like everything above.
      reclusterEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          graft.query.IvfPq.recluster(spark, indexPath, idCol, embCol, params)
      }
      writeFence(spark, indexPath, batchId)
      true
    }
  }

  /** Continuous composed-index maintenance. Same at-least-once caveat
    * as [[applyBatch]]; with `splitCap` set, any cell an append pushes
    * over the cap is split (codes moved with their cells) in the same
    * batch, so probe cost stays bounded under continuous composed
    * ingest without a rebuild; with `reencodeDriftCap` set, residual
    * encoding-generation drift past the cap is repaired in the same
    * batch too ([[graft.query.IvfPq.reencodeDrifted]]), so bound
    * tightness — and with it exact-verify fetch volume — stays bounded
    * as well. `params` feeds only the `reclusterEvery` re-cluster (see
    * [[applyIvfPqBatch]]). Run [[graft.query.IvfPq.compactIndex]] off
    * the query path at compaction cadence.
    */
  def maintainIvfPq(
      vectors: DataFrame,
      indexPath: String,
      idCol: String,
      embCol: String,
      checkpointDir: String,
      params: graft.query.IvfPq.Params = graft.query.IvfPq.Params(),
      splitCap: Option[Long] = None,
      reencodeDriftCap: Option[Double] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIvfPqBatch(indexPath, idCol, embCol, batch, batchId, params,
          splitCap, reencodeDriftCap, reclusterEvery, opCol,
          compactDeletesEvery); ()
      }
      .start()

  /** Continuous PQ-index maintenance — every index family
    * (near-dup LSH, IVF, lexical, PQ, composed IVF+PQ) has the
    * symmetric build/upsert/stream/compact story. Same at-least-once
    * caveat as [[applyBatch]]; run
    * [[graft.query.PqIndex.compactIndex]] off the query path at
    * compaction cadence.
    */
  def maintainPq(
      vectors: DataFrame,
      indexPath: String,
      idCol: String,
      embCol: String,
      checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPqBatch(indexPath, idCol, embCol, batch, batchId); ()
      }
      .start()

  /** The lexical twin of [[applyBatch]]: fold one micro-batch of
    * documents into a [[graft.query.LexicalSearch.buildIndex]]-persisted
    * postings index (term-hash partition append + two-Long stats
    * merge), behind the same replay fence. BM25 scores after N batches
    * are bit-identical to a from-scratch rebuild over the union —
    * q89's oracle contract, which the df-free index layout guarantees
    * per append and therefore under any append sequence.
    * @return true iff the batch was applied (not fenced/empty).
    */
  def applyLexicalBatch(
      workDir: String,
      idCol: String,
      textCol: String,
      batch: DataFrame,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= lastApplied(spark, workDir) || batch.isEmpty) false
    else {
      graft.query.LexicalSearch.upsertIndex(spark, workDir, idCol, textCol, batch)
      writeFence(spark, workDir, batchId)
      true
    }
  }

  /** Continuous lexical-index maintenance — completes the
    * build-once/query-many story symmetrically with [[maintainIvf]]
    * and [[StreamingNearDup]]: arriving documents land in their
    * term-hash posting partitions within one trigger, and the very
    * next [[graft.query.LexicalSearch.queryIndex]] probe scores them.
    * Same at-least-once caveat as [[applyBatch]]; run
    * [[graft.query.LexicalSearch.compactIndex]] off the query path at
    * compaction cadence.
    */
  def maintainLexical(
      docs: DataFrame,
      workDir: String,
      idCol: String,
      textCol: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyLexicalBatch(workDir, idCol, textCol, batch, batchId); ()
      }
      .start()
}
