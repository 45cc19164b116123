package graft.streaming

import graft.Tables
import graft.query.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous vector-index maintenance — the streaming face of
  * [[graft.query.IvfIndex.upsert]]: every micro-batch of arriving
  * vectors is folded into the persisted IVF index (nearest-centroid
  * assignment + partition append + radius growth, plus frozen-codebook
  * code append on a composed IVF+PQ index), so the index a query
  * session reads is never more than one trigger behind the stream, and
  * never needs a rebuild to stay EXACT (the triangle bound's
  * radius-coverage invariant is maintained per batch — q85's
  * oracle-gated property, q109's for the composed layout). One face
  * serves both IVF layouts: every step reads the layout from the
  * index, so a caller never states it. The streaming faces cover every
  * index family: [[maintainIvf]] the plain and composed IVF layouts
  * (a one-cell composed index is the flat PQ layout),
  * [[maintainLexical]] the BM25 postings index, and
  * [[StreamingNearDup]] the near-dup LSH probe index.
  *
  * `foreachBatch` is the right sink shape: an upsert touches two
  * paths (cells append + cells_meta overwrite) and must see each
  * micro-batch exactly once as a batch DataFrame. Restart semantics:
  * foreachBatch is at-least-once across crashes — a batch replayed
  * after a crash between the two writes would double its vectors
  * (upsert is append-only by contract). Production deployments fence
  * that with the (batchId, checkpoint) pair: skip batches at or below
  * the last fully-applied id recorded next to the index. That fence
  * is [[fenced]], shared by every streaming maintenance face, stored
  * as one tiny parquet row beside the index — the same
  * idempotent-per-batch discipline as [[IngestStream]]'s partition
  * overwrite.
  */
object IndexMaintenance {

  private[streaming] def fencePath(indexPath: String) = s"$indexPath/applied_batch"

  /** Record `batchId` as applied — the write half of the fence. */
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

  /** The replay fence of every streaming face: run `apply` unless
    * `batchId` is at or below the last id recorded at `path` or the
    * batch is empty, then record `batchId`. @return true iff applied.
    *
    * Residual at-least-once window: the fence row is written AFTER
    * `apply` and not atomically with it. A crash after `apply`'s first
    * write but before the fence write still double-applies that one
    * batch on replay. The fence narrows replay duplication from "every
    * batch since the last checkpoint" to "at most the one in-flight
    * batch"; closing it fully needs a durable-atomic apply (write
    * every table and the fence into a temp generation directory and
    * commit via rename), which is filesystem-dependent and out of
    * scope here.
    */
  private[streaming] def fenced(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      batchId: Long)(apply: => Unit): Boolean =
    if (batchId <= lastApplied(spark, path) || batch.isEmpty) false
    else {
      apply
      writeFence(spark, path, batchId)
      true
    }

  /** The per-batch handler of [[maintainIvf]], exposed for direct
    * testing of the replay fence: one CDC → split → drift re-encode →
    * delete compaction → re-cluster sequence on a plain or composed
    * IVF index. @return true iff the batch was applied (not
    * fenced/empty).
    */
  def applyBatch(
      indexPath: String,
      idCol: String,
      embCol: String,
      batch: DataFrame,
      batchId: Long,
      splitCap: Option[Long] = None,
      reencodeDriftCap: Option[Double] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = batch.sparkSession
    fenced(spark, indexPath, batch, batchId) {
      // CDC-shaped feed: with `opCol` set, rows tagged "delete" mask
      // their ids out of the index ([[graft.query.IvfIndex.delete]] —
      // O(batch), exact from this batch on; one shared tombstone table
      // masks code and payload rows alike) and every other row
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
        // compaction commits through one generation swap, so a
        // replayed one is a clean rerun). Costs one semi-join
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
      // result-invisible (the radius-coverage contract; a composed
      // split moves code rows with their cells). Each split pass
      // commits through one generation swap, so a crash leaves the
      // index before or after that pass and a replay splits again
      splitCap.foreach(cap =>
        IvfIndex.splitToConvergence(spark, indexPath, idCol, embCol, cap))
      // optional in-line residual-drift repair AFTER the split (splits
      // re-center cells, which is exactly what mints drift): any cell
      // whose enc_drift exceeds the cap re-encodes against its current
      // centroid in the same fenced batch, so residual-mode bound
      // tightness is maintained — not merely observable — under
      // continuous ingest. No-op on plain and global-codebook indexes
      // and on drift-free batches; result-invisible always.
      reencodeDriftCap.foreach(cap =>
        graft.query.IvfPq.reencodeDrifted(spark, indexPath, idCol, embCol, cap))
      // optional physical fold-in of accumulated tombstones at a batch
      // cadence (the deletion twin of reclusterEvery): cell-pruned
      // rewrite, radii re-tightened, spent tombstones retired in one
      // generation swap — a crashed pass is a clean rerun, so it
      // composes with the replay fence for free
      compactDeletesEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          IvfIndex.compactTombstones(spark, indexPath, idCol, embCol)
      }
      // optional full re-cluster at a batch cadence — the centroid-
      // PLACEMENT repair splits cannot provide
      // ([[graft.query.IvfIndex.reclusterAsBuilt]]: generation built
      // off the query path at the default cell count — a composed index
      // keeps its PQ geometry and encoding mode — then a marker-fenced
      // atomic swap). Result-invisible, so replay semantics stay the
      // fence's: a crash mid-swap is completed by the next reader's
      // Generation.recover, and a replayed batch is fenced before any of
      // this re-runs. Cadence (every Nth applied batch), not drift-
      // triggered: the trigger input a drift rule would want (probe
      // counts) lives in query sessions, not here.
      reclusterEvery.foreach { n =>
        if (n > 0 && batchId % n == 0)
          IvfIndex.reclusterAsBuilt(spark, indexPath, idCol, embCol)
      }
    }
  }

  /** Start a maintenance stream: each micro-batch runs [[applyBatch]]
    * on the plain or composed index at `indexPath`, fenced so a
    * replayed batch id is a no-op. With `splitCap` set, any cell the
    * append pushes over the cap is split in the same batch — occupancy
    * (and so probe cost) stays bounded under continuous ingest without
    * ever re-clustering; with `reencodeDriftCap` set, a residual
    * composed index's encoding-generation drift past the cap is
    * repaired in the same batch too
    * ([[graft.query.IvfPq.reencodeDrifted]]), so bound tightness — and
    * with it exact-verify fetch volume — stays bounded as well. Run
    * [[graft.query.IvfIndex.compactIndex]] off the query path at
    * compaction cadence.
    */
  def maintainIvf(
      vectors: DataFrame,
      indexPath: String,
      idCol: String,
      embCol: String,
      checkpointDir: String,
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
        applyBatch(indexPath, idCol, embCol, batch, batchId, splitCap,
          reencodeDriftCap, reclusterEvery, opCol, compactDeletesEvery); ()
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
      batchId: Long): Boolean =
    fenced(batch.sparkSession, workDir, batch, batchId)(
      graft.query.LexicalSearch.upsertIndex(batch.sparkSession, workDir, idCol, textCol, batch))

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
