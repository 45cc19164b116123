package graft.query

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row DELETION for the persisted retrieval indexes — the lifecycle
  * step the reference's backing store gets for free from Postgres
  * (`DELETE FROM <dbTable> WHERE ...` against the pgvector table the
  * reference queries, reference src/clients/vector-client.ts:396-415)
  * and that a 100 TB training-data corpus needs as a first-class
  * operation (right-to-be-forgotten, licensing takedowns, corpus
  * rollbacks): remove rows by id from an index WITHOUT rewriting it,
  * then fold the removals in physically off the query path.
  *
  * Design — a log-structured tombstone table, the delete-side twin of
  * the append-side `upsert`:
  *
  *  - [[append]] writes the deleted ids to `<indexPath>/tombstones`
  *    (one narrow column, batch-sized — no index directory is touched,
  *    so a delete costs O(batch), never O(corpus));
  *  - every QUERY path anti-joins its earliest candidate-producing
  *    scan against the table via [[liveOnly]]. The placement is a
  *    correctness requirement, not hygiene: per-query floors are
  *    seeded from scanned candidates, so a deleted row allowed into a
  *    floor could certify a cutoff ABOVE a live row's true rank and
  *    prune a cell/code that holds part of the real answer. Masking at
  *    the scan (before any floor) makes every downstream bound an
  *    argument about live rows only;
  *  - every persisted GEOMETRY bound stays valid unrepaired: cell
  *    radii, per-(cell, label) radii and PQ residual bounds are all
  *    maxima over member sets, and deletion only SHRINKS the member
  *    set — an over-estimate radius adds probes, never drops answers
  *    (the same monotonicity the upsert fold relies on in reverse);
  *  - physical removal happens later, batched, via the index family's
  *    compaction entry point (`IvfIndex.compactTombstones` rewrites
  *    ONLY the cell directories holding deleted rows; the flat LSH
  *    family rebuilds). Compaction purges the table in the same
  *    generation swap ([[graft.util.Generation.commit]]) that installs
  *    the rewritten directories, so a reader sees masked old rows or
  *    compacted new ones, never a mix.
  *
  * Scale shape: the table between compactions is bounded by the
  * deletion cadence (operationally: compact when `stats` shows the
  * tombstone fraction matters), the anti-join build side is that
  * bounded table (the planner broadcasts it from parquet size stats),
  * and the probe side is the already-pruned candidate scan — never the
  * whole index.
  */
object Tombstones {

  /** Table directory under an index path. A name no index family uses
    * for anything else, so [[exists]] doubles as "were deletes ever
    * issued here".
    */
  val TableName = "tombstones"

  /** Canonical stored column name — independent of the caller's id
    * column so one table serves every (idCol-parameterized) read path.
    */
  val IdColumn = "__del_id"

  def path(indexPath: String): String = s"$indexPath/$TableName"

  def exists(spark: SparkSession, indexPath: String): Boolean =
    Tables.exists(spark, path(indexPath))

  /** The tombstoned ids as a one-column ([[IdColumn]]) frame, None when
    * no delete was ever issued (the common case — one driver-side
    * fs.exists, no job).
    */
  def df(spark: SparkSession, indexPath: String): Option[DataFrame] =
    if (!exists(spark, indexPath)) None
    else Some(Tables.read(spark, path(indexPath)).select(col(IdColumn)))

  /** Rows per appended tombstone file: one narrow long/string column,
    * so ~4M rows ≈ a few tens of MB — comfortably one task's work. The
    * divisor that makes [[append]] size-aware instead of single-task.
    */
  private val RowsPerAppendFile = 4000000L

  /** Record `ids` (any frame carrying `idCol`) as deleted. Append-only
    * and duplicate-tolerant: ids are distinct'd within the batch, and a
    * re-delete across batches is harmless (the anti-join and the
    * compaction both dedup by construction). Ids absent from the index
    * are harmless too — they mask nothing and compaction drops them.
    *
    * File shape: ⌈batch / [[RowsPerAppendFile]]⌉ files per append — one
    * file for every cadence-sized delete batch (table file count stays
    * at the deletion cadence), but a giant batch (a whole-tenant
    * right-to-be-forgotten order) spreads over proportional tasks
    * instead of funneling through one. Costs one count of the
    * checkpointed distinct batch — noise against the write it sizes.
    */
  def append(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      ids: DataFrame): Unit = {
    val batch = ids.select(col(idCol).as(IdColumn)).distinct().localCheckpoint()
    try {
      val n = batch.count()
      val files = math.max(1L, (n + RowsPerAppendFile - 1) / RowsPerAppendFile)
      batch.repartition(files.toInt)
        .write.mode("append").parquet(path(indexPath))
    } finally { batch.unpersist(); () }
  }

  /** Mask deleted rows out of a candidate frame: anti-join on `idCol`
    * when the table exists, the frame untouched (and no job run) when
    * it does not. Call on the PRUNED scan — after any partition `isin`
    * filter, so the static pruning reaches the parquet source
    * unobstructed — and before any floor/aggregate derived from it.
    */
  def liveOnly(
      rows: DataFrame,
      spark: SparkSession,
      indexPath: String,
      idCol: String): DataFrame =
    mask(df(spark, indexPath), idCol)(rows)

  /** [[liveOnly]] against a table already resolved by [[df]]: a body
    * that masks several scans resolves it once and applies it to each.
    */
  def mask(tombstones: Option[DataFrame], idCol: String)(rows: DataFrame): DataFrame =
    tombstones match {
      case None => rows
      case Some(t) =>
        // compaction-bounded build side: let the planner broadcast it
        // from its real parquet size rather than forcing a hint that
        // would be wrong for a never-compacted table
        rows.join(t.select(col(IdColumn).as(idCol)), Seq(idCol), "left_anti")
    }

  /** Distinct pending deletions at `indexPath` (0 when none) — the
    * operational compaction trigger: alongside the families' `stats`
    * reports (occupancy/files), this is the number that says when the
    * masked fraction justifies a [[IvfIndex.compactTombstones]] /
    * [[LexicalSearch.compactTombstones]] pass.
    */
  def pendingCount(spark: SparkSession, indexPath: String): Long =
    df(spark, indexPath).map(_.distinct().count()).getOrElse(0L)

  /** Drop the table outright: a fresh build, or a compaction that
    * found nothing left to rewrite.
    */
  def clear(spark: SparkSession, indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(indexPath))
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    ()
  }

  /** Append-path guard: an upsert batch must not carry a tombstoned id.
    * Clearing the tombstone instead would RESURFACE the old physical
    * row alongside the new one (two payload rows, one id — duplicate
    * ranks in a top-k); purging the old row inline would hide an
    * O(corpus) rewrite inside an O(batch) append. So re-inserting a
    * deleted id is a two-step the caller owns: compact (physically
    * removing the old row), then upsert — the same "the caller's dedup
    * gate owns identity" contract the append paths already document.
    * Costs one tombstone-table semi-join when the table exists, one
    * fs.exists when it does not.
    */
  def requireNoOverlap(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      batch: DataFrame,
      opName: String): Unit =
    require(!overlaps(spark, indexPath, idCol, batch),
        s"$opName: the batch carries ids tombstoned by a pending delete — " +
          s"run the index's tombstone compaction first (re-inserting a " +
          s"deleted id before its old row is physically removed would " +
          s"serve both rows under one id)")

  /** Does `batch` carry any pending-tombstoned id? One existence
    * semi-join against the cadence-bounded table when it exists, one
    * fs.exists when it does not — the decision input for both overlap
    * disciplines: the loud [[requireNoOverlap]] guard on the batch
    * append paths, and the CDC maintenance streams' compact-before-
    * upsert convergence ([[graft.streaming.IndexMaintenance]]), where
    * throwing would wedge replay forever.
    */
  def overlaps(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      batch: DataFrame): Boolean =
    df(spark, indexPath).exists { t =>
      batch.select(col(idCol))
        .join(t.select(col(IdColumn).as(idCol)), Seq(idCol), "left_semi")
        .limit(1).count() > 0L
    }
}
