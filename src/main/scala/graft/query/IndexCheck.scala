package graft.query

import graft.Tables
import graft.util.Generation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index integrity verification — the `fsck` of the vector-index
  * lifecycle, closing the ops loop the other faces opened
  * (build → upsert → split → compact → re-encode → re-cluster →
  * delete → VERIFY): one call audits every invariant the query-time
  * exactness proofs assume, so an operator can CHECK an index after an
  * incident (a killed maintenance job, a filesystem restore, a
  * suspected bug) instead of rebuilding it on faith.
  *
  * Output: one row per check — (check, ok, observed) — where `ok` is
  * the invariant verdict and `observed` a small deterministic count
  * (never a row payload). Checks and what breaks if they fail:
  *
  *  - `radius_coverage`: every member's distance to its cell centroid
  *    is ≤ the stored radius (+ pad). THE exactness invariant — an
  *    under-covering radius silently drops true neighbors.
  *  - `meta_matches_dirs`: `cells_meta` rows ↔ `centroid_id=` dirs
  *    agree (orphan dirs are invisible rows; stale meta rows are
  *    empty probes). Every maintenance pass commits both in one
  *    generation swap, so disagreement means damage — or a split that
  *    code older than that swap left torn — and a re-cluster, which
  *    rebuilds from the `cells` rows, is the repair.
  *  - `unique_ids`: no id occurs twice in `cells` (an append-contract
  *    violation — duplicate ranks in any top-k it reaches).
  *  - `codes_align` (composed only): `cell_codes` holds EXACTLY one
  *    row per cells row, in the same cell (a missing code hides a
  *    vector from the composed scan; a stale one resurrects a moved
  *    or deleted vector into floors).
  *  - `enc_refs` (residual mode only): every code row's enc
  *    generation and every `enc_current` row's exists in
  *    `enc_centers` (a dangling enc_id prices codes against a missing
  *    LUT center — silently wrong bounds). A cell without an
  *    `enc_current` row is healthy: a split mints it none, and the
  *    next upsert into it mints one on demand.
  *  - `label_meta_fresh`: each persisted label-radius artifact is
  *    fresh by its fingerprint, or correctly detected stale (stale is
  *    SAFE — queries re-derive — so `ok` is about detectability: a
  *    torn snapshot that still parses as fresh would be served).
  *  - `pending_markers` / `pending_tombstones`: in-flight state,
  *    reported with ok=true (they are contracts, not corruption): an
  *    uncommitted stage the next maintenance pass deletes, and masked
  *    rows a compaction is owed.
  *
  * Scale shape: every check is one partial-aggregated pass over the
  * table it audits (the radius check re-derives normalized distances
  * exactly as the build did; the alignment check is two anti-join
  * counts), metadata frames broadcast, and only per-check counts
  * reach the driver. Run off the query path, like the other
  * maintenance faces.
  */
object IndexCheck {

  /** Audit the index at `indexPath` (plain IVF or composed IVF+PQ —
    * the layout is read from the artifacts). Returns (check, ok,
    * observed) rows ordered by check name.
    */
  def checkIvf(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String): DataFrame = {
    import spark.implicits._
    Generation.recover(spark, indexPath)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def exists(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/$t"))
    val hasCodes = exists("cell_codes")
    // the checks are INDEPENDENT single-pass audits over different
    // tables — run them concurrently (guide §2.6: a sequential loop of
    // barriered counts leaves the cluster idle in every tail); the
    // output order comes from the final sort, so concurrency cannot
    // move a row
    val checks = scala.collection.mutable.ArrayBuffer[() => (String, Boolean, Long)]()

    // -------------------------------------------------- radius_coverage
    // over LIVE rows: the exactness proofs only ever bound servable
    // rows (a tombstoned member is masked before any bound is used,
    // and compaction re-tightens radii to the survivors)
    val cellMeta = Tables.read(spark, s"$indexPath/cells_meta")
    checks += (() => {
      val assigned = Tombstones.liveOnly(
        IvfIndex.normalizedAssigned(spark, indexPath, idCol, embCol),
        spark, indexPath, idCol)
      val uncovered = assigned
        .join(broadcast(cellMeta.select(col("centroid_id"), col("center"),
          col("radius"))), "centroid_id")
        .withColumn("__d",
          sqrt(graft.functions.l2_dist_sq(col("__norm"), col("center"))))
        .filter(col("__d") > col("radius") + lit(1e-6))
        .count()
      ("radius_coverage", uncovered == 0L, uncovered)
    })

    // -------------------------------------------------- meta_matches_dirs
    checks += (() => {
      val metaIds = cellMeta.select(col("centroid_id").cast("long"))
        .collect().map(_.getLong(0)).toSet
      val dirIds = IvfIndex.cellDirIds(spark, indexPath).toSet
      val mismatched = (metaIds -- dirIds).size + (dirIds -- metaIds).size
      ("meta_matches_dirs", mismatched == 0, mismatched.toLong)
    })

    // -------------------------------------------------- unique_ids
    checks += (() => {
      val dupIds = Tables.read(spark, s"$indexPath/cells")
        .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).count()
      ("unique_ids", dupIds == 0L, dupIds)
    })

    // -------------------------------------------------- codes_align
    if (hasCodes) checks += (() => {
      val cells = Tables.read(spark, s"$indexPath/cells")
        .select(col(idCol), col("centroid_id").cast("long").as("__cc"))
      val codes = Tables.read(spark, s"$indexPath/cell_codes")
        .select(col(idCol), col("centroid_id").cast("long").as("__kc"))
      // one row per side per id is implied by unique_ids on cells; a
      // full outer join surfaces missing/stale/mis-celled rows in one
      // pass (null side = missing there; cell mismatch = moved without
      // its code)
      val misaligned = cells.join(codes, Seq(idCol), "full_outer")
        .filter(col("__cc").isNull || col("__kc").isNull ||
          col("__cc") =!= col("__kc"))
        .count()
      ("codes_align", misaligned == 0L, misaligned)
    })

    // -------------------------------------------------- enc_refs
    if (hasCodes && IvfPq.isResidual(spark, indexPath)) checks += (() => {
      val encIds = Tables.read(spark, s"$indexPath/enc_centers")
        .select(col("enc_id"))
      def dangling(table: String): Long = Tables.read(spark, s"$indexPath/$table")
        .select(col("enc_id"))
        .join(broadcast(encIds), Seq("enc_id"), "left_anti")
        .count()
      val n = dangling("cell_codes") + dangling("enc_current")
      ("enc_refs", n == 0L, n)
    })

    // -------------------------------------------------- label_meta_fresh
    checks += (() => {
      lazy val print = IvfIndex.labelMetaPrint(spark, indexPath)
      val stale = IvfIndex.labelMetaArtifacts(spark, indexPath)
        .count { case (_, _, snap) => snap != print }
      ("label_meta_fresh", true, stale.toLong) // stale is safe; count reported
    })

    // -------------------------------------------------- pending state
    // a published marker cannot be pending (recovered above); a stage
    // without one is a maintenance pass that crashed before its commit
    val markers =
      if (fs.exists(new org.apache.hadoop.fs.Path(Generation.stagePath(indexPath)))) 1L
      else 0L
    val rows = graft.util.Par.all(spark, "IndexCheck.checkIvf")(checks.toSeq: _*) ++
      Seq(("pending_markers", true, markers),
        ("pending_tombstones", true, Tombstones.pendingCount(spark, indexPath)))

    rows.sortBy(_._1).toSeq.toDF("check", "ok", "observed")
  }

  /** The lexical twin — audits the [[LexicalSearch]] postings index:
    *
    *  - `stats_physical`: the persisted one-row stats EXACTLY
    *    aggregate the physical postings (one doc counted once, its
    *    min-len witness summed) — the invariant the deletion
    *    correction arithmetic leans on; a drifted stats row
    *    mis-normalizes every BM25 score;
    *  - `bucket_hash`: every posting row sits in the term-hash bucket
    *    the probe pruning will look in (a mis-bucketed row is
    *    invisible to every query for its term);
    *  - `pending_tombstones`: masked docs awaiting compaction
    *    (reported, ok=true — that is a contract state).
    */
  def checkLexical(
      spark: SparkSession,
      workDir: String,
      idCol: String): DataFrame = {
    import spark.implicits._
    Generation.recover(spark, workDir)
    val rows = scala.collection.mutable.ArrayBuffer[(String, Boolean, Long)]()
    val postings = Tables.read(spark, s"$workDir/postings")

    val agg = postings.groupBy(col(idCol)).agg(min(col("__len")).as("__l"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("__l")), lit(0L)).as("tl"))
      .head
    val st = Tables.read(spark, s"$workDir/stats").head
    val statsOk = agg.getLong(0) == st.getAs[Long]("__n_docs") &&
      agg.getLong(1) == st.getAs[Long]("__total_len")
    rows += (("stats_physical", statsOk,
      math.abs(agg.getLong(0) - st.getAs[Long]("__n_docs")) +
        math.abs(agg.getLong(1) - st.getAs[Long]("__total_len"))))

    val misbucketed = postings
      .filter(col("__bucket").cast("int") =!=
        pmod(hash(col("__term")), lit(LexicalSearch.IndexBuckets)))
      .count()
    rows += (("bucket_hash", misbucketed == 0L, misbucketed))

    rows += (("pending_tombstones", true,
      Tombstones.pendingCount(spark, workDir)))
    rows.sortBy(_._1).toSeq.toDF("check", "ok", "observed")
  }
}
