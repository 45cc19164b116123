package graft.query

import graft.Tables
import graft.functions.cosine_sim
import graft.util.Generation
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** IVF (inverted-file) ANN index — the second scale path for similarity
  * search next to [[AnnIndex]]'s LSH: k-means coarse centroids over
  * L2-normalized vectors, index rows stored parquet-partitioned BY CELL,
  * plus one radius row per cell for the query-time completeness bound.
  *
  * Retrieval is EXACT, not recall-probabilistic: a query probes its
  * nearest cell(s), takes the running k-th best similarity as a floor,
  * and then probes only cells whose triangle-inequality bound says they
  * could still contribute — for any member x of cell c,
  * `d(q,x) >= d(q,centroid_c) - radius_c`, so on unit vectors
  * `sim(q,x) <= 1 - max(0, d(q,centroid_c) - radius_c)^2 / 2`. Cells
  * whose bound cannot beat the floor are skipped wholesale; every probed
  * candidate is ranked by the exact cosine kernel. On a clustered corpus
  * the bound prunes most cells; on an adversarially isotropic corpus it
  * degrades toward a full scan rather than silently dropping neighbors.
  *
  * 100 TB shape: the build is one bounded-sample collect, a driver-side
  * k-means fit over at most 256 points per centroid ([[Lloyd]]), one
  * assignment pass + a partitioned write; the per-cell radius
  * aggregation is one tiny shuffle. A query batch reads only the cells
  * that survive the bound — the join on the `centroid_id` partition
  * column prunes whole directories at the source, which is the property
  * LSH bucketing cannot give a columnar store.
  */
object IvfIndex extends IvfLayout {

  /** maxIter=10: the coarse quantizer does not need tight convergence —
    * centroid quality only moves the probe count (the query bound is
    * exact for any centroid set).
    */
  case class Params(
      nCentroids: Int = 16,
      maxIter: Int = 10,
      seed: Long = 42L)

  /** Absorbs float-vs-double kernel noise when the stored radius is
    * reused at query time; padding only adds probes, never drops them.
    */
  private[query] val RadiusPad = 1e-6

  /** Per-query overfetch ceiling of the filtered fallback's refill
    * loop before it escalates to the direct label-equijoin ranking —
    * see [[filteredViaOverfetch]]. Past ~64k rows per query the top-k
    * heaps and hit frames grow toward corpus size, while the equijoin
    * alternative stays one flat labels pass.
    */
  private[query] val RefillCap = 65536L

  /** Fit centroids ([[Lloyd]]), assign every vector, persist cells
    * (partitioned by centroid_id) + per-cell radii (the bound's data).
    */
  def build(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outPath: String,
      params: Params = Params()): Unit = {
    val prep = AnnIndex.prepared(df, idCol, embCol)
    buildFitted(prep, idCol, embCol, outPath, params, Lloyd.sample(prep, idCol, params.nCentroids))
  }

  /** [[build]] from a prepared frame and its fit sample, which
    * [[IvfPq.build]] shares with its PQ fit. @return the centers by id.
    */
  private[query] def buildFitted(
      prep: DataFrame,
      idCol: String,
      embCol: String,
      outPath: String,
      params: Params,
      sample: Array[Array[Float]]): Array[Array[Float]] = {
    val spark = prep.sparkSession
    // a rebuild invalidates any persisted label metadata FIRST — its
    // freshness fingerprints cannot distinguish two same-shaped builds
    invalidateLabelMeta(spark, outPath)
    // ... and retires any COMPOSED artifacts from a previous build at
    // this path: stale cell_codes would desync from the fresh cells,
    // and a stale enc_centers table would make [[IvfPq.isResidual]]
    // misread a later global re-encode as residual (wrong bounds,
    // silently wrong answers). A rebuild through this face yields a
    // clean plain-IVF index; [[IvfPq.build]] rewrites its own
    // artifacts right after.
    locally {
      val fs = new org.apache.hadoop.fs.Path(outPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // tombstones too: a fresh build indexes exactly `df`, and a stale
      // delete log from a previous index at this path would silently
      // mask rows of the NEW corpus that happen to share ids
      GenerationArtifacts.filterNot(Seq("cells", "cells_meta").contains).foreach { t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$outPath/$t"), true); ()
      }
    }
    // the sample holds min(n, its cap) rows, so this is n >= 2
    require(sample.length >= 2,
      s"IvfIndex.build: need at least 2 vectors to build an index (got ${sample.length}) " +
        "— brute-force SimilaritySearch serves degenerate corpora")
    val centers = Lloyd.fit(sample, params.nCentroids, params.maxIter, params.seed)
    val cells = centers.indices.map(i => (i.toLong, centers(i)))
    val assigned = prep
      .select(col(idCol), col(embCol), col("features").cast("array<float>").as("__norm"))
      .withColumn("__a", nearestCell(cells))
      .select(col(idCol), col(embCol),
        col("__a.centroid_id").cast("int").as("centroid_id"), col("__a.d").as("d"))
      .persist()
    try {
      assigned
        .select(col(idCol), col(embCol), col("centroid_id"))
        // bounded files/cell AND cluster-scaled write parallelism — see
        // graft.util.PartitionedWrite
        .transform(graft.util.PartitionedWrite.spread(
          _, params.nCentroids, col("centroid_id"), col(idCol)))
        .write.partitionBy("centroid_id").mode("overwrite")
        .parquet(s"$outPath/cells")
      // one tiny frame per index: each populated cell's centroid plus
      // the max distance of a member's normalized vector to it — the
      // radius in the query-time triangle bound
      import spark.implicits._
      assigned
        .groupBy("centroid_id")
        .agg(max(col("d")).as("radius"))
        .join(broadcast(centers.toSeq.zipWithIndex
          .map { case (c, i) => (i, c) }.toDF("centroid_id", "center")), "centroid_id")
        .select(col("centroid_id"), col("center"), col("radius"))
        .write.mode("overwrite").parquet(s"$outPath/cells_meta")
    } finally { assigned.unpersist(); () }
    centers
  }

  /** The one assignment rule of [[build]] and [[assignNew]]: the
    * nearest of `cells` to `__norm` by L2, ties to the lower id —
    * `struct(centroid_id, d)`, a per-row fold over a literal array.
    */
  private def nearestCell(cells: Seq[(Long, Array[Float])]): Column =
    aggregate(typedLit(cells.sortBy(_._1)),
      struct(lit(-1L).as("centroid_id"), lit(Double.PositiveInfinity).as("d")),
      (acc, c) => {
        val d = sqrt(graft.functions.l2_dist_sq(col("__norm"), c.getField("_2")))
        when(d < acc.getField("d"),
          struct(c.getField("_1").as("centroid_id"), d.as("d"))).otherwise(acc)
      })

  /** Full RE-CLUSTER with an atomic generation swap — the repair for
    * the one drift mode the log-structured lifecycle (append → split →
    * compact) cannot fix: a corpus whose distribution shifted until the
    * original centroid PLACEMENT is globally poor (every cell still
    * valid by the radius contract, but radii huge → probe counts
    * degrade toward a full scan). Fresh centroids/cells/meta are built
    * from the CURRENT corpus into the staging directory while readers
    * keep serving the old tables, then published by
    * [[graft.util.Generation.commit]]: a crash anywhere after its
    * marker is rolled forward by the next reader's
    * [[graft.util.Generation.recover]], and no reader ever sees a
    * cells/cells_meta pair from two generations.
    *
    * Persisted label metadata is invalidated FIRST: its freshness
    * fingerprint (row count + cell id set) cannot distinguish two
    * same-shaped generations, so a swap could otherwise serve stale
    * per-label radii as fresh. Plain-IVF only — a composed index
    * re-clusters through [[IvfPq.recluster]], which rebuilds its codes
    * too. Result-invisible by the family contract: the new generation
    * indexes exactly the old one's rows, and the query bound is exact
    * for ANY centroid set (spec + q115 oracle-gated).
    */
  def recluster(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      params: Params = Params()): Unit = {
    // complete any crashed prior swap first: its window can hide
    // cell_codes from the layout check below
    Generation.recover(spark, indexPath)
    require(!IvfPq.isComposed(spark, indexPath),
      "IvfIndex.recluster: this index carries a cell_codes table (a composed " +
        "IvfPq index) — re-cluster it through IvfPq.recluster")
    regenerate(spark, indexPath, idCol, embCol)(build(_, idCol, embCol, _, params))
  }

  /** The one re-cluster body of [[recluster]] and [[IvfPq.recluster]],
    * which first complete any crashed prior swap and check the layout:
    * invalidate label metadata, build the LIVE corpus into the staging
    * directory with `buildInto(rows, path)`, then commit every
    * generation artifact that build wrote and purge every one it did
    * not.
    */
  private[query] def regenerate(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String)(buildInto: (DataFrame, String) => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // stale-by-construction after the swap; delete while the old
    // generation is still live so a crash at any later point can never
    // leave an artifact whose fingerprint matches the NEW generation
    invalidateLabelMeta(spark, indexPath)
    val regen = Generation.stage(spark, indexPath)
    // fresh build from the LIVE corpus: reads the OLD cells/ minus any
    // pending tombstones (a re-cluster is a full rebuild from current
    // rows, so it doubles as the complete physical compaction), writes
    // only under the stage — readers are untouched until the swap
    buildInto(Tombstones.liveOnly(
        Tables.read(spark, s"$indexPath/cells"), spark, indexPath, idCol)
        .select(col(idCol), col(embCol)), regen)
    val (installs, purge) = GenerationArtifacts.partition(a =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$regen/$a")))
    Generation.commit(spark, indexPath, installs, purge)
  }

  /** [[recluster]] by the index's own layout — the maintenance
    * cadence's re-cluster, at the default cell count; a composed index
    * keeps the PQ geometry and encoding mode it was built with
    * ([[IvfPq.builtParams]]).
    */
  private[graft] def reclusterAsBuilt(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String): Unit = {
    Generation.recover(spark, indexPath)
    if (IvfPq.isComposed(spark, indexPath))
      IvfPq.recluster(spark, indexPath, idCol, embCol, IvfPq.builtParams(spark, indexPath))
    else recluster(spark, indexPath, idCol, embCol)
  }

  /** Every artifact of one index generation: what [[buildFitted]]
    * clears before it writes cells and cells_meta, and what a
    * re-cluster installs when its fresh build wrote it or purges when
    * not. A residual→global composed re-cluster must remove the old
    * enc tables, or [[IvfPq.isResidual]] would misread the fresh global
    * codes as residual (wrong LUT pricing, silently wrong answers). A
    * fresh generation, built from LIVE rows only, has no pending
    * delete: purging the tombstones inside the marker-fenced swap
    * makes "new tables, no stale masks" atomic for readers.
    */
  private val GenerationArtifacts = Seq(
    "cells", "cells_meta", "cell_codes", "codebooks",
    "enc_centers", "enc_current", "_tmp_residuals",
    Tombstones.TableName)

  /** Incremental index maintenance: fold NEW vectors into a built index
    * without re-clustering. Each new vector is assigned to its nearest
    * existing centroid (one collect of the nCentroids-row metadata, no
    * re-fit) and appended to that cell's parquet partition; the
    * cell's stored radius grows to cover its new members.
    *
    * The exactness contract survives unconditionally: the query-time
    * triangle bound needs only "radius_c >= d(member, centroid_c) for
    * every member of c" — it never requires centroids to be the means of
    * their current members, so an index whose cells have drifted from
    * their centroids returns exactly the same top-k as a fresh build
    * over the union, just with more probes. Drift is a COST regression,
    * not a correctness one; re-cluster (full [[build]]) when probe
    * counts degrade, the same compact-when-it-pays discipline as any
    * log-structured index. At 100 TB this is the difference between a
    * nightly re-cluster of the whole corpus and a per-batch append that
    * touches only the arriving rows plus one tiny metadata frame.
    *
    * Append-only contract: `newRows` ids must be disjoint from the ids
    * already indexed (the caller's dedup gate owns identity) and unique
    * WITHIN the batch. EXACT duplicate rows (same id, same embedding —
    * an at-least-once producer's retry) are collapsed here and benign;
    * a CONFLICTING duplicate (same id, different embedding) fails the
    * job naming the id (enforced in the assignment aggregation below)
    * — that is a data bug upstream, and indexing either pick would
    * silently serve wrong neighbors. An id repeated across batches
    * surfaces twice as a candidate — never silently dropped, but not
    * replaced either.
    *
    * A COMPOSED ([[IvfPq]]) index — one with a `cell_codes` table —
    * gets the batch's code rows in the same call, encoded against its
    * FROZEN codebooks and appended to the same cell partitions
    * ([[IvfPq.appendCodes]]): both bounds keep their contracts
    * (radius coverage; residuals priced against the codebook actually
    * stored), so the upsert is result-invisible — q109's oracle-gated
    * property.
    */
  def upsert(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      newRows: DataFrame): Unit = {
    Generation.recover(spark, indexPath)
    // a tombstoned id must be physically purged (compactTombstones)
    // before it can be re-inserted — see [[Tombstones.requireNoOverlap]]
    Tombstones.requireNoOverlap(spark, indexPath, idCol, newRows,
      "IvfIndex.upsert")
    val cellMeta = Tables.read(spark, s"$indexPath/cells_meta")
    // nCentroids-row frame: count it once here, not per write below
    val nCells = cellMeta.count().toInt.max(1)
    // label-meta fold eligibility is decided BEFORE the append: an
    // artifact is foldable iff the batch carries its label column AND
    // the artifact is provably fresh w.r.t. the PRE-append index (the
    // same fingerprint check queries use — an artifact someone else
    // already staled cannot be "caught up" by a batch-sized merge,
    // because the rows that staled it are unknown here)
    val batchCols = newRows.columns.toSet
    lazy val print = labelMetaPrint(spark, indexPath)
    val foldable = labelMetaArtifacts(spark, indexPath)
      .filter { case (lc, _, snap) => batchCols(lc) && snap == print }
    val assigned = assignNew(cellMeta, idCol, embCol, newRows)
      .persist()
    try {
      assigned
        .select(col(idCol), col(embCol), col("centroid_id"))
        // bounded files/cell per append, cluster-scaled parallelism
        .transform(graft.util.PartitionedWrite.spread(
          _, nCells, col("centroid_id"), col(idCol)))
        .write.partitionBy("centroid_id").mode("append")
        .parquet(s"$indexPath/cells")
      // grow radii to cover the new members; localCheckpoint materializes
      // the updated frame BEFORE the overwrite of the path it was read
      // from (cells_meta is nCentroids rows — the checkpoint is trivial)
      val updated = cellMeta
        .join(
          assigned.groupBy("centroid_id").agg(max(col("d")).as("__new_r")),
          Seq("centroid_id"), "left")
        .select(col("centroid_id"), col("center"),
          greatest(col("radius"), coalesce(col("__new_r"), lit(0.0))).as("radius"))
        .localCheckpoint()
      updated.write.mode("overwrite").parquet(s"$indexPath/cells_meta")
      // maintain the filtered-search label metadata THROUGH the append
      // instead of letting it go stale: for each foldable artifact, the
      // batch's per-(cell, label) max distances merge into the persisted
      // radii (a batch-sized max-merge — radii only ever grow under an
      // append, so the merge is exact), and the snapshot advances to the
      // post-append fingerprints. q108-class queries then stay on the
      // cheap persisted path under continuous ingest ([[upsert]]-fed
      // maintenance included) with no manual [[buildLabelMeta]] rerun.
      if (foldable.nonEmpty)
        foldLabelMeta(spark, indexPath, idCol, assigned, newRows, foldable)
      // codes LAST: a crash before this append leaves codes < occupancy
      // in [[IvfPq.stats]] — a torn upsert, repaired by replaying the batch
      if (IvfPq.isComposed(spark, indexPath))
        IvfPq.appendCodes(spark, indexPath, idCol, embCol, newRows,
          assigned.select(col(idCol), col("centroid_id")), nCells)
    } finally assigned.unpersist()
  }

  /** The label-meta freshness fingerprint: the raw `cells` row count
    * and the sorted cell directory ids. An artifact is fresh iff its
    * snapshot equals the index's current print (the soundness argument
    * is at [[buildLabelMeta]]). The count is parquet metadata and the
    * ids a driver-side listing: no payload read.
    */
  private[query] final case class LabelMetaPrint(rows: Long, cells: Seq[Long])

  private[query] def labelMetaPrint(spark: SparkSession, indexPath: String): LabelMetaPrint =
    LabelMetaPrint(Tables.read(spark, s"$indexPath/cells").count(),
      cellDirIds(spark, indexPath).sorted)

  // getSeq, not getAs[Seq]: Spark hands back a mutable ArraySeq that a
  // cast to immutable Seq would CCE on
  private def snapshotPrint(r: Row): LabelMetaPrint =
    LabelMetaPrint(r.getAs[Long]("rows"), r.getSeq[Long](r.fieldIndex("cells")).toSeq)

  /** The persisted [[buildLabelMeta]] artifacts under `indexPath`:
    * (labelCol, basePath, snapshot print). One tiny
    * snapshot read per artifact; artifacts written before the
    * snapshot carried its label column are skipped (they can only be
    * rebuilt, never folded). An UNREADABLE snapshot (a crash
    * mid-overwrite in [[buildLabelMeta]] or [[foldLabelMeta]] leaves
    * an empty or partial directory) is skipped the same way — the
    * fail-safe the freshness contract asserts: a torn artifact must
    * degrade to non-foldable/stale, never wedge every subsequent
    * [[upsert]] with a read failure until manual cleanup.
    */
  private[query] def labelMetaArtifacts(
      spark: SparkSession,
      indexPath: String): Seq[(String, String, LabelMetaPrint)] = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("label_meta_"))
      .flatMap { s =>
        val base = s.getPath.toString
        val snapP = new org.apache.hadoop.fs.Path(s"$base/snapshot")
        if (!fs.exists(snapP)) None
        else scala.util.Try {
          val snap = Tables.read(spark, snapP.toString)
          if (!snap.columns.contains("label_col")) None
          else {
            val r = snap.head
            Some((r.getAs[String]("label_col"), base, snapshotPrint(r)))
          }
        }.toOption.flatten
      }
  }

  /** The batch-sized max-merge of [[upsert]]: fold the assigned
    * batch's per-(cell, label) max distances into each foldable
    * artifact's radii and advance its snapshot. The new snapshot is
    * derived ARITHMETICALLY from the pre-append snapshot plus this
    * batch (rows + batch count; cells ∪ batch cells) — never re-read
    * from the index — so a racing writer's rows make the real
    * fingerprints diverge from it and the artifact reads stale
    * (fail-safe), exactly the [[buildLabelMeta]] race discipline.
    *
    * Crash windows all degrade to the stale fallback, never to wrong
    * answers: a crash after the cells append but before the fold
    * leaves the old snapshot behind the grown row count (stale,
    * detected); between the radii overwrite and the snapshot write,
    * the merged radii sit under the old snapshot — still behind the
    * grown count, still stale; and mid-overwrite of either tiny file
    * is unreadable-or-old, both of which [[cachedLabelRadii]] treats
    * as absent/stale. The one state that reads FRESH is the fully
    * committed fold, whose radii are exact by the max-merge argument.
    */
  private def foldLabelMeta(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      assigned: DataFrame,
      newRows: DataFrame,
      artifacts: Seq[(String, String, LabelMetaPrint)]): Unit = {
    import spark.implicits._
    val batchN = assigned.count()
    // ≤ nCells ids (the probe-pruning collect bound)
    val batchCells = assigned.select(col("centroid_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    artifacts.foreach { case (lc, base, snap) =>
      val old = Tables.read(spark, s"$base/radii")
      val cidT = old.schema("centroid_id").dataType
      // assignNew's `d` IS the member→centroid distance the radii
      // bound needs (same normalized-vector kernel as the build).
      // Null labels are dropped BEFORE the aggregation: buildLabelMeta
      // derives radii through an inner join on the labels frame, so a
      // built artifact never holds a (cell, null) row — folding one in
      // would diverge the two artifact shapes (harmless to answers, a
      // null never equi-matches, but it inflates the fanout count the
      // branch decision reads).
      val batchRadii = assigned
        .join(newRows.select(col(idCol), col(lc)), Seq(idCol))
        .filter(col(lc).isNotNull)
        .groupBy(col("centroid_id"), col(lc))
        .agg(max(col("d")).as("__new_rl"))
      val merged = old
        .withColumnRenamed("__rl", "__old_rl")
        .join(batchRadii, Seq("centroid_id", lc), "full")
        .select(col("centroid_id").cast(cidT).as("centroid_id"), col(lc),
          greatest(coalesce(col("__old_rl"), lit(0.0)),
            coalesce(col("__new_rl"), lit(0.0))).as("__rl"))
        .localCheckpoint() // materialized BEFORE overwriting its source
      merged.write.mode("overwrite").parquet(s"$base/radii")
      Seq((snap.rows + batchN, (snap.cells ++ batchCells).distinct.sorted, lc))
        .toDF("rows", "cells", "label_col")
        .repartition(1).write.mode("overwrite").parquet(s"$base/snapshot")
    }
  }

  /** Nearest-existing-centroid assignment of a new batch:
    * (idCol, embCol, centroid_id, d) — the shared front half of
    * [[upsert]]'s cell and code appends. Enforces the
    * append-only contract (conflicting duplicate batch ids fail
    * loudly); exact duplicate rows collapse.
    */
  private[query] def assignNew(
      cellMeta: DataFrame,
      idCol: String,
      embCol: String,
      newRows: DataFrame): DataFrame = {
    // ≤ nCells rows (the probe-pruning collect bound)
    val cells = cellMeta
      .select(col("centroid_id").cast("long"), col("center").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // nearest existing centroid by the build's own assignment rule
    // ([[nearestCell]]); embCol is unique per id after the exact-
    // duplicate collapse, so first() is deterministic here
    AnnIndex.prepared(newRows.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
      .select(col(idCol), col(embCol), col("features").cast("array<float>").as("__norm"))
      .withColumn("__a", nearestCell(cells))
      .groupBy(col(idCol))
      .agg(first(col("__a")).as("__a"), first(col(embCol)).as(embCol),
        count(lit(1)).as("__nrows"))
      // the unique-id contract above is ENFORCED, not assumed: exact
      // duplicates were collapsed above, so any id with more than one
      // row is a CONFLICTING duplicate (same id, different embedding),
      // and first() could pair one duplicate's embedding with the
      // other's cell — assert_true inside the filter fails the job
      // naming the id, at zero extra jobs
      .filter(assert_true(col("__nrows") === 1,
        concat(lit("IvfIndex.upsert: newRows contains a duplicated id ("),
          col(idCol).cast("string"),
          lit(") with conflicting embeddings — the append-only contract " +
            "requires one embedding per batch id"))).isNull)
      .select(col(idCol), col(embCol),
        col("__a.centroid_id").as("centroid_id"), col("__a.d").as("d"))
  }

  /** Compact the append-maintained cells table
    * ([[graft.util.Compaction]]): every [[upsert]] lands files per
    * touched cell, so at batch cadence the index decays into small
    * files whose open/footer cost dominates probes. The centroid_id
    * partition layout is preserved — the static `isin` partition
    * pruning keeps pruning exactly as before. A composed index's
    * `cell_codes` table compacts in the same call, same layout. Run off
    * the query path. @return one report per compacted table, cells
    * first.
    */
  def compactIndex(spark: SparkSession, indexPath: String): Seq[graft.util.Compaction.Report] = {
    Generation.recover(spark, indexPath)
    cellTables(IvfPq.isComposed(spark, indexPath))
      .map(t => graft.util.Compaction.compact(spark, s"$indexPath/$t", Seq("centroid_id")))
  }

  /** Mark `ids` DELETED — the O(batch) half of row removal (see
    * [[Tombstones]] for the design and the exactness argument). Every
    * query path masks tombstoned rows from its earliest candidate scan
    * from this call on; physical removal is [[compactTombstones]]'s
    * job, off the query path. Works unchanged on a composed ([[IvfPq]])
    * index — the tombstone masks the code row and the payload row
    * alike, and the composed compaction rewrites both.
    *
    * Persisted label metadata stays SERVED, deliberately: per-(cell,
    * label) radii are maxima over member sets and deletion only
    * shrinks the set, so the artifact's bounds remain valid (merely
    * less tight) — the exact mirror of the upsert fold's
    * radii-only-grow argument. The per-label fanout counts it carries
    * over-count by the tombstoned rows until compaction, which is a
    * routing-cost skew, never a correctness one.
    */
  def delete(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      ids: DataFrame): Unit = {
    Generation.recover(spark, indexPath)
    Tombstones.append(spark, indexPath, idCol, ids)
  }

  /** What a [[compactTombstones]] pass did: which cells were rewritten,
    * how many rows left, which cells emptied out entirely (directory
    * and meta row dropped).
    */
  case class DeleteCompactionReport(
      rewrittenCells: Seq[Long],
      rowsRemoved: Long,
      emptiedCells: Seq[Long])

  /** Fold pending deletes into the physical layout — the batched,
    * off-query-path half of row removal. Rewrites ONLY the cell
    * directories that actually hold tombstoned rows (a composed
    * index's matching `cell_codes` directories move in the same pass),
    * re-tightens the rewritten cells' radii from their surviving
    * members (centers unchanged — survivors were assigned against
    * them; a radius over fewer members can only shrink, and a tighter
    * radius only removes probes), and drops cells emptied entirely.
    *
    * Commit: the surviving cell (and code) directories and the new
    * `cells_meta` are staged and published by one
    * [[graft.util.Generation.commit]] that also purges the emptied
    * directories and the spent tombstone table, so readers see either
    * the masked old generation or the compacted new one. Dirty cells
    * are found on the codes side too: an index whose cells and codes
    * an older, non-atomic compaction left out of step still gets its
    * code rows purged.
    *
    * Scale shape: one partition-pruned semi-join per table finds the
    * affected cells and the removed-row count (≤ nCentroids rows reach
    * the driver — the probe-pruning collect pattern), and every
    * subsequent scan is pruned to those directories; untouched cells
    * are never read.
    */
  def compactTombstones(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String): DeleteCompactionReport = {
    Generation.recover(spark, indexPath)
    val tombs = Tombstones.df(spark, indexPath) match {
      case None => return DeleteCompactionReport(Nil, 0L, Nil)
      // one id set for every read below and for the purge that retires it
      case Some(t) => t.distinct().localCheckpoint()
    }
    val hasCodes = IvfPq.isComposed(spark, indexPath)
    val tombIds = tombs.select(col(Tombstones.IdColumn).as(idCol))
    val cells = Tables.read(spark, s"$indexPath/cells")
    // tombstoned rows per cell: one semi-join per table
    def dirtyCells(t: DataFrame): Map[Long, Long] =
      t.join(tombIds, Seq(idCol), "left_semi")
        .groupBy(col("centroid_id").cast("long")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val removed = dirtyCells(cells)
    val affected = (removed.keys ++ (if (!hasCodes) Nil
      else dirtyCells(Tables.read(spark, s"$indexPath/cell_codes")).keys))
      .toSeq.distinct.sorted
    if (affected.isEmpty) {
      // every tombstoned id is absent from the index (double-delete
      // after a compaction, or a delete of unknown ids): nothing to
      // rewrite, just retire the table
      Tombstones.clear(spark, indexPath)
      return DeleteCompactionReport(Nil, 0L, Nil)
    }
    val regen = Generation.stage(spark, indexPath)
    def survivors(table: String): DataFrame =
      Tables.read(spark, s"$indexPath/$table")
        .filter(col("centroid_id").isin(affected: _*))
        .join(tombIds, Seq(idCol), "left_anti")
    writeCells(survivors("cells").select(col(idCol), col(embCol), col("centroid_id")),
      idCol, affected.size, s"$regen/cells")
    if (hasCodes) writeCells(survivors("cell_codes"), idCol, affected.size, s"$regen/cell_codes")
    val kept = cellDirIds(spark, regen)
    val emptied = affected.filterNot(kept.toSet)
    // re-tighten the rewritten cells' radii from their staged
    // survivors: centers unchanged, max distance over a subset only
    // shrinks — deletes are the one lifecycle event where bounds IMPROVE
    val cellMeta = Tables.read(spark, s"$indexPath/cells_meta")
    val liveMeta = cellMeta.filter(!col("centroid_id").isin(emptied: _*))
    val updatedMeta = if (kept.isEmpty) liveMeta else {
      val tightened = normalizedAssigned(spark, regen, idCol, embCol)
        .join(broadcast(cellMeta.select(col("centroid_id"), col("center"))),
          "centroid_id")
        .withColumn("d", sqrt(graft.functions.l2_dist_sq(col("__norm"), col("center"))))
        .groupBy("centroid_id")
        .agg(max(col("d")).as("__r"))
      liveMeta
        .join(tightened, Seq("centroid_id"), "left")
        .select(col("centroid_id"), col("center"),
          coalesce(col("__r"), col("radius")).as("radius"))
    }
    updatedMeta.write.mode("overwrite").parquet(s"$regen/cells_meta")
    // (persisted label metadata self-stales via its row-count
    // fingerprint now that the counts changed)
    commitCells(spark, indexPath, cellTables(hasCodes), affected, Seq("cells_meta"),
      Seq(Tombstones.TableName))
    DeleteCompactionReport(affected, removed.values.sum, emptied)
  }

  /** The cell-partitioned tables of an index: `cells`, and
    * `cell_codes` on a composed one.
    */
  private def cellTables(hasCodes: Boolean): Seq[String] =
    "cells" +: (if (hasCodes) Seq("cell_codes") else Nil)

  /** Write rows carrying `centroid_id` to a cell-partitioned table at
    * `path`, spread over `nCells` cell directories.
    */
  private[query] def writeCells(rows: DataFrame, idCol: String, nCells: Int, path: String): Unit =
    rows
      .transform(graft.util.PartitionedWrite.spread(
        _, nCells, col("centroid_id"), col(idCol)))
      .write.partitionBy("centroid_id").mode("overwrite")
      .parquet(path)

  /** Publish a partial rewrite staged by [[Generation.stage]] in one
    * marker: every staged cell directory of the `cellTables` replaces
    * its live twin, every `touched` cell the stage holds no rows for
    * is purged, the whole `tables` staged beside them install, and the
    * live tables `purge` go.
    */
  private[query] def commitCells(
      spark: SparkSession,
      indexPath: String,
      cellTables: Seq[String],
      touched: Seq[Long],
      tables: Seq[String],
      purge: Seq[String] = Nil): Unit = {
    val (installs, purged) = cellTables
      .map(Generation.partitions(spark, indexPath, _, "centroid_id", touched)).unzip
    Generation.commit(spark, indexPath, installs.flatten ++ tables, purged.flatten ++ purge)
  }

  /** [[splitHotCells]] looped to convergence: a mean-threshold split
    * is not guaranteed balanced, so one pass can leave a side
    * over-cap; each pass strictly shrinks every split cell (both
    * sides non-empty), so the loop terminates at "every cell ≤ cap or
    * all-identical (degenerate, reported and exempt)". The shared
    * occupancy-repair step of the maintenance faces.
    */
  def splitToConvergence(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      occupancyCap: Long): Unit = {
    var r = splitHotCells(spark, indexPath, idCol, embCol, occupancyCap)
    while (r.split.nonEmpty)
      r = splitHotCells(spark, indexPath, idCol, embCol, occupancyCap)
  }

  /** Maintenance diagnostics: one row per cell — (centroid_id,
    * occupancy, radius, n_files) — the inputs to the operational
    * split / compact / re-cluster decisions ([[splitHotCells]] when
    * occupancy outgrows the cap, [[compactIndex]] when per-batch
    * appends fragment a directory, full [[build]] when radii say the
    * layout has drifted). One partial-aggregating scan of the
    * partition column plus a driver-side listing of the ≤ nCells
    * directories (query compilation scale, not data movement).
    */
  /** Per-cell row counts — one partial-aggregating scan of the
    * partition column (no payload bytes read). Shared by [[stats]]
    * and operational reporting.
    */
  private def cellOccupancy(spark: SparkSession, indexPath: String): DataFrame =
    Tables.read(spark, s"$indexPath/cells")
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("occupancy"))

  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    Generation.recover(spark, indexPath)
    import spark.implicits._
    val occ = cellOccupancy(spark, indexPath)
    val files = graft.util.PartitionFiles
      .counts(spark, s"$indexPath/cells", "centroid_id")
      .toDF("centroid_id", "n_files")
    Tables.read(spark, s"$indexPath/cells_meta")
      .select(col("centroid_id").cast("long").as("centroid_id"), col("radius"))
      .join(occ, Seq("centroid_id"), "left")
      .join(broadcast(files), Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("occupancy"), lit(0L)).as("occupancy"),
        col("radius"),
        coalesce(col("n_files"), lit(0L)).as("n_files"))
  }

  /** Outcome of a [[splitHotCells]] pass: which cells were split (each
    * into two), which over-cap cells were left whole because every
    * member is identical (zero variance on every dimension — nothing
    * to split by; exact dedup upstream owns that pathology), and the
    * (old, fresh) id pair per split cell — side 0 keeps the old id,
    * side 1 gets the fresh one.
    */
  case class SplitReport(
      split: Seq[Long],
      degenerate: Seq[Long],
      newIds: Seq[(Long, Long)] = Nil) {
    def newCells: Int = split.size
  }

  /** Cell ids present as `centroid_id=` directories under `dir` —
    * the FILESYSTEM's view of a cell-partitioned table, as opposed to
    * `cells_meta`'s. The two agree on every index the committed
    * maintenance passes wrote; [[IndexCheck]] reports a disagreement.
    */
  private def partitionDirIds(spark: SparkSession, dir: String): Seq[Long] =
    Generation.partitionValues(spark, dir, "centroid_id").map(_.toLong)

  private[query] def cellDirIds(spark: SparkSession, indexPath: String): Seq[Long] =
    partitionDirIds(spark, s"$indexPath/cells")

  private[query] def codesDirIds(spark: SparkSession, indexPath: String): Seq[Long] =
    partitionDirIds(spark, s"$indexPath/cell_codes")

  /** Exact per-cell centers + radii from (__cid, __norm) member rows —
    * micro-quantized component means (order-independent, the q44
    * discipline) and max member distance: the metadata a cell needs for
    * the query-time bound, written by [[splitHotCells]] for its
    * sub-cells.
    */
  private def centersAndRadii(sides: DataFrame, micro: Double): DataFrame = {
    val centers = sides
      .select(col("__cid"), posexplode(col("__norm")))
      .groupBy(col("__cid"), col("pos").cast("int").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("col").cast("double") * micro).cast("long")).as("s"))
      .withColumn("c",
        (col("s").cast("double") / col("n").cast("double") / micro).cast("float"))
      .groupBy("__cid")
      .agg(collect_list(struct(col("dim"), col("c"))).as("__dc"))
      .select(col("__cid"),
        transform(array_sort(col("__dc")), s => s.getField("c")).as("center"))
    sides
      .join(broadcast(centers), "__cid")
      .withColumn("__d", sqrt(graft.functions.l2_dist_sq(col("__norm"), col("center"))))
      .groupBy(col("__cid"), col("center"))
      .agg(max(col("__d")).as("radius"))
      .select(col("__cid").as("centroid_id"), col("center"), col("radius"))
  }

  /** Hot-cell SPLIT maintenance — the missing half of the
    * log-structured index lifecycle next to [[upsert]] (append) and
    * [[compactIndex]] (file hygiene): repeated appends grow a cell's
    * membership and radius without bound, and since the query-time
    * triangle bound prunes per CELL, one hot cell eventually turns
    * every probe into a scan of it. Splitting an over-cap cell into
    * two tighter cells restores probe selectivity WITHOUT the full
    * re-cluster ([[build]]) — only the hot cells' rows are touched.
    *
    * Result-invisible by the same contract as [[upsert]]: the bound
    * needs only "each cell's radius covers its members", which holds
    * for the two sub-cells by construction, so a query against the
    * split index returns bit-identical top-k (gated end-to-end by
    * q106 against the full-corpus exact oracle).
    *
    * The split rule is deterministic and order-independent (the q44
    * micro-quantization discipline — no float summation order
    * anywhere): per hot cell, choose the dimension with the largest
    * exact integer variance metric `n·Σq² − (Σq)²` over
    * micro-quantized (1e-6) normalized components (DECIMAL(38,0)
    * arithmetic: |q| ≤ 1e6, so the metric needs ~2·12+log₁₀(n)
    * digits — exact past any realistic cell size where BIGINT is
    * not), ties to the lower dimension; threshold at the mean (one
    * IEEE division of two exact integers); members at or below go to
    * side 0 (keeping the old cell id), the rest to side 1 (a fresh
    * id above the current max). A nonzero metric guarantees both
    * sides are non-empty (min < mean < max). Sub-centroids are
    * micro-quantized component means; radii are exact maxima over
    * the same normalized-vector kernel the build used.
    *
    * COMPOSED indexes ([[IvfPq]]): an index carrying a `cell_codes`
    * table has its code rows moved WITH their cells — codes are
    * encoded against global codebooks (or carry their residual
    * generation), so a split changes only their partition key, never
    * a code value.
    *
    * Commit: both sides' cell (and code) directories and the new
    * `cells_meta` are staged and published by one
    * [[graft.util.Generation.commit]], so a reader sees the index
    * before the split or after it, never a moved row in two cells or
    * a cell without its metadata. Fresh ids allocate above the max of
    * the meta ids AND of every cell and code directory on disk, so an
    * install never lands on a directory some earlier writer left
    * behind.
    *
    * 100 TB shape: one pruned scan of the hot cells (static `isin`
    * partition filter), one 64×-explode aggregation over ONLY those
    * members for the statistics, a staged write of ONLY the split
    * directories, and an nCells-row metadata rewrite. Cold cells are
    * never read.
    */
  def splitHotCells(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      occupancyCap: Long): SplitReport = {
    Generation.recover(spark, indexPath)
    val Micro = 1e6
    val hasCodes = IvfPq.isComposed(spark, indexPath)
    // one partial-aggregating scan of (partition col) to find hot
    // cells; ≤ nCentroids ids reach the driver (the probe-pruning
    // collect pattern)
    val hot = Tables.read(spark, s"$indexPath/cells")
      .groupBy("centroid_id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > occupancyCap)
      .select(col("centroid_id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    if (hot.isEmpty) return SplitReport(Nil, Nil)

    val cellMeta = Tables.read(spark, s"$indexPath/cells_meta")
    val maxId = math.max(
      cellMeta.agg(max(col("centroid_id").cast("long"))).head.getLong(0),
      (cellDirIds(spark, indexPath) ++ codesDirIds(spark, indexPath))
        .foldLeft(Long.MinValue)(math.max))

    // members of the hot cells only — pruned scan, normalized exactly
    // as the build's assignment pass ([[selfKnnGraph]] re-derive)
    val members = Tables.read(spark, s"$indexPath/cells")
      .filter(col("centroid_id").isin(hot: _*))
      .select(col(idCol), col(embCol), col("centroid_id"),
        graft.functions.l2_normalize(col(embCol)).cast("array<float>").as("__norm"))
      .localCheckpoint() // feeds the statistics AND the side assignment

    // exact per-(cell, dim) variance metric on micro-quantized longs
    val dec = "decimal(38,0)"
    val stats = members
      .select(col("centroid_id"), posexplode(col("__norm")))
      .select(col("centroid_id"), col("pos").cast("int").as("dim"),
        floor(col("col").cast("double") * Micro).cast("long").as("q"))
      .groupBy("centroid_id", "dim")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q").cast(dec) * col("q").cast(dec)).as("ss"))
      .withColumn("varm",
        col("n").cast(dec) * col("ss") - col("s").cast(dec) * col("s").cast(dec))
    // argmax dimension per cell — an nHot×dim frame, window is fine
    val wv = Window.partitionBy(col("centroid_id"))
      .orderBy(col("varm").desc, col("dim").asc)
    val splitInfo = stats
      .withColumn("__rn", row_number().over(wv))
      .filter(col("__rn") === 1 && col("varm") > 0)
      .select(col("centroid_id"),
        col("dim").as("__sdim"),
        (col("s").cast("double") / col("n").cast("double")).as("__mean_q"))
    val splittable = splitInfo.select(col("centroid_id").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val degenerate = hot.filterNot(splittable.contains)
    if (splittable.isEmpty) return SplitReport(Nil, degenerate)

    // side assignment + new ids: side 0 keeps the old id, side 1 maps
    // to maxId + 1 + rank(old id) — a driver-built splittable-sized map
    import spark.implicits._
    val idPairs = splittable.zipWithIndex
      .map { case (old, i) => (old, maxId + 1 + i) }
    val idMap = idPairs.toDF("centroid_id", "__new_cid")
    val sides = members
      .join(broadcast(splitInfo), "centroid_id")
      .join(broadcast(idMap), "centroid_id")
      .withColumn("__q",
        floor(element_at(col("__norm"), col("__sdim") + 1).cast("double") * Micro)
          .cast("long"))
      .select(col(idCol), col(embCol),
        when(col("__q") <= col("__mean_q"), col("centroid_id").cast("long"))
          .otherwise(col("__new_cid"))
          .cast(members.schema("centroid_id").dataType).as("centroid_id"))

    // stage both sides of every split cell; the staged table is the
    // one materialization the codes, the metadata and the commit read
    val regen = Generation.stage(spark, indexPath)
    writeCells(sides, idCol, splittable.size * 2, s"$regen/cells")
    val staged = Tables.read(spark, s"$regen/cells")
    if (hasCodes)
      writeCells(Tables.read(spark, s"$indexPath/cell_codes")
          .filter(col("centroid_id").isin(splittable: _*))
          .drop("centroid_id")
          .join(staged.select(col(idCol), col("centroid_id")), idCol),
        idCol, splittable.size * 2, s"$regen/cell_codes")
    // sub-centroids (micro-quantized component means, order-independent)
    // + exact radii — the shared [[centersAndRadii]] kernel
    val newMeta = centersAndRadii(normalizedAssigned(spark, regen, idCol, embCol)
      .select(col("centroid_id").as("__cid"), col("__norm")), Micro)
    cellMeta
      .filter(!col("centroid_id").isin(splittable: _*))
      .unionByName(newMeta.select(
        col("centroid_id").cast(cellMeta.schema("centroid_id").dataType),
        col("center"), col("radius")))
      .write.mode("overwrite").parquet(s"$regen/cells_meta")
    commitCells(spark, indexPath, cellTables(hasCodes), splittable, Seq("cells_meta"))
    SplitReport(splittable, degenerate, idPairs)
  }

  /** The indexed rows with their normalized float vectors re-derived
    * exactly as the build's assignment pass (so stored radii bound
    * them): (idCol, embCol, centroid_id, __norm) — shared by every
    * corpus-as-queries pattern.
    */
  private[query] def normalizedAssigned(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String): DataFrame =
    Tables.read(spark, s"$indexPath/cells")
      .select(col(idCol), col(embCol), col("centroid_id"),
        graft.functions.l2_normalize(col(embCol)).cast("array<float>").as("__norm"))

  /** Per-(cell, label) radii — max distance of a cell's members with
    * that label to the cell centroid. An nCells × nLabels frame,
    * derived at query/mining time from labeled assigned rows (the
    * index itself stays label-free); the label-restricted triangle
    * bound `sim(q, x∈c with label L) ≤ 1 − max(0, d(q,c) − r(c,L))²/2`
    * is exactly the cell bound with the tighter per-label radius.
    */
  private[query] def cellLabelRadii(
      assigned: DataFrame,
      cellMeta: DataFrame,
      labelCol: String): DataFrame =
    assigned
      // no (cell, null) rows: a null label can never equi-match a
      // query's label, so the row would only inflate the artifact and
      // the fanout count the branch decision reads — and [[foldLabelMeta]]
      // filters nulls the same way, keeping folded and built artifacts
      // shape-identical
      .filter(col(labelCol).isNotNull)
      .join(broadcast(cellMeta.select(col("centroid_id"), col("center"))),
        "centroid_id")
      .withColumn("__d",
        sqrt(graft.functions.l2_dist_sq(col("__norm"), col("center"))))
      .groupBy(col("centroid_id"), col(labelCol))
      .agg(max(col("__d")).as("__rl"))

  /** [[cellLabelRadii]] over the index's LIVE assigned rows — radii
    * need to bound only what can be served (an artifact built
    * pre-delete stays valid the other way around, over a superset; see
    * [[Tombstones]]). The one derivation behind both the persisted
    * [[buildLabelMeta]] artifact and the filtered path's per-call
    * fallback.
    */
  private[graft] def labelRadii(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      labels: DataFrame,
      labelCol: String): DataFrame =
    cellLabelRadii(
      Tombstones.liveOnly(
          normalizedAssigned(spark, indexPath, idCol, embCol),
          spark, indexPath, idCol)
        .join(labels.select(col(idCol), col(labelCol)), Seq(idCol)),
      broadcast(Tables.read(spark, s"$indexPath/cells_meta")), labelCol)

  private def labelMetaPath(indexPath: String, labelCol: String): String =
    s"$indexPath/label_meta_${labelCol.replaceAll("[^A-Za-z0-9_-]", "_")}"

  /** Persist the per-(cell, label) radius metadata that
    * [[queryTopKFiltered]] needs, making the filtered path
    * build-once/query-many like every other index artifact: without
    * this, each call re-reads every indexed VECTOR to recompute an
    * nCells × nLabels frame; with it, a call reads the tiny persisted
    * frame and proves freshness from parquet metadata + a directory
    * listing — no payload bytes.
    *
    * Staleness is checked SOUNDLY via a (total rows, cell id set)
    * snapshot taken here (before the radii pass, so a racing append
    * between the two reads this build as stale rather than fresh),
    * exhaustive over the index's mutation surface: [[upsert]] either
    * FOLDS the batch into this artifact and advances the snapshot
    * (when the batch carries the label column — the radii max-merge
    * in [[upsert]], exact because an append can only grow
    * per-(cell, label) radii) or leaves the snapshot behind the grown
    * row count (stale, detected), [[splitHotCells]] always mints
    * fresh cell directories (id set changes), [[compactIndex]] is
    * row-count-verified and assignment-preserving (correctly stays
    * fresh), and a full [[build]] — the one rewrite that could
    * reproduce both fingerprints with different contents — deletes
    * every label-meta artifact explicitly. The LABEL side has no such
    * fingerprint: the caller owns invalidation when the labels frame
    * itself changes (rebuild here), the usual secondary-index
    * contract. A stale artifact is never served — [[queryTopKFiltered]]
    * falls back to the per-call recompute, so answers cannot go wrong,
    * only the cost reverts.
    */
  def buildLabelMeta(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      labels: DataFrame,
      labelCol: String): Unit = {
    Generation.recover(spark, indexPath)
    import spark.implicits._
    val base = labelMetaPath(indexPath, labelCol)
    // snapshot FIRST (see the staleness note above)
    val snap = labelMetaPrint(spark, indexPath)
    // live rows only (see [[labelRadii]]); the freshness fingerprint
    // above still counts RAW rows, so a later compaction (which changes
    // that count) stales it automatically
    labelRadii(spark, indexPath, idCol, embCol, labels, labelCol)
      .write.mode("overwrite").parquet(s"$base/radii")
    // label_col rides the snapshot so [[upsert]] can fold a
    // label-carrying batch into this artifact without guessing the
    // column back out of the sanitized directory name
    Seq((snap.rows, snap.cells, labelCol)).toDF("rows", "cells", "label_col")
      .repartition(1).write.mode("overwrite").parquet(s"$base/snapshot")
  }

  /** The persisted [[buildLabelMeta]] radii IF present and provably
    * fresh (total row count and cell id set match the build-time
    * snapshot — see the soundness argument there), else None. The
    * count is parquet-metadata-only and the id set a driver-side
    * directory listing: no shuffle, no payload read, no
    * data-proportional work.
    */
  private[graft] def cachedLabelRadii(
      spark: SparkSession,
      indexPath: String,
      labelCol: String): Option[DataFrame] = {
    val base = labelMetaPath(indexPath, labelCol)
    val rp = new org.apache.hadoop.fs.Path(s"$base/radii")
    val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rp) ||
        !fs.exists(new org.apache.hadoop.fs.Path(s"$base/snapshot"))) return None
    // Try-wrapped end to end: an UNREADABLE snapshot or radii table (a
    // crash mid-overwrite left an empty/partial directory) reads as
    // absent — the documented fail-safe. Answers then come from the
    // per-call derivation; only the cost reverts, never correctness.
    scala.util.Try {
      val fresh = snapshotPrint(Tables.read(spark, s"$base/snapshot").head) ==
        labelMetaPrint(spark, indexPath)
      if (fresh) Some(Tables.read(spark, s"$base/radii")) else None
    }.toOption.flatten
  }

  /** Delete every persisted [[buildLabelMeta]] artifact — called by
    * [[build]]: a rebuild is the one mutation that can reproduce the
    * snapshot fingerprints with different cell contents, so it must
    * invalidate explicitly.
    */
  private[query] def invalidateLabelMeta(spark: SparkSession, indexPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root))
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("label_meta_"))
        .foreach { s => fs.delete(s.getPath, true); () }
  }

  /** The HIGH-CARDINALITY path of [[IvfLayout.queryTopKFiltered]]: when
    * the per-(cell, label) radii frame would approach corpus size (a
    * near-unique label column), restricting probes per label buys
    * nothing — so run the layout's UNSCOPED body with an overfetch,
    * post-filter to label-mates, and REFILL any query whose matches
    * came up short.
    *
    * Exactness argument per finished query: it finishes in a round
    * either with ≥ k label-mates among the global top-`kk` (any
    * label-mate outside that top-kk scores below every kept one — the
    * true filtered top-k is inside), or with the round's hit list
    * UN-truncated (fewer than `kk` rows passed the threshold at all,
    * so the matches are ALL label-mates above the threshold), or at
    * `kk = corpus` (same). A query can therefore never finish with a
    * label-mate missing from its collected matches.
    *
    * Cost shape: each round is one unscoped retrieval over only the still-
    * deficient queries at 4× the previous overfetch — ≤ log₄(cap/k)
    * rounds. The driver holds each round's hit count and label-matched
    * hits per pending query (≈ 90 B per match collected, as much again
    * in the local relation) and, on the plain layout, the merged top-kk
    * itself (≈ 140 B per hit, ≤ pending × refillCap; SizeEstimator,
    * JDK 17). With a sane
    * overfetch the first round finishes the typical query: on a
    * near-unique label most queries have < k label-mates TOTAL and
    * finish via the untruncated/exhausted rule. The overfetch never
    * exceeds [[RefillCap]] per query: a query still deficient there
    * (its label is dense in similarity space yet its mates rank below
    * tens of thousands of non-mates) ESCALATES to the direct
    * label-equijoin ranking — all its mates found by one equijoin on
    * the labels frame and ranked exactly, answer-sized for the sparse
    * labels this branch serves and bounded by one labels scan + one
    * pruned-nothing ranking pass in the adversarial dense case, which
    * is the problem's true lower bound. Without the cap the refill
    * would grow the per-query top-k heap (and the hit frame) toward
    * corpus size — the exact blow-up this branch exists to avoid.
    */
  private[query] def filteredViaOverfetch(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      threshold: Double,
      refillCap: Long,
      // the layout's retrieval body; each refill round runs it UNSCOPED
      // over the still-deficient queries at overfetch kk, so every read
      // is pruned by that layout's bounds (the escalation equijoin below
      // reads the shared `cells/` payloads either way). Any EXACT body
      // preserves the branch's exactness argument verbatim — the proof
      // only uses "the global top-kk is the true top-kk".
      body: (DataFrame, Int, Option[IvfLayout.LabelScope]) => IvfLayout.Retrieval): DataFrame = {
    // parquet-metadata-only row count: the overfetch ceiling
    val corpusN = math.min(
      Tables.read(spark, s"$indexPath/cells").count(),
      Int.MaxValue.toLong)
    // per-query overfetch ceiling before escalating to the direct
    // equijoin — past this the top-k heaps and the hit frame grow
    // toward corpus size, while one labels-scan equijoin is flat
    val hardCap = math.max(math.min(corpusN, math.max(refillCap, k.toLong)), 1L)
    val corpLab = labels.select(col(idCol), col(labelCol).as("__clabel"))
    // the still-deficient queries, held on the driver (the batch is
    // broadcast-sized by the point-lookup contract)
    val qs = queries.select(col(queryIdCol), col(queryVecCol), col(labelCol))
    var pendingRows = qs.collect()
    var pending = Tables.local(spark, pendingRows.toSeq, qs.schema)
    // first overfetch: 4k (floored at k+8 so tiny k still overfetches).
    // When the refill cap sits within one growth step of that start,
    // jump straight to the cap: the intermediate round costs a full
    // topK pass whose still-deficient queries the cap round re-runs at
    // ≤ 4× the overfetch anyway, so skipping it strictly reduces passes
    // (a cost knob only — the exactness argument is independent of the
    // kk schedule). With the production default cap (65536) the rule
    // never fires; it exists for tight caller-tuned caps, where each
    // saved round is a whole sequential topK job cascade.
    var kk = {
      val kk0 = math.min(math.max(4L * k, k + 8L), hardCap)
      if (kk0 * 4 >= hardCap) hardCap else kk0
    }
    val partSchema = StructType(Seq(
      queries.schema(queryIdCol), StructField(idCol, LongType), StructField("sim", DoubleType)))
    // an empty batch answers in the contract shape
    val parts = scala.collection.mutable.ArrayBuffer(Tables.local(spark, Nil, partSchema))
    while (pendingRows.nonEmpty) {
      val exhausted = kk >= corpusN
      val atCap = kk >= hardCap
      // per pending query: its RAW hit count — distinct ids, unlabeled
      // ones included (LEFT join), never labeled rows, which a
      // multi-label corpus would inflate past kk — and its label-mates
      val tally = body(pending, kk.toInt, None).topK
        .join(corpLab, Seq(idCol), "left")
        .join(broadcast(pending.select(col(queryIdCol), col(labelCol))), Seq(queryIdCol))
        .groupBy(col(queryIdCol))
        .agg(count_distinct(col(idCol)).as("__tot"),
          collect_list(when(col("__clabel") === col(labelCol),
            struct(col(idCol), col("sim")))).as("__m"))
        .collect()
      // a query refills iff its matches came up short AND its hit list
      // was truncated at kk (more corpus rows may hide below) AND the
      // overfetch can still grow
      val deficient = if (exhausted) Set.empty[Any] else tally.collect {
        case r if r.getLong(1) == kk && r.getSeq[Row](2).length < k => r.get(0)
      }.toSet
      parts += Tables.local(spark,
        tally.toSeq.filterNot(r => deficient(r.get(0))).flatMap(r =>
          r.getSeq[Row](2).map(m => Row(r.get(0), m.get(0), m.get(1)))),
        partSchema)
      pendingRows = pendingRows.filter(r => deficient(r.get(0)))
      pending = Tables.local(spark, pendingRows.toSeq, pending.schema)
      if (atCap && !exhausted && pendingRows.nonEmpty) {
        // escalation: queries still deficient at the refill cap take
        // the direct label-equijoin ranking — every mate of the
        // query's label found by the equijoin, exact-ranked; their
        // overfetch rows above are superseded wholesale (already
        // excluded from parts)
        val mates = corpLab.join(broadcast(pending), col("__clabel") === col(labelCol))
          .select(col(queryIdCol), col(idCol), col(queryVecCol))
        // mates vs the payload table: sized by label density — leave
        // the join strategy to the planner (broadcast when sparse).
        // Tombstones mask here too — the equijoin bypasses the
        // (already-masked) probe machinery entirely
        parts += Tombstones.liveOnly(
            Tables.read(spark, s"$indexPath/cells"), spark, indexPath, idCol)
          .select(col(idCol), col(embCol))
          .join(mates, Seq(idCol))
          .withColumn("sim", cosine_sim(col(embCol), col(queryVecCol)))
          .filter(col("sim") > threshold)
          .select(col(queryIdCol), col(idCol), col("sim"))
        pendingRows = Array.empty
      } else kk = math.min(kk * 4, hardCap)
    }
    parts.reduce(_ unionByName _)
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
  }

  /** The plain layout's one exact retrieval body ([[IvfLayout
    * .retrieve]]): every probed corpus row is ranked by the exact
    * cosine kernel, and whole cells are skipped by the cell-radius
    * bound (scoped: the per-(cell, label) radius bound, label-mates
    * only).
    */
  private[graft] def retrieve(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queryIdCol: String,
      queryVecCol: String,
      threshold: Double,
      probeWidth: Int)(
      queries: DataFrame,
      k: Int,
      scope: Option[IvfLayout.LabelScope]): IvfLayout.Retrieval = {
    // one fs.exists when healthy: completes a torn generation swap
    // so no reader ever sees a torn generation pair
    Generation.recover(spark, indexPath)
    val plan = new IvfLayout.ProbePlan(spark, indexPath, queries, queryIdCol, queryVecCol, scope)
    val cells = Tables.read(spark, s"$indexPath/cells")
    val live = Tombstones.mask(Tombstones.df(spark, indexPath), idCol) _
    // probe: candidates of the selected (query, cell) rows, exact-ranked;
    // the probed cell ids are a STATIC `isin` partition filter, so the
    // cells scan prunes to their directories at planning time
    def probe(sel: Seq[IvfLayout.Probe]): DataFrame = {
      val (selM, probed) = plan.selection(sel)
      // deleted rows mask out HERE — before the floor this pass seeds:
      // a tombstoned candidate allowed into the k-th-best floor could
      // certify a cutoff above a live row's true rank (Tombstones doc)
      IvfLayout.rowsInScope(
          live(cells.filter(col("centroid_id").isin(probed: _*))),
          broadcast(selM), idCol, scope)
        .withColumn("sim", cosine_sim(col(embCol), col(queryVecCol)))
        .filter(col("sim") > threshold)
        .select(col(queryIdCol), col(idCol), col("sim"))
    }

    // pass 1's merged top-k is pass 2's floor and part of the answer
    val top = new IvfLayout.DriverTopK(k)
    val sel1 = plan.first(probeWidth)
    val pass1 = probe(sel1)
    if (sel1.nonEmpty) top.add(pass1, queryIdCol, idCol, "sim")
    // second pass: exactly the cells whose bound can still matter
    val sel2 = plan.second(probeWidth, threshold, top.floor)
    val pass2 = probe(sel2)
    if (sel2.nonEmpty) top.add(pass2, queryIdCol, idCol, "sim")

    IvfLayout.Retrieval(
      top.result(spark, queries.schema(queryIdCol), idCol),
      plan.probed(sel1 ++ sel2),
      pass1.unionByName(pass2).select(col(queryIdCol), col(idCol)))
  }

  /** Corpus-side salted equi-join of a cell-pruned scan with a
    * per-(query, cell) probe-selection frame — the pass-2 shape shared
    * by [[selfKnnGraph]] and [[contrastivePairs]]. Joining on the bare
    * cell id caps shuffle-join parallelism at the PROBED cell count
    * (guide §2.5): the corpus side therefore carries a deterministic
    * id-hash salt and the (lighter, metadata-only) probe side explodes
    * across the salt range, so the join spreads over
    * probedCells × salt partitions. Result rows are identical — the
    * salt is an equality-preserving refinement of the key. Scale-
    * adaptive: salt = ⌈2·cores / probedCells⌉ collapses to 1 (the
    * unsalted plan, zero overhead) as soon as the probed-cell count
    * covers the session's parallelism, which any production-sized
    * index does.
    */
  private def saltedProbeJoin(
      corpus: DataFrame,
      probeSel: DataFrame,
      idCol: String,
      probedCellCount: Int,
      spark: SparkSession): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val salt =
      math.max(1, math.ceil(2.0 * cores / math.max(1, probedCellCount)).toInt)
    if (salt <= 1) corpus.join(probeSel, "centroid_id")
    else corpus
      .withColumn("__salt", pmod(hash(col(idCol)), lit(salt)))
      .join(probeSel.withColumn("__salt",
          explode(sequence(lit(0), lit(salt - 1)))),
        Seq("centroid_id", "__salt"))
      .drop("__salt")
  }

  /** Exact k-NN GRAPH over the indexed corpus: every vector's k nearest
    * neighbors (self excluded) by exact cosine — the dense-batch
    * retrieval pattern that semantic dedup (SemDeDup, Abbas et al.
    * 2023), graph-based clustering, and neighbor-graph embeddings all
    * start from.
    *
    * [[queryTopK]] broadcasts its query batch, which is right for point
    * lookups and wrong when the corpus IS the query batch; here nothing
    * broadcasts but the per-cell metadata (nCentroids rows):
    *
    *  - pass 1 ranks each vector against its OWN cell (an equi-self-join
    *    on the `centroid_id` partition column — co-located, quadratic
    *    only within a cell, which is exactly the cost profile
    *    cluster-then-compare dedup accepts on purpose);
    *  - the k-th best own-cell similarity seeds a per-vector floor;
    *  - pass 2 probes only foreign cells whose triangle bound
    *    (`sim <= 1 - max(0, d(q,c) - radius_c)^2 / 2`, unit vectors)
    *    can still beat that floor, via a shuffle equi-join on the probe
    *    cell id — each cell is read once per probing vector partition,
    *    never per vector.
    *
    * On a clustered corpus the floor is tight after pass 1 and foreign
    * probes are rare; on an isotropic one this degrades toward the full
    * self-join rather than silently dropping true neighbors (the same
    * exactness contract as [[queryTopK]]). Vectors alone in their cell
    * get floor = -1 and probe every cell — correctness never depends on
    * the layout.
    *
    * @return (query_id, idCol, sim, rn) — rn 1..k by exact sim desc,
    *         ties broken by ascending neighbor id
    */
  def selfKnnGraph(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    Generation.recover(spark, indexPath)
    val cellMeta = broadcast(Tables.read(spark, s"$indexPath/cells_meta"))
    // deleted rows leave the graph as nodes AND as neighbors
    val assigned = Tombstones.liveOnly(
      normalizedAssigned(spark, indexPath, idCol, embCol),
      spark, indexPath, idCol)
    val queries = assigned.select(
      col(idCol).as("query_id"), col(embCol).as("__qv"),
      col("centroid_id"), col("__norm").as("__qnorm"))
    val corpus = assigned.select(col(idCol), col(embCol), col("centroid_id"))

    def rank(cand: DataFrame): DataFrame = cand
      .withColumn("sim", cosine_sim(col("__qv"), col(embCol)))
      .select(col("query_id"), col(idCol), col("sim"))

    // pass 1: own cell, self excluded. Materialized once — it feeds the
    // floor AND the final union (the queryTopK discipline). The query
    // side sheds __qnorm BEFORE the join (guide §2.3): the ranking only
    // needs the raw vector, and the normalized copy would double the
    // width of every fan-out row for nothing (__qnorm exists for the
    // centroid-distance bound below, a queries × nCells frame).
    val pass1 = rank(
      queries.drop("__qnorm")
        .join(corpus, "centroid_id").filter(col("query_id") =!= col(idCol)))
      .localCheckpoint()
    // k-th best via topk_by: pass-1 is own-cell × corpus sized, so the
    // map-side partial (k per query per task) is the difference between
    // shuffling the candidate set and shuffling the answer
    val floor = SimilaritySearch.kthBestScore(
      pass1, "query_id", idCol, "sim", k, "floor_sim")

    // pass 2: foreign cells whose bound still reaches the floor. >= on
    // the floor: a bound-equal cell can hold a tie that wins the
    // ascending-id tie-break.
    val probeSel = queries
      .withColumnRenamed("centroid_id", "__own")
      .crossJoin(cellMeta)
      .filter(col("centroid_id") =!= col("__own"))
      .withColumn("cdist",
        sqrt(graft.functions.l2_dist_sq(col("__qnorm"), col("center"))))
      .withColumn("ub_sim",
        lit(1.0) - pow(
          greatest(lit(0.0), col("cdist") - col("radius") - lit(RadiusPad)), 2) / 2)
      .join(floor, Seq("query_id"), "left")
      .filter(col("ub_sim") >= coalesce(col("floor_sim"), lit(-1.0)))
      .select(col("query_id"), col("__qv"), col("centroid_id"))
    // foreign probes re-read the index pruned to the probed cells: the
    // distinct probed ids (≤ nCentroids, driver-bounded) become a
    // static partition filter, so on a clustered corpus — where pass-2
    // touches few cells — the second scan reads only those directories.
    // The id collection recomputes the (cheap, checkpointed-input)
    // selection COLUMN-PRUNED — materializing the vector-carrying probe
    // frame just to read its cell ids costs more than this recompute
    val probedIds = probeSel.select("centroid_id").distinct()
      .collect().map(_.get(0)).toSeq
    val prunedCorpus = Tombstones.liveOnly(
        Tables.read(spark, s"$indexPath/cells")
          .filter(col("centroid_id").isin(probedIds: _*)),
        spark, indexPath, idCol)
      .select(col(idCol), col(embCol), col("centroid_id"))
    // the probe join's key is the PROBED cell id set — on a clustered
    // corpus that is a handful of values (2 of 16 at the measured 0.125
    // probe fraction), which caps a shuffle join's parallelism at
    // |probedIds| tasks no matter the cluster size (guide §2.5's
    // low-cardinality-key hazard; measured: 2 tasks / 1.5 s wall on 32
    // cores). Salt the corpus side by a deterministic id hash and
    // explode the (lighter) probe side across the salt range; when the
    // probed-cell count already covers the session's parallelism the
    // salt collapses to 1 and the plan is the unsalted one.
    val pass2 = rank(saltedProbeJoin(
      prunedCorpus, probeSel, idCol, probedIds.size, spark))

    pass1.unionByName(pass2)
      .transform(SimilaritySearch.topKExplode(_, "query_id", idCol, "sim", k))
  }

  /** Contrastive PAIR MINING over the indexed corpus: for every vector,
    * its nearest SAME-label neighbor (the positive) and its nearest
    * DIFFERENT-label neighbor (the hard negative) — the mining step of
    * contrastive/metric training-data preparation, exact by the same
    * cell-radius bound as [[selfKnnGraph]].
    *
    * Pruning is PER SIDE via per-(cell, label) radii, derived at mining
    * time from the assigned rows (one tiny nCells×nLabels aggregation —
    * the index itself stays label-free):
    *
    *  - positive side: cell c is probed iff it HOLDS the query's label
    *    and the bound with radius(c, L) reaches the own-cell same-label
    *    best;
    *  - negative side: cell c is probed iff some other label exists in
    *    it and the bound with max-radius-over-other-labels reaches the
    *    own-cell different-label best (the bound is monotone in the
    *    radius, so the max radius among labels ≠ L bounds every
    *    different-label member — computed from a per-cell top-2 so no
    *    label×label product is ever formed).
    *
    * This strictly refines the earlier shared-floor criterion (one
    * whole-cell radius against the weaker of the two floors): every
    * per-side-probed cell is shared-floor-probed, and cells that only
    * the weak side kept alive are skipped. On high-label-count corpora
    * that is the difference between probing for a rare label everywhere
    * and probing only the cells that actually contain it.
    *
    * Vectors whose label has no second member keep their row with a
    * null positive side (left-join semantics), mirroring what a mining
    * job must surface rather than drop.
    *
    * @param labels (idCol, labelCol) frame — label source joined onto
    *               the index rows (the index itself stays label-free)
    * @return (query_id, labelCol, pos_id, pos_sim, neg_id, neg_sim)
    */
  def contrastivePairs(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      labels: DataFrame,
      labelCol: String): DataFrame =
    contrastivePairsWithProbes(spark, indexPath, idCol, embCol, labels, labelCol)._1

  /** [[contrastivePairs]] plus two LAZY diagnostic frames of probed
    * (query, cell) pairs — (result, perSidePairs, sharedFloorPairs).
    * The production path never evaluates the shared-floor frame; it
    * exists so the strictly-fewer-probes contract is spec-checkable.
    */
  private[graft] def contrastivePairsWithProbes(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      labels: DataFrame,
      labelCol: String): (DataFrame, DataFrame, DataFrame) = {
    Generation.recover(spark, indexPath)
    val cellMeta = broadcast(Tables.read(spark, s"$indexPath/cells_meta"))
    // deleted rows mine no pair and serve as no positive/negative
    val assigned = Tombstones.liveOnly(
        normalizedAssigned(spark, indexPath, idCol, embCol),
        spark, indexPath, idCol)
      .join(labels.select(col(idCol), col(labelCol)), Seq(idCol))
    val queries = assigned.select(
      col(idCol).as("query_id"), col(embCol).as("__qv"),
      col("centroid_id"), col("__norm").as("__qnorm"),
      col(labelCol).as("__qlabel"))
    val corpus = assigned.select(col(idCol), col(embCol), col("centroid_id"),
      col(labelCol).as("__clabel"))

    def rank(cand: DataFrame): DataFrame = cand
      .withColumn("sim", cosine_sim(col("__qv"), col(embCol)))
      .select(col("query_id"), col(idCol), col("sim"),
        (col("__qlabel") === col("__clabel")).as("__same"))
    // __qnorm shed before the fan-out join (guide §2.3, the
    // [[selfKnnGraph]] rationale): ranking needs the raw vector and the
    // labels, never the normalized copy
    val pass1 = rank(
      queries.drop("__qnorm")
        .join(corpus, "centroid_id").filter(col("query_id") =!= col(idCol)))
      .localCheckpoint()
    // per-side own-cell bests; a missing side probes fully FOR THAT
    // SIDE. The floor only needs each side's best SIMILARITY, which is
    // a plain max — one partial-aggregating groupBy, no window, no
    // shuffle of the own-cell candidate set
    val floors = pass1
      .groupBy("query_id")
      .agg(
        max(when(col("__same"), col("sim"))).as("__fp"),
        max(when(!col("__same"), col("sim"))).as("__fn"))
      .select(col("query_id"),
        coalesce(col("__fp"), lit(-1.0)).as("floor_pos"),
        coalesce(col("__fn"), lit(-1.0)).as("floor_neg"))

    // per-(cell, label) radii ([[cellLabelRadii]]) — tiny, checkpointed
    // once for its two consumers
    val cellLabel = cellLabelRadii(assigned, cellMeta, labelCol)
      .localCheckpoint()
    // per-cell top-2 label radii: r_neg(c, L) = max radius among labels
    // ≠ L = r1 if the argmax label isn't L, else r2 (null when the cell
    // holds a single label)
    val wr = Window.partitionBy(col("centroid_id"))
      .orderBy(col("__rl").desc, col(labelCol).asc)
    val ranked = cellLabel.withColumn("__rn", row_number().over(wr))
    val negMeta = ranked.filter(col("__rn") === 1)
      .select(col("centroid_id"), col(labelCol).as("__l1"), col("__rl").as("__r1"))
      .join(ranked.filter(col("__rn") === 2)
        .select(col("centroid_id"), col("__rl").as("__r2")),
        Seq("centroid_id"), "left")

    def bound(radius: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(1.0) - pow(
        greatest(lit(0.0), col("cdist") - radius - lit(RadiusPad)), 2) / 2

    // ONE row per (query, foreign cell) carrying both side criteria as
    // flags — a cell kept by either side probes exactly once (no
    // union, no distinct, no duplicated ranking work). Both metadata
    // joins are broadcasts of nCells×nLabels-sized frames.
    val base = queries
      .withColumnRenamed("centroid_id", "__own")
      .crossJoin(cellMeta)
      .filter(col("centroid_id") =!= col("__own"))
      .withColumn("cdist",
        sqrt(graft.functions.l2_dist_sq(col("__qnorm"), col("center"))))
      .join(floors, Seq("query_id"), "left")
      .join(broadcast(cellLabel.select(
          col("centroid_id").as("__cl_cell"),
          col(labelCol).as("__cl_label"), col("__rl"))),
        col("__cl_cell") === col("centroid_id") &&
          col("__cl_label") === col("__qlabel"), "left")
      .drop("__cl_cell", "__cl_label")
      .join(broadcast(negMeta), Seq("centroid_id"), "left")
      .withColumn("__rneg",
        when(col("__l1") =!= col("__qlabel"), col("__r1")).otherwise(col("__r2")))
      .withColumn("__pos_ok",
        col("__rl").isNotNull &&
          bound(col("__rl")) >= coalesce(col("floor_pos"), lit(-1.0)))
      .withColumn("__neg_ok",
        col("__rneg").isNotNull &&
          bound(col("__rneg")) >= coalesce(col("floor_neg"), lit(-1.0)))
    val probeSel = base.filter(col("__pos_ok") || col("__neg_ok"))
      .select(col("query_id"), col("__qv"), col("__qlabel"), col("centroid_id"))
    // same static-pruning discipline as [[selfKnnGraph]]: pass 2 reads
    // only the probed cell directories (labels re-attached to just
    // those rows); ids collected from a column-pruned recompute, never
    // a materialization of the vector-carrying probe frame
    val probedIds = probeSel.select("centroid_id").distinct()
      .collect().map(_.get(0)).toSeq
    val prunedCorpus = Tombstones.liveOnly(
        Tables.read(spark, s"$indexPath/cells")
          .filter(col("centroid_id").isin(probedIds: _*)),
        spark, indexPath, idCol)
      .select(col(idCol), col(embCol), col("centroid_id"))
      .join(labels.select(col(idCol), col(labelCol).as("__clabel")), Seq(idCol))
    // salted for parallelism — the [[saltedProbeJoin]] rationale (the
    // probed-cell count caps the join otherwise)
    val pass2 = rank(saltedProbeJoin(
      prunedCorpus, probeSel, idCol, probedIds.size, spark))

    // per-(query, side) argmax by (sim desc, id asc) as a k=1 topk_by —
    // map-side partials keep the union's candidate volume off the wire.
    // Checkpointed: best feeds BOTH the pos and the neg join below, and
    // without the cut the planner compiles the ENTIRE pass-2 machinery
    // (probe-selection cross join, pruned scan, salted join, explode,
    // top-k aggregation) twice — one copy per side — leaving the heavy
    // work to runtime exchange reuse and paying the giant plan's
    // planning + codegen twice. The frame is answer-sized by contract
    // (≤ 2 rows per query), so the cut is §5-safe.
    val best = pass1.unionByName(pass2)
      .groupBy(col("query_id"), col("__same"))
      .agg(graft.functions.topk_by(col(idCol), col("sim"), lit(1)).as("__t"))
      .select(col("query_id"), col("__same"),
        col("__t").getItem(0).getField("id").as(idCol),
        col("__t").getItem(0).getField("score").as("sim"))
      .localCheckpoint()
    val pos = best.filter(col("__same"))
      .select(col("query_id"), col(idCol).as("pos_id"),
        round(col("sim"), 6).as("pos_sim"))
    val neg = best.filter(!col("__same"))
      .select(col("query_id"), col(idCol).as("neg_id"),
        round(col("sim"), 6).as("neg_sim"))
    val result = assigned.select(col(idCol).as("query_id"), col(labelCol))
      .join(pos, Seq("query_id"), "left")
      .join(neg, Seq("query_id"), "left")
      .select(col("query_id"), col(labelCol),
        col("pos_id"), col("pos_sim"), col("neg_id"), col("neg_sim"))

    // diagnostics (lazy): the per-side pairs actually probed, and what
    // the earlier shared-floor criterion (whole-cell radius vs the
    // weaker floor) WOULD have probed
    val perSidePairs = probeSel.select(col("query_id"), col("centroid_id"))
    val sharedFloorPairs = base
      .filter(bound(col("radius")) >=
        least(coalesce(col("floor_pos"), lit(-1.0)),
          coalesce(col("floor_neg"), lit(-1.0))))
      .select(col("query_id"), col("centroid_id"))
    (result, perSidePairs, sharedFloorPairs)
  }
}
