package graft.query

import graft.Tables
import graft.functions.cosine_sim
import graft.util.Generation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF + PQ composed index — the canonical two-level ANN layout
  * (Jégou et al.'s IVFADC shape, TPAMI 2011; public method, no code
  * consulted): coarse k-means cells prune whole PARTITION DIRECTORIES,
  * and within the probed cells a product-quantization code scan prunes
  * individual FETCHES. The two certified bounds stack:
  *
  *  - cell level ([[IvfIndex]]): for any member x of cell c,
  *    `sim(q,x) ≤ 1 − max(0, d(q,centroid_c) − radius_c)²/2` — cells
  *    whose bound cannot reach the floor are never read at all
  *    (static partition pruning on `centroid_id=`);
  *  - code level (the [[PqIndex]] codec): within a probed cell, the
  *    ADC distance to the reconstructed vector ± the stored residual
  *    certifies `sim ∈ [lb, ub]` per vector — only bound-survivors
  *    fetch their full payload for the exact cosine re-rank.
  *
  * With one cell (`IvfIndex.Params(nCentroids = 1)`) the cell level
  * prunes nothing and this is the flat PQ layout (q105).
  *
  * Retrieval is EXACT at any corpus shape, the family contract: the
  * floor is a k-th best certified LOWER bound, so nothing the bounds
  * discard could have been in the true top-k; poor clustering or poor
  * codebooks cost reads, never answers.
  *
  * 100 TB shape: a query batch reads the nCells-row metadata, the
  * codes of only the cells that survive the cell bound (a few numSub-
  * int rows per vector, partition-pruned at the source), and the full
  * payloads of only the vectors that survive the code bound. Neither
  * the codes nor the payload table ever shuffles — the query batch
  * broadcasts. Two encodings share the layout ([[Params.residual]]):
  * GLOBAL (default — codes priced against the raw vectors, one LUT
  * per query) and RESIDUAL (classic IVFADC — codes priced against
  * vector − centroid residuals through append-only encoding
  * generations, one LUT per (query, generation); far tighter bounds,
  * hence far smaller exact-verify fetches, on clustered corpora).
  * Both keep every code row self-consistent under maintenance —
  * global codes are cell-independent outright, residual codes carry
  * their generation — which is what lets [[IvfIndex.splitHotCells]]
  * move code rows between partitions without re-encoding anything in
  * either mode.
  */
object IvfPq extends IvfLayout {

  /** `residual = true` selects per-cell RESIDUAL encoding — classic
    * IVFADC: codebooks are fit on (vector − cell centroid) residuals,
    * which are far more concentrated than the vectors themselves on a
    * clustered corpus, so the stored `resid` quantization error (and
    * with it the certified [lb, ub] width, and with THAT the
    * exact-verify fetch volume) shrinks. A cost refinement only: both
    * modes are EXACT by the same bound.
    *
    * Encoding generations: every code row carries the `enc_id` of the
    * center it was encoded against, resolved through an APPEND-ONLY
    * `enc_centers` table — the LUT is built per (query, enc), so a
    * code row stays self-consistent forever: splits MOVE rows without
    * re-encoding (exactly as in global mode), and upserts into a
    * re-centered or split-minted cell append a fresh generation
    * rather than touching anything. Center drift between a row's enc
    * generation and its cell's current centroid costs bound TIGHTNESS
    * (more fetches), never answers — [[reencodeCells]] restores it
    * (and [[stats]]' enc_drift column says when that pays), the
    * family's compact-when-it-pays discipline.
    */
  case class Params(
      ivf: IvfIndex.Params = IvfIndex.Params(),
      pq: PqIndex.Params = PqIndex.Params(),
      residual: Boolean = false)

  /** A residual-mode index is recognized on disk by its `enc_centers`
    * table — query and maintenance read the mode from the index, so a
    * caller cannot mismatch it.
    */
  private[graft] def isResidual(spark: SparkSession, indexPath: String): Boolean =
    hasTable(spark, indexPath, "enc_centers")

  /** A composed index is recognized on disk by its `cell_codes` table —
    * every layout-routed face (serve, shard routing, maintenance) reads
    * the layout from the index through this one predicate.
    */
  private[query] def isComposed(spark: SparkSession, indexPath: String): Boolean =
    hasTable(spark, indexPath, "cell_codes")

  private def hasTable(spark: SparkSession, indexPath: String, table: String): Boolean =
    Tables.exists(spark, s"$indexPath/$table")

  /** Build = one [[IvfIndex.build]] (cells + radii metadata + the
    * payload table, parquet-partitioned by cell) + PQ codebooks fit
    * and a code table in the SAME cell-partitioned layout, so cell
    * pruning applies to the code scan too.
    */
  def build(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outPath: String,
      params: Params = Params()): Unit = {
    val spark = df.sparkSession
    // ONE sample feeds both fits: the IVF fit and the PQ fit each read
    // their own MaxPointsPerCentroid · k prefix of it
    val prep = AnnIndex.prepared(df, idCol, embCol)
    val sample = Lloyd.sample(prep, idCol,
      math.max(params.ivf.nCentroids, params.pq.codebookSize))
    val centers = IvfIndex.buildFitted(prep, idCol, embCol, outPath, params.ivf, sample)
    if (!params.residual) {
      // the codebooks TABLE is written only after the IVF build
      // returns: its artifact pre-clean deletes any codebooks it finds
      PqIndex.fitCodebooks(spark, sample, params.pq, outPath)
      // encode every vector and co-partition the codes WITH their cell:
      // the cell-level bound then prunes code directories before a
      // single code is read
      val assignment = Tables.read(spark, s"$outPath/cells")
        .select(col(idCol), col("centroid_id"))
      PqIndex.encode(df, idCol, embCol, PqIndex.codebooksDf(spark, outPath))
        .join(assignment, idCol)
        .transform(graft.util.PartitionedWrite.spread(
          _, params.ivf.nCentroids, col("centroid_id"), col(idCol)))
        .write.mode("overwrite").partitionBy("centroid_id")
        .parquet(s"$outPath/cell_codes")
    } else {
      // RESIDUAL mode ([[Params.residual]]): codebooks fit on
      // (normalized vector − cell centroid), codes priced against the
      // per-row generation center. The sample's residuals use the
      // build's own assignment rule, so each is exactly the residual
      // its row is encoded with below
      PqIndex.fitCodebooks(spark, sample.map { p =>
        val c = centers(Lloyd.nearestCenter(p, centers))
        Array.tabulate(p.length)(j => p(j) - c(j))
      }, params.pq, outPath)
      val meta = Tables.read(spark, s"$outPath/cells_meta")
      // the residual frame is CORPUS-sized and feeds the encode: spill
      // it to a parquet temp table under the index path instead of
      // localCheckpoint — checkpoint blocks are executor-resident and
      // lineage-truncated, so at 100 TB one lost executor (or memory
      // pressure) kills the build; the underscore prefix keeps every
      // table reader from ever listing it, and the finally deletes it
      // win or lose
      val tmpResiduals = s"$outPath/_tmp_residuals"
      try {
        IvfIndex.normalizedAssigned(spark, outPath, idCol, embCol)
          .join(broadcast(meta.select(col("centroid_id"), col("center"))),
            "centroid_id")
          .withColumn("__res",
            zip_with(col("__norm"), col("center"),
              (a, b) => (a - b).cast("float")))
          .select(col(idCol), col("centroid_id"), col("__res"))
          .write.mode("overwrite").parquet(tmpResiduals)
        val residuals = Tables.read(spark, tmpResiduals)
        // enc tables FIRST (append-only; codes reference them) — the
        // residual-mode marker is the enc_centers table itself
        meta.select(col("centroid_id").cast("long").as("enc_id"), col("center"))
          .repartition(1)
          .write.mode("overwrite").parquet(s"$outPath/enc_centers")
        meta.select(col("centroid_id"),
            col("centroid_id").cast("long").as("enc_id"))
          .repartition(1)
          .write.mode("overwrite").parquet(s"$outPath/enc_current")
        PqIndex.encodePrepared(residuals, idCol, "__res",
            PqIndex.codebooksDf(spark, outPath))
          .join(residuals.select(col(idCol), col("centroid_id")), idCol)
          .withColumn("enc_id", col("centroid_id").cast("long"))
          .transform(graft.util.PartitionedWrite.spread(
            _, params.ivf.nCentroids, col("centroid_id"), col(idCol)))
          .write.mode("overwrite").partitionBy("centroid_id")
          .parquet(s"$outPath/cell_codes")
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmpResiduals)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
    }
  }

  /** The composed half of [[IvfIndex.upsert]]: encode the batch's NEW
    * vectors against the FROZEN codebooks and append the codes to the
    * cell partitions `assignment` (idCol, centroid_id) — the upsert's
    * own cell assignment — put them in.
    */
  private[query] def appendCodes(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      newRows: DataFrame,
      assignment: DataFrame,
      nCells: Int): Unit = {
    val codebooks = PqIndex.codebooksDf(spark, indexPath)
    if (!isResidual(spark, indexPath)) {
      PqIndex.encode(newRows, idCol, embCol, codebooks)
        .join(assignment, idCol)
        .transform(graft.util.PartitionedWrite.spread(
          _, nCells, col("centroid_id"), col(idCol)))
        .write.mode("append").partitionBy("centroid_id")
        .parquet(s"$indexPath/cell_codes")
    } else {
      // RESIDUAL mode: encode against the assigned cell's CURRENT enc
      // generation; cells without one (minted by a split since the
      // last generation was recorded) get a fresh generation from
      // their current centroid. All driver collects are ≤ nCells
      // (the probe-pruning bound).
      val targets = assignment.select(col("centroid_id").cast("long"))
        .distinct().collect().map(_.getLong(0)).toSet
      val have = Tables.read(spark, s"$indexPath/enc_current")
        .select(col("centroid_id").cast("long"))
        .collect().map(_.getLong(0)).toSet
      val missing = (targets -- have).toSeq.sorted
      if (missing.nonEmpty) {
        val (minted, current) = mintGenerations(spark, indexPath,
          Tables.read(spark, s"$indexPath/cells_meta"), missing)
        // both enc tables before any code row can reference a minted
        // id: a crash before the codes leaves at worst unreferenced
        // generations, never a dangling enc_id
        minted.select(col("__enc").as("enc_id"), col("center"))
          .repartition(1).write.mode("append").parquet(s"$indexPath/enc_centers")
        current.localCheckpoint() // materialized BEFORE overwriting its source
          .repartition(1).write.mode("overwrite").parquet(s"$indexPath/enc_current")
      }
      val encCur = broadcast(Tables.read(spark, s"$indexPath/enc_current")
        .select(col("centroid_id").cast("long").as("__ecell"), col("enc_id")))
      val encCenters = broadcast(
        Tables.read(spark, s"$indexPath/enc_centers"))
      val prep = AnnIndex.prepared(
          newRows.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
        .select(col(idCol), col("features").cast("array<float>").as("__norm"))
      val residuals = prep
        .join(assignment, idCol)
        .join(encCur, col("centroid_id").cast("long") === col("__ecell"))
        .join(encCenters, "enc_id")
        .withColumn("__res",
          zip_with(col("__norm"), col("center"),
            (a, b) => (a - b).cast("float")))
        .select(col(idCol), col("centroid_id"), col("enc_id"), col("__res"))
        .localCheckpoint()
      PqIndex.encodePrepared(residuals, idCol, "__res", codebooks)
        .join(residuals.select(col(idCol), col("centroid_id"), col("enc_id")),
          idCol)
        .transform(graft.util.PartitionedWrite.spread(
          _, nCells, col("centroid_id"), col(idCol)))
        .write.mode("append").partitionBy("centroid_id")
        .parquet(s"$indexPath/cell_codes")
    }
  }

  /** Mint one fresh encoding generation per cell of `cells` from the
    * cell's current centroid in `meta` (cells_meta): enc_ids continue
    * past the largest in `enc_centers`, in ascending cell order.
    * Writes nothing. @return the minted (centroid_id, center, __enc)
    * rows, materialized, and the `enc_current` table with those cells
    * remapped to them
    */
  private def mintGenerations(
      spark: SparkSession,
      indexPath: String,
      meta: DataFrame,
      cells: Seq[Long]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val maxEnc = Tables.read(spark, s"$indexPath/enc_centers")
      .agg(max(col("enc_id"))).head.getLong(0)
    val mintMap = cells.zipWithIndex
      .map { case (c, i) => (c, maxEnc + 1 + i) }
      .toDF("__cid", "__enc")
    val minted = meta
      .join(broadcast(mintMap), col("centroid_id").cast("long") === col("__cid"))
      .localCheckpoint()
    val current = Tables.read(spark, s"$indexPath/enc_current")
      .select(col("centroid_id").cast("long").as("centroid_id"), col("enc_id"))
      .filter(!col("centroid_id").isin(cells: _*))
      .unionByName(minted.select(
        col("centroid_id").cast("long").as("centroid_id"),
        col("__enc").as("enc_id")))
    (minted, current)
  }

  /** Full RE-CLUSTER of the COMPOSED index with an atomic generation
    * swap — [[IvfIndex.recluster]]'s centroid-placement repair
    * extended to the whole composed artifact set: a fresh
    * [[build]] (cells, metadata, codebooks, codes, and in residual
    * mode the encoding-generation tables) runs from the live corpus
    * into the staging directory while readers keep serving the old
    * generation, then every artifact is published by one
    * [[graft.util.Generation.commit]], whose marker carries the plan,
    * so a crashed swap replays it at the next reader's
    * [[graft.util.Generation.recover]]. The commit purges generation
    * artifacts the NEW layout does not use, which is what makes
    * re-clustering across encodings safe: a residual→global
    * re-cluster removes the old enc tables (else [[isResidual]] would
    * misread the fresh global codes — wrong LUT pricing), and
    * global→residual mints them fresh. Label metadata invalidates
    * first, as in the plain face. Result-invisible by the stacked
    * bounds' contracts (exact for any centroid set and any codebook).
    */
  def recluster(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      params: Params = Params()): Unit = {
    Generation.recover(spark, indexPath)
    require(isComposed(spark, indexPath),
      "IvfPq.recluster: no cell_codes table — a plain IVF index " +
        "re-clusters through IvfIndex.recluster")
    IvfIndex.regenerate(spark, indexPath, idCol, embCol)(build(_, idCol, embCol, _, params))
  }

  /** The build parameters an existing composed index already encodes:
    * PQ geometry (subspace count, width and codebook size) read from its
    * codebooks, the encoding mode from its enc tables, every other
    * parameter at its default — [[IvfIndex.reclusterAsBuilt]]'s input.
    */
  private[query] def builtParams(spark: SparkSession, indexPath: String): Params = {
    // numSub rows
    val cb = Tables.read(spark, s"$indexPath/codebooks")
      .agg(count(lit(1)), max(size(col("centers"))), max(size(col("centers").getItem(0))))
      .head
    val numSub = cb.getLong(0).toInt
    Params(
      pq = PqIndex.Params(dim = numSub * cb.getInt(2), numSub = numSub,
        codebookSize = cb.getInt(1)),
      residual = isResidual(spark, indexPath))
  }

  /** Maintenance diagnostics for the composed index —
    * [[IvfIndex.stats]] widened with the codes side: one row per cell,
    * (centroid_id, occupancy, radius, n_files, codes, code_files).
    * `codes != occupancy` is the operational desync signal: a torn
    * [[IvfIndex.upsert]] (codes < occupancy — cells appended, codes
    * not; replay the batch), or an index torn by a pre-`Generation`
    * split or compaction, which [[IndexCheck]] flags too. Two
    * partition-column scans + two ≤ nCells directory listings; run
    * off the query path.
    */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    Generation.recover(spark, indexPath)
    import spark.implicits._
    val codeOcc = Tables.read(spark, s"$indexPath/cell_codes")
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("codes"))
    val codeFiles = graft.util.PartitionFiles
      .counts(spark, s"$indexPath/cell_codes", "centroid_id")
      .toDF("centroid_id", "code_files")
    // FULL joins on the codes side: a code directory with no
    // cells_meta row is exactly the desync this report exists to
    // surface (codes > 0 with occupancy 0), and a meta-driven left
    // join would drop it
    val base = IvfIndex.stats(spark, indexPath)
      .join(codeOcc, Seq("centroid_id"), "full")
      .join(codeFiles, Seq("centroid_id"), "full")
      .select(col("centroid_id"),
        coalesce(col("occupancy"), lit(0L)).as("occupancy"),
        col("radius"),
        coalesce(col("n_files"), lit(0L)).as("n_files"),
        coalesce(col("codes"), lit(0L)).as("codes"),
        coalesce(col("code_files"), lit(0L)).as("code_files"))
    if (!isResidual(spark, indexPath)) base
    else {
      // residual mode: generation-drift visibility per cell —
      // `generations` = distinct enc generations among the cell's
      // rows, `enc_drift` = max distance between the cell's CURRENT
      // centroid and a generation center its rows still price
      // against. Drift loosens the residual bounds (more fetches,
      // never wrong answers); [[reencodeCells]] when it grows. The
      // per-(cell, generation) aggregation is distinct-pair-sized —
      // ≤ nCells × nGenerations rows, no payload bytes.
      val meta = Tables.read(spark, s"$indexPath/cells_meta")
        .select(col("centroid_id").cast("long").as("centroid_id"),
          col("center").as("__cur"))
      val drift = Tables.read(spark, s"$indexPath/cell_codes")
        .select(col("centroid_id").cast("long").as("centroid_id"), col("enc_id"))
        .distinct()
        .join(broadcast(Tables.read(spark, s"$indexPath/enc_centers")), "enc_id")
        .join(broadcast(meta), "centroid_id")
        .withColumn("__d",
          sqrt(graft.functions.l2_dist_sq(col("center"), col("__cur"))))
        .groupBy("centroid_id")
        .agg(countDistinct(col("enc_id")).as("generations"),
          max(col("__d")).as("enc_drift"))
      base.join(drift, Seq("centroid_id"), "left")
        .select(base.columns.map(col) :+
          coalesce(col("generations"), lit(0L)).as("generations") :+
          coalesce(col("enc_drift"), lit(0.0)).as("enc_drift"): _*)
    }
  }

  /** Re-encode the codes of the given cells (default: every cell)
    * against their CURRENT centroids under a single fresh generation —
    * the tightness-restore op residual mode needs once generation
    * drift accumulates (splits re-center cells; moved rows keep
    * pricing against the center they were encoded with). Off the
    * query path. Cost: one pruned scan of the selected cells'
    * payloads + encode + a staged write of only their code
    * directories and the two tiny enc tables.
    *
    * Commit: the re-encoded code directories, `enc_current` with the
    * cells remapped to their fresh generations, and `enc_centers`
    * with the fresh generations added and every superseded one
    * dropped are staged and published by one
    * [[graft.util.Generation.commit]]: a reader prices every code row
    * against the generation table it was committed with. Dropping the
    * superseded generations keeps `enc_centers` (and with it the
    * per-query LUT work of EVERY future query) from growing with each
    * re-encode.
    */
  def reencodeCells(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      cells: Option[Seq[Long]] = None): Unit = {
    Generation.recover(spark, indexPath)
    require(isResidual(spark, indexPath),
      "IvfPq.reencodeCells: a global-codebook index has no generations to " +
        "re-encode — rebuild to refit its codebooks")
    val meta = Tables.read(spark, s"$indexPath/cells_meta")
    val targets = cells.getOrElse(
      meta.select(col("centroid_id").cast("long"))
        .collect().map(_.getLong(0)).toSeq).sorted
    if (targets.isEmpty) return
    val (minted, current) = mintGenerations(spark, indexPath, meta, targets)
    val regen = Generation.stage(spark, indexPath)
    // pruned payload scan of the target cells, residual vs the CURRENT
    // centroid, frozen-codebook encode
    val members = IvfIndex.normalizedAssigned(spark, indexPath, idCol, embCol)
      .filter(col("centroid_id").isin(targets: _*))
    val residuals = members
      .join(broadcast(minted.select(
          col("centroid_id"), col("center"), col("__enc").as("enc_id"))),
        Seq("centroid_id"))
      .withColumn("__res",
        zip_with(col("__norm"), col("center"), (a, b) => (a - b).cast("float")))
      .select(col(idCol), col("centroid_id"), col("enc_id"), col("__res"))
      .localCheckpoint()
    IvfIndex.writeCells(PqIndex.encodePrepared(residuals, idCol, "__res",
        PqIndex.codebooksDf(spark, indexPath))
      .join(residuals.select(col(idCol), col("centroid_id"), col("enc_id")), idCol),
      idCol, targets.size, s"$regen/cell_codes")
    current.repartition(1).write.parquet(s"$regen/enc_current")
    // referenced = generations the untouched cells' code rows price
    // against ∪ each cell's current generation (the re-encoded rows'
    // and tomorrow's upsert targets)
    val referenced = Tables.read(spark, s"$indexPath/cell_codes")
      .filter(!col("centroid_id").isin(targets: _*))
      .select(col("enc_id"))
      .unionByName(current.select(col("enc_id")))
      .distinct()
    Tables.read(spark, s"$indexPath/enc_centers")
      .unionByName(minted.select(col("__enc").as("enc_id"), col("center")))
      .join(referenced, "enc_id")
      .repartition(1).write.parquet(s"$regen/enc_centers")
    IvfIndex.commitCells(spark, indexPath, Seq("cell_codes"), targets,
      Seq("enc_centers", "enc_current"))
  }

  /** The observe→repair loop of residual mode, CLOSED: re-encode
    * exactly the cells whose encoding-generation drift (max distance
    * between a generation center a cell's rows still price against
    * and the cell's CURRENT centroid — [[stats]]' `enc_drift`)
    * exceeds `cap`, and return them. A global-codebook index (no
    * generations) and a drift-free index are both no-ops, so
    * maintenance can call this unconditionally at batch cadence:
    * the detection pass reads only the codes table's (cell, enc)
    * column pairs (distinct-pair-sized, no payload bytes) plus the
    * two tiny enc/meta tables, and the repair prices only the
    * drifted cells ([[reencodeCells]]'s pruned shape). Result-
    * invisible end to end — drift costs fetch volume, never answers,
    * and the re-encode only restores bound tightness.
    */
  def reencodeDrifted(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      cap: Double = 0.0): Seq[Long] = {
    Generation.recover(spark, indexPath)
    if (!isResidual(spark, indexPath)) return Nil
    val meta = Tables.read(spark, s"$indexPath/cells_meta")
      .select(col("centroid_id").cast("long").as("centroid_id"),
        col("center").as("__cur"))
    // ≤ nCells ids reach the driver (the probe-pruning collect bound)
    val drifted = Tables.read(spark, s"$indexPath/cell_codes")
      .select(col("centroid_id").cast("long").as("centroid_id"), col("enc_id"))
      .distinct()
      .join(broadcast(Tables.read(spark, s"$indexPath/enc_centers")), "enc_id")
      .join(broadcast(meta), "centroid_id")
      .withColumn("__d",
        sqrt(graft.functions.l2_dist_sq(col("center"), col("__cur"))))
      .groupBy("centroid_id")
      .agg(max(col("__d")).as("__drift"))
      .filter(col("__drift") > cap)
      .select(col("centroid_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    if (drifted.nonEmpty)
      reencodeCells(spark, indexPath, idCol, embCol, Some(drifted))
    drifted
  }

  /** The composed layout's one exact retrieval body ([[IvfLayout
    * .retrieve]]), exact by the stacked bounds: the cell bound
    * (scoped: the per-(cell, label) radius bound — the plain layout's
    * label metadata, shared verbatim) picks the (query, cell) pairs
    * whose codes are scanned, the code bound certifies `sim ∈ [lb, ub]`
    * per scanned row (scoped: label-mates only), and only code-bound
    * survivors fetch their full payload for the exact re-rank — which
    * needs no label re-check, candidates are mates by construction.
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
    Generation.recover(spark, indexPath)
    val pad = lit(PqIndex.BoundPad)
    val residualMode = isResidual(spark, indexPath)
    val labelCols = scope.map(s => col(s.labelCol)).toSeq
    // per (query, cell): probe order + the cell-level bound
    val plan = new IvfLayout.ProbePlan(spark, indexPath, queries, queryIdCol, queryVecCol, scope)
    val qNorm = plan.prepared
    // the ADC lookup tables: global mode prices every code against one
    // LUT per query; residual mode prices a code against the LUT of
    // ITS encoding generation — one LUT per (query, enc_id), built
    // from q − enc_center over the append-only enc_centers table
    // (queries × nEnc rows, broadcast-sized by the point-lookup
    // contract). The PQ geometry comes from the stored codebooks.
    val lutq =
      if (!residualMode)
        PqIndex.queryLut(spark, indexPath, qNorm, queryIdCol, "__qv")
      else
        PqIndex.lutOf(
          qNorm.crossJoin(broadcast(Tables.read(spark, s"$indexPath/enc_centers")))
            .withColumn("__qdiff",
              zip_with(col("__qnorm"), col("center"),
                (a, b) => (a - b).cast("float"))),
          Seq(queryIdCol, "enc_id"), "__qdiff",
          PqIndex.codebooksDf(spark, indexPath))
    val lutKeys = if (!residualMode) Seq(queryIdCol) else Seq(queryIdCol, "enc_id")

    val codes = Tables.read(spark, s"$indexPath/cell_codes")
    val live = Tombstones.mask(Tombstones.df(spark, indexPath), idCol) _
    // ADC-scan the codes of the selected (query, cell) pairs — the
    // IvfIndex static-pruning discipline: probed cell ids (≤ nCells)
    // become a planning-time partition filter
    def scan(sel: Seq[IvfLayout.Probe]): DataFrame = {
      val (selM, probed) = plan.selection(sel)
      // tombstones mask at the CODE scan — before the lb floors this
      // pass seeds (a deleted row's lb could certify a cutoff above a
      // live row's true rank; see [[Tombstones]]), and before any LUT
      // work is spent on a row that cannot be served
      IvfLayout.rowsInScope(
          live(codes.filter(col("centroid_id").isin(probed: _*))),
          broadcast(selM.select((col(queryIdCol) +: labelCols) :+ col("centroid_id"): _*)),
          idCol, scope)
        .join(broadcast(lutq), lutKeys)
        .withColumn("__adc", sqrt(graft.functions.pq_adc(col("codes"), col("__lut"))))
        .withColumn("__lb",
          lit(1.0) - pow(col("__adc") + col("resid") + pad, 2) / 2)
        .withColumn("__ub",
          lit(1.0) - pow(
            greatest(lit(0.0), col("__adc") - col("resid") - pad), 2) / 2)
        .select(col(queryIdCol), col(idCol), col("centroid_id"),
          col("__lb"), col("__ub"))
    }

    // pass 1: nearest probeWidth cells seed the floor, collected
    val pass1 = scan(plan.first(probeWidth)).localCheckpoint()
    val floor1 = new IvfLayout.DriverTopK(k)
    floor1.add(pass1, queryIdCol, idCol, "__lb")
    // pass 2: only cells whose CELL bound reaches the certified floor
    val sel2 = plan.second(probeWidth, threshold, floor1.floor)
    val scanned =
      if (sel2.isEmpty) pass1 else pass1.unionByName(scan(sel2)).localCheckpoint()

    // final floor over everything scanned; fetch only code-bound
    // survivors
    val floor = SimilaritySearch.kthBestScore(
      scanned.select(col(queryIdCol), col(idCol), col("__lb").as("s")),
      queryIdCol, idCol, "s", k, "floor_lb")
    val cand = scanned
      .join(floor, Seq(queryIdCol), "left")
      .filter(col("__ub") > threshold &&
        col("__ub") >= coalesce(col("floor_lb"), lit(threshold)))
      .select(col(queryIdCol), col(idCol), col("centroid_id"))

    // exact re-rank: payloads read pruned to the candidates' cells
    val candM = cand.localCheckpoint()
    val fetchCells = candM.select("centroid_id").distinct()
      .collect().map(_.get(0)).toSeq
    val result = Tables.read(spark, s"$indexPath/cells")
      .filter(col("centroid_id").isin(fetchCells: _*))
      .select(col(idCol), col(embCol))
      .join(candM.select(col(queryIdCol), col(idCol)), idCol)
      .join(broadcast(qNorm.select(col(queryIdCol), col("__qv"))), queryIdCol)
      .withColumn("sim", cosine_sim(col("__qv"), col(embCol)))
      .filter(col("sim") > threshold)
      .select(col(queryIdCol), col(idCol), col("sim"))
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
    IvfLayout.Retrieval(result,
      scanned.select(col(queryIdCol), col("centroid_id")).distinct(),
      candM.select(col(queryIdCol), col(idCol)).distinct())
  }
}
