package graft.query

import graft.Tables
import graft.functions.{cosine_sim, l2_dist_sq}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization (PQ) index — the MEMORY-BOUND scale path for
  * vector retrieval, next to [[AnnIndex]] (LSH buckets) and [[IvfIndex]]
  * (coarse cells): every corpus vector is compressed to `numSub` small
  * codebook ids plus one residual norm, so the per-query scan touches
  * a few bytes per vector instead of the full embedding payload
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011 — the ADC lookup-table scheme; public method, no code
  * consulted).
  *
  * Retrieval here is EXACT, not recall-probabilistic — the same
  * contract as [[IvfIndex]], via the same triangle-bound discipline:
  * the ADC distance is the TRUE distance between the query and the
  * RECONSTRUCTED vector x̂ (subspaces partition the dimensions, so the
  * per-subspace lookup sums are exactly ‖q − x̂‖²), and the stored
  * residual r = ‖x − x̂‖ bounds the true distance to
  * `d ∈ [d̂ − r, d̂ + r]`. On unit vectors `sim = 1 − d²/2`, so every
  * vector gets certified similarity bounds [lb, ub] from the code scan
  * alone; the k-th best LOWER bound per query is a floor no true
  * top-k member can be under, vectors whose UPPER bound misses the
  * floor are discarded without ever fetching their payload, and the
  * survivors are re-ranked by the exact cosine kernel on the original
  * vectors. Codebook quality moves the fetch volume, never the answer:
  * on a clustered corpus residuals are small and the fetch is
  * answer-sized; on an adversarially isotropic one (the test fixture)
  * the bounds widen and the fetch degrades toward a full scan rather
  * than silently dropping neighbors.
  *
  * 100 TB shape: the scan side is `numSub` ints + one double per
  * vector (~40 B vs 256 B of float payload at d=64 — and the
  * production packing of 4-bit codes into one long takes it to 12 B),
  * crossed with a broadcast query batch — no shuffle of the corpus.
  * The exact-verify fetch is an equi-join on the id-hash-partitioned
  * vectors table, carrying only bound-surviving candidates. Builds are
  * one pass to encode plus `numSub` tiny k-means fits (optionally over
  * a deterministic hash-sample of the corpus via `Params.fitSampleMod`
  * — codebooks only need the distribution's shape, and the exactness
  * contract is codebook-independent).
  */
object PqIndex {

  /** numSub × codebookSize defaults give 8 × 4-bit codes for the
    * fixture's d=64 (`dim` is a declared contract, as everywhere in the
    * vector family — array columns carry no width in their schema).
    * `fitSampleMod > 1` fits codebooks on the deterministic hash-sample
    * `hash(id) % fitSampleMod == 0` — at corpus scale the fit input
    * must not be the corpus, and a hash-sample keeps builds
    * re-run-identical where `df.sample`'s rand() is not.
    */
  case class Params(
      dim: Int = 64,
      numSub: Int = 8,
      codebookSize: Int = 16,
      maxIter: Int = 10,
      seed: Long = 42L,
      fitSampleMod: Int = 1) {
    require(dim % numSub == 0,
      s"PqIndex: embedding dim $dim must be divisible by numSub=$numSub")
    def subDim: Int = dim / numSub
  }

  /** Same fixed fit layout as [[IvfIndex.BuildPartitions]]: KMeans'
    * tree aggregation sums floats in partition/row order, so without
    * the pin codebooks (and codes) would depend on the session's core
    * count. Correctness never does — the query-time bound is exact for
    * ANY codebook — but an index built at local[4] must be
    * bit-identical to one built at local[32].
    */
  val BuildPartitions = 8

  /** Absorbs float-vs-double kernel noise between the stored bounds
    * and the exact rerank (the [[IvfIndex]] RadiusPad discipline):
    * padding only widens the candidate set, never narrows it.
    */
  private[query] val BoundPad = 1e-6

  /** Same id-hash partition layout as [[AnnIndex]]'s vectors table. */
  private val IndexBuckets = AnnIndex.IndexBuckets

  /** Squared L2 distance between two float arrays, summed in double —
    * one expression tree shared by encode and the query LUT so the
    * stored residuals and the ADC sums are computed by the SAME
    * arithmetic.
    */
  private def d2(x: Column, c: Column): Column =
    aggregate(
      zip_with(x, c, (a, b) => {
        val d = a.cast("double") - b.cast("double"); d * d
      }),
      lit(0.0), (s, v) => s + v)

  /** (sub, centers[codebookSize][subDim]) — one broadcastable row per
    * subspace.
    */
  private[query] def codebooksDf(spark: SparkSession, indexPath: String): DataFrame =
    broadcast(Tables.read(spark, s"$indexPath/codebooks"))

  /** Slice an already-prepared float-array column into per-subspace
    * rows for the codebook FIT: (idCol, sub, __subvec). Subspaces
    * partition the dimensions, so ‖q − x‖² = Σ_sub ‖q_sub − x_sub‖²
    * exactly. The fit is the one step that slices by [[Params]] — no
    * codebooks exist yet; every later encode slices by the codebooks
    * it is given ([[sliced]]). No normalization happens here: a
    * residual is the DIFFERENCE of a unit vector and its cell center,
    * and re-normalizing it would destroy the ‖q − x̂‖ identity the ADC
    * bound rests on.
    */
  private[query] def subspaceRowsOf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      params: Params): DataFrame =
    df
      .select(col(idCol), col(vecCol).cast("array<float>").as("__pqv"))
      .withColumn("sub", explode(sequence(lit(0), lit(params.numSub - 1))))
      .withColumn("__subvec",
        slice(col("__pqv"), col("sub") * params.subDim + 1, lit(params.subDim)))
      .drop("__pqv")

  /** The deterministic codebook-fit sample ([[Params.fitSampleMod]]):
    * `hash(id) % fitSampleMod == 0`, or every row when the mod is 1 —
    * the one definition both families' fits read.
    */
  private[query] def fitSample(df: DataFrame, idCol: String, params: Params): DataFrame =
    if (params.fitSampleMod > 1)
      df.filter(pmod(hash(col(idCol)), lit(params.fitSampleMod)) === 0)
    else df

  /** Each vector row crossed with the codebooks, subvector sliced out:
    * one row per (vector row, codebook row `sub`), `__subvec` the
    * `subDim = size(centers[0])` floats subspace `sub` covers. The
    * geometry is read from the index's own codebooks, so an encode or
    * a LUT always slices the subspaces the codebooks were fit on.
    */
  private def sliced(vecRows: DataFrame, vecCol: String, codebooks: DataFrame): DataFrame = {
    val subDim = size(col("centers").getItem(0))
    vecRows.crossJoin(codebooks)
      .withColumn("__subvec",
        slice(col(vecCol).cast("array<float>"), col("sub") * subDim + 1, subDim))
  }

  /** Encode a corpus against per-subspace codebooks: one row per id with
    * `codes` (argmin codebook entry per subspace, ties to the lower
    * code id) and `resid` = ‖x − x̂‖. Exact duplicate (id, emb) rows —
    * an at-least-once producer's retry, benign — collapse first.
    */
  private[query] def encode(
      df: DataFrame,
      idCol: String,
      embCol: String,
      codebooks: DataFrame): DataFrame =
    encodeRows(
      AnnIndex.prepared(df.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
        .select(col(idCol), vector_to_array(col("features")).as("__prep")),
      idCol, "__prep", codebooks)

  /** [[encode]] over an already-prepared vector column, with no
    * normalization: the residual path's encoder (a residual must not
    * be re-normalized — see [[subspaceRowsOf]]). Exact duplicate
    * (id, vec) rows collapse; deduping by id alone would silently
    * encode an arbitrary copy of a CONFLICTING duplicate, which must
    * instead fail in [[encodeRows]].
    */
  private[query] def encodePrepared(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame): DataFrame =
    encodeRows(df.dropDuplicates(Seq(idCol, vecCol)), idCol, vecCol, codebooks)

  /** The one encode body. The unique-id contract is ENFORCED: every id
    * meets each codebook row once, so its row count must equal the
    * number of distinct subspaces it covered — the codebooks' own
    * subspace count. A CONFLICTING duplicate (same id, different
    * vector) would interleave two vectors' subspaces into one garbage
    * code word, so it fails the job naming the id.
    */
  private def encodeRows(
      vecRows: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame): DataFrame =
    sliced(vecRows.select(col(idCol), col(vecCol)), vecCol, codebooks)
      // per-(id, sub) argmin over the codebook: a per-row fold over the
      // K centers (no K-way row blow-up, no shuffle) — strict < keeps
      // the lowest code on ties
      .withColumn("__best",
        aggregate(
          // iterate the codebook's ACTUAL length, not the nominal
          // params.codebookSize: the fit clamps K to the corpus size
          // (cold-start corpora — see kEff at the fit), and a static
          // bound would index past the centers array exactly there
          sequence(lit(0), size(col("centers")) - 1),
          struct(lit(-1).as("code"), lit(Double.MaxValue).as("d2")),
          (acc, j) => {
            val dd = d2(col("__subvec"), element_at(col("centers"), j + 1))
            when(dd < acc.getField("d2"),
              struct(j.cast("int").as("code"), dd.as("d2"))).otherwise(acc)
          }))
      .select(col(idCol), col("sub"),
        col("__best.code").as("code"), col("__best.d2").as("d2"))
      .groupBy(col(idCol))
      .agg(
        collect_list(struct(col("sub"), col("code"))).as("__sc"),
        sum(col("d2")).as("__r2"))
      .filter(assert_true(size(col("__sc")) === size(array_distinct(col("__sc.sub"))),
        concat(lit("PqIndex: input contains a duplicated id ("),
          col(idCol).cast("string"),
          lit(") with conflicting embeddings — one embedding per id " +
            "is required"))).isNull)
      .select(col(idCol),
        transform(array_sort(col("__sc")), s => s.getField("code")).as("codes"),
        sqrt(col("__r2")).as("resid"))

  /** Fit per-subspace codebooks, encode every vector, persist
    * `codebooks/` (numSub rows), `codes/` (the compact scan table) and
    * `vectors/` (the exact-verify payload table, id-hash partitioned
    * like [[AnnIndex]]'s).
    */
  def build(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outPath: String,
      params: Params = Params()): Unit = {
    val spark = df.sparkSession
    // a fresh build indexes exactly `df`: a stale delete log from a
    // previous index at this path must not mask the new corpus
    Tombstones.clear(spark, outPath)
    // the codebook fits and the vectors-table write are independent
    // job chains — overlap them (§2.6: the fit alone is numSub
    // barriered KMeans iteration loops that leave most cores idle)
    val (codebooks, _) = graft.util.Par.both(spark, "PqIndex.build")(
      fitCodebooksSampled(df, idCol, embCol, params),
      AnnIndex.prepared(df.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
        .select(col(idCol), col(embCol))
        .withColumn("__vbucket", pmod(hash(col(idCol)), lit(IndexBuckets)))
        .transform(graft.util.PartitionedWrite.spread(
          _, IndexBuckets, col("__vbucket"), col(idCol)))
        .write.mode("overwrite").partitionBy("__vbucket").parquet(s"$outPath/vectors"))
    writeCodebooks(spark, codebooks, outPath)
    encode(df, idCol, embCol, codebooksDf(spark, outPath))
      .withColumn("__cbucket", pmod(hash(col(idCol)), lit(IndexBuckets)))
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__cbucket"), col(idCol)))
      .write.mode("overwrite").partitionBy("__cbucket").parquet(s"$outPath/codes")
  }

  /** Sample ([[fitSample]]), normalize and fit — no write, so a caller
    * can overlap the fit with an independent job chain (guide §2.6)
    * and write the table when the path is safe.
    */
  private[query] def fitCodebooksSampled(
      df: DataFrame,
      idCol: String,
      embCol: String,
      params: Params): Seq[(Int, Seq[Seq[Float]])] =
    fitCodebooks(
      subspaceRowsOf(
        AnnIndex.prepared(fitSample(df, idCol, params), idCol, embCol)
          .select(col(idCol),
            vector_to_array(col("features")).cast("array<float>").as("__prep")),
        idCol, "__prep", params),
      idCol, params)

  /** The fitting core over any per-subspace row source ((idCol, sub,
    * __subvec) — [[subspaceRowsOf]] over normalized vectors or
    * residuals); the caller owns sampling. Returns the fitted
    * (sub, centers) rows so a caller can overlap the fit with another
    * independent job chain (guide §2.6) and write the table only when
    * the path is safe to write (e.g. after [[IvfIndex.build]]'s
    * artifact pre-clean, which deletes any codebooks table it finds).
    */
  private[query] def fitCodebooks(
      subRowsIn: DataFrame,
      idCol: String,
      params: Params): Seq[(Int, Seq[Seq[Float]])] = {
    // one materialized pass feeds all numSub fits with the pinned
    // layout; each fit reads only its 8-dim slice
    val subRows = subRowsIn
      .repartition(BuildPartitions, col(idCol))
      .sortWithinPartitions(idCol, "sub")
      .persist()
    try {
      // MlLib KMeans needs 2 <= k <= n (see IvfIndex.build): clamp so
      // tiny fit inputs produce coarser codebooks instead of crashing —
      // residuals grow, answers don't move
      val nFit = subRows.count() / params.numSub
      require(nFit >= 2,
        s"PqIndex: need at least 2 vectors to fit codebooks (got $nFit)")
      val kEff = math.max(2L, math.min(params.codebookSize.toLong, nFit)).toInt
      // the numSub fits are independent — submit them as concurrent
      // Spark jobs (each fit's input and seed are fixed, so scheduling
      // order cannot move a codebook); sequentially this is
      // numSub × maxIter scheduler round-trips of tiny jobs, the
      // dominant build cost
      graft.util.Par.all(subRows.sparkSession, "PqIndex.fitCodebooks")(
        (0 until params.numSub).map { m => () =>
          val model = new KMeans()
            .setK(kEff)
            .setMaxIter(params.maxIter)
            .setSeed(params.seed + m)
            .setInitMode("random") // the IvfIndex rationale: codebooks
            // only need a reasonable partition of the subspace; the
            // query bound is exact for any codebook
            .setFeaturesCol("__f")
            .fit(subRows.filter(col("sub") === m)
              .withColumn("__f", array_to_vector(col("__subvec").cast("array<double>"))))
          (m, model.clusterCenters.toSeq.map(_.toArray.toSeq.map(_.toFloat)))
        }: _*)
    } finally { subRows.unpersist(); () }
  }

  private[query] def writeCodebooks(
      spark: SparkSession,
      codebooks: Seq[(Int, Seq[Seq[Float]])],
      outPath: String): Unit = {
    import spark.implicits._
    codebooks.toDF("sub", "centers")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outPath/codebooks")
  }

  /** Incremental maintenance: encode NEW vectors against the FROZEN
    * codebooks (geometry included — [[sliced]] reads it from them)
    * and append to `codes/` + `vectors/` — no re-fit, no
    * touch of existing rows (the [[IvfIndex.upsert]] story: stale
    * codebooks cost fetch volume on drifted data, never correctness,
    * because the residual bound is computed against the codebook
    * actually stored). Append-only contract: `newRows` ids must be
    * disjoint from the indexed ids (the caller's dedup gate owns
    * identity); conflicting in-batch duplicates fail loudly inside
    * [[encode]].
    */
  def upsert(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      newRows: DataFrame): Unit = {
    encode(newRows, idCol, embCol, codebooksDf(spark, indexPath))
      .withColumn("__cbucket", pmod(hash(col(idCol)), lit(IndexBuckets)))
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__cbucket"), col(idCol)))
      .write.mode("append").partitionBy("__cbucket").parquet(s"$indexPath/codes")
    AnnIndex.prepared(newRows.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
      .select(col(idCol), col(embCol))
      .withColumn("__vbucket", pmod(hash(col(idCol)), lit(IndexBuckets)))
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__vbucket"), col(idCol)))
      .write.mode("append").partitionBy("__vbucket").parquet(s"$indexPath/vectors")
  }

  /** Compact the append-maintained tables off the query path
    * ([[graft.util.Compaction]] — partition layout preserved).
    */
  def compactIndex(spark: SparkSession, indexPath: String): Seq[graft.util.Compaction.Report] =
    Seq(
      graft.util.Compaction.compact(spark, s"$indexPath/codes", Seq("__cbucket")),
      graft.util.Compaction.compact(spark, s"$indexPath/vectors", Seq("__vbucket")))

  /** Maintenance diagnostics — one row per (table, bucket) across the
    * codes and vectors tables: (table, bucket, rows, n_files). The
    * compact-when-it-pays inputs ([[graft.query.IvfIndex.stats]]'s
    * contract for this family): n_files decaying at append cadence →
    * [[compactIndex]]; a rows mismatch between the two tables' totals
    * → a torn [[upsert]] (codes appended, vectors not, or vice versa
    * — the at-least-once window documented on
    * [[graft.streaming.IndexMaintenance.applyPqBatch]]). Two
    * partition-column scans + driver-side listings of ≤ 2 ×
    * IndexBuckets directories; run off the query path.
    */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    def side(table: String, bucketCol: String): DataFrame = {
      val occ = Tables.read(spark, s"$indexPath/$table")
        .groupBy(col(bucketCol).cast("long").as("bucket"))
        .agg(count(lit(1)).as("rows"))
      val files = graft.util.PartitionFiles
        .counts(spark, s"$indexPath/$table", bucketCol)
        .toDF("bucket", "n_files")
      occ.join(broadcast(files), Seq("bucket"), "full")
        .select(lit(table).as("table"), col("bucket"),
          coalesce(col("rows"), lit(0L)).as("rows"),
          coalesce(col("n_files"), lit(0L)).as("n_files"))
    }
    side("codes", "__cbucket")
      .unionByName(side("vectors", "__vbucket"))
      .orderBy("table", "bucket")
  }

  /** ADC lookup rows: one per (vector row, subspace), `__lut_sub` =
    * ‖v_sub − c‖² for every codebook center c via the same [[d2]] kernel
    * that priced the stored residuals, sliced by [[sliced]] exactly as
    * the codes were encoded.
    */
  private def lutRows(vecRows: DataFrame, vecCol: String, codebooks: DataFrame): DataFrame =
    sliced(vecRows, vecCol, codebooks)
      .withColumn("__lut_sub",
        transform(col("centers"), c => d2(col("__subvec"), c)))

  /** The per-subspace rows of [[lutRows]] concatenated in subspace order
    * — lut[sub·K + code], the [[graft.functions.PqAdc]] input shape.
    */
  private val flatLut: Column =
    flatten(transform(array_sort(col("__ls")), s => s.getField("__lut_sub")))

  /** ADC lookup tables for arbitrary difference vectors, keyed by any
    * column set: (keyCols..., vecCol array<float>) → (keyCols...,
    * __lut). The residual path's per-(query, enc generation) LUT
    * builder, where the vector is q − enc_center.
    */
  private[query] def lutOf(
      vecRows: DataFrame,
      keyCols: Seq[String],
      vecCol: String,
      codebooks: DataFrame): DataFrame =
    lutRows(vecRows, vecCol, codebooks)
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(col("sub"), col("__lut_sub"))).as("__ls"))
      .select(keyCols.map(col) :+ flatLut.as("__lut"): _*)

  /** Per-query ADC lookup table against the index's persisted
    * codebooks: one row per query — (queryIdCol, __qv raw vector,
    * __lut). Broadcast-sized by the point-lookup contract; shared with
    * [[IvfPq]].
    */
  private[graft] def queryLut(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String): DataFrame =
    lutRows(
        AnnIndex.prepared(
            queries.select(col(queryIdCol), col(queryVecCol).as("__qv")),
            queryIdCol, "__qv")
          .select(col(queryIdCol), col("__qv"),
            vector_to_array(col("features")).cast("array<float>").as("__prep")),
        "__prep", codebooksDf(spark, indexPath))
      .groupBy(col(queryIdCol))
      .agg(
        first(col("__qv")).as("__qv"),
        collect_list(struct(col("sub"), col("__lut_sub"))).as("__ls"))
      .select(col(queryIdCol), col("__qv"), flatLut.as("__lut"))

  /** Batch top-k against the compressed index, exact by the residual
    * bound. Output: (queryIdCol, idCol, sim, rn) — rn 1..k by exact
    * sim desc, ties by ascending id, the shared retrieval shape.
    */
  def queryTopK(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      threshold: Double): DataFrame =
    queryTopKWithCands(spark, indexPath, idCol, embCol, queries,
      queryIdCol, queryVecCol, k, threshold)._1

  /** [[queryTopK]] plus the LAZY candidate frame (query_id, id) that
    * survived the bound — the fetch volume, spec-checkable without
    * re-deriving the pruning logic.
    */
  private[graft] def queryTopKWithCands(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val lutq = queryLut(spark, indexPath, queries, queryIdCol, queryVecCol)

    // code scan: d̂² = Σ_sub lut[sub·K + codes[sub]] via the codegen
    // pq_adc kernel (ascending-subspace summation — bit-identical to
    // the interpreted fold it replaced); the corpus side never shuffles
    // tombstones mask at the code scan — before the lb floor below
    // (see [[Tombstones]]; for this flat layout, physical removal is a
    // rebuild — tombstone-serve until then)
    val scored = Tombstones.liveOnly(
        Tables.read(spark, s"$indexPath/codes"),
        spark, indexPath, idCol)
      .crossJoin(broadcast(lutq))
      .withColumn("__adc",
        sqrt(graft.functions.pq_adc(col("codes"), col("__lut"))))
      .withColumn("__lb",
        lit(1.0) - pow(col("__adc") + col("resid") + lit(BoundPad), 2) / 2)
      .withColumn("__ub",
        lit(1.0) - pow(
          greatest(lit(0.0),
            col("__adc") - col("resid") - lit(BoundPad)), 2) / 2)

    // the k-th best LOWER bound certifies k vectors at or above it, so
    // any vector whose UPPER bound is beneath it cannot be in the true
    // top-k; >= keeps bound-equal ties (ascending-id tie-break)
    val floor = SimilaritySearch.kthBestScore(
      scored.select(col(queryIdCol), col(idCol), col("__lb").as("s")),
      queryIdCol, idCol, "s", k, "floor_lb")
    val cand = scored
      .join(floor, Seq(queryIdCol), "left")
      .filter(col("__ub") > threshold &&
        col("__ub") >= coalesce(col("floor_lb"), lit(threshold)))
      .select(col(queryIdCol), col("__qv"), col(idCol))

    // exact-verify fetch: equi-join on the id-hash-partitioned payload
    // table, candidates only
    val result = Tables.read(spark, s"$indexPath/vectors")
      .select(col(idCol), col(embCol))
      .join(cand, idCol)
      .withColumn("sim", cosine_sim(col("__qv"), col(embCol)))
      .filter(col("sim") > threshold)
      .select(col(queryIdCol), col(idCol), col("sim"))
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
    (result, cand.select(col(queryIdCol), col(idCol)))
  }
}
