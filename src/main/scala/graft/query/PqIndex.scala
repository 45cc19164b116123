package graft.query

import graft.Tables
import graft.functions.{cosine_sim, l2_dist_sq}
import graft.util.Generation
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
  * one pass to encode plus `numSub` driver-side k-means fits over one
  * bounded sample ([[Lloyd]]) — codebooks only need the distribution's
  * shape, and the exactness contract is codebook-independent.
  */
object PqIndex {

  /** numSub × codebookSize defaults give 8 × 4-bit codes for the
    * fixture's d=64 (`dim` is a declared contract, as everywhere in the
    * vector family — array columns carry no width in their schema).
    */
  case class Params(
      dim: Int = 64,
      numSub: Int = 8,
      codebookSize: Int = 16,
      maxIter: Int = 10,
      seed: Long = 42L) {
    require(dim % numSub == 0,
      s"PqIndex: embedding dim $dim must be divisible by numSub=$numSub")
    def subDim: Int = dim / numSub
  }

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
        .select(col(idCol), col("features").as("__prep")),
      idCol, "__prep", codebooks)

  /** [[encode]] over an already-prepared vector column, with no
    * normalization: the residual path's encoder (a residual must not
    * be re-normalized: it is the DIFFERENCE of a unit vector and its
    * cell center, and re-normalizing it would destroy the ‖q − x̂‖
    * identity the ADC bound rests on). Exact duplicate
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
          // params.codebookSize: [[Lloyd.fit]] clamps K to the distinct
          // sample points (cold-start corpora), and a static bound
          // would index past the centers array exactly there
          sequence(lit(0), size(col("centers")) - 1),
          struct(lit(-1).as("code"), lit(Double.MaxValue).as("d2")),
          (acc, j) => {
            val dd = d2(col("__subvec"), element_at(col("centers"), j + 1))
            when(dd < acc.getField("d2"),
              struct(j.cast("int").as("code"), dd.as("d2"))).otherwise(acc)
          }))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("sub"), col("__best.code").as("code"),
        col("__best.d2").as("d2"))).as("__sc"))
      .filter(assert_true(size(col("__sc")) === size(array_distinct(col("__sc.sub"))),
        concat(lit("PqIndex: input contains a duplicated id ("),
          col(idCol).cast("string"),
          lit(") with conflicting embeddings — one embedding per id " +
            "is required"))).isNull)
      // codes AND the residual fold in ascending subspace order, so
      // `resid` is a function of the vector and the codebooks alone —
      // never of the grouping a partial aggregation met the terms in
      .withColumn("__sc", array_sort(col("__sc")))
      .select(col(idCol),
        transform(col("__sc"), s => s.getField("code")).as("codes"),
        sqrt(aggregate(col("__sc"), lit(0.0), (r2, s) => r2 + s.getField("d2")))
          .as("resid"))

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
    val prep = AnnIndex.prepared(df.dropDuplicates(Seq(idCol, embCol)), idCol, embCol)
    fitCodebooks(spark, Lloyd.sample(prep, idCol, params.codebookSize), params, outPath)
    writeRows(spark, outPath, idCol, embCol, df, "overwrite")
  }

  /** Encode `rows` against the index's stored codebooks and write
    * `codes/` then `vectors/`, both id-hash partitioned like
    * [[AnnIndex]]'s tables — [[build]] overwrites, [[upsert]] appends.
    */
  private def writeRows(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      rows: DataFrame,
      mode: String): Unit = {
    def write(df: DataFrame, table: String, bucketCol: String): Unit =
      df.withColumn(bucketCol, pmod(hash(col(idCol)), lit(IndexBuckets)))
        .transform(graft.util.PartitionedWrite.spread(
          _, IndexBuckets, col(bucketCol), col(idCol)))
        .write.mode(mode).partitionBy(bucketCol).parquet(s"$indexPath/$table")
    write(encode(rows, idCol, embCol, codebooksDf(spark, indexPath)), "codes", "__cbucket")
    write(rows.dropDuplicates(Seq(idCol, embCol)).select(col(idCol), col(embCol)),
      "vectors", "__vbucket")
  }

  /** Fit per-subspace codebooks on a collected sample of normalized
    * vectors or residuals ([[Lloyd.sample]]) and write `codebooks/`:
    * subspace `m` is dims `[m·subDim, (m+1)·subDim)` of every sample
    * row — the geometry is decided here, once, and every later encode
    * reads it from the codebooks. Subspaces partition the dimensions,
    * so ‖q − x‖² = Σ_sub ‖q_sub − x_sub‖² exactly.
    */
  private[query] def fitCodebooks(
      spark: SparkSession,
      sample: Array[Array[Float]],
      params: Params,
      outPath: String): Unit = {
    import spark.implicits._
    (0 until params.numSub)
      .map { m =>
        val sub = sample.map(_.slice(m * params.subDim, (m + 1) * params.subDim))
        (m, Lloyd.fit(sub, params.codebookSize, params.maxIter, params.seed + m)
          .toSeq.map(_.toSeq))
      }
      .toDF("sub", "centers")
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
    Generation.recover(spark, indexPath)
    writeRows(spark, indexPath, idCol, embCol, newRows, "append")
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
    Generation.recover(spark, indexPath)
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
            col("features").cast("array<float>").as("__prep")),
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
    // one fs.exists when healthy: completes a torn compactIndex swap
    Generation.recover(spark, indexPath)
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
