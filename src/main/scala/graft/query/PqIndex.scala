package graft.query

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The product-quantization (PQ) codec of [[IvfPq]]: per-subspace
  * codebooks, the encoder that compresses a vector to `numSub` small
  * codebook ids plus one residual norm, and the per-query ADC lookup
  * tables the code scan prices those codes with (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
  * the ADC lookup-table scheme; public method, no code consulted).
  * The index itself — build, maintenance, serving — is [[IvfPq]]'s; a
  * one-cell [[IvfPq]] is the flat PQ layout (q105).
  *
  * The bound the codec certifies is EXACT, not recall-probabilistic:
  * the ADC distance is the TRUE distance between the query and the
  * RECONSTRUCTED vector x̂ (subspaces partition the dimensions, so the
  * per-subspace lookup sums are exactly ‖q − x̂‖²), and the stored
  * residual r = ‖x − x̂‖ bounds the true distance to
  * `d ∈ [d̂ − r, d̂ + r]`. On unit vectors `sim = 1 − d²/2`, so every
  * vector gets certified similarity bounds [lb, ub] from the code scan
  * alone. Codebook quality moves the fetch volume, never the answer:
  * on a clustered corpus residuals are small and the fetch is
  * answer-sized; on an adversarially isotropic one the bounds widen
  * and the fetch degrades toward a full scan rather than silently
  * dropping neighbors.
  *
  * 100 TB shape: the scan side is `numSub` ints + one double per
  * vector (~40 B vs 256 B of float payload at d=64 — and the
  * production packing of 4-bit codes into one long takes it to 12 B).
  * Codebooks are `numSub` driver-side k-means fits over one bounded
  * sample ([[Lloyd]]) — they only need the distribution's shape, and
  * the exactness contract is codebook-independent.
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

  /** Absorbs float-vs-double kernel noise between the code scan's
    * [lb, ub] bounds and the exact rerank (the [[IvfIndex]] RadiusPad
    * discipline): padding only widens the candidate set, never narrows
    * it.
    */
  private[query] val BoundPad = 1e-6

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
    * __lut). Broadcast-sized by the point-lookup contract; the global
    * encoding's LUT in [[IvfPq]].
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
}
