package graft.query

import graft.Tables
import graft.functions.{cosine_sim, l2_normalize}
import graft.util.PartitionedWrite
import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch ANN index build + approximate similarity join (SURVEY §2 B-4) —
  * the scale path for the reference's entire query surface (vector
  * retrieval, reference src/clients/vector-client.ts:396-415) and for
  * embedding near-dup (B-3).
  *
  * Design: MLlib `BucketedRandomProjectionLSH` over L2-normalized vectors.
  * On the unit sphere, cosine similarity τ is exactly Euclidean distance
  * √(2−2τ), so a cosine-threshold query becomes a distance-threshold
  * `approxSimilarityJoin`. Candidates come from hash-bucket collisions
  * (OR across `numHashTables` tables — each doubles recall, linearly more
  * candidate rows); every candidate is then verified with the exact
  * cosine kernel on the original vectors, so emitted pairs are never
  * false positives. 100 TB shape: per-row hashing (narrow), one shuffle
  * keyed by (table, bucket), join fan-out bounded by bucket occupancy —
  * no all-pairs stage and no broadcast of the full table anywhere.
  */
object AnnIndex {

  /** numHashTables=16 / bucketLength=1.0: at the q25 operating point
    * (τ=0.35 → dist 1.14) this recalls every qualifying pair on the
    * fixture corpus (validated against the exact q20 oracle at sf0.01 and
    * sf0.1); raise tables for higher recall at lower τ.
    *
    * maxBucketOccupancy bounds the quadratic collision blow-up of a hot
    * (table, bucket) in the self/cross joins: over-cap buckets are
    * excluded from candidate generation with a logged drop count
    * ([[graft.util.BucketGuard]]); collapse exact duplicates upstream
    * first. The batch-retrieval path ([[queryTopK]]) is NOT capped — its
    * join fan-out is occupancy × matching queries (linear, bounded by
    * the small query batch), and capping there would silently drop true
    * neighbors from results.
    */
  case class Params(
      numHashTables: Int = 16,
      bucketLength: Double = 1.0,
      seed: Long = 42L,
      maxBucketOccupancy: Int = 10000)

  /** Project (id, array<float>) to (id, embedding, features) where
    * `features` is the L2-normalized `array<double>` every index family
    * assigns, encodes and probes with ([[graft.functions.l2_normalize]]).
    */
  def prepared(df: DataFrame, idCol: String, embCol: String): DataFrame =
    graft.Tables.parallelize(df.select(col(idCol), col(embCol)))
      .withColumn("features", l2_normalize(col(embCol)))

  /** A [[prepared]] frame with `features` as the MLlib vector the LSH
    * fits on and hashes — the one array → vector conversion left.
    */
  def hashInput(prepared: DataFrame): DataFrame =
    prepared.withColumn("features", array_to_vector(col("features")))

  /** Fit the LSH on a [[hashInput]] frame. */
  def fit(prepared: DataFrame, params: Params = Params()): BucketedRandomProjectionLSHModel =
    new BucketedRandomProjectionLSH()
      .setInputCol("features")
      .setOutputCol("hashes")
      .setNumHashTables(params.numHashTables)
      .setBucketLength(params.bucketLength)
      .setSeed(params.seed)
      .fit(prepared)

  /** Partition-directory count for the persisted index tables. */
  val IndexBuckets = 64

  /** Per-JVM cache of loaded LSH models keyed by index path — the
    * production retrieval shape holds the (tiny: numHashTables random
    * unit vectors) model resident instead of re-reading its parquet on
    * every query batch. [[buildIndex]] invalidates its path after an
    * overwrite, so a stale model can never serve a rebuilt index
    * within one JVM; cross-JVM staleness is impossible (cache is
    * process-local).
    */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, BucketedRandomProjectionLSHModel]()
  private def loadModel(indexPath: String): BucketedRandomProjectionLSHModel =
    modelCache.computeIfAbsent(indexPath,
      p => BucketedRandomProjectionLSHModel.load(s"$p/model"))

  /** Batch index build (the `spark_approach` named in BASELINE.json):
    * persist the fitted model plus two PRUNABLE tables (the
    * [[graft.streaming.StreamingNearDup]] / lexical-index layout):
    *
    *   - `buckets/` (id, table, bucket), parquet-partitioned by a
    *     (table, bucket)-hash directory key — point probes read only
    *     the directories the query batch's own hashes land in;
    *   - `vectors/` (id, embedding), partitioned by an id-hash key —
    *     exact-verification payloads are fetched for candidate ids'
    *     buckets only, and each vector is stored ONCE (the previous
    *     layout duplicated the embedding into every hash-table row of
    *     a monolithic table that every probe had to scan in full).
    */
  def buildIndex(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outPath: String,
      params: Params = Params()): BucketedRandomProjectionLSHModel = {
    // a fresh build indexes exactly `df`: a stale delete log from a
    // previous index at this path must not mask the new corpus
    Tombstones.clear(df.sparkSession, outPath)
    val prep = hashInput(prepared(df, idCol, embCol))
    val model = fit(prep, params)
    model.write.overwrite().save(s"$outPath/model")
    modelCache.remove(outPath)
    model.transform(prep)
      .select(col(idCol), posexplode(col("hashes")))
      .select(col(idCol), col("pos").as("table"),
        element_at(vector_to_array(col("col")), 1).cast("long").as("bucket"))
      .withColumn("__bucket", pmod(hash(col("table"), col("bucket")), lit(IndexBuckets)))
      // bounded files/dir AND cluster-scaled write parallelism — see
      // graft.util.PartitionedWrite
      .transform(PartitionedWrite.spread(_, IndexBuckets, col("__bucket"), col(idCol)))
      .write.mode("overwrite").partitionBy("__bucket").parquet(s"$outPath/buckets")
    prep.select(col(idCol), col(embCol))
      .withColumn("__vbucket", pmod(hash(col(idCol)), lit(IndexBuckets)))
      .transform(PartitionedWrite.spread(_, IndexBuckets, col("__vbucket"), col(idCol)))
      .write.mode("overwrite").partitionBy("__vbucket").parquet(s"$outPath/vectors")
    model
  }

  /** Batch top-k retrieval against a PERSISTED index (the A-14 query
    * shape at scale): hash only the query batch, probe the bucket
    * table pruned to the batch's own partition directories, fetch
    * exact-verification vectors pruned to the candidate ids' buckets,
    * keep per-query top-k above the threshold. Two driver collects:
    * the transformed query batch (small by contract — it is the
    * point-lookup input) and the candidate (query, id) pairs, whose
    * volume is the occupancy of the probed buckets × the batch's
    * matching hashes — the same boundedness class as the broadcast
    * hash-join these pairs feed, so collecting them moves no more data
    * to the driver than broadcasting did. Everything else is literal
    * frames / isin pruning built from those two collects, keeping the
    * whole retrieval at 3 Spark jobs (query hash, candidate probe,
    * pruned scored fetch). Approximate: a true neighbor sharing no
    * bucket with the query is missed (recall rises with
    * `Params.numHashTables`); every returned similarity is exact.
    *
    * Output: (queryIdCol, idCol, sim, rn) — rn 1..k by descending sim.
    */
  /** Driver-collect ceiling for [[queryTopK]]'s two collects. The
    * candidate volume is bounded by construction (batch × tables ×
    * bucket occupancy), but that bound is a CONFIGURATION property —
    * a mis-sized query batch or an unguarded hot bucket would
    * otherwise OOM the driver silently. 2M (query, id) pairs ≈ tens
    * of MB collected: far above any point-lookup batch, far below
    * driver heap. Checked with a limit-probe (no extra count job).
    */
  val MaxDriverRows = 2000000

  def queryTopK(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      threshold: Double,
      maxDriverRows: Int = MaxDriverRows): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // limit-probe collect: fetch bound+1 rows in ONE job — under the
    // bound that is all the rows; over it, fail loudly instead of
    // pulling an unbounded frame onto the driver
    def collectBounded(plan: DataFrame, what: String): Array[Row] = {
      val rows = plan.limit(maxDriverRows + 1).collect()
      require(rows.length <= maxDriverRows,
        s"AnnIndex.queryTopK: $what exceeds the driver-collect bound " +
          s"($maxDriverRows rows) — this path is sized for point-lookup " +
          "query batches; shrink the batch, re-check Params" +
          ".maxBucketOccupancy on the index build, or use AnnIndex" +
          ".crossJoin (fully distributed) for bulk similarity joins")
      rows
    }
    val model = loadModel(indexPath)
    val qPrep = model.transform(
      hashInput(prepared(
        queries.select(col(queryIdCol), col(queryVecCol).as(embCol)), queryIdCol, embCol)))
    // job 1: collect the hashed query batch once — vectors + their
    // (table, bucket) probes; ≤ batch × numHashTables rows
    val qPlan = qPrep
      .select(col(queryIdCol), col(embCol).as("qvec"), posexplode(col("hashes")))
      .select(col(queryIdCol), col("qvec"), col("pos").as("table"),
        element_at(vector_to_array(col("col")), 1).cast("long").as("bucket"))
      .withColumn("__bucket", pmod(hash(col("table"), col("bucket")), lit(IndexBuckets)))
    val qSchema = qPlan.schema
    val qRows = collectBounded(qPlan, "the hashed query batch")
    def fieldsOf(names: Seq[String]) =
      StructType(names.map(n => qSchema(qSchema.fieldIndex(n))))
    def literalDf(rows: Seq[Row], names: Seq[String]) =
      Tables.local(spark, rows, fieldsOf(names))
    val probeBuckets = qRows.map(_.getAs[Int]("__bucket")).distinct.toSeq
    val qbDf = literalDf(
      qRows.toSeq.map(r => Row(r.getAs[Any](queryIdCol),
        r.getAs[Any]("table"), r.getAs[Any]("bucket"))),
      Seq(queryIdCol, "table", "bucket"))
    val qVecsDf = literalDf(
      qRows.toSeq.map(r => r.getAs[Any](queryIdCol) -> r.getAs[Any]("qvec"))
        .distinct.map { case (id, v) => Row(id, v) },
      Seq(queryIdCol, "qvec"))
    // job 2: candidate probe — index side pruned to the batch's own
    // partition directories + streamed against the literal query
    // buckets; collected pairs dedup driver-side BEFORE the vector
    // fetch (dedup here replaces a distinct shuffle + checkpoint)
    val candPlan = Tables.read(spark, s"$indexPath/buckets")
      .filter(col("__bucket").isin(probeBuckets: _*))
      .join(broadcast(qbDf), Seq("table", "bucket"))
      .select(col(queryIdCol), col(idCol),
        pmod(hash(col(idCol)), lit(IndexBuckets)).as("__vb"))
    val candSchema = candPlan.schema
    val candRows = collectBounded(candPlan, "the candidate (query, id) pairs")
    val vBuckets = candRows.map(_.getAs[Int]("__vb")).distinct.toSeq
    val candDf = Tables.local(spark,
      candRows.toSeq
        .map(r => r.getAs[Any](queryIdCol) -> r.getAs[Any](idCol)).distinct
        .map { case (q, i) => Row(q, i) },
      StructType(Seq(candSchema(candSchema.fieldIndex(queryIdCol)),
        candSchema(candSchema.fieldIndex(idCol)))))
    // job 3: exact verification against the pruned vector partitions
    // tombstones mask at the exact-verify fetch — sufficient for LSH:
    // there is no floor here, the bucket candidates are a superset and
    // every survivor is verified exactly (see [[Tombstones]]; physical
    // removal for this layout is a rebuild — tombstone-serve until then)
    Tombstones.liveOnly(
        Tables.read(spark, s"$indexPath/vectors")
          .filter(col("__vbucket").isin(vBuckets: _*)),
        spark, indexPath, idCol)
      .join(broadcast(candDf), idCol)
      .join(broadcast(qVecsDf), queryIdCol)
      .withColumn("sim", cosine_sim(col(embCol), col("qvec")))
      .filter(col("sim") > threshold)
      // candidates are bounded by contract, but the ranking still rides
      // topk_by so NO retrieval kernel carries a row_number window
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
  }

  /** Two-dataset similarity join (B-3): all (a, b) pairs across two
    * vector tables with cosine ≥ simThreshold — same LSH candidate
    * generation as [[selfJoin]] but hashing both sides with one model
    * fitted on `dfA` (fitting only reads the vector dimension, so pass a
    * non-empty frame as `dfA`) and bucket-joining across datasets.
    * Output: (a_id, b_id, sim).
    */
  def crossJoin(
      dfA: DataFrame,
      idColA: String,
      dfB: DataFrame,
      idColB: String,
      embCol: String,
      simThreshold: Double,
      params: Params = Params()): DataFrame = {
    require(simThreshold > -1.0 && simThreshold < 1.0, "simThreshold in (-1, 1)")
    require(idColA != idColB, "id columns must have distinct names")
    val prepA = hashInput(prepared(dfA, idColA, embCol))
    val prepB = hashInput(prepared(dfB, idColB, embCol))
    val model = fit(prepA, params)
    def buckets(prep: DataFrame, idCol: String) =
      model.transform(prep)
        .select(col(idCol), posexplode(col("hashes")))
        .select(col(idCol), col("pos").as("table"),
          element_at(vector_to_array(col("col")), 1).cast("long").as("bucket"))
    // localCheckpoint: each side's hashing pass feeds the occupancy
    // accounting AND the collision join — materialize it once
    def capped(b: DataFrame, side: String) = graft.util.BucketGuard.capOccupancy(
      b.localCheckpoint(), Seq("table", "bucket"), params.maxBucketOccupancy,
      s"AnnIndex.crossJoin $side")
    val collisions = capped(buckets(prepA, idColA), "left").as("a")
      .join(capped(buckets(prepB, idColB), "right").as("b"), Seq("table", "bucket"))
      .select(col(s"a.$idColA"), col(s"b.$idColB"))
    collisions
      .join(dfA.select(col(idColA), col(embCol).as("e1")), idColA)
      .join(dfB.select(col(idColB), col(embCol).as("e2")), idColB)
      .withColumn("sim", cosine_sim(col("e1"), col("e2")))
      .filter(col("sim") >= simThreshold)
      .select(col(idColA), col(idColB), col("sim"))
      .distinct()
  }

  /** All pairs with cosine similarity ≥ simThreshold, via LSH candidate
    * generation + exact verification. Output: (v1, v2, sim), v1 < v2.
    *
    * Candidate recall is exactly MLlib `approxSimilarityJoin`'s (same
    * fitted hash tables, same OR-across-tables rule), but the physical
    * join is restructured for throughput: bucket collisions are verified
    * IMMEDIATELY with the codegen'd cosine kernel (one fused stage after
    * the bucket shuffle, embeddings attached via auto-broadcast-able id
    * joins) and deduplicated only after the threshold filter — a
    * `distinct` over the few true pairs instead of over the million-row
    * collision multiset that MLlib's join dedups before its non-codegen
    * distance UDF.
    */
  def selfJoin(
      df: DataFrame,
      idCol: String,
      embCol: String,
      simThreshold: Double,
      params: Params = Params()): DataFrame = {
    require(simThreshold > -1.0 && simThreshold < 1.0, "simThreshold in (-1, 1)")
    val prep = hashInput(prepared(df, idCol, embCol))
    val model = fit(prep, params)
    // one row per (vector, hash table): the table's bucket id.
    // localCheckpoint: the hashing pass feeds the occupancy accounting
    // and BOTH sides of the collision self-join — materialize it once
    val buckets = graft.util.BucketGuard.capOccupancy(
      model.transform(prep)
        .select(col(idCol), posexplode(col("hashes")))
        .select(
          col(idCol),
          col("pos").as("table"),
          element_at(vector_to_array(col("col")), 1).cast("long").as("bucket"))
        .localCheckpoint(),
      Seq("table", "bucket"), params.maxBucketOccupancy, "AnnIndex.selfJoin")
    val collisions = buckets.as("a").join(buckets.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"))
    val emb = df.select(col(idCol), col(embCol))
    collisions
      .join(emb.select(col(idCol).as("v1"), col(embCol).as("e1")), "v1")
      .join(emb.select(col(idCol).as("v2"), col(embCol).as("e2")), "v2")
      .withColumn("sim", cosine_sim(col("e1"), col("e2")))
      .filter(col("sim") >= simThreshold)
      .select(col("v1"), col("v2"), col("sim"))
      .distinct() // survivors only; a pair's sim is deterministic
  }
}
