package graft.query

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HORIZONTAL composition of IVF indexes — the shape a 100 TB corpus
  * actually serves from. One monolithic index has three scale walls a
  * shard set does not: the build's assignment and write passes run
  * over the whole corpus at once (a shard builds over 1/Nth, bounded
  * and restartable per shard); every maintenance pass (split, compaction,
  * re-cluster) fences the whole artifact (a shard set repairs ONE
  * shard per window — rolling maintenance); and the per-index
  * driver-bounded collects (probed cell ids) grow with nCentroids ~ √n
  * (per-shard √(n/N) keeps each query session's driver work flat as
  * shards are added).
  *
  * Exactness is free by composition: rows are hash-partitioned by id
  * across shards (disjoint cover), each shard's [[IvfIndex.queryTopK]]
  * returns its EXACT local top-k, and the true global top-k is
  * contained in the union of local top-ks (any global winner lives in
  * exactly one shard and ranks ≤ k there) — one answer-sized global
  * re-rank finishes. Deletes/upserts route by the same id hash, so
  * every single-index lifecycle face (tombstones, compaction, split,
  * fsck) applies per shard unchanged.
  *
  * Layout: `root/_shards` (one row: n_shards) + `root/shard=i/` each a
  * plain [[IvfIndex]] (or composed [[IvfPq]] — [[queryTopK]] routes by
  * each shard's own layout, so a shard set can even be migrated to the
  * memory-bound encoding one shard at a time, queries exact
  * throughout).
  */
object ShardedIvf {

  private def manifestPath(root: String) = s"$root/_shards"

  def shardPath(root: String, i: Int): String = s"$root/shard=$i"

  def nShards(spark: SparkSession, root: String): Int =
    Tables.read(spark, manifestPath(root)).head.getInt(0)

  /** The routing expression — pmod of the id hash, the same function
    * for build, upsert and delete so a row's home shard never moves.
    */
  private def shardOf(idCol: String, n: Int) =
    pmod(hash(col(idCol)), lit(n))

  /** Hash-partition `df` across `n` shards and build each one — N
    * INDEPENDENT builds over 1/Nth of the corpus each (restartable,
    * memory-bounded), not one corpus-wide fit. `composed` builds the
    * memory-bound [[IvfPq]] layout per shard instead.
    */
  def build(
      df: DataFrame,
      idCol: String,
      embCol: String,
      root: String,
      n: Int,
      params: IvfIndex.Params = IvfIndex.Params(),
      composed: Boolean = false,
      pqParams: PqIndex.Params = PqIndex.Params()): Unit = {
    require(n >= 1, s"ShardedIvf.build: need at least 1 shard (got $n)")
    val spark = df.sparkSession
    import spark.implicits._
    // shards build CONCURRENTLY (the [[queryTopK]] concurrent-probe
    // pattern, guide §2.6): the N builds are independent job chains
    // over disjoint slices into disjoint directories, and each chain is
    // mostly small sequential jobs (sample collect, metadata writes)
    // that leave the cluster idle between them — overlapping them
    // back-fills that idle time. Each build is deterministic in
    // isolation (a fixed seed over a layout-independent sample), so
    // completion order cannot move a byte of any shard.
    graft.util.Par.all(spark, "ShardedIvf.build")((0 until n).map { i => () =>
      val part = df.filter(shardOf(idCol, n) === i)
      if (composed)
        IvfPq.build(part, idCol, embCol, shardPath(root, i),
          IvfPq.Params(ivf = params, pq = pqParams))
      else { IvfIndex.build(part, idCol, embCol, shardPath(root, i), params); () }
    }: _*)
    // manifest LAST: its presence says every shard directory exists
    Seq(n).toDF("n_shards").repartition(1)
      .write.mode("overwrite").parquet(manifestPath(root))
  }

  /** Route one batch to its home shards — shared by [[upsert]] and
    * [[delete]]: ≤ n single-shard calls, each O(its slice); shards the
    * batch does not touch are skipped (one batch-sized count each).
    */
  private def routed(
      spark: SparkSession,
      root: String,
      idCol: String,
      batch: DataFrame)(apply: (String, DataFrame) => Unit): Unit = {
    val n = nShards(spark, root)
    val keyed = batch.withColumn("__shard", shardOf(idCol, n)).localCheckpoint()
    try {
      val present = keyed.select(col("__shard")).distinct()
        .collect().map(_.getInt(0)).sorted
      present.foreach { i =>
        apply(shardPath(root, i), keyed.filter(col("__shard") === i).drop("__shard"))
      }
    } finally { keyed.unpersist(); () }
  }

  /** Append new vectors, each into its hash-home shard (the
    * single-index append contract per shard — including the
    * tombstone-overlap guard).
    */
  def upsert(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String,
      newRows: DataFrame): Unit =
    routed(spark, root, idCol, newRows)(IvfIndex.upsert(spark, _, idCol, embCol, _))

  /** Mark ids deleted — routed to their home shards' tombstone tables
    * (an id's shard is a pure hash, so no shard scan is needed to find
    * it). Fold in per shard with [[compactTombstones]].
    */
  def delete(
      spark: SparkSession,
      root: String,
      idCol: String,
      ids: DataFrame): Unit =
    routed(spark, root, idCol, ids.select(col(idCol))) { (p, slice) =>
      IvfIndex.delete(spark, p, idCol, slice)
    }

  /** Physical deletion fold-in, one shard at a time — the rolling-
    * maintenance shape: each shard's pass commits through its own
    * generation swap, so a window can compact
    * shard 3 today and shard 4 tomorrow with queries exact throughout.
    */
  def compactTombstones(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String): Seq[IvfIndex.DeleteCompactionReport] =
    (0 until nShards(spark, root)).map(i =>
      IvfIndex.compactTombstones(spark, shardPath(root, i), idCol, embCol))

  /** EXACT batch top-k across the shard set: each shard answers its
    * local top-k through its own layout (plain IVF or composed — read
    * from the shard, so mixed sets serve correctly mid-migration), and
    * the union re-ranks once, answer-sized (≤ n·k rows per query reach
    * the final `topk_by`). Containment argument in the object doc.
    */
  def queryTopK(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1): DataFrame = {
    val n = nShards(spark, root)
    def shardHits(i: Int): DataFrame = {
      val p = shardPath(root, i)
      IvfLayout.of(spark, p).queryTopK(spark, p, idCol, embCol, queries,
          queryIdCol, queryVecCol, k, threshold, probeWidth)
        .select(col(queryIdCol), col(idCol), col("sim"))
    }
    // shards probe CONCURRENTLY: the per-shard machinery runs its jobs
    // at construction (the probe plan's and each pass's collects), so a
    // sequential loop would serialize n independent probe pipelines
    // behind one driver thread. Determinism
    // is untouched — results are ordered by the final global re-rank,
    // and per-shard answers are exact regardless of completion order.
    graft.util.Par.all(spark, "ShardedIvf.queryTopK")(
        (0 until n).map(i => () => shardHits(i)): _*)
      .reduce(_ unionByName _)
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
  }

  /** Persist the per-(cell, label) radius artifact on every shard —
    * the build-once half of sharded FILTERED serving
    * ([[IvfIndex.buildLabelMeta]] per shard; each shard's artifact
    * folds through that shard's routed upserts and self-stales on its
    * compactions, exactly the single-index lifecycle).
    */
  def buildLabelMeta(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String,
      labels: DataFrame,
      labelCol: String): Unit = {
    // independent per-shard artifacts into disjoint paths — overlap
    // them like [[build]] (§2.6)
    graft.util.Par.all(spark, "ShardedIvf.buildLabelMeta")(
      (0 until nShards(spark, root)).map { i => () =>
        IvfIndex.buildLabelMeta(spark, shardPath(root, i), idCol, embCol,
          labels, labelCol)
      }: _*)
  }

  /** FILTERED batch top-k across the shard set — the [[queryTopK]]
    * composition applied to [[IvfIndex.queryTopKFiltered]] /
    * [[IvfPq.queryTopKFiltered]] (routed by each shard's own layout):
    * exact by the same containment, per label — a query's global
    * filtered winner is a label-mate in exactly one shard and ranks
    * ≤ k among that shard's mates, so the union of per-shard filtered
    * top-ks contains the answer and one answer-sized global re-rank
    * finishes. The full corpus labels frame is passed to every shard
    * (each shard's joins restrict it to the shard's own rows); the
    * high-cardinality fallback branches PER SHARD, which is the right
    * granularity — fanout is a per-index cost property.
    */
  def queryTopKFiltered(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1,
      maxLabelFanout: Long = 1000000L): DataFrame = {
    val n = nShards(spark, root)
    def shardHits(i: Int): DataFrame = {
      val p = shardPath(root, i)
      IvfLayout.of(spark, p).queryTopKFiltered(spark, p, idCol, embCol, queries,
          queryIdCol, queryVecCol, labels, labelCol, k, threshold,
          probeWidth, maxLabelFanout)
        .select(col(queryIdCol), col(idCol), col("sim"))
    }
    graft.util.Par.all(spark, "ShardedIvf.queryTopKFiltered")(
        (0 until n).map(i => () => shardHits(i)): _*)
      .reduce(_ unionByName _)
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
  }

  /** Per-shard maintenance diagnostics: [[IvfIndex.stats]] rows with a
    * `shard` column — the input to the rolling split/compact/re-cluster
    * decisions.
    */
  def stats(spark: SparkSession, root: String): DataFrame =
    (0 until nShards(spark, root)).map(i =>
        IvfIndex.stats(spark, shardPath(root, i))
          .withColumn("shard", lit(i)))
      .reduce(_ unionByName _)
      .select(col("shard"), col("centroid_id"), col("occupancy"),
        col("radius"), col("n_files"))

  /** Integrity verification across the shard set — the fsck an
    * operator runs after an incident ([[IndexCheck.checkIvf]], each
    * shard audited through its own layout, plain or composed), with a
    * `shard` column like [[stats]]: one (shard, check, ok, observed)
    * row per invariant per shard, so "which shard is corrupt" is one
    * filter, not N hand-looped calls.
    */
  def check(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String): DataFrame =
    (0 until nShards(spark, root)).map(i =>
        IndexCheck.checkIvf(spark, shardPath(root, i), idCol, embCol)
          .withColumn("shard", lit(i)))
      .reduce(_ unionByName _)
      .select(col("shard"), col("check"), col("ok"), col("observed"))

  /** Hot-cell occupancy repair across the shard set, one shard at a
    * time ([[IvfIndex.splitToConvergence]] — composed shards move
    * their code rows with their cells inside the same pass): each
    * shard's pass commits through its own generation swap, so this is
    * rolling maintenance like [[compactTombstones]]
    * — queries exact throughout, and a window can repair a subset of
    * shards and stop.
    */
  def splitToConvergence(
      spark: SparkSession,
      root: String,
      idCol: String,
      embCol: String,
      occupancyCap: Long): Unit =
    (0 until nShards(spark, root)).foreach(i =>
      IvfIndex.splitToConvergence(spark, shardPath(root, i), idCol, embCol,
        occupancyCap))

  /** Full centroid-placement repair of ONE shard — the rolling
    * re-cluster that is the point of sharding the maintenance
    * lifecycle: the fresh generation builds off the query path and
    * swaps atomically ([[IvfIndex.recluster]] / [[IvfPq.recluster]] by
    * the shard's own layout), while every other shard — and, by the
    * marker-fenced swap, this one — keeps serving exactly. Re-cluster
    * a drifted shard set one shard per maintenance window; no
    * whole-set fence exists anywhere.
    */
  def reclusterShard(
      spark: SparkSession,
      root: String,
      shard: Int,
      idCol: String,
      embCol: String,
      params: IvfIndex.Params = IvfIndex.Params(),
      pqParams: PqIndex.Params = PqIndex.Params()): Unit = {
    val n = nShards(spark, root)
    require(shard >= 0 && shard < n,
      s"ShardedIvf.reclusterShard: shard $shard outside [0, $n)")
    val p = shardPath(root, shard)
    graft.util.Generation.recover(spark, p)
    if (IvfPq.isComposed(spark, p))
      IvfPq.recluster(spark, p, idCol, embCol,
        IvfPq.Params(ivf = params, pq = pqParams))
    else IvfIndex.recluster(spark, p, idCol, embCol, params)
  }
}
