package graft

import graft.query.{IvfIndex, PqIndex, ShardedIvf, SimilaritySearch, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sharded (horizontally composed) retrieval
  * ([[graft.query.ShardedIvf]]): exact by containment across hash
  * shards, lifecycle routed by the id hash, mixed plain/composed
  * shard sets exact mid-migration.
  */
class ShardedIvfSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-shard-$tag").toString

  test("sharded top-k EQUALS brute force; every row lives in exactly one shard") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val root = tmp("exact")
    ShardedIvf.build(e, "vec_id", "embedding", root, n = 3,
      IvfIndex.Params(nCentroids = 4))
    // disjoint cover: shard row counts sum to the corpus with no overlap
    val perShard = (0 until 3).map(i =>
      spark.read.parquet(s"${ShardedIvf.shardPath(root, i)}/cells"))
    assert(perShard.map(_.count()).sum == e.count())
    assert(perShard.reduce(_ unionByName _)
      .select("vec_id").distinct().count() == e.count())

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(ShardedIvf.queryTopK(spark, root, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(got == exact, "sharded retrieval diverged from brute force")
  }

  test("upsert and delete route by the id hash; serving stays exact " +
      "through the routed lifecycle; rolling compaction folds per shard") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val root = tmp("lifecycle")
    // build over 80%, upsert the held-out fifth, delete every 9th
    ShardedIvf.build(e.filter(pmod(col("vec_id"), lit(10)) < 8),
      "vec_id", "embedding", root, n = 3, IvfIndex.Params(nCentroids = 4))
    ShardedIvf.upsert(spark, root, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) >= 8))
    ShardedIvf.delete(spark, root, "vec_id",
      e.filter(pmod(col("vec_id"), lit(9)) === 4).select("vec_id"))

    val live = e.filter(pmod(col("vec_id"), lit(9)) =!= 4)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec",
      k = 5, threshold = 0.0))
    assert(topkSet(ShardedIvf.queryTopK(spark, root, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)

    // tombstones landed only in the deleted ids' HOME shards
    (0 until 3).foreach { i =>
      val p = ShardedIvf.shardPath(root, i)
      if (Tombstones.exists(spark, p)) {
        val foreign = spark.read.parquet(Tombstones.path(p))
          .filter(pmod(hash(col(Tombstones.IdColumn)), lit(3)) =!= i).count()
        assert(foreign == 0L, s"shard $i holds another shard's tombstones")
      }
    }
    val reports = ShardedIvf.compactTombstones(spark, root, "vec_id", "embedding")
    assert(reports.map(_.rowsRemoved).sum == e.count() - live.count())
    assert((0 until 3).forall(i =>
      !Tombstones.exists(spark, ShardedIvf.shardPath(root, i))))
    assert(topkSet(ShardedIvf.queryTopK(spark, root, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)

    // per-shard stats surface carries the shard id
    val st = ShardedIvf.stats(spark, root)
    assert(st.select("shard").distinct().count() == 3)
    assert(st.agg(sum("occupancy")).head.getLong(0) == live.count())
  }

  test("filtered search across shards equals the label-equijoined exact " +
      "scan — with and without per-shard persisted label metadata") {
    val e = Tables(spark, Sf0001, "embeddings")
    val root = tmp("filtered")
    ShardedIvf.build(e.select("vec_id", "embedding"), "vec_id", "embedding",
      root, n = 3, IvfIndex.Params(nCentroids = 4))
    val labels = e.select(col("vec_id"), col("label"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val exact = queries.as("q")
      .join(e.select(col("vec_id"), col("embedding"), col("label")).as("c"),
        col("q.label") === col("c.label"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        graft.functions.cosine_sim(col("qvec"), col("c.embedding")).as("sim"))
      .filter(col("sim") > 0.0)
      .transform(graft.query.SimilaritySearch.topKExplode(
        _, "query_id", "vec_id", "sim", 4))
    def got() = topkSet(ShardedIvf.queryTopKFiltered(spark, root, "vec_id",
      "embedding", queries, "query_id", "qvec", labels, "label",
      k = 4, threshold = 0.0))
    assert(got() == topkSet(exact), "per-call-derived sharded filtered diverged")
    ShardedIvf.buildLabelMeta(spark, root, "vec_id", "embedding", labels, "label")
    assert(got() == topkSet(exact), "artifact-served sharded filtered diverged")
  }

  test("a mixed plain/composed shard set serves exactly (one-shard-at-a-" +
      "time migration)") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val root = tmp("mixed")
    ShardedIvf.build(e, "vec_id", "embedding", root, n = 2,
      IvfIndex.Params(nCentroids = 4))
    // migrate shard 1 to the composed layout; shard 0 stays plain.
    // The rows must MATERIALIZE before the in-place rebuild — the
    // build overwrites the very files a lazy read would pull from
    val p1 = ShardedIvf.shardPath(root, 1)
    graft.query.IvfPq.build(
      spark.read.parquet(s"$p1/cells").select("vec_id", "embedding")
        .localCheckpoint(),
      "vec_id", "embedding", p1,
      graft.query.IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 4)))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(ShardedIvf.queryTopK(spark, root, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(got == exact, "mixed-layout shard set diverged from brute force")
  }

  test("composed shard upserts encode with the BUILT PQ geometry " +
      "(pqParams threads through the routed append)") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val root = tmp("pqgeom")
    // non-default geometry: 4 subvectors of 16 dims (default is 8×8).
    // The upsert passes no geometry: the encode must read 4×16 from
    // the shards' codebooks, or its sub-slices would not match them
    val pq = PqIndex.Params(numSub = 4)
    ShardedIvf.build(e.filter(pmod(col("vec_id"), lit(10)) < 8),
      "vec_id", "embedding", root, n = 2, IvfIndex.Params(nCentroids = 4),
      composed = true, pqParams = pq)
    ShardedIvf.upsert(spark, root, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) >= 8))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(ShardedIvf.queryTopK(spark, root, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(got == exact,
      "upserted rows diverged — PQ geometry not threaded into the routed append")
    // the query side reads the geometry from the shard's codebooks. On
    // this isotropic fixture the bounds prune nothing, so the answers
    // above stay exact under any query geometry; a mismatched one shows
    // in the LUT, whose 8-float slices against 16-float centers price
    // every code as null
    val lut = PqIndex.queryLut(spark, ShardedIvf.shardPath(root, 0), queries,
      "query_id", "qvec")
    assert(lut.filter(size(col("__lut")) =!= 4 * 16 || exists(col("__lut"), _.isNull))
        .isEmpty, "query LUT not priced with the built PQ geometry")
  }

  test("per-shard fsck and rolling one-shard re-cluster: exact mid-maintenance") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val root = tmp("maint")
    ShardedIvf.build(e, "vec_id", "embedding", root, n = 3,
      IvfIndex.Params(nCentroids = 4))

    // healthy set: every invariant verdict ok, one row block per shard
    val healthy = ShardedIvf.check(spark, root, "vec_id", "embedding")
    assert(healthy.filter(!col("ok")).isEmpty)
    assert(healthy.select("shard").distinct().count() == 3)

    // a deletion incident: fsck surfaces the pending tombstones on
    // exactly the routed home shards (contract state, ok stays true)
    ShardedIvf.delete(spark, root, "vec_id",
      e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
    val after = ShardedIvf.check(spark, root, "vec_id", "embedding")
    assert(after.filter(!col("ok")).isEmpty)
    val pendingShards = after
      .filter(col("check") === "pending_tombstones" && col("observed") > 0)
      .select("shard").collect().map(_.getInt(0)).toSet
    val homeShards = (0 until 3).filter(i =>
      Tombstones.exists(spark, ShardedIvf.shardPath(root, i))).toSet
    assert(pendingShards == homeShards && pendingShards.nonEmpty)

    val live = e.filter(pmod(col("vec_id"), lit(7)) =!= 3)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec",
      k = 5, threshold = 0.0))
    def got() = topkSet(ShardedIvf.queryTopK(spark, root, "vec_id",
      "embedding", queries, "query_id", "qvec", k = 5, threshold = 0.0))

    // rolling maintenance: re-cluster ONE shard; the set serves exactly
    // with the other two untouched, and the rebuilt shard's fresh
    // generation doubled as its physical compaction
    ShardedIvf.reclusterShard(spark, root, 1, "vec_id", "embedding",
      IvfIndex.Params(nCentroids = 5))
    assert(got() == exact, "shard set diverged after a one-shard re-cluster")
    assert(!Tombstones.exists(spark, ShardedIvf.shardPath(root, 1)))

    // routed occupancy repair across all shards (real splits at this
    // cap), still exact, and the post-maintenance fsck reads clean
    ShardedIvf.splitToConvergence(spark, root, "vec_id", "embedding", 40L)
    assert(got() == exact, "shard set diverged after routed splits")
    assert(ShardedIvf.check(spark, root, "vec_id", "embedding")
      .filter(!col("ok")).isEmpty)
  }
}
