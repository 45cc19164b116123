package graft

import graft.query.{IvfIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-cell split maintenance: result-invisibility is gated end-to-end
  * by q106; these pin the properties the fixture oracle can't isolate —
  * radius tightening, the degenerate-cell fail-safe, composition with
  * upsert, and occupancy actually dropping.
  */
class IvfSplitSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfsplit-$tag").toString

  /** 4 tight clusters around orthogonal axes; with nCentroids=2 each
    * built cell holds TWO clusters, so a split along the max-variance
    * dimension should separate them.
    */
  private def clustered(n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
  }

  test("split is result-invisible, halves occupancy, tightens radii") {
    val e = clustered(200L)
    val dir = tmp("clustered")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 2))
    val before = spark.read.parquet(s"$dir/cells_meta")
      .select(col("centroid_id").cast("long"), col("radius"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = 60L)
    assert(report.degenerate.isEmpty)
    assert(report.split.nonEmpty)

    // every cell now under the cap; one extra cell per split
    val sizes = spark.read.parquet(s"$dir/cells")
      .groupBy("centroid_id").count()
      .select(col("centroid_id").cast("long"), col("count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.size == before.size + report.newCells)
    assert(sizes.values.forall(_ <= 60L),
      s"occupancy not restored: $sizes")
    assert(sizes.values.sum == 200L)

    // a cell holding two orthogonal clusters splits into tighter cells;
    // side 1 of split cell i gets id maxId+1+i (ascending-old-id order)
    // — the deterministic id contract
    val after = spark.read.parquet(s"$dir/cells_meta")
      .select(col("centroid_id").cast("long"), col("radius"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxId = before.keys.max
    report.split.sorted.zipWithIndex.foreach { case (old, i) =>
      val child = maxId + 1 + i
      assert(after(old) < before(old) && after(child) < before(old),
        s"radius did not tighten for split cell $old: " +
          s"before=${before(old)} after=(${after(old)}, ${after(child)})")
    }

    // and the answer is still exactly the brute-force ranking
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("an all-identical over-cap cell is left whole and reported") {
    import spark.implicits._
    // one cell of 30 identical vectors: zero variance on every
    // dimension — the split rule has nothing to cut by, and the
    // fail-safe must keep the cell whole (exact dedup upstream owns
    // this pathology) rather than emit an empty side
    val e = (0L until 30L).map(i =>
      (i, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val dir = tmp("degenerate")
    // k=2 over identical points: both centroids coincide, every row
    // lands in one populated cell (meta only records populated cells)
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 2))

    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = 20L)
    assert(report.degenerate.size == 1)
    assert(report.split.isEmpty)
    assert(spark.read.parquet(s"$dir/cells_meta").count() == 1L)

    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("append → split composition stays exact (the maintenance loop)") {
    val e = clustered(200L)
    val dir = tmp("upsert-split")
    IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 2))
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = 60L)
    assert(report.split.nonEmpty)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("cold cell directories are not rewritten (pruned maintenance)") {
    import spark.implicits._
    // skewed corpus: one dense cluster (120 members) + three sparse
    // ones — with a cap between them exactly one cell is hot
    val rnd = new scala.util.Random(23)
    val e = (0L until 180L).map { i =>
      val axis = if (i < 120) 0 else ((i % 3).toInt + 1) * 2
      val base = Array.fill(8)(0.0f)
      base(axis) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
    val dir = tmp("cold")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))

    def dirState(): Map[String, Set[(String, Long)]] =
      new java.io.File(s"$dir/cells").listFiles()
        .filter(_.getName.startsWith("centroid_id="))
        .map(d => d.getName ->
          d.listFiles().map(f => (f.getName, f.lastModified())).toSet)
        .toMap
    val before = dirState()
    val hotSizes = spark.read.parquet(s"$dir/cells")
      .groupBy("centroid_id").count()
      .select(col("centroid_id").cast("long"), col("count"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cap just under the largest cell: only the max-occupancy cell(s)
    // are hot, every smaller cell must stay untouched on disk
    val cap = hotSizes.values.max - 1
    val hot = hotSizes.filter(_._2 > cap).keySet
    assert(hot.size < hotSizes.size, "need at least one cold cell")

    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = cap)
    assert(report.split.toSet == hot && hot.nonEmpty)

    // cold directories byte-for-byte untouched; hot ones rewritten
    val after = dirState()
    hotSizes.keySet.diff(hot).foreach { cold =>
      assert(after(s"centroid_id=$cold") == before(s"centroid_id=$cold"),
        s"cold cell $cold was rewritten")
    }
    hot.foreach { h =>
      assert(after(s"centroid_id=$h") != before(s"centroid_id=$h"),
        s"hot cell $h was not rewritten")
    }
  }

  test("stats reports occupancy/radius/files through the maintenance cycle") {
    val e = clustered(120L)
    val dir = tmp("stats")
    IvfIndex.build(e.filter(col("vec_id") < 100), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 4))
    def stat() = IvfIndex.stats(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val s0 = stat()
    assert(s0.values.map(_._1).sum == 100L)
    assert(s0.values.forall(v => v._2 >= 0.0 && v._3 >= 1L))

    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 100))
    val s1 = stat()
    assert(s1.values.map(_._1).sum == 120L)
    // appends fragment: some touched cell gained files
    assert(s1.values.map(_._3).sum > s0.values.map(_._3).sum)

    IvfIndex.compactIndex(spark, dir)
    val s2 = stat()
    assert(s2.values.map(_._1).sum == 120L)
    assert(s2.values.map(_._3).sum < s1.values.map(_._3).sum,
      "compaction did not shrink the per-cell file counts")
  }

  test("a no-hot-cells pass is a cheap no-op") {
    val e = clustered(80L)
    val dir = tmp("noop")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val metaBefore = spark.read.parquet(s"$dir/cells_meta").count()
    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = 1000L)
    assert(report.split.isEmpty && report.degenerate.isEmpty)
    assert(spark.read.parquet(s"$dir/cells_meta").count() == metaBefore)
  }
}
