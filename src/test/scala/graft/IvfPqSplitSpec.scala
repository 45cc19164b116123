package graft

import graft.query.{IvfIndex, IvfPq, PqIndex, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-cell split maintenance for the COMPOSED IVF+PQ index: the codes
  * move with their cells (global codebooks make codes cell-independent),
  * committed with them in one generation swap. Result-invisibility at
  * fixture scale is gated end-to-end by q111; these pin what the
  * oracle can't isolate — codes/cells agreement and the
  * maintenance-face loop (PartialRewriteCrashSpec kills the commit).
  */
class IvfPqSplitSpec extends AnyFunSuite with SharedSpark {

  private val params = IvfPq.Params(
    ivf = IvfIndex.Params(nCentroids = 2),
    pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8))

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfpqsplit-$tag").toString

  /** 4 tight clusters around orthogonal axes; with nCentroids=2 each
    * built cell holds TWO clusters (the IvfSplitSpec fixture).
    */
  private def clustered(n: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
  }

  private def perCellCounts(table: String, dir: String): Map[Long, Long] =
    spark.read.parquet(s"$dir/$table")
      .groupBy(col("centroid_id").cast("long").as("c")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def assertInSync(dir: String, total: Long): Unit = {
    val cells = perCellCounts("cells", dir)
    val codes = perCellCounts("cell_codes", dir)
    assert(cells == codes, s"cells/codes disagree: $cells vs $codes")
    assert(cells.values.sum == total)
    val codeDirs = new java.io.File(s"$dir/cell_codes").listFiles()
      .filter(_.getName.startsWith("centroid_id="))
      .map(_.getName.stripPrefix("centroid_id=").toLong).toSet
    assert(codeDirs == cells.keySet,
      s"codes directories $codeDirs != populated cells ${cells.keySet}")
  }

  private def queryBoth(e: DataFrame, dir: String)
      : (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    (topkSet(got), topkSet(exact))
  }

  test("composed split moves codes with cells and stays exact") {
    val e = clustered(200L)
    val dir = tmp("basic")
    IvfPq.build(e, "vec_id", "embedding", dir, params)
    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding",
      occupancyCap = 60L)
    assert(report.split.nonEmpty)
    assert(report.newIds.map(_._1).sorted == report.split.sorted,
      "newIds must pair every split cell with its fresh id")
    assert(!new java.io.File(s"$dir/_regen").exists(),
      "a completed split must leave no stage behind")
    assertInSync(dir, 200L)
    assert(perCellCounts("cells", dir).values.forall(_ <= 60L))
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("upsert → splitToConvergence composition stays exact and in sync") {
    val e = clustered(200L)
    val dir = tmp("upsert")
    IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, params)
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    IvfIndex.splitToConvergence(spark, dir, "vec_id", "embedding", occupancyCap = 60L)
    assertInSync(dir, 200L)
    assert(perCellCounts("cells", dir).values.forall(_ <= 60L))
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("maintenance face: applyBatch with splitCap keeps composed occupancy bounded") {
    val e = clustered(240L)
    val dir = tmp("maintain")
    IvfPq.build(e.filter(col("vec_id") < 80), "vec_id", "embedding", dir, params)
    val applied = graft.streaming.IndexMaintenance.applyBatch(
      dir, "vec_id", "embedding", e.filter(col("vec_id") >= 80), batchId = 0L,
      splitCap = Some(60L))
    assert(applied)
    assertInSync(dir, 240L)
    assert(perCellCounts("cells", dir).values.forall(_ <= 60L),
      "splitCap did not bound occupancy under the maintenance face")
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
    // replay fenced: the same batch id is a no-op
    assert(!graft.streaming.IndexMaintenance.applyBatch(
      dir, "vec_id", "embedding", e.filter(col("vec_id") >= 80), batchId = 0L,
      splitCap = Some(60L)))
    assertInSync(dir, 240L)
  }
}
