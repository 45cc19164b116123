package graft

import graft.query.{IvfIndex, IvfPq, PqIndex, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hot-cell split maintenance for the COMPOSED IVF+PQ index: the codes
  * move with their cells (global codebooks make codes cell-independent),
  * under the split_pending marker + repairPendingCodes crash story.
  * Result-invisibility at fixture scale is gated end-to-end by q111;
  * these pin what the oracle can't isolate — codes/cells agreement,
  * both crash windows reconciling, and the maintenance-face loop.
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

  private def cp(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => cp(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
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
    assert(!new java.io.File(s"$dir/split_pending").exists(),
      "a completed split must clear its marker")
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

  test("crash before the cells commit: repair drops the fresh codes, stays exact") {
    import spark.implicits._
    val e = clustered(200L)
    val dir = tmp("crash-early")
    IvfPq.build(e, "vec_id", "embedding", dir, params)
    val snap = tmp("crash-early-snap")
    cp(new java.io.File(dir), new java.io.File(snap))

    // real split, then reconstruct the state a kill after the fresh-
    // codes write but BEFORE the cells overwrite leaves: cells, meta
    // and the old code directories as before the split, the fresh code
    // directories present, the marker present
    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding", 60L)
    assert(report.newIds.nonEmpty)
    Seq("cells", "cells_meta").foreach { t =>
      rm(new java.io.File(s"$dir/$t")); cp(new java.io.File(s"$snap/$t"), new java.io.File(s"$dir/$t"))
    }
    report.newIds.foreach { case (old, _) =>
      rm(new java.io.File(s"$dir/cell_codes/centroid_id=$old"))
      cp(new java.io.File(s"$snap/cell_codes/centroid_id=$old"),
        new java.io.File(s"$dir/cell_codes/centroid_id=$old"))
    }
    report.newIds.toDF("old_id", "new_id").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/split_pending")

    // even crashed, the pre-split view is complete: queries stay exact
    val (gotCrashed, exactCrashed) = queryBoth(e, dir)
    assert(gotCrashed == exactCrashed, "the crashed-early state lost answers")

    // and the stats report SHOWS the crashed state: the fresh code
    // directories have no cells row, so they surface as codes > 0
    // with occupancy 0 (a meta-driven join would hide exactly these)
    val orphanRows = IvfPq.stats(spark, dir)
      .filter(col("occupancy") === 0 && col("codes") > 0)
      .select(col("centroid_id")).collect().map(_.getLong(0)).toSet
    assert(report.newIds.map(_._2).toSet.subsetOf(orphanRows),
      s"stats hid the orphan code directories: $orphanRows")

    // next maintenance pass: repair reconciles (fresh code directories
    // whose cells never committed are deleted), then the split re-runs
    IvfIndex.splitToConvergence(spark, dir, "vec_id", "embedding", occupancyCap = 60L)
    assert(!new java.io.File(s"$dir/split_pending").exists())
    assertInSync(dir, 200L)
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("crash before the code shrink: repair removes stale duplicates, stays exact") {
    import spark.implicits._
    val e = clustered(200L)
    val dir = tmp("crash-late")
    IvfPq.build(e, "vec_id", "embedding", dir, params)
    val snap = tmp("crash-late-snap")
    cp(new java.io.File(dir), new java.io.File(snap))

    // real split, then reconstruct the state a kill after the meta
    // swap but BEFORE the old-directory shrink leaves: everything
    // committed except the old code directories, which still hold
    // stale copies of the moved side-1 rows; marker present
    val report = IvfIndex.splitHotCells(spark, dir, "vec_id", "embedding", 60L)
    assert(report.newIds.nonEmpty)
    report.newIds.foreach { case (old, _) =>
      rm(new java.io.File(s"$dir/cell_codes/centroid_id=$old"))
      cp(new java.io.File(s"$snap/cell_codes/centroid_id=$old"),
        new java.io.File(s"$dir/cell_codes/centroid_id=$old"))
    }
    report.newIds.toDF("old_id", "new_id").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/split_pending")
    assert(spark.read.parquet(s"$dir/cell_codes").count() > 200L,
      "the reconstructed state should carry duplicate code rows")
    // the stats report surfaces the desync operationally:
    // codes > occupancy in the stale old cells
    val statsBroken = IvfPq.stats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getAs[Long]("codes")))).toMap
    assert(report.newIds.map(_._1).exists(c =>
        statsBroken(c)._2 > statsBroken(c)._1),
      s"stats did not flag the duplicate codes: $statsBroken")
    // queries racing the crashed state must never return the same
    // vector at two ranks (the fetch dedups duplicate candidates) —
    // the floor inflation may transiently weaken answers, duplicates
    // in the OUTPUT would be a wrong shape
    val queriesB = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val broken = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queriesB, "query_id", "qvec", k = 3, threshold = 0.0)
    val pairs = broken.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length,
      "a stale duplicate occupied two ranks in the crashed state")

    // repair directly (what the next pass runs at its head): the old
    // directories shrink to the committed cells assignment
    val repaired = IvfIndex.repairPendingCodes(spark, dir, "vec_id")
    assert(repaired.toSet == report.newIds.toSet)
    assert(!new java.io.File(s"$dir/split_pending").exists())
    assertInSync(dir, 200L)
    // and the report reads healthy again: codes == occupancy per cell
    val statsFixed = IvfPq.stats(spark, dir).collect()
    assert(statsFixed.forall(r => r.getAs[Long]("codes") == r.getLong(1)),
      "stats still reports a desync after repair")
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
