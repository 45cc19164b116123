package graft

import graft.query.{IvfIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The plain layout merges each pass's top-k on the driver. Streaming
  * semantic dedup asks for k = batch + 1 (up to 65,537) and gets a few
  * neighbours per query, so the merge's driver memory must follow the
  * hits, never k.
  */
class IvfLargeKSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("k far above the hits: exact answers, driver allocation follows the hits") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 400L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val e = corpus.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-largek").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    // 2,000 queries, each a jittered corpus vector: a handful of hits apiece
    val queries = (0L until 2000L).map { q =>
      (q, corpus((q % 400).toInt)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("query_id", "qvec").localCheckpoint()
    val k = 16385
    val threshold = 0.9

    def query() = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = k, threshold = threshold).collect()
    // warm: the first call also compiles the plans' generated code
    query()
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    val ivf = query()
    val allocated = mx.getCurrentThreadAllocatedBytes - before

    def set(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("rn"))).toSet
    val exact = SimilaritySearch.topKBatch(e, "embedding", "vec_id",
      queries, "query_id", "qvec", k = k, threshold = threshold)
      .select(col("query_id"), col("vec_id"), col("rn")).collect()
    assert(ivf.length == exact.length && set(ivf) == set(exact))
    assert(ivf.map(_.getAs[Long]("query_id")).distinct.length == 2000)
    assert(ivf.length < 10 * 2000, s"${ivf.length} hits: the fixture must stay sparse")
    // a k-sized list per query would add 2,000 × 16,385 × 16 B ≈ 524 MB
    // (579 MB measured in all); lists sized by the hits read 79 MB
    assert(allocated < (256L << 20), s"driver thread allocated ${allocated >> 20} MB")
  }
}
