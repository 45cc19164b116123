package graft

import graft.query.{IvfIndex, IvfPq, PqIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfPqSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfpq-$tag").toString

  test("isotropic fixture: stacked bounds still return the exact top-k") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("fixture")
    IvfPq.build(e, "vec_id", "embedding", dir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8)))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(got) == topkSet(exact))
  }

  test("upsert: cell + frozen-codebook code appends stay exact; compaction invisible") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("upsert")
    val params = IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8))
    IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, params)
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    assert(spark.read.parquet(s"$dir/cell_codes").count() == e.count())

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def answer() = topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0, 1))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(answer() == exact)
    val reports = IvfIndex.compactIndex(spark, dir)
    assert(reports.forall(r => r.filesAfter <= r.filesBefore))
    assert(answer() == exact, "compaction changed composed-index answers")
  }

  test("clustered corpus: exact answer, cells pruned AND fetches pruned") {
    import spark.implicits._
    // 4 orthogonal clusters, each a dense CORE (30%) plus a diffuse
    // SHELL (70%, offset 0.35 along a side dimension). Core queries'
    // top-k lives in the core, so the cell bound prunes foreign cells
    // and the code bound prunes the same cell's shell — a cell whose
    // members are uniformly query-close prunes at level 1 only, which
    // is the honest behavior (the code bound can't split what the
    // similarities don't split).
    val rnd = new scala.util.Random(29)
    val e = (0L until 400L).map { i =>
      val cluster = (i % 4).toInt
      val base = Array.fill(8)(0.0f)
      base(cluster * 2) = 1.0f
      if ((i / 4) % 10 >= 3)
        base((cluster * 2 + 1 + (i % 3).toInt) % 8) += 0.5f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.04f))
    }.toDF("vec_id", "embedding")
    val dir = tmp("clustered")
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 16))
    IvfPq.build(e, "vec_id", "embedding", dir, params)
    // ids 0..7 are core members (i/4 <= 1) of the four clusters
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val r = IvfPq.retrieve(spark, dir, "vec_id", "embedding",
      "query_id", "qvec", threshold = 0.0, probeWidth = 1)(queries, 3, None)
    val (got, scannedCells, fetched) = (r.topK, r.probed, r.candidates)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(got) == topkSet(exact))
    // level 1: most (query, cell) pairs never scanned
    val nScanned = scannedCells.count()
    assert(nScanned < 8L * 4L / 2,
      s"cell bound pruned nothing: scanned $nScanned of ${8 * 4} pairs")
    // level 2: of the ~100 scanned own-cell members per query, the
    // shell majority must be discarded by the code bound pre-fetch
    val nFetched = fetched.count()
    assert(nFetched < 8L * 50L,
      s"code bound pruned nothing: fetched $nFetched pairs")
  }
}
