package graft

import graft.query.{IvfIndex, IvfPq, PqIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The [[PqIndex]] codec through the index that serves it: a ONE-CELL
  * [[IvfPq]] (q105's layout), where no cell bound prunes and the code
  * bound alone decides the fetch.
  */
class PqIndexSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pq-$tag").toString

  private val OneCell = IvfIndex.Params(nCentroids = 1)

  private def build(e: org.apache.spark.sql.DataFrame, dir: String,
      pq: PqIndex.Params = PqIndex.Params()): Unit =
    IvfPq.build(e, "vec_id", "embedding", dir, IvfPq.Params(ivf = OneCell, pq = pq))

  test("isotropic fixture: residual-bounded top-k EQUALS the exact top-k") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("fixture")
    build(e, dir)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // near-uniform vectors are the worst case for the bound: residuals
    // are large, the fetch degrades toward a full scan — and the answer
    // must still be exactly the brute-force ranking
    val pq = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(pq) == topkSet(exact))
  }

  /** 4 tight clusters around orthogonal axes in 8-dim — the corpus
    * shape where PQ residuals are small and the bound actually prunes.
    */
  private def clustered(n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
  }

  private val SmallParams =
    PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)

  test("cold start: a corpus smaller than codebookSize builds, encodes and stays exact") {
    // the fit clamps K to the corpus size; the encoder must iterate
    // the CLAMPED codebook (regression: a static params.codebookSize
    // bound indexed past the centers array on exactly this shape)
    val e = clustered(5L)
    val dir = tmp("cold")
    build(e, dir, SmallParams)
    val queries = e.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val pq = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(pq) == topkSet(exact))
  }

  test("clustered corpus: exact answer AND the fetch is bound-pruned") {
    val e = clustered(200L)
    val dir = tmp("clustered")
    build(e, dir, SmallParams)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val r = IvfPq.retrieve(spark, dir, "vec_id", "embedding",
      "query_id", "qvec", threshold = 0.0, probeWidth = 1)(queries, 3, None)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(r.topK) == topkSet(exact))
    // one cell: every query scanned the whole corpus's codes, and the
    // exact-verify fetch still touched a small fraction of the
    // (query × corpus) frame — the compressed scan did the discarding
    assert(r.probed.count() == 8L)
    val fetched = r.candidates.count()
    assert(fetched < 8L * 200L / 2,
      s"bound pruned nothing: fetched $fetched of ${8L * 200L} pairs")
  }

  test("a conflicting duplicate id fails the job naming the id") {
    import spark.implicits._
    val e = clustered(50L)
    val dir = tmp("dup")
    build(e, dir, SmallParams)
    val conflicting = Seq(
      (1000L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1000L, Array(0f, 1.0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      IvfIndex.upsert(spark, dir, "vec_id", "embedding", conflicting)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(err).exists(m =>
      m != null && m.contains("1000") && m.contains("conflicting")))
  }

  test("codes are build-layout-independent (any shuffle, any layout)") {
    val e = clustered(120L)
    val d1 = tmp("det1")
    val d2 = tmp("det2")
    build(e.repartition(2), d1, SmallParams)
    // a different input partitioning AND a different shuffle width: the
    // driver-side fit and the subspace-ordered residual fold must not
    // see either
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      build(e.repartition(7), d2, SmallParams)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    def codes(d: String) = spark.read.parquet(s"$d/cell_codes")
      .select("vec_id", "codes", "resid")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(codes(d1) == codes(d2))
  }
}
