package graft

import graft.query.{PqIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqIndexSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pq-$tag").toString

  test("isotropic fixture: residual-bounded top-k EQUALS the exact top-k") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("fixture")
    PqIndex.build(e, "vec_id", "embedding", dir)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // near-uniform vectors are the worst case for the bound: residuals
    // are large, the fetch degrades toward a full scan — and the answer
    // must still be exactly the brute-force ranking
    val pq = PqIndex.queryTopK(spark, dir, "vec_id", "embedding",
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
    PqIndex.build(e, "vec_id", "embedding", dir, SmallParams)
    val queries = e.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val pq = PqIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(pq) == topkSet(exact))
  }

  test("clustered corpus: exact answer AND the fetch is bound-pruned") {
    val e = clustered(200L)
    val dir = tmp("clustered")
    PqIndex.build(e, "vec_id", "embedding", dir, SmallParams)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val (pq, cands) = PqIndex.queryTopKWithCands(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(pq) == topkSet(exact))
    // the exact-verify fetch touched a small fraction of the
    // (query × corpus) frame — the compressed scan did the discarding
    val fetched = cands.count()
    assert(fetched < 8L * 200L / 2,
      s"bound pruned nothing: fetched $fetched of ${8L * 200L} pairs")
  }

  test("upsert: encode-against-frozen-codebooks append stays exact") {
    val e = clustered(200L)
    val dir = tmp("upsert")
    PqIndex.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, SmallParams)
    PqIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    assert(spark.read.parquet(s"$dir/codes").count() == 200L)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val pq = PqIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(pq) == topkSet(exact))
  }

  test("stats reports rows/files for both tables through the maintenance cycle") {
    val e = clustered(200L)
    val dir = tmp("stats")
    PqIndex.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, SmallParams)
    def snap(): Map[String, (Long, Long)] = PqIndex.stats(spark, dir)
      .groupBy("table")
      .agg(sum(col("rows")).as("r"), sum(col("n_files")).as("f"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val s0 = snap()
    assert(s0("codes")._1 == 180L && s0("vectors")._1 == 180L,
      s"build totals wrong: $s0")

    PqIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    val s1 = snap()
    assert(s1("codes")._1 == 200L && s1("vectors")._1 == 200L,
      s"post-upsert totals wrong: $s1 — a codes/vectors mismatch is the " +
        "torn-upsert signal this report exists to surface")
    assert(s1("codes")._2 > s0("codes")._2 || s1("vectors")._2 > s0("vectors")._2,
      "appends should fragment some bucket")

    PqIndex.compactIndex(spark, dir)
    val s2 = snap()
    assert(s2("codes")._1 == 200L && s2("vectors")._1 == 200L)
    assert(s2("codes")._2 + s2("vectors")._2 < s1("codes")._2 + s1("vectors")._2,
      "compaction did not shrink file counts")
  }

  test("a conflicting duplicate id fails the job naming the id") {
    import spark.implicits._
    val e = clustered(50L)
    val dir = tmp("dup")
    PqIndex.build(e, "vec_id", "embedding", dir, SmallParams)
    val conflicting = Seq(
      (1000L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1000L, Array(0f, 1.0f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      PqIndex.upsert(spark, dir, "vec_id", "embedding", conflicting)
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
    PqIndex.build(e.repartition(2), "vec_id", "embedding", d1, SmallParams)
    // a different input partitioning AND a different shuffle width: the
    // driver-side fit and the subspace-ordered residual fold must not
    // see either
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      PqIndex.build(e.repartition(7), "vec_id", "embedding", d2, SmallParams)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select("vec_id", "codes", "resid")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(codes(d1) == codes(d2))
  }
}
