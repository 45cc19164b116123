package graft

import graft.query.{IvfIndex, IvfLayout, IvfPq, PqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Attribute-filtered retrieval over the COMPOSED IVF+PQ index
  * (q114's operator, [[IvfPq.queryTopKFiltered]]): exactness against
  * the label-restricted brute force in BOTH encodings, label-driven
  * probe restriction through the code scan, the shared persisted
  * label-meta artifact, and the high-cardinality fallback branch
  * gated both ways.
  */
class FilteredPqSearchSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def bruteForce(e: DataFrame, queries: DataFrame, k: Int): Set[(Long, Long, Long)] =
    topkSet(e.select(col("vec_id"), col("embedding"), col("label").as("__cl"))
      .join(broadcast(queries), col("__cl") === col("label"))
      .withColumn("sim", graft.functions.cosine_sim(col("embedding"), col("qvec")))
      .filter(col("sim") > 0.0)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .groupBy("query_id")
      .agg(graft.functions.topk_by(col("vec_id"), col("sim"), lit(k)).as("t"))
      .select(col("query_id"), posexplode(col("t")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rn")))

  test("composed filtered top-k equals the label-restricted brute force (fixture)") {
    val e = Tables(spark, Sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-fix").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val got = IvfPq.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 5, threshold = 0.0)
    assert(topkSet(got) == bruteForce(e, queries, 5))
    // every returned row is a label-mate
    val bad = got.join(e.select(col("vec_id"), col("label").as("__cl")), "vec_id")
      .join(queries.select(col("query_id"), col("label")), "query_id")
      .filter(col("__cl") =!= col("label"))
    assert(bad.isEmpty, "a non-label-mate leaked into composed filtered results")
  }

  test("residual (IVFADC) encoding serves the filtered path exactly, through maintenance") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def rows(from: Long, until: Long) = (from until until).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f), (i % 3).toInt)
    }
    val e = rows(0L, 200L).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-res").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8),
      residual = true)
    // build 80%, upsert 20% — the filtered path must price rows across
    // BOTH accumulated encoding generations
    IvfPq.build(e.filter(col("vec_id") < 160).select("vec_id", "embedding"),
      "vec_id", "embedding", dir, params)
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 160).select("vec_id", "embedding"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val got = IvfPq.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 4, threshold = 0.0)
    assert(topkSet(got) == bruteForce(e, queries, 4))
  }

  test("label-aligned clusters: the code scan touches only cells holding the query's label") {
    import spark.implicits._
    // labels coincide with spatial clusters → each label lives in one
    // cell, so the per-(cell, label) bound must keep every scanned
    // (query, cell) pair inside the query's own label's cells — pinned
    // directly on the diagnostic frame, not just inferred from results
    val rnd = new scala.util.Random(31)
    val e = (0L until 200L).map { i =>
      val cluster = (i % 4).toInt
      val base = Array.fill(8)(0.0f)
      base(cluster * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f), cluster.toLong)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-clu").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val r = IvfPq.retrieve(spark, dir, "vec_id", "embedding",
      "query_id", "qvec", threshold = 0.0, probeWidth = 1)(queries, 3,
      Some(IvfLayout.LabelScope(e.select("vec_id", "label"), "label",
        IvfIndex.labelRadii(spark, dir, "vec_id", "embedding",
          e.select("vec_id", "label"), "label"))))
    val (got, scannedPairs) = (r.topK, r.probed)
    assert(topkSet(got) == bruteForce(e, queries, 3))
    // which cells hold which label (ground truth from the index itself)
    val cellsOfLabel = spark.read.parquet(s"$dir/cells")
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("label"), col("centroid_id").cast("long").as("centroid_id"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qLabel = queries.select(col("query_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scannedPairs.collect().foreach { r =>
      val q = r.getAs[Long]("query_id")
      val c = r.getAs[Any]("centroid_id").toString.toLong
      assert(cellsOfLabel((qLabel(q), c)),
        s"query $q (label ${qLabel(q)}) scanned cell $c which does not hold its label")
    }
    // and with one label per cluster, each query scanned exactly 1 cell
    val perQ = scannedPairs.groupBy("query_id").count().collect()
    perQ.foreach(r => assert(r.getLong(1) == 1L,
      s"query ${r.get(0)} scanned ${r.getLong(1)} cells; label-aligned clusters need 1"))
  }

  test("persisted label metadata serves the composed filtered path") {
    val e = Tables(spark, Sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-meta").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    IvfIndex.buildLabelMeta(spark, dir, "vec_id", "embedding",
      e.select("vec_id", "label"), "label")
    assert(IvfIndex.cachedLabelRadii(spark, dir, "label").isDefined,
      "the composed layout did not serve the shared label-meta artifact")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val got = IvfPq.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 5, threshold = 0.0)
    assert(topkSet(got) == bruteForce(e, queries, 5))
  }

  test("near-unique labels branch to the overfetch fallback (riding the composed engine) and stay exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // label = vec_id / 2 → every label has exactly 2 members; k = 3 >
    // group size exercises the untruncated/exhausted finish rule
    val e = (0L until 120L).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f), i / 2)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-hicard").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    // 60 distinct labels > maxLabelFanout = 16 → the fallback branch
    val (got, usedFallback) = IvfPq.queryTopKFilteredWithPath(
      spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 3, threshold = 0.0, probeWidth = 1, maxLabelFanout = 16L)
    assert(usedFallback, "high-cardinality labels did not take the fallback")
    assert(topkSet(got) == bruteForce(e, queries, 3))
    // the branch decision, both ways: a roomy fanout cap keeps the
    // label-radius path, same exact answers
    val (got2, usedFallback2) = IvfPq.queryTopKFilteredWithPath(
      spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 3, threshold = 0.0, probeWidth = 1, maxLabelFanout = 1000000L)
    assert(!usedFallback2, "a roomy fanout cap still took the fallback")
    assert(topkSet(got2) == topkSet(got))
  }

  test("multi-label (IN-set) filtered top-k over the composed index stays exact") {
    val e = Tables(spark, Sf0001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-any").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        array(col("label"), col("label") + lit(1)).as("lbls"))
    val got = IvfPq.queryTopKFilteredAny(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", "lbls", e.select("vec_id", "label"), "label",
      k = 5, threshold = 0.0)
    val exact = e.select(col("vec_id"), col("embedding"), col("label").as("__cl"))
      .join(broadcast(queries), expr("array_contains(lbls, __cl)"))
      .withColumn("sim", graft.functions.cosine_sim(col("embedding"), col("qvec")))
      .filter(col("sim") > 0.0)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .groupBy("query_id")
      .agg(graft.functions.topk_by(col("vec_id"), col("sim"), lit(5)).as("t"))
      .select(col("query_id"), posexplode(col("t")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rn"))
    assert(topkSet(got) ==
      exact.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("a query whose label is absent from the corpus returns nothing") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val e = (0L until 60L).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 2).toInt * 4) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f), (i % 2).toLong)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-absent").toString
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 2),
      pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8))
    IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir, params)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        when(col("vec_id") < 2, col("label")).otherwise(lit(99L)).as("label"))
    val got = IvfPq.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 3, threshold = 0.0)
    val byQuery = got.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.contains(0L) && byQuery.contains(1L))
    assert(!byQuery.contains(2L) && !byQuery.contains(3L),
      "an absent label produced hits")
  }
}
