package graft

import graft.query.{IvfIndex, SimilaritySearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("IVF build partitions cells + radii; bounded top-k EQUALS the exact top-k") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    IvfIndex.build(e, "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 8))

    // partitioned layout on disk + one radius row per populated cell
    val cellDirs = new java.io.File(s"$dir/cells").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).length
    assert(cellDirs > 1 && cellDirs <= 8)
    assert(spark.read.parquet(s"$dir/cells").count() == e.count())
    val meta = spark.read.parquet(s"$dir/cells_meta")
    assert(meta.count() == cellDirs)
    // single-member cells have radius exactly 0 (centroid == member)
    assert(meta.filter(col("radius") < 0).isEmpty)

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // the fixture embeddings are near-uniform on the sphere — the worst
    // case for IVF pruning — and the radius bound must still return the
    // exact answer (it degrades to probing more cells, never to misses)
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("cells and assignment are bit-identical at any input layout and shuffle width") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    def buildAt(parts: Int, shuffle: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ivf-det$parts").toString
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
        IvfIndex.build(e.repartition(parts), "vec_id", "embedding", dir,
          IvfIndex.Params(nCentroids = 8))
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      dir
    }
    def meta(d: String) = spark.read.parquet(s"$d/cells_meta")
      .collect().map(r => (r.getAs[Int]("centroid_id"),
        r.getSeq[Float](r.fieldIndex("center")), r.getAs[Double]("radius")))
      .sortBy(_._1).toSeq
    def assignment(d: String) = spark.read.parquet(s"$d/cells")
      .select(col("vec_id").cast("long"), col("centroid_id").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val (a, b) = (buildAt(2, 3), buildAt(7, 11))
    assert(meta(a).size > 1)
    assert(meta(a) == meta(b), "cells_meta (center, radius) moved with the layout")
    assert(assignment(a) == assignment(b), "the (id, centroid_id) assignment moved")
  }

  test("the fit clamps k to the distinct vectors: one zero-radius cell each") {
    import spark.implicits._
    // 30 rows, 3 distinct directions, 16 centroids asked for
    val e = (0L until 30L).map { i =>
      val v = Array.fill(4)(0f); v((i % 3).toInt) = 1f + i; (i, v)
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-clamp").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 16))
    val meta = spark.read.parquet(s"$dir/cells_meta")
    assert(meta.count() == 3)
    assert(meta.filter(col("radius") =!= 0.0).isEmpty)
  }

  test("clustered corpus: bound stays exact where pruning actually bites") {
    import spark.implicits._
    // 4 tight clusters around orthogonal axes: cell radii are small, so
    // the triangle bound prunes distant cells; the answer must still be
    // identical to brute force
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      val axis = (i % 4).toInt
      val base = Array.fill(8)(0.0f)
      base(axis) = 1.0f
      val v = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-clustered").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.1)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.1)
    assert(topkSet(ivf) == topkSet(exact))
  }

  /** Brute-force k-NN graph: all ordered pairs minus self, ranked. */
  private def bruteGraph(
      e: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        graft.functions.cosine_sim(col("a.embedding"), col("b.embedding")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  test("self k-NN graph over the fixture EQUALS brute force (isotropic worst case)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-graph").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    val graph = IvfIndex.selfKnnGraph(spark, dir, "vec_id", "embedding", k = 5)
    assert(topkSet(graph) == topkSet(bruteGraph(e, 5)))
    // every vector is a graph source with exactly k neighbors, none itself
    assert(graph.groupBy("query_id").count().filter(col("count") =!= 5).isEmpty)
    assert(graph.filter(col("query_id") === col("vec_id")).isEmpty)
  }

  test("contrastive pairs equal the brute-force per-side ranking (fixture)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-contrast").toString
    val e = Tables(spark, Sf0001, "embeddings")
    IvfIndex.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 8))
    val mined = IvfIndex.contrastivePairs(spark, dir, "vec_id", "embedding",
      e.select("vec_id", "label"), "label")

    // brute force: per (query, same?) best by (sim desc, id asc)
    import org.apache.spark.sql.expressions.Window
    val wSide = Window.partitionBy(col("query_id"), col("same"))
      .orderBy(col("sim").desc, col("nid").asc)
    val best = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        col("b.vec_id").as("nid"),
        (col("a.label") === col("b.label")).as("same"),
        graft.functions.cosine_sim(col("a.embedding"), col("b.embedding")).as("sim"))
      .withColumn("rn", row_number().over(wSide))
      .filter(col("rn") === 1)
    val expect = e.select(col("vec_id").as("query_id"), col("label"))
      .join(best.filter(col("same"))
        .select(col("query_id"), col("nid").as("pos_id"),
          round(col("sim"), 6).as("pos_sim")), Seq("query_id"), "left")
      .join(best.filter(!col("same"))
        .select(col("query_id"), col("nid").as("neg_id"),
          round(col("sim"), 6).as("neg_sim")), Seq("query_id"), "left")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim")
        .collect().map(_.toSeq).toSet
    assert(rows(mined) == rows(expect))
    assert(mined.count() == e.count())
    // every mined row has a hard negative (10 labels => other labels
    // always exist); positives exist for every label with >= 2 members
    assert(mined.filter(col("neg_id").isNull).isEmpty)
  }

  test("per-(cell,label) radii probe strictly fewer (query,cell) pairs than the shared floor") {
    import spark.implicits._
    // four well-separated axis blobs; labels span two blobs each. Every
    // query's own cell is single-label, so its negative floor is
    // missing (-1) and the SHARED-floor criterion probes every foreign
    // cell. Per-side pruning skips (a) same-single-label foreign cells
    // on the negative side (no different-label member to find) and (b)
    // far same-label cells on the positive side (tight positive floor
    // beats their bound) — the high-label-structure case the
    // refinement exists for.
    val rnd = new scala.util.Random(41)
    val dim = 8
    val rows = (0 until 200).map { i =>
      val blob = i % 4
      val v = Array.tabulate(dim)(d =>
        (if (d == blob * 2) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v, if (blob < 2) "X" else "Y")
    }
    val e = rows.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-probes").toString
    IvfIndex.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 4))
    val (result, perSide, sharedFloor) = IvfIndex.contrastivePairsWithProbes(
      spark, dir, "vec_id", "embedding", e.select("vec_id", "label"), "label")
    val nPerSide = perSide.count()
    val nShared = sharedFloor.count()
    // refinement, not just difference: per-side pruning must be a
    // subset of the shared-floor selection...
    assert(perSide.join(sharedFloor,
      Seq("query_id", "centroid_id"), "left_anti").isEmpty,
      "per-side probed a pair the shared floor would have skipped")
    // ...and on the label-structured corpus it must actually bite
    assert(nPerSide < nShared,
      s"per-side $nPerSide vs shared-floor $nShared — refinement didn't prune")
    // and the mined pairs stay EXACT vs brute force on this topology
    import org.apache.spark.sql.expressions.Window
    val wSide = Window.partitionBy(col("query_id"), col("same"))
      .orderBy(col("sim").desc, col("nid").asc)
    val best = e.as("a").join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("nid"),
        (col("a.label") === col("b.label")).as("same"),
        graft.functions.cosine_sim(col("a.embedding"), col("b.embedding")).as("sim"))
      .withColumn("rn", row_number().over(wSide))
      .filter(col("rn") === 1)
    val expect = e.select(col("vec_id").as("query_id"), col("label"))
      .join(best.filter(col("same"))
        .select(col("query_id"), col("nid").as("pos_id"),
          round(col("sim"), 6).as("pos_sim")), Seq("query_id"), "left")
      .join(best.filter(!col("same"))
        .select(col("query_id"), col("nid").as("neg_id"),
          round(col("sim"), 6).as("neg_sim")), Seq("query_id"), "left")
    def rows6(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "label", "pos_id", "pos_sim", "neg_id", "neg_sim")
        .collect().map(_.toSeq).toSet
    assert(rows6(result) == rows6(expect))
  }

  test("upsert-maintained index EQUALS a fresh build's exact answer (fixture)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-upsert").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
      "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))

    // every vector is in exactly one cell after the append
    assert(spark.read.parquet(s"$dir/cells").count() == e.count())
    // radii still cover every member: re-derive each member's distance to
    // its cell centroid and compare against the stored radius
    val meta = spark.read.parquet(s"$dir/cells_meta")
    val members = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("__raw").setOutputCol("__f").setP(2.0)
      .transform(spark.read.parquet(s"$dir/cells")
        .withColumn("__raw", org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>"))))
      .select(col("centroid_id"),
        org.apache.spark.ml.functions.vector_to_array(col("__f"))
          .cast("array<float>").as("__norm"))
    val uncovered = members.join(meta, "centroid_id")
      .withColumn("d", sqrt(graft.functions.l2_dist_sq(col("__norm"), col("center"))))
      .filter(col("d") > col("radius") + lit(1e-9))
    assert(uncovered.isEmpty)

    // the merged index answers exactly like brute force over the union
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("upsert collapses exact duplicate rows but rejects conflicting ones") {
    // the unique-batch-id contract is enforced inside the assignment
    // plan (assert_true in a filter) — this pins that the optimizer
    // does not prune the check away, that the failure names the id,
    // and that an at-least-once producer's EXACT retry (same id, same
    // embedding) stays benign instead of crash-looping the stream
    import spark.implicits._
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val fresh = e.filter(col("vec_id") >= 50 && col("vec_id") < 60)

    val okDir = java.nio.file.Files.createTempDirectory("graft-ivf-dup-ok").toString
    IvfIndex.build(e.filter(col("vec_id") < 50), "vec_id", "embedding", okDir,
      IvfIndex.Params(nCentroids = 4))
    IvfIndex.upsert(spark, okDir, "vec_id", "embedding",
      fresh.union(fresh.limit(1))) // exact duplicate row: collapsed
    assert(spark.read.parquet(s"$okDir/cells").count() == 60L,
      "exact duplicate was not collapsed to one indexed row")

    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-dup").toString
    IvfIndex.build(e.filter(col("vec_id") < 50), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 4))
    val conflicting = fresh.union(
      fresh.limit(1).withColumn("embedding",
        org.apache.spark.sql.functions.expr(
          "transform(embedding, x -> x + 1.0F)")))
    val err = intercept[Exception] {
      IvfIndex.upsert(spark, dir, "vec_id", "embedding", conflicting)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(err).exists(_.contains("duplicated id")),
      s"wrong failure: ${messages(err).mkString(" | ")}")
  }

  test("upsert outside every existing radius: growth is what keeps the bound exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // base corpus: two tight clusters on +x / +y
    val base = (0L until 100L).map { i =>
      val axis = (i % 2).toInt
      val v = Array.fill(8)(0.0f); v(axis) = 1.0f
      (i, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    // arrivals: a third direction no existing cell covers — their
    // assigned cells' radii MUST grow or the bound would prune them away
    val arrivals = (100L until 140L).map { i =>
      val v = Array.fill(8)(0.0f); v(2) = 1.0f
      (i, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-upsert-out").toString
    IvfIndex.build(base.toDF("vec_id", "embedding"), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 2))
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      arrivals.toDF("vec_id", "embedding"))

    val all = (base ++ arrivals).toDF("vec_id", "embedding")
    // query FROM the new direction: the true neighbors are all arrivals
    val queries = arrivals.take(4).toDF("query_id", "qvec")
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      all, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("self k-NN graph on a clustered corpus: exact where pruning bites") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map { i =>
      val axis = (i % 4).toInt
      val base = Array.fill(8)(0.0f)
      base(axis) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    val e = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-graph-cl").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val graph = IvfIndex.selfKnnGraph(spark, dir, "vec_id", "embedding", k = 3)
    assert(topkSet(graph) == topkSet(bruteGraph(e, 3)))
  }
}
