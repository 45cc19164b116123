package graft

import graft.query.{IvfIndex, IvfPq, PqIndex, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Residual (IVFADC) encoding for the composed index
  * ([[IvfPq.Params.residual]]): exactness under the same oracle as
  * every retrieval family, the fetch-shrink that is the mode's entire
  * point, and the encoding-generation story that keeps codes valid
  * under upsert → split → upsert maintenance without ever
  * re-encoding. q112 gates the full lifecycle at fixture scale.
  */
class IvfPqResidualSpec extends AnyFunSuite with SharedSpark {

  private val params = IvfPq.Params(
    ivf = IvfIndex.Params(nCentroids = 4),
    pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8),
    residual = true)

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfpqres-$tag").toString

  /** 4 tight clusters around orthogonal axes — the geometry residual
    * encoding exists for: cluster radius ≈ 0.05, so residuals live in
    * a ball two orders of magnitude smaller than the unit sphere the
    * global codebooks must cover.
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

  test("isotropic fixture: residual-mode top-k EQUALS the exact top-k") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = tmp("fixture")
    val p = IvfPq.Params(residual = true)
    IvfPq.build(e, "vec_id", "embedding", dir, p)
    assert(IvfPq.isResidual(spark, dir))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(got) == topkSet(exact))
  }

  test("clustered corpus: residual bounds shrink the exact-verify fetch vs global") {
    val e = clustered(400L)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def fetchCount(residual: Boolean): Long = {
      val p = params.copy(residual = residual)
      val dir = tmp(if (residual) "res" else "glob")
      IvfPq.build(e, "vec_id", "embedding", dir, p)
      val r = IvfPq.retrieve(spark, dir, "vec_id", "embedding",
        "query_id", "qvec", threshold = 0.0, probeWidth = 1)(queries, 3, None)
      val (result, cands) = (r.topK, r.candidates)
      // both modes stay exact while the fetch shrinks
      val exact = SimilaritySearch.topKBatch(
        e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
      assert(topkSet(result) == topkSet(exact))
      cands.count()
    }
    val global = fetchCount(residual = false)
    val residual = fetchCount(residual = true)
    assert(residual < global,
      s"residual encoding did not shrink the fetch: $residual vs $global")
    // a decisive margin, not noise: ≥25% fewer fetches on this fixture
    // (the shrink grows with cluster tightness relative to codebook
    // resolution; here the intra-cluster sim spread is so small that
    // bound-width ties keep a floor of candidates alive in BOTH modes)
    assert(residual <= (global * 3) / 4,
      s"residual fetch $residual not clearly tighter than global $global")
  }

  test("upsert → split → upsert lifecycle: generations accumulate, answers stay exact") {
    val e = clustered(240L)
    val dir = tmp("lifecycle")
    // build on ~80%, upsert 10%, split everything hot, upsert the
    // last 10% INTO the split-minted cells — the generation-minting
    // path a maintained deployment exercises
    IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) >= 2),
      "vec_id", "embedding", dir, params)
    val enc0 = spark.read.parquet(s"$dir/enc_centers").count()
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    // pre-split upserts reuse the build generations (no mint)
    assert(spark.read.parquet(s"$dir/enc_centers").count() == enc0)

    IvfIndex.splitToConvergence(spark, dir, "vec_id", "embedding", occupancyCap = 40L)
    val (gotSplit, exactSplit) = queryBoth(
      e.filter(pmod(col("vec_id"), lit(10)) =!= 1), dir)
    assert(gotSplit == exactSplit, "split broke residual-mode answers")

    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 1))
    // the post-split upsert hit split-minted cells: fresh generations
    val enc1 = spark.read.parquet(s"$dir/enc_centers").count()
    assert(enc1 > enc0, "no generation was minted for split-minted cells")
    // every code row's generation resolves
    val dangling = spark.read.parquet(s"$dir/cell_codes")
      .join(spark.read.parquet(s"$dir/enc_centers"), Seq("enc_id"), "left_anti")
    assert(dangling.isEmpty, "a code row references a missing generation")
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("reencodeCells collapses drifted generations and tightens the fetch") {
    val e = clustered(240L)
    val dir = tmp("reencode")
    IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) >= 2),
      "vec_id", "embedding", dir, params)
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 0))
    IvfIndex.splitToConvergence(spark, dir, "vec_id", "embedding", occupancyCap = 40L)
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(pmod(col("vec_id"), lit(10)) === 1))

    // post-split state: moved rows price against pre-split centers —
    // the stats report must SHOW the drift
    def drifts(): Map[Long, (Long, Double)] = IvfPq.stats(spark, dir)
      .select(col("centroid_id"), col("generations"), col("enc_drift"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val before = drifts()
    assert(before.values.exists(_._2 > 1e-6),
      s"no generation drift visible after a re-centering split: $before")

    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def fetch(): Long = IvfPq.retrieve(spark, dir, "vec_id", "embedding",
      "query_id", "qvec", threshold = 0.0, probeWidth = 1)(queries, 3, None)
      .candidates.count()
    val fetchBefore = fetch()

    IvfPq.reencodeCells(spark, dir, "vec_id", "embedding")
    val after = drifts()
    assert(after.values.forall { case (g, d) => g == 1L && d < 1e-6 },
      s"re-encode left drifted generations: $after")
    // superseded generations are retired: enc_centers holds exactly
    // one generation per cell, so per-query LUT work stays bounded
    assert(spark.read.parquet(s"$dir/enc_centers").count() ==
      spark.read.parquet(s"$dir/cells_meta").count(),
      "re-encode did not retire superseded generations")
    // nothing dangles, counts hold, answers identical, fetch no worse
    assert(spark.read.parquet(s"$dir/cell_codes")
      .join(spark.read.parquet(s"$dir/enc_centers"), Seq("enc_id"), "left_anti")
      .isEmpty)
    assert(spark.read.parquet(s"$dir/cell_codes").count() == 240L)
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
    assert(fetch() <= fetchBefore,
      "re-encoding against current centroids loosened the bounds")
  }

  test("maintenance closes the drift loop: reencodeDriftCap repairs in the fenced batch") {
    import graft.streaming.IndexMaintenance
    val e = clustered(240L)
    // two IDENTICAL indexes (builds are bit-deterministic) fed the same
    // two maintenance batches; only B sets reencodeDriftCap — so the
    // final corpora are identical and the fetch diagnostic compares
    // drift-left-alone against drift-repaired directly
    val dirA = tmp("drift-open")
    val dirB = tmp("drift-closed")
    Seq(dirA, dirB).foreach(d => IvfPq.build(
      e.filter(pmod(col("vec_id"), lit(10)) >= 2), "vec_id", "embedding", d, params))
    // batch 0: upsert 10% + split to convergence — the split re-centers
    // cells while moved rows keep pricing against pre-split centers:
    // drift injected on both sides
    Seq(dirA, dirB).foreach(d => assert(IndexMaintenance.applyBatch(
      d, "vec_id", "embedding", e.filter(pmod(col("vec_id"), lit(10)) === 0),
      0L, splitCap = Some(40L))))
    def maxDrift(d: String): Double = IvfPq.stats(spark, d)
      .agg(max(col("enc_drift"))).head.getDouble(0)
    assert(maxDrift(dirA) > 1e-6, "the split injected no visible drift")
    // batch 1: the last 10% — B's batch also carries the drift cap, so
    // the repair runs INSIDE the fenced batch, after its split pass
    assert(IndexMaintenance.applyBatch(
      dirA, "vec_id", "embedding", e.filter(pmod(col("vec_id"), lit(10)) === 1),
      1L, splitCap = Some(40L)))
    assert(IndexMaintenance.applyBatch(
      dirB, "vec_id", "embedding", e.filter(pmod(col("vec_id"), lit(10)) === 1),
      1L, splitCap = Some(40L), reencodeDriftCap = Some(1e-6)))
    assert(maxDrift(dirA) > 1e-6, "the un-capped side lost its drift")
    assert(maxDrift(dirB) <= 1e-6,
      s"the capped side kept drift ${maxDrift(dirB)} after its fenced repair")
    // identical corpora, identical answers, and the repaired side's
    // tighter bounds fetch LESS for the exact verify
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def fetch(d: String): Long = IvfPq.retrieve(spark, d,
      "vec_id", "embedding", "query_id", "qvec",
      threshold = 0.0, probeWidth = 1)(queries, 3, None).candidates.count()
    val (gotA, exactA) = queryBoth(e, dirA)
    assert(gotA == exactA)
    val (gotB, exactB) = queryBoth(e, dirB)
    assert(gotB == exactB)
    assert(fetch(dirB) <= fetch(dirA),
      s"drift repair loosened the fetch: ${fetch(dirB)} vs ${fetch(dirA)}")
    // the detection pass alone: nothing left over the cap → no-op
    assert(IvfPq.reencodeDrifted(spark, dirB, "vec_id", "embedding",
      cap = 1e-6).isEmpty)
    // ... and a global-codebook index has no generations: uncondition-
    // ally callable from maintenance, always a no-op there
    val dirG = tmp("drift-global")
    IvfPq.build(e, "vec_id", "embedding", dirG, params.copy(residual = false))
    assert(IvfPq.reencodeDrifted(spark, dirG, "vec_id", "embedding",
      cap = 0.0).isEmpty)
  }

  test("a global rebuild over a residual directory retires the mode cleanly") {
    val e = clustered(120L)
    val dir = tmp("mode-switch")
    IvfPq.build(e, "vec_id", "embedding", dir, params)
    assert(IvfPq.isResidual(spark, dir))
    // rebuild the SAME path in global mode: stale enc tables must not
    // survive to misread the fresh global codes as residual
    val globalParams = params.copy(residual = false)
    IvfPq.build(e, "vec_id", "embedding", dir, globalParams)
    assert(!IvfPq.isResidual(spark, dir),
      "stale enc tables survived a global rebuild — mode misread")
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("the one upsert face lands a composed index's codes with its cells") {
    val e = clustered(80L)
    val dir = tmp("upsert-face")
    IvfPq.build(e.filter(col("vec_id") < 60), "vec_id", "embedding", dir, params)
    // a cells-only append would leave the new vectors code-less and
    // silently invisible to the composed scan: the face reads the
    // layout from disk and appends the codes in the same call
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 60))
    assert(spark.read.parquet(s"$dir/cell_codes").count() == 80L)
    assert(IvfPq.stats(spark, dir).collect()
      .forall(r => r.getAs[Long]("codes") == r.getAs[Long]("occupancy")))
    val (got, exact) = queryBoth(e, dir)
    assert(got == exact)
  }

  test("a conflicting duplicate id fails the residual build loudly") {
    import spark.implicits._
    // global mode aborts on (same id, different embedding) — residual
    // mode must too, not silently encode an arbitrary copy
    val e = clustered(60L).unionByName(Seq(
      (5L, Array(0f, 0f, 0f, 0f, 1.0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding"))
    val dir = tmp("dup")
    val err = intercept[Exception] {
      IvfPq.build(e, "vec_id", "embedding", dir, params)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(err).exists(m => m != null &&
        (m.contains("duplicated id") || m.contains("conflicting"))),
      s"wrong failure: ${messages(err).take(3)}")
  }

}
