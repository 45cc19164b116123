package graft

import graft.query.IvfIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full re-cluster with atomic generation swap (q115's operator,
  * [[IvfIndex.recluster]]): result-invisibility, actual layout repair,
  * label-meta invalidation, the mid-swap crash matrix (readers roll a
  * crashed swap forward and never see a torn generation pair), and the
  * maintenance cadence knob.
  */
class ReclusterSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def clustered(n: Long, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def query(dir: String, e: DataFrame, k: Int = 3): Set[(Long, Long, Long)] =
    topkSet(IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") < 6)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "query_id", "qvec", k, threshold = 0.0))

  private def brute(e: DataFrame, k: Int = 3): Set[(Long, Long, Long)] = {
    val q = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    topkSet(e.crossJoin(broadcast(q))
      .withColumn("sim", graft.functions.cosine_sim(col("embedding"), col("qvec")))
      .filter(col("sim") > 0.0)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .groupBy("query_id")
      .agg(graft.functions.topk_by(col("vec_id"), col("sim"), lit(k)).as("t"))
      .select(col("query_id"), posexplode(col("t")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("long").as("rn")))
  }

  test("recluster is result-invisible and actually replaces the generation") {
    val e = clustered(200, 11)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu").toString
    // poor starting layout: 2 cells, then an append that drifts it
    IvfIndex.build(e.filter(col("vec_id") < 160), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 2))
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 160))
    assert(query(dir, e) == brute(e))
    val oldMeta = spark.read.parquet(s"$dir/cells_meta").count()
    IvfIndex.recluster(spark, dir, "vec_id", "embedding",
      IvfIndex.Params(nCentroids = 8))
    // same answers, new layout, same corpus, no swap residue
    assert(query(dir, e) == brute(e))
    val newMeta = spark.read.parquet(s"$dir/cells_meta").count()
    assert(oldMeta == 2L && newMeta == 8L,
      s"generation did not change shape: $oldMeta -> $newMeta")
    assert(spark.read.parquet(s"$dir/cells").count() == 200L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("_regen", "_retired_cells", "_retired_cells_meta", "recluster_pending")
      .foreach { d =>
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d")),
          s"swap residue left behind: $d")
      }
  }

  test("recluster invalidates persisted label metadata (same-shaped fingerprints)") {
    val e = clustered(160, 13).withColumn("label", pmod(col("vec_id"), lit(3)))
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-meta").toString
    IvfIndex.build(e.select("vec_id", "embedding"), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 4))
    IvfIndex.buildLabelMeta(spark, dir, "vec_id", "embedding",
      e.select("vec_id", "label"), "label")
    assert(IvfIndex.cachedLabelRadii(spark, dir, "label").isDefined)
    IvfIndex.recluster(spark, dir, "vec_id", "embedding",
      IvfIndex.Params(nCentroids = 4))
    // same nCentroids and row count: the fingerprint could collide, so
    // the artifact must be GONE, not merely stale-detected
    assert(IvfIndex.cachedLabelRadii(spark, dir, "label").isEmpty,
      "recluster left label metadata behind")
    // ... and the filtered path still answers exactly via the fallback
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val got = IvfIndex.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", e.select("vec_id", "label"), "label",
      k = 3, threshold = 0.0)
    assert(got.count() > 0)
  }

  test("mid-swap crash matrix: a reader rolls the swap forward, never sees a torn pair") {
    val e = clustered(160, 17)
    // crash points: after the marker write, after retiring one table,
    // after retiring both, after installing one — every prefix of the
    // rename sequence
    for (crashAfter <- 0 to 3) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-reclu-crash$crashAfter").toString
      IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 2))
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      // stage the fresh generation exactly as recluster does
      IvfIndex.build(spark.read.parquet(s"$dir/cells").select("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/_regen", IvfIndex.Params(nCentroids = 8))
      fs.create(p(s"$dir/_regen/_COMPLETE"), true).close()
      fs.create(p(s"$dir/recluster_pending"), true).close()
      // replay the rename sequence up to the crash point
      val renames = Seq(
        (s"$dir/cells", s"$dir/_retired_cells"),
        (s"$dir/cells_meta", s"$dir/_retired_cells_meta"),
        (s"$dir/_regen/cells", s"$dir/cells"),
        (s"$dir/_regen/cells_meta", s"$dir/cells_meta"))
      renames.take(crashAfter).foreach { case (a, b) =>
        assert(fs.rename(p(a), p(b)), s"test setup rename failed: $a")
      }
      // ... crash. The next reader must complete the swap and answer
      // exactly over the full corpus with the NEW generation
      assert(query(dir, e) == brute(e), s"crash point $crashAfter answered wrong")
      assert(spark.read.parquet(s"$dir/cells_meta").count() == 8L,
        s"crash point $crashAfter did not roll forward to the new generation")
      assert(!fs.exists(p(s"$dir/recluster_pending")),
        s"crash point $crashAfter left the marker")
      Seq("_regen", "_retired_cells", "_retired_cells_meta").foreach { d =>
        assert(!fs.exists(p(s"$dir/$d")),
          s"crash point $crashAfter left residue: $d")
      }
    }
  }

  test("a crash during post-swap cleanup converges too (marker + installed generation)") {
    val e = clustered(120, 19)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-clean").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 2))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    IvfIndex.build(spark.read.parquet(s"$dir/cells").select("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/_regen", IvfIndex.Params(nCentroids = 4))
    fs.create(p(s"$dir/_regen/_COMPLETE"), true).close()
    fs.create(p(s"$dir/recluster_pending"), true).close()
    Seq((s"$dir/cells", s"$dir/_retired_cells"),
      (s"$dir/cells_meta", s"$dir/_retired_cells_meta"),
      (s"$dir/_regen/cells", s"$dir/cells"),
      (s"$dir/_regen/cells_meta", s"$dir/cells_meta"))
      .foreach { case (a, b) => assert(fs.rename(p(a), p(b))) }
    // crash after all renames, before any cleanup: retired + _regen
    // shell + marker all still present
    assert(query(dir, e) == brute(e))
    assert(spark.read.parquet(s"$dir/cells_meta").count() == 4L)
    assert(!fs.exists(p(s"$dir/recluster_pending")))
  }

  test("composed recluster swaps the whole artifact set and stays exact, across encodings") {
    import graft.query.{IvfPq, PqIndex}
    val e = clustered(200, 29)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-pq").toString
    val pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)
    // poor RESIDUAL build + upsert, then re-cluster to a GLOBAL layout:
    // the swap must replace cells/meta/codebooks/codes AND purge the
    // enc tables, or isResidual would misprice the fresh global codes
    IvfPq.build(e.filter(col("vec_id") < 160), "vec_id", "embedding", dir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq, residual = true))
    IvfIndex.upsert(spark, dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 160))
    assert(IvfPq.isResidual(spark, dir))
    def q(): Set[(Long, Long, Long)] =
      topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        e.filter(col("vec_id") < 6)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "query_id", "qvec", k = 3, threshold = 0.0))
    val globalP = IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8), pq = pq)
    IvfPq.recluster(spark, dir, "vec_id", "embedding", globalP)
    assert(!IvfPq.isResidual(spark, dir),
      "residual->global recluster left stale enc tables behind")
    assert(spark.read.parquet(s"$dir/cells_meta").count() == 8L)
    assert(spark.read.parquet(s"$dir/cells").count() == 200L)
    assert(q() == brute(e))
    // ... and back to residual: enc tables minted fresh, still exact
    val resP = IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 4), pq = pq,
      residual = true)
    IvfPq.recluster(spark, dir, "vec_id", "embedding", resP)
    assert(IvfPq.isResidual(spark, dir),
      "global->residual recluster did not mint enc tables")
    assert(q() == brute(e))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("_regen", "recluster_pending").foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$d")),
        s"composed swap residue left behind: $d")
    }
  }

  test("composed mid-swap crash: the artifact-list marker replays the full plan") {
    import graft.query.{IvfPq, PqIndex}
    val e = clustered(160, 31)
    val pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)
    val oldP = IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq)
    val newP = IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8), pq = pq)
    // crash points: marker written (0), one artifact retired (1), all
    // retired (4), half installed (6)
    for (crashAfter <- Seq(0, 1, 4, 6)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-reclu-pqcrash$crashAfter").toString
      IvfPq.build(e, "vec_id", "embedding", dir, oldP)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      IvfPq.build(spark.read.parquet(s"$dir/cells").select("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir/_regen", newP)
      // the staged generation's own shape (KMeans may leave a cell
      // empty — cells_meta carries only populated cells)
      val regenMeta = spark.read.parquet(s"$dir/_regen/cells_meta").count()
      assert(regenMeta > 2L)
      val arts = Seq("cells", "cells_meta", "cell_codes", "codebooks")
      fs.create(p(s"$dir/_regen/_COMPLETE"), true).close()
      val m = fs.create(p(s"$dir/recluster_pending"), true)
      m.write(arts.mkString("\n").getBytes("UTF-8")); m.close()
      val renames =
        arts.map(a => (s"$dir/$a", s"$dir/_retired_$a")) ++
          arts.map(a => (s"$dir/_regen/$a", s"$dir/$a"))
      renames.take(crashAfter).foreach { case (a, b) =>
        assert(fs.rename(p(a), p(b)), s"test setup rename failed: $a")
      }
      // the next reader completes the swap: exact answers on the new
      // generation, no residue
      val got = topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        e.filter(col("vec_id") < 6)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "query_id", "qvec", k = 3, threshold = 0.0))
      assert(got == brute(e), s"composed crash point $crashAfter answered wrong")
      assert(spark.read.parquet(s"$dir/cells_meta").count() == regenMeta,
        s"composed crash point $crashAfter did not roll forward")
      (Seq("_regen", "recluster_pending") ++ arts.map(a => s"_retired_$a"))
        .foreach { d =>
          assert(!fs.exists(p(s"$dir/$d")),
            s"composed crash point $crashAfter left residue: $d")
        }
    }
  }

  test("the plain re-cluster face sees a composed index caught mid-swap as composed") {
    import graft.query.{IvfPq, PqIndex}
    val e = clustered(160, 41)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-pqguard").toString
    val pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)
    IvfPq.build(e, "vec_id", "embedding", dir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq))
    IvfPq.build(spark.read.parquet(s"$dir/cells").select("vec_id", "embedding"),
      "vec_id", "embedding", s"$dir/_regen",
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 4), pq = pq))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash after every live artifact was retired, before any install:
    // no cell_codes directory is visible until the swap rolls forward
    val arts = Seq("cells", "cells_meta", "cell_codes", "codebooks")
    fs.create(p(s"$dir/_regen/_COMPLETE"), true).close()
    val m = fs.create(p(s"$dir/recluster_pending"), true)
    m.write(arts.mkString("\n").getBytes("UTF-8")); m.close()
    arts.foreach(a => assert(fs.rename(p(s"$dir/$a"), p(s"$dir/_retired_$a"))))
    intercept[IllegalArgumentException] {
      IvfIndex.recluster(spark, dir, "vec_id", "embedding")
    }
    assert(fs.exists(p(s"$dir/cell_codes")) && fs.exists(p(s"$dir/codebooks")),
      "a plain re-cluster purged the composed artifacts")
  }

  test("composed maintenance cadence: reclusterEvery re-clusters the composed index, fenced") {
    import graft.query.{IvfPq, PqIndex}
    val e = clustered(180, 37)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-pqmaint").toString
    val pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)
    // the cadence re-cluster keeps the index's PQ geometry and re-fits
    // at the default cell count
    IvfPq.build(e.filter(col("vec_id") < 60), "vec_id", "embedding", dir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq))
    def qAll(): Set[(Long, Long, Long)] =
      topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        e.filter(col("vec_id") < 6)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "query_id", "qvec", k = 3, threshold = 0.0))
    assert(graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id",
      "embedding", e.filter(col("vec_id") >= 60 && col("vec_id") < 120),
      batchId = 1L, reclusterEvery = Some(2L)))
    assert(spark.read.parquet(s"$dir/cells_meta").count() == 2L)
    assert(graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id",
      "embedding", e.filter(col("vec_id") >= 120),
      batchId = 2L, reclusterEvery = Some(2L)))
    assert(spark.read.parquet(s"$dir/cells_meta").count() > 2L,
      "composed cadence re-cluster did not fire")
    assert(qAll() == brute(e))
    // a replayed batch id is fenced
    assert(!graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id",
      "embedding", e.limit(10), batchId = 2L,
      reclusterEvery = Some(2L)))
    assert(qAll() == brute(e))
  }

  test("maintenance cadence knob: reclusterEvery re-clusters on schedule, fenced") {
    val e = clustered(180, 23)
    val dir = java.nio.file.Files.createTempDirectory("graft-reclu-maint").toString
    IvfIndex.build(e.filter(col("vec_id") < 60), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 2))
    // batch 1: no recluster (1 % 2 != 0); batch 2: recluster fires
    assert(graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 60 && col("vec_id") < 120), batchId = 1L,
      splitCap = None, reclusterEvery = Some(2L)))
    assert(spark.read.parquet(s"$dir/cells_meta").count() == 2L)
    assert(graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id", "embedding",
      e.filter(col("vec_id") >= 120), batchId = 2L,
      splitCap = None, reclusterEvery = Some(2L)))
    // recluster re-fits at the live corpus size (default params 16,
    // clamped by n) — the layout visibly changed generations
    assert(spark.read.parquet(s"$dir/cells_meta").count() > 2L)
    assert(query(dir, e) == brute(e))
    // a replayed batch id is fenced: nothing re-runs, answers unchanged
    assert(!graft.streaming.IndexMaintenance.applyBatch(dir, "vec_id", "embedding",
      e.limit(10), batchId = 2L, splitCap = None, reclusterEvery = Some(2L)))
    assert(query(dir, e) == brute(e))
  }
}
