package graft

import graft.query.{IndexCheck, IvfIndex, IvfPq, PqIndex, Tombstones}
import graft.util.Generation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crash matrix of the partial rewrites that publish through
  * [[Generation.commit]]: the hot-cell split (plain and composed), the
  * composed tombstone compaction, the residual re-encode and the
  * client's payload purge. Each is killed at every commit step in turn
  * ([[Generation.crashAtStep]]): before its marker, the old generation
  * keeps answering exactly and the next pass deletes the orphan stage;
  * after it, at each rename, the next reader rolls the swap forward and
  * answers as the finished operation does. Either way the index reads
  * healthy afterwards and no vector holds two ranks.
  */
class PartialRewriteCrashSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-crash-$tag").toString

  /** 4 tight clusters on orthogonal axes. */
  private def clustered(n: Long): DataFrame = {
    val rnd = new scala.util.Random(13)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
      ()
    }

  private def exists(path: String): Boolean = new java.io.File(path).exists()

  /** One partial rewrite under the matrix. `fixture` builds the pre-op
    * state into a directory, `op` runs the rewrite there, `answer`
    * reads the ranked rows no crash may change, `roots` are the
    * directories whose generations it commits, and `check` asserts
    * the finished operation's effect and health.
    */
  private case class Rewrite(
      fixture: String => Unit,
      op: String => Unit,
      answer: String => Seq[(Long, String, Long)],
      roots: String => Seq[String],
      check: String => Unit)

  private def noTwoRanks(rows: Seq[(Long, String, Long)]): Unit = {
    val pairs = rows.map(r => (r._1, r._2))
    assert(pairs.distinct.size == pairs.size, s"a row holds two ranks: $rows")
  }

  /** Kill `r` at every commit step in turn, on a fresh copy of its
    * fixture each time. @return the number of crash points exercised
    */
  private def crashMatrix(name: String, r: Rewrite): Int = {
    val template = tmp(name)
    r.fixture(template)
    def fresh(): String = {
      val d = tmp(s"$name-run")
      copyTree(java.nio.file.Paths.get(template), java.nio.file.Paths.get(d))
      d
    }
    val before = r.answer(template)
    val done = fresh()
    r.op(done)
    val after = r.answer(done)
    r.check(done)
    assert(after.toSet == before.toSet, s"$name is not result-invisible")
    noTwoRanks(after)
    Iterator.from(0).takeWhile { step =>
      val dir = fresh()
      Generation.crashAtStep.set(Some(step))
      val crashed =
        try { r.op(dir); false }
        catch { case _: Generation.InjectedCrash => true }
        finally Generation.crashAtStep.set(None)
      if (crashed) {
        val roots = r.roots(dir)
        if (step == 0)
          assert(roots.exists(root => exists(Generation.stagePath(root))) &&
            roots.forall(root => !exists(s"$root/recluster_pending")),
            s"$name: a crash before the marker should leave only an orphan stage")
        val read = r.answer(dir)
        assert(read.toSet == after.toSet, s"$name: crash at step $step answered wrong")
        noTwoRanks(read)
        roots.foreach { root =>
          assert(!exists(s"$root/recluster_pending"),
            s"$name: the reader after a crash at step $step left the marker under $root")
        }
        // the next pass deletes any orphan stage and finishes the work
        r.op(dir)
        roots.foreach { root =>
          val left = new java.io.File(root).list().filter(n =>
            n == "_regen" || n.startsWith("_retired_") || n.startsWith("recluster_pending"))
          assert(left.isEmpty, s"$name: crash at step $step left ${left.mkString(", ")} under $root")
        }
        assert(r.answer(dir).toSet == after.toSet)
        r.check(dir)
      }
      crashed
    }.size
  }

  /** The index's own layout's exact top-3 for the first 8 rows of `e`. */
  private def ivfAnswer(e: DataFrame)(dir: String): Seq[(Long, String, Long)] =
    graft.query.IvfLayout.of(spark, dir).queryTopK(spark, dir, "vec_id", "embedding",
        e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
        "query_id", "qvec", k = 3, threshold = 0.0)
      .select(col("query_id").cast("long"), col("vec_id").cast("string"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq

  private def healthy(dir: String, idCol: String = "vec_id"): Map[String, (Boolean, Long)] = {
    val checks = IndexCheck.checkIvf(spark, dir, idCol, "embedding").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(checks.values.forall(_._1), s"IndexCheck after recovery: $checks")
    if (checks.contains("codes_align"))
      assert(IvfPq.stats(spark, dir).collect()
        .forall(r => r.getAs[Long]("codes") == r.getAs[Long]("occupancy")),
        "IvfPq.stats reports a codes/occupancy desync after recovery")
    checks
  }

  private def metaCells(dir: String): Long =
    spark.read.parquet(s"$dir/cells_meta").count()

  private val pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)

  test("plain split: exact before its marker, rolled forward after it") {
    val e = clustered(80L)
    val points = crashMatrix("split", Rewrite(
      IvfIndex.build(e, "vec_id", "embedding", _, IvfIndex.Params(nCentroids = 1)),
      IvfIndex.splitHotCells(spark, _, "vec_id", "embedding", 60L),
      ivfAnswer(e), d => Seq(d),
      { d => healthy(d); assert(metaCells(d) == 2L, "the split did not land") }))
    // the marker, then retire + install of the old cell, install of the
    // fresh cell, retire + install of cells_meta
    assert(points == 6, s"$points crash points")
  }

  test("composed split: codes move with their cells at every crash point") {
    val e = clustered(80L)
    val points = crashMatrix("split-pq", Rewrite(
      IvfPq.build(e, "vec_id", "embedding", _,
        IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 1), pq = pq)),
      IvfIndex.splitHotCells(spark, _, "vec_id", "embedding", 60L),
      ivfAnswer(e), d => Seq(d),
      { d => healthy(d); assert(metaCells(d) == 2L, "the split did not land") }))
    assert(points == 9, s"$points crash points")
  }

  test("composed compactTombstones: masked before its marker, compacted after") {
    val e = clustered(80L)
    val dead = e.filter(pmod(col("vec_id"), lit(8)) === 2).select("vec_id")
    val live = e.join(dead, Seq("vec_id"), "left_anti")
    val points = crashMatrix("compact-pq", Rewrite(
      { d =>
        IvfPq.build(e, "vec_id", "embedding", d,
          IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq))
        IvfIndex.delete(spark, d, "vec_id", dead)
      },
      d => { IvfIndex.compactTombstones(spark, d, "vec_id", "embedding"); () },
      ivfAnswer(live), d => Seq(d),
      { d =>
        assert(healthy(d)("pending_tombstones")._2 == 0L)
        assert(!Tombstones.exists(spark, d))
        assert(spark.read.parquet(s"$d/cells").count() == 70L)
      }))
    assert(points == 7, s"$points crash points")
  }

  test("reencodeCells: codes and enc tables swap as one generation") {
    val e = clustered(80L)
    val points = crashMatrix("reencode", Rewrite(
      { d =>
        IvfPq.build(e, "vec_id", "embedding", d, IvfPq.Params(
          ivf = IvfIndex.Params(nCentroids = 1), pq = pq, residual = true))
        // the split re-centers both halves: their rows price against a
        // generation that is no longer any cell's centroid
        IvfIndex.splitHotCells(spark, d, "vec_id", "embedding", 60L)
      },
      IvfPq.reencodeCells(spark, _, "vec_id", "embedding"),
      ivfAnswer(e), d => Seq(d),
      { d =>
        healthy(d)
        val stats = IvfPq.stats(spark, d).collect()
        assert(stats.forall(r => r.getAs[Long]("generations") == 1L &&
          r.getAs[Double]("enc_drift") == 0.0), "the re-encode did not land")
        assert(spark.read.parquet(s"$d/enc_centers").count() == 2L,
          "superseded generations were kept")
      }))
    assert(points == 9, s"$points crash points")
  }

  private val mdxDocs = Seq(
    (1L,
      "## Context\nThe graft engine indexes MDX documentation for retrieval.\n" +
        "## Usage\nCall ingest then query with an embedded question string.\n"),
    (2L,
      "## Context\nSpark pipelines shuffle data between stages by key.\n" +
        "## Tuning\nBroadcast small tables and let AQE handle skewed joins.\n"))

  private def client = new GraftClient(spark,
    GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))

  /** A 4-chunk plain-IVF query index at `dir/ann`. */
  private def annFixture(dir: String): Unit = {
    val c = client
    c.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    c.buildQueryIndex(s"$dir/index", s"$dir/ann")
  }

  private def served(dir: String): Seq[(Long, String, Long)] = {
    val c = client
    val queries = Seq("Call ingest then query with an embedded question string.",
        "Broadcast small tables and let AQE handle skewed joins.")
      .zipWithIndex.map { case (p, i) => (i.toLong, c.embedText(p)) }
      .toDF("query_id", "qvec")
    c.queryIndexedBatch(s"$dir/ann", queries, "query_id", "qvec",
        threshold = -1.0, count = 4)
      .select(col("query_id"), col("content"), col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
  }

  private def payload(dir: String): Set[String] =
    spark.read.parquet(s"$dir/ann/payload").select("content").collect().map(_.getString(0)).toSet

  test("payload purge: every channel masked or compacted at every crash point") {
    val victim = "Broadcast small tables"
    val points = crashMatrix("purge", Rewrite(
      { d =>
        annFixture(d)
        client.deleteWhere(s"$d/ann", col("content").contains(victim))
      },
      d => client.compactDeletes(s"$d/ann"),
      served, d => Seq(s"$d/ann", s"$d/ann/ivf"),
      { d =>
        assert(payload(d).size == 3 && !payload(d).exists(_.contains(victim)))
        Seq(s"$d/ann", s"$d/ann/ivf").foreach(p => assert(!Tombstones.exists(spark, p)))
        healthy(s"$d/ann/ivf", "row_id")
      }))
    assert(points == 4, s"$points crash points")
  }

  test("a purge that empties every bucket it touches keeps every other bucket") {
    val dir = tmp("purge-only")
    annFixture(dir)
    val c = client
    val all = spark.read.parquet(s"$dir/ann/payload")
      .select(col("row_id"), col("content"), col("__rbucket")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val bucket = all.head._3
    val (gone, kept) = all.partition(_._3 == bucket)
    c.deleteRows(s"$dir/ann", gone.map(_._1).toDF("row_id"))
    c.compactDeletes(s"$dir/ann")
    assert(payload(dir) == kept.map(_._2).toSet,
      "a purge-only commit dropped or resurrected other buckets")
    assert(!exists(s"$dir/ann/payload/__rbucket=$bucket"))
    kept.map(_._3).distinct.foreach(b => assert(exists(s"$dir/ann/payload/__rbucket=$b")))
    assert(!exists(s"$dir/ann/_regen") && !exists(s"$dir/ann/recluster_pending"))
  }

  test("indexes torn by the older in-place rewrites: flagged, never clobbered, finished") {
    val e = clustered(80L)
    def fsck(d: String): Map[String, Boolean] =
      IndexCheck.checkIvf(spark, d, "vec_id", "embedding").collect()
        .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // a split killed between its cells write and its meta write left a
    // cell directory no cells_meta row lists
    val a = tmp("torn-split")
    IvfIndex.build(e, "vec_id", "embedding", a, IvfIndex.Params(nCentroids = 1))
    e.filter(col("vec_id") < 5).select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
      .write.parquet(s"$a/cells/centroid_id=5")
    assert(!fsck(a)("meta_matches_dirs"))
    // a split's fresh id lands above it and its install leaves it alone
    val report = IvfIndex.splitHotCells(spark, a, "vec_id", "embedding", 60L)
    assert(report.newIds == Seq((0L, 6L)), s"fresh ids ${report.newIds}")
    assert(spark.read.parquet(s"$a/cells/centroid_id=5").count() == 5L)

    // a composed compaction killed between its cells and codes rewrites
    val c = tmp("torn-compact")
    IvfPq.build(e, "vec_id", "embedding", c,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 2), pq = pq))
    val dead = e.filter(pmod(col("vec_id"), lit(8)) === 2).select("vec_id")
    IvfIndex.delete(spark, c, "vec_id", dead)
    spark.read.parquet(s"$c/cells").join(dead, Seq("vec_id"), "left_anti")
      .write.partitionBy("centroid_id").parquet(s"$c/_torn_cells")
    new scala.reflect.io.Directory(new java.io.File(s"$c/cells")).deleteRecursively()
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$c/_torn_cells"),
      java.nio.file.Paths.get(s"$c/cells"))
    assert(!fsck(c)("codes_align"))
    val live = e.join(dead, Seq("vec_id"), "left_anti")
    val queries = live.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = graft.query.SimilaritySearch.topKBatch(live, "embedding", "vec_id",
        queries, "query_id", "qvec", k = 3, threshold = 0.0)
      .select(col("query_id").cast("long"), col("vec_id").cast("string"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ivfAnswer(live)(c).toSet == exact, "the masked torn index answered wrong")
    // the codes side still holds tombstoned rows, so the rerun finds its cells
    IvfIndex.compactTombstones(spark, c, "vec_id", "embedding")
    assert(healthy(c)("pending_tombstones")._2 == 0L)
    assert(spark.read.parquet(s"$c/cell_codes").count() == 70L)
    assert(ivfAnswer(live)(c).toSet == exact)
  }
}
