package graft

import graft.query.{AnnIndex, IvfIndex, IvfPq, LexicalSearch, PqIndex, SimilaritySearch, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row deletion across the index families (the [[Tombstones]] design):
  * tombstone-masked serving is EXACT against brute force on the live
  * corpus, physical compaction is result-invisible and idempotent,
  * floors are provably not poisoned by deleted rows (the whole-cluster
  * deletion shape), the re-insert guard holds, and the generation swap
  * retires spent tombstones.
  */
class DeleteSpec extends AnyFunSuite with SharedSpark {

  /** 4 tight clusters around orthogonal axes — the pruning-bites shape
    * shared with IvfIndexSpec, so deletion interacts with floors that
    * actually cut.
    */
  private def clustered(n: Long = 200L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until n).map { i =>
      val axis = (i % 4).toInt
      val base = Array.fill(8)(0.0f)
      base(axis) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
  }

  private def topkSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-del-$tag").toString

  /** Composed-index params sized for the 8-dim clustered fixture. */
  private val delParams = IvfPq.Params(
    ivf = IvfIndex.Params(nCentroids = 4),
    pq = PqIndex.Params(dim = 8, numSub = 4))

  test("IVF: tombstone-masked top-k EQUALS brute force on the live corpus; " +
      "whole-cluster deletion cannot poison the floor") {
    val e = clustered()
    val dir = tmp("ivf")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    // delete ALL of cluster 0 (every vec_id % 4 == 0): queries near that
    // cluster must now be answered from the OTHER clusters — if a
    // deleted row leaked into the pass-1 floor, the bound would prune
    // the cells that hold the true (live) answer and this equality breaks
    val dead = e.filter(pmod(col("vec_id"), lit(4)) === 0).select("vec_id")
    IvfIndex.delete(spark, dir, "vec_id", dead)
    val live = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val queries = e.filter(col("vec_id") < 8) // half of them are deleted ids — legal queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val masked = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(masked) == topkSet(exact))
    assert(masked.filter(pmod(col("vec_id"), lit(4)) === 0).isEmpty)
  }

  test("IVF compactTombstones: physically removes rows, tightens radii, " +
      "drops emptied cells, is idempotent, and the result is unchanged") {
    val e = clustered()
    val dir = tmp("ivf-compact")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val metaBefore = spark.read.parquet(s"$dir/cells_meta")
      .select(col("centroid_id").cast("long"), col("radius"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(4)) === 0).select("vec_id"))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val beforeCompact = topkSet(IvfIndex.queryTopK(spark, dir, "vec_id",
      "embedding", queries, "query_id", "qvec", k = 5, threshold = 0.0))

    val report = IvfIndex.compactTombstones(spark, dir, "vec_id", "embedding")
    assert(report.rowsRemoved == 50L)
    assert(report.rewrittenCells.nonEmpty)
    // the table is gone (it was the crash marker; work is done)
    assert(!Tombstones.exists(spark, dir))
    // physical: the rows are out of the cells table itself
    assert(spark.read.parquet(s"$dir/cells").count() == 150L)
    assert(spark.read.parquet(s"$dir/cells")
      .filter(pmod(col("vec_id"), lit(4)) === 0).isEmpty)
    // radii only ever tighten under deletion (max over fewer members),
    // and emptied cells lose their meta row entirely
    val metaAfter = spark.read.parquet(s"$dir/cells_meta")
      .select(col("centroid_id").cast("long"), col("radius"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(metaAfter.keySet.subsetOf(metaBefore.keySet))
    metaAfter.foreach { case (c, r) => assert(r <= metaBefore(c) + 1e-12) }
    report.emptiedCells.foreach { c =>
      assert(!metaAfter.contains(c))
      assert(!new java.io.File(s"$dir/cells/centroid_id=$c").exists())
    }
    // result-invisible, and a second pass is a clean no-op
    val afterCompact = topkSet(IvfIndex.queryTopK(spark, dir, "vec_id",
      "embedding", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(afterCompact == beforeCompact)
    val again = IvfIndex.compactTombstones(spark, dir, "vec_id", "embedding")
    assert(again.rewrittenCells.isEmpty && again.rowsRemoved == 0L)
  }

  test("IVF: deleting ids the index never held masks nothing and compacts " +
      "to a clean no-op") {
    val e = clustered(80L)
    val dir = tmp("ivf-unknown")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    import spark.implicits._
    IvfIndex.delete(spark, dir, "vec_id", Seq(9999L, 8888L).toDF("vec_id"))
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(got) == topkSet(exact))
    val report = IvfIndex.compactTombstones(spark, dir, "vec_id", "embedding")
    assert(report.rewrittenCells.isEmpty)
    assert(!Tombstones.exists(spark, dir))
  }

  test("upsert refuses a tombstoned id until compaction purges it, then " +
      "accepts the re-insert") {
    val e = clustered(100L)
    val dir = tmp("ivf-reinsert")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val victim = e.filter(col("vec_id") === 12L)
    IvfIndex.delete(spark, dir, "vec_id", victim.select("vec_id"))
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.upsert(spark, dir, "vec_id", "embedding", victim)
    }
    assert(ex.getMessage.contains("tombstoned"))
    IvfIndex.compactTombstones(spark, dir, "vec_id", "embedding")
    IvfIndex.upsert(spark, dir, "vec_id", "embedding", victim)
    // exactly one physical row for the re-inserted id
    assert(spark.read.parquet(s"$dir/cells")
      .filter(col("vec_id") === 12L).count() == 1L)
  }

  test("IvfPq composed: masked serve is exact, compaction rewrites the " +
      "code rows with their cells, result unchanged") {
    val e = clustered()
    val dir = tmp("ivfpq")
    IvfPq.build(e, "vec_id", "embedding", dir,
      delParams)
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(4)) === 1).select("vec_id"))
    val live = e.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val masked = topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(masked == exact)
    val report = IvfIndex.compactTombstones(spark, dir, "vec_id", "embedding")
    assert(report.rowsRemoved == 50L)
    assert(spark.read.parquet(s"$dir/cell_codes").count() == 150L)
    assert(spark.read.parquet(s"$dir/cell_codes")
      .filter(pmod(col("vec_id"), lit(4)) === 1).isEmpty)
    val compacted = topkSet(IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(compacted == exact)
  }

  test("selfKnnGraph and contrastivePairs drop deleted rows as nodes AND " +
      "as neighbors") {
    val e = clustered(100L)
    val dir = tmp("ivf-graph")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(5)) === 0).select("vec_id"))
    val g = IvfIndex.selfKnnGraph(spark, dir, "vec_id", "embedding", k = 3)
    assert(g.filter(pmod(col("query_id"), lit(5)) === 0).isEmpty)
    assert(g.filter(pmod(col("vec_id"), lit(5)) === 0).isEmpty)
    assert(g.select("query_id").distinct().count() == 80L)
    val labels = e.select(col("vec_id"), pmod(col("vec_id"), lit(2)).as("label"))
    val pairs = IvfIndex.contrastivePairs(spark, dir, "vec_id", "embedding",
      labels, "label")
    assert(pairs.filter(pmod(col("query_id"), lit(5)) === 0).isEmpty)
    assert(pairs.filter(pmod(col("pos_id"), lit(5)) === 0).isEmpty)
    assert(pairs.filter(pmod(col("neg_id"), lit(5)) === 0).isEmpty)
  }

  test("filtered search (label-radius path) serves live label-mates exactly " +
      "under a pending delete") {
    val e = clustered()
    val dir = tmp("ivf-filtered")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    val labels = e.select(col("vec_id"), pmod(col("vec_id"), lit(3)).as("label"))
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(4)) === 3).select("vec_id"))
    val queries = e.filter(col("vec_id") < 6)
      .join(labels, "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("label"))
    val got = IvfIndex.queryTopKFiltered(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", labels, "label", k = 4, threshold = 0.0)
    // oracle: brute force over live label-mates
    val live = e.filter(pmod(col("vec_id"), lit(4)) =!= 3).join(labels, "vec_id")
    val exact = queries.as("q").join(live.as("c"), col("q.label") === col("c.label"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        graft.functions.cosine_sim(col("qvec"), col("c.embedding")).as("sim"))
      .filter(col("sim") > 0.0)
      .transform(SimilaritySearch.topKExplode(_, "query_id", "vec_id", "sim", 4))
    assert(topkSet(got) == topkSet(exact))
  }

  test("flat LSH family: the fetch masks tombstones (a rebuild-to-compact layout)") {
    val e = clustered()
    val queries = e.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val live = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))

    val lshDir = tmp("lsh")
    AnnIndex.buildIndex(e, "vec_id", "embedding", lshDir)
    Tombstones.append(spark, lshDir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(4)) === 0).select("vec_id"))
    assert(topkSet(AnnIndex.queryTopK(spark, lshDir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)
  }

  test("recluster retires the spent tombstones inside the swap; the fresh " +
      "generation is all-live") {
    val e = clustered()
    val dir = tmp("ivf-recluster")
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 4))
    IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(4)) === 0).select("vec_id"))
    IvfIndex.recluster(spark, dir, "vec_id", "embedding",
      IvfIndex.Params(nCentroids = 4))
    assert(!Tombstones.exists(spark, dir))
    assert(spark.read.parquet(s"$dir/cells").count() == 150L)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val live = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(topkSet(IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)
  }

  // ---------------------------------------------------------------- lexical

  private def docs(n: Int = 30): DataFrame = {
    import spark.implicits._
    val words = Vector("spark", "index", "delete", "corpus", "query",
      "vector", "shuffle", "merge", "token", "score")
    (0 until n).map { i =>
      val body = (0 to (i % 7) + 2)
        .map(j => words((i * 3 + j * 5) % words.size)).mkString(" ")
      (i.toLong, body)
    }.toDF("doc_id", "text")
  }

  private def lexSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("rank").cast("long"),
        col("doc_id").cast("long"), col("score").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def lexQueries: DataFrame = {
    import spark.implicits._
    Seq((1L, "spark"), (1L, "index"), (2L, "delete"), (2L, "corpus"),
      (3L, "vector"), (3L, "score"), (3L, "token"))
      .toDF("query_id", "term")
  }

  test("lexical delete: masked scores are BIT-IDENTICAL to a rebuild on the " +
      "live corpus (stats corrected, df from live postings only)") {
    val d = docs()
    val dir = tmp("lex")
    LexicalSearch.buildIndex(d, "doc_id", "text", dir)
    LexicalSearch.deleteFromIndex(spark, dir, "doc_id",
      d.filter(pmod(col("doc_id"), lit(3)) === 0).select("doc_id"))
    val got = LexicalSearch.queryIndex(spark, dir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    val liveDir = tmp("lex-live")
    LexicalSearch.buildIndex(
      d.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text", liveDir)
    val oracle = LexicalSearch.queryIndex(spark, liveDir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    assert(lexSet(got) == lexSet(oracle))
    assert(got.filter(pmod(col("doc_id"), lit(3)) === 0).isEmpty)

    // physical fold-in: same scores, table retired, stats now physical
    LexicalSearch.compactTombstones(spark, dir, "doc_id")
    assert(!Tombstones.exists(spark, dir))
    assert(spark.read.parquet(s"$dir/postings")
      .filter(pmod(col("doc_id"), lit(3)) === 0).isEmpty)
    val compacted = LexicalSearch.queryIndex(spark, dir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    assert(lexSet(compacted) == lexSet(oracle))
    val stats = spark.read.parquet(s"$dir/stats").collect().head
    val liveStats = spark.read.parquet(s"$liveDir/stats").collect().head
    assert(stats.getLong(stats.fieldIndex("__n_docs"))
      == liveStats.getLong(liveStats.fieldIndex("__n_docs")))
    assert(stats.getLong(stats.fieldIndex("__total_len"))
      == liveStats.getLong(liveStats.fieldIndex("__total_len")))
  }

  test("lexical: re-deletes never double-correct the stats; upsert of a " +
      "tombstoned doc is refused until compaction") {
    val d = docs()
    val dir = tmp("lex-guard")
    LexicalSearch.buildIndex(d, "doc_id", "text", dir)
    val dead = d.filter(col("doc_id") === 6L)
    LexicalSearch.deleteFromIndex(spark, dir, "doc_id", dead.select("doc_id"))
    LexicalSearch.deleteFromIndex(spark, dir, "doc_id", dead.select("doc_id"))
    val got = LexicalSearch.queryIndex(spark, dir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    val liveDir = tmp("lex-guard-live")
    LexicalSearch.buildIndex(
      d.filter(col("doc_id") =!= 6L), "doc_id", "text", liveDir)
    val oracle = LexicalSearch.queryIndex(spark, liveDir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    assert(lexSet(got) == lexSet(oracle))
    val ex = intercept[IllegalArgumentException] {
      LexicalSearch.upsertIndex(spark, dir, "doc_id", "text", dead)
    }
    assert(ex.getMessage.contains("tombstoned"))
    LexicalSearch.compactTombstones(spark, dir, "doc_id")
    LexicalSearch.upsertIndex(spark, dir, "doc_id", "text", dead)
    // back to the full corpus, bit-identically
    val full = LexicalSearch.queryIndex(spark, dir, "doc_id",
      lexQueries, "query_id", "term", k = 5)
    val fullDir = tmp("lex-guard-full")
    LexicalSearch.buildIndex(d, "doc_id", "text", fullDir)
    assert(lexSet(full) == lexSet(LexicalSearch.queryIndex(spark, fullDir,
      "doc_id", lexQueries, "query_id", "term", k = 5)))
  }
  test("a giant delete batch spreads across proportional files; " +
      "dedup and masking semantics unchanged") {
    val dir = tmp("giant")
    // a whole-tenant right-to-be-forgotten order: 9M ids (> 2 file
    // quanta) sent WITH duplicates — the append must distinct them and
    // write ceil(9M/4M) = 3 files instead of funneling one task
    val ids = spark.range(9000000L).select(col("id").as("vec_id"))
    Tombstones.append(spark, dir, "vec_id",
      ids.unionAll(ids.limit(1000)))
    val files = new java.io.File(s"$dir/tombstones").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 3, s"expected 3 spread files, got $files")
    assert(Tombstones.pendingCount(spark, dir) == 9000000L)
    // masking over the file-spread table is the same anti-join
    val probe = spark.range(8999995L, 9000005L).select(col("id").as("vec_id"))
    val live = Tombstones.liveOnly(probe, spark, dir, "vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(live == (9000000L until 9000005L).toSet)
    // a cadence-sized batch still lands as ONE file (table file count
    // stays at the deletion cadence)
    val dir2 = tmp("small")
    Tombstones.append(spark, dir2, "vec_id",
      spark.range(100L).select(col("id").as("vec_id")))
    assert(new java.io.File(s"$dir2/tombstones").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }
}
