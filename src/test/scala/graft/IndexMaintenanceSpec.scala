package graft

import graft.query.{IvfIndex, SimilaritySearch}
import graft.streaming.IndexMaintenance
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IndexMaintenanceSpec extends AnyFunSuite with SharedSpark {

  private def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("streamed upserts keep the index exact; replayed batch ids are fenced") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ckpt").toString
    // base index over 70% of the corpus; the rest arrives as a stream
    IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) < 7),
      "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    val arrivals = e.filter(pmod(col("vec_id"), lit(10)) >= 7)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq

    val input = MemoryStream[(Long, Array[Float])]
    val q = IndexMaintenance.maintainIvf(
      input.toDS().toDF("vec_id", "embedding"), dir, "vec_id", "embedding", ckpt)
    try {
      // two separate micro-batches
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // every vector is indexed exactly once
    assert(spark.read.parquet(s"$dir/cells").count() == e.count())
    // the fence recorded the last applied batch
    assert(IndexMaintenance.lastApplied(spark, dir) >= 1L)

    // the maintained index answers exactly like brute force on the union
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))

    // replaying an already-applied batch id (the crash-between-writes
    // scenario) must be fenced to a no-op
    val before = spark.read.parquet(s"$dir/cells").count()
    val lastId = IndexMaintenance.lastApplied(spark, dir)
    val reapplied = IndexMaintenance.applyBatch(
      dir, "vec_id", "embedding", arrivals.toDF("vec_id", "embedding"), lastId)
    assert(!reapplied)
    assert(spark.read.parquet(s"$dir/cells").count() == before)
    // a NEW batch id still goes through (the fence is an ordering
    // check, not a latch): apply an empty frame -> no-op by emptiness
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(!IndexMaintenance.applyBatch(dir, "vec_id", "embedding", empty, lastId + 1))
  }

  test("streamed lexical upserts score bit-identically to a full rebuild; replays fenced") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.parallelize(Tables(spark, Sf0001, "documents"))
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lex-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-lex-stream-ckpt").toString
    // base index over 70% of the corpus; the rest arrives as a stream
    graft.query.LexicalSearch.buildIndex(
      docs.filter(pmod(col("doc_id"), lit(10)) < 7), "doc_id", "text", dir)
    val arrivals = docs.filter(pmod(col("doc_id"), lit(10)) >= 7)
      .as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    val q = IndexMaintenance.maintainLexical(
      input.toDS().toDF("doc_id", "text"), dir, "doc_id", "text", ckpt)
    try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(IndexMaintenance.lastApplied(spark, dir) >= 1L)

    // q89's oracle contract, extended across micro-batches: the
    // maintained index scores BIT-IDENTICALLY to a from-scratch
    // rebuild over the union (BM25 depends on global N/total_len/df,
    // so any maintenance error shows in the scores)
    val terms = graft.Queries.lexicalQueryBatch(spark, Sf0001)
    def answer(path: String) = graft.query.LexicalSearch.queryIndex(
        spark, path, "doc_id", terms, "query_id", "term", k = 10)
      .collect().map(_.toSeq).toSet
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-lex-rebuild").toString
    graft.query.LexicalSearch.buildIndex(docs, "doc_id", "text", rebuilt)
    assert(answer(dir) === answer(rebuilt),
      "maintained lexical index diverged from a from-scratch rebuild")

    // crash-replay of an applied batch id must be a fenced no-op
    val before = spark.read.parquet(s"$dir/postings").count()
    val lastId = IndexMaintenance.lastApplied(spark, dir)
    assert(!IndexMaintenance.applyLexicalBatch(
      dir, "doc_id", "text", arrivals.toDF("doc_id", "text"), lastId))
    assert(spark.read.parquet(s"$dir/postings").count() == before)
  }

  test("streamed composed IVF+PQ upserts stay exact; replays fenced") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfpq-ckpt").toString
    val params = graft.query.IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 8))
    graft.query.IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) < 7),
      "vec_id", "embedding", dir, params)
    val arrivals = e.filter(pmod(col("vec_id"), lit(10)) >= 7)
      .as[(Long, Array[Float])].collect().toSeq

    val input = MemoryStream[(Long, Array[Float])]
    val q = IndexMaintenance.maintainIvf(
      input.toDS().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
      ckpt)
    try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(s"$dir/cell_codes").count() == e.count())
    assert(IndexMaintenance.lastApplied(spark, dir) >= 1L)

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(graft.query.IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0, 1))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(got == exact)

    // crash-replay of an applied batch id must be a fenced no-op
    val before = spark.read.parquet(s"$dir/cell_codes").count()
    val lastId = IndexMaintenance.lastApplied(spark, dir)
    assert(!IndexMaintenance.applyBatch(
      dir, "vec_id", "embedding", arrivals.toDF("vec_id", "embedding"), lastId))
    assert(spark.read.parquet(s"$dir/cell_codes").count() == before)
  }

  test("streamed RESIDUAL composed maintenance with a split cap stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the full production loop for the residual family in one run:
    // residual build → streamed upserts (generation reuse + minting)
    // → in-batch splits (codes move with their generation) behind the
    // replay fence — answers must stay the brute-force exact set
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqres-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfpqres-ckpt").toString
    val params = graft.query.IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      residual = true)
    graft.query.IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) < 7),
      "vec_id", "embedding", dir, params)
    val arrivals = e.filter(pmod(col("vec_id"), lit(10)) >= 7)
      .as[(Long, Array[Float])].collect().toSeq
    val cap = e.count() / 6

    val input = MemoryStream[(Long, Array[Float])]
    val q = IndexMaintenance.maintainIvf(
      input.toDS().toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
      ckpt, splitCap = Some(cap))
    try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    assert(spark.read.parquet(s"$dir/cell_codes").count() == e.count())
    // splits ran: occupancy bounded, and every code row's generation
    // still resolves (moved rows kept theirs, minted ones appended)
    val occ = spark.read.parquet(s"$dir/cells")
      .groupBy("centroid_id").count().agg(max(col("count"))).head.getLong(0)
    assert(occ <= cap, s"occupancy $occ over cap $cap under streamed ingest")
    assert(spark.read.parquet(s"$dir/cell_codes")
      .join(spark.read.parquet(s"$dir/enc_centers"), Seq("enc_id"), "left_anti")
      .isEmpty, "a streamed code row references a missing generation")

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(graft.query.IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0, 1))
    val exact = topkSet(SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(got == exact)
  }

  test("maintainIvf with a split cap keeps occupancy bounded under ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // clustered 8-dim corpus: appends concentrate into few cells, so
    // without splits occupancy grows past any cap
    val rnd = new scala.util.Random(19)
    val all = (0L until 200L).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }
    val e = all.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-splitstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-splitstream-ckpt").toString
    IvfIndex.build(e.filter(col("vec_id") < 80), "vec_id", "embedding", dir,
      IvfIndex.Params(nCentroids = 2))

    val input = MemoryStream[(Long, Array[Float])]
    val q = IndexMaintenance.maintainIvf(
      input.toDS().toDF("vec_id", "embedding"), dir, "vec_id", "embedding", ckpt,
      splitCap = Some(60L))
    try {
      val arrivals = all.filter(_._1 >= 80L)
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // occupancy stayed under the cap (cells split as appends landed)
    val sizes = spark.read.parquet(s"$dir/cells")
      .groupBy("centroid_id").count()
      .select(col("count")).collect().map(_.getLong(0))
    assert(sizes.sum == 200L)
    assert(sizes.forall(_ <= 60L), s"split cap not enforced: ${sizes.toSeq}")
    assert(sizes.length > 2, "no cell ever split")

    // and the split-maintained index still answers exactly
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val ivf = IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, threshold = 0.0)
    val exact = SimilaritySearch.topKBatch(
      e, "embedding", "vec_id", queries, "query_id", "qvec", k = 3, threshold = 0.0)
    assert(topkSet(ivf) == topkSet(exact))
  }

  test("compaction after upserts shrinks files and changes no answer") {
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) < 7),
      "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    // three appends -> files accumulate per touched cell per batch
    for (m <- 7 to 9)
      IvfIndex.upsert(spark, dir, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === m))

    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def answer() = topkSet(IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))

    val before = answer()
    val Seq(report) = IvfIndex.compactIndex(spark, dir)
    assert(report.filesAfter < report.filesBefore,
      s"compaction did not shrink files: $report")
    assert(answer() === before, "compaction changed query results")

    // lexical twin: build + upsert + compact, scores bit-identical
    val docs = Tables.parallelize(Tables(spark, Sf0001, "documents"))
      .select(col("doc_id"), col("text"))
    val lexDir = java.nio.file.Files.createTempDirectory("graft-lex-compact").toString
    graft.query.LexicalSearch.buildIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", lexDir)
    graft.query.LexicalSearch.upsertIndex(
      spark, lexDir, "doc_id", "text", docs.filter(col("doc_id") % 2 === 1))
    val terms = graft.Queries.lexicalQueryBatch(spark, Sf0001)
    def lexAnswer() = graft.query.LexicalSearch.queryIndex(
        spark, lexDir, "doc_id", terms, "query_id", "term", k = 10)
      .collect().map(_.toSeq).toSet
    val lexBefore = lexAnswer()
    val lexReport = graft.query.LexicalSearch.compactIndex(spark, lexDir)
    assert(lexReport.filesAfter < lexReport.filesBefore)
    assert(lexAnswer() === lexBefore, "lexical compaction changed scores")
  }

  test("CDC maintenance stream: tagged deletes mask ids, upserts append, " +
      "compaction cadence folds them in — all behind one fence") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toString
    // base index over 80% of the corpus; the stream upserts the held-out
    // fifth and deletes every vec_id % 9 == 4 row, interleaved
    IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) < 8),
      "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))
    val ups = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
      .select(lit("upsert").as("op"), col("vec_id"), col("embedding"))
      .as[(String, Long, Array[Float])].collect().toSeq
    val dels = e.filter(pmod(col("vec_id"), lit(9)) === 4 &&
        pmod(col("vec_id"), lit(10)) < 8) // delete only already-indexed ids
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
      .as[(String, Long, Array[Float])].collect().toSeq

    val input = MemoryStream[(String, Long, Array[Float])]
    val q = IndexMaintenance.maintainIvf(
      input.toDS().toDF("op", "vec_id", "embedding"), dir, "vec_id",
      "embedding", ckpt, opCol = Some("op"),
      // cadence 2: batch 2's pass folds batch-0/1 tombstones physically;
      // batch 2's own deletes stay pending — both serving modes active
      compactDeletesEvery = Some(2L))
    try {
      val (d1, d2) = dels.splitAt(dels.size / 2)
      input.addData(ups); q.processAllAvailable()         // batch 0
      input.addData(d1); q.processAllAvailable()          // batch 1
      input.addData(d2); q.processAllAvailable()          // batch 2 (compacts)
    } finally q.stop()

    val live = e.filter(pmod(col("vec_id"), lit(9)) =!= 4 ||
      pmod(col("vec_id"), lit(10)) >= 8)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec",
      k = 5, threshold = 0.0))
    assert(got == exact, "CDC-maintained index diverged from live brute force")
    // batch 2's cadence tick runs AFTER its own deletes landed, so it
    // folded BOTH delete batches physically and retired the table —
    // the cells table holds exactly the live rows
    assert(spark.read.parquet(s"$dir/cells").count() == live.count())
    assert(!graft.query.Tombstones.exists(spark, dir))
    // a later upsert-only batch ticks the cadence as a clean no-op
    assert(IndexMaintenance.applyBatch(dir, "vec_id", "embedding",
      Seq(("upsert", -1L, Array.fill(64)(0.1f))).toDF("op", "vec_id", "embedding"),
      batchId = 4L, opCol = Some("op"), compactDeletesEvery = Some(2L)))
    assert(!graft.query.Tombstones.exists(spark, dir))
    assert(spark.read.parquet(s"$dir/cells").count() == live.count() + 1)
  }

  test("CDC convergence: NULL-op rows upsert; delete then re-insert of an id " +
      "compacts first instead of wedging replay") {
    import spark.implicits._
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-conv").toString
    IvfIndex.build(e, "vec_id", "embedding", dir, IvfIndex.Params(nCentroids = 8))

    // batch 0: a tagged takedown of three indexed ids
    val dels = e.filter(col("vec_id").isin(3L, 4L, 5L))
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    assert(IndexMaintenance.applyBatch(dir, "vec_id", "embedding", dels, 0L,
      opCol = Some("op")))
    assert(graft.query.Tombstones.exists(spark, dir))

    // batch 1: re-insert id 4 (tombstoned — the wedge scenario: the
    // overlap guard would throw here, and a foreachBatch retry would
    // throw identically forever) alongside a NULL-op row, the common
    // CDC encoding for a plain insert (a bare =!= would drop it from
    // both branches). Must apply cleanly: the overlap triggers the
    // physical fold-in FIRST, then both rows upsert.
    val vec4 = e.filter(col("vec_id") === 4L)
      .select("embedding").head.getSeq[Float](0).toArray
    val batch1 = Seq(
      (Option("upsert"), 4L, vec4),
      (Option.empty[String], 100000L, Array.fill(64)(0.25f)))
      .toDF("op", "vec_id", "embedding")
    assert(IndexMaintenance.applyBatch(dir, "vec_id", "embedding", batch1, 1L,
      opCol = Some("op")))

    // the overlap compact retired ALL pending tombstones physically
    assert(!graft.query.Tombstones.exists(spark, dir))
    // cells hold exactly: corpus minus {3,5}, id 4 ONCE (replaced, not
    // duplicated), plus the NULL-op row
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == e.count() - 2 + 1)
    assert(cells.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)
    assert(cells.filter(col("vec_id") === 100000L).count() == 1L)

    // serving equals brute force over the converged live set
    val live = e.filter(!col("vec_id").isin(3L, 5L))
      .unionByName(Seq((100000L, Array.fill(64)(0.25f))).toDF("vec_id", "embedding"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec",
      k = 5, threshold = 0.0))
    assert(got == exact, "converged CDC index diverged from live brute force")

    // a replay of the applied batch id stays a fenced no-op
    assert(!IndexMaintenance.applyBatch(dir, "vec_id", "embedding", batch1, 1L,
      opCol = Some("op")))
    assert(spark.read.parquet(s"$dir/cells").count() == live.count())
  }

  test("CDC convergence on the composed IVF+PQ layout: NULL-op upserts land, " +
      "overlapping re-inserts compact first") {
    import spark.implicits._
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-conv-pq").toString
    val params = graft.query.IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 8))
    graft.query.IvfPq.build(e, "vec_id", "embedding", dir, params)

    val dels = e.filter(col("vec_id").isin(6L, 7L))
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    assert(IndexMaintenance.applyBatch(dir, "vec_id", "embedding", dels,
      0L, opCol = Some("op")))
    val vec7 = e.filter(col("vec_id") === 7L)
      .select("embedding").head.getSeq[Float](0).toArray
    val batch1 = Seq(
      (Option("upsert"), 7L, vec7),
      (Option.empty[String], 100001L, Array.fill(64)(0.5f)))
      .toDF("op", "vec_id", "embedding")
    assert(IndexMaintenance.applyBatch(dir, "vec_id", "embedding", batch1,
      1L, opCol = Some("op")))

    assert(!graft.query.Tombstones.exists(spark, dir))
    // codes stay aligned with cells through the compact+re-insert
    val codes = spark.read.parquet(s"$dir/cell_codes")
    assert(codes.count() == e.count() - 1 + 1)
    assert(codes.groupBy("vec_id").count().filter(col("count") > 1).isEmpty)

    val live = e.filter(col("vec_id") =!= 6L)
      .unionByName(Seq((100001L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = topkSet(graft.query.IvfPq.queryTopK(spark, dir, "vec_id",
      "embedding", queries, "query_id", "qvec", k = 5, threshold = 0.0,
      1))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec",
      k = 5, threshold = 0.0))
    assert(got == exact, "converged composed CDC index diverged")
  }

  test("one applyBatch face: the same CDC batches keep a plain and a residual " +
      "composed index exact under split and drift caps; replays fenced on both") {
    import graft.query.IvfPq
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    def tmp(s: String) =
      java.nio.file.Files.createTempDirectory(s"graft-one-face-$s").toString
    val plain = tmp("plain")
    val plainNoDrift = tmp("plain-nodrift")
    val res = tmp("res")
    val base = e.filter(pmod(col("vec_id"), lit(10)) < 7)
    Seq(plain, plainNoDrift).foreach(d => IvfIndex.build(base, "vec_id", "embedding", d,
      IvfIndex.Params(nCentroids = 4)))
    IvfPq.build(base, "vec_id", "embedding", res,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 4), residual = true))

    // batch 0: two deletes of built rows + tagged upserts; batch 1:
    // NULL-op upserts. The cap makes every balanced cell hot, so both
    // batches split — which is what mints residual drift
    def tagged(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(lit(op).cast("string").as("op"), col("vec_id"), col("embedding"))
    val batches = Seq(
      tagged(e.filter(col("vec_id").isin(3L, 5L)), "delete")
        .unionByName(tagged(e.filter(pmod(col("vec_id"), lit(10)) === 7), "upsert")),
      tagged(e.filter(pmod(col("vec_id"), lit(10)) >= 8), null))
    val cap = e.count() / 6
    def feed(dir: String, batch: Int, driftCap: Option[Double]): Boolean =
      IndexMaintenance.applyBatch(dir, "vec_id", "embedding", batches(batch),
        batch.toLong, splitCap = Some(cap), reencodeDriftCap = driftCap,
        opCol = Some("op"))
    for (b <- batches.indices) {
      assert(feed(plain, b, Some(1e-6)))
      assert(feed(plainNoDrift, b, None))
      assert(feed(res, b, Some(1e-6)))
    }

    val live = e.filter(!col("vec_id").isin(3L, 5L))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = topkSet(SimilaritySearch.topKBatch(
      live, "embedding", "vec_id", queries, "query_id", "qvec", k = 5, threshold = 0.0))
    assert(topkSet(IvfIndex.queryTopK(spark, plain, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)
    assert(topkSet(IvfPq.queryTopK(spark, res, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5, threshold = 0.0)) == exact)

    // the drift cap is a no-op on a plain index: same cells, same meta
    // as its twin fed without it
    def layout(d: String) = (
      spark.read.parquet(s"$d/cells")
        .select(col("vec_id"), col("centroid_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$d/cells_meta")
        .select(col("centroid_id").cast("long"), col("radius"), col("center"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2))).toSet)
    assert(layout(plain) == layout(plainNoDrift))
    // ... and a real repair on the residual one
    assert(IvfPq.stats(spark, res).agg(max(col("enc_drift"))).head.getDouble(0) <= 1e-6)
    assert(spark.read.parquet(s"$res/cell_codes").count() ==
      spark.read.parquet(s"$res/cells").count())

    // a replayed batch id is fenced on both layouts
    Seq(plain, res).foreach { d =>
      val before = spark.read.parquet(s"$d/cells").count()
      assert(!feed(d, 1, Some(1e-6)))
      assert(spark.read.parquet(s"$d/cells").count() == before)
    }
  }
}
