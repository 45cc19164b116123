package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end façade: the reference's ingest -> embed -> query -> answer
  * sequence (README.md:42-52 of the reference) against the Spark client.
  */
class GraftClientSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val mdxDocs = Seq(
    (1L,
      "## Context\nThe graft engine indexes MDX documentation for retrieval.\n" +
        "## Usage\nCall ingest then query with an embedded question string.\n"),
    (2L,
      "## Context\nSpark pipelines shuffle data between stages by key.\n" +
        "## Tuning\nBroadcast small tables and let AQE handle skewed joins.\n"))

  test("ingest -> query -> answer round trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))

    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
    assert(index.count() == 4) // 2 docs x 2 sections, no sub-splitting at 200
    assert(index.columns.toSet ==
      Set("doc_id", "chunk_id", "piece_id", "content", "embedding", "metadata"))

    // querying with a chunk's own embed-input text must return that chunk first
    val qvec = client.embedText(
      "HEADER: Usage | CONTENT: Call ingest then query with an embedded question string.")
    val hits = client.query(s"$dir/index", qvec, threshold = 0.0, count = 3)
    val top = hits.collect()(0)
    assert(top.getString(0).contains("Call ingest then query"))

    val ans = client.answer("How do I use it?", hits)
    assert(ans.isDefined)
    assert(ans.get.startsWith("ECHO: "))

    // columnar result shape: parallel index-aligned arrays
    val emb = client.queryEmbedding(s"$dir/index", qvec, threshold = 0.0, count = 3)
    assert(emb.context.length == emb.metadataContext.length)
    assert(emb.context.head.contains("Call ingest then query"))
  }

  test("indexed query equals the full-scan query (the scale path)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client-ann").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("content", "sim").collect()
        .map(r => (r.getString(0), math.rint(r.getDouble(1) * 1e9))).toSeq
    for (probe <- Seq(
        "HEADER: Usage | CONTENT: Call ingest then query with an embedded question string.",
        "HEADER: Tuning | CONTENT: Broadcast small tables and let AQE handle skewed joins.")) {
      val qvec = client.embedText(probe)
      val scan = rows(client.query(s"$dir/index", qvec, threshold = 0.0, count = 3))
      val indexed = rows(client.queryIndexed(s"$dir/ann", qvec, threshold = 0.0, count = 3))
      assert(indexed == scan, s"indexed query diverged for probe: $probe")
    }
  }

  test("batch indexed query equals the per-vector loop (one probe, one fetch)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client-batch").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")

    val probes = Seq(
      "HEADER: Usage | CONTENT: Call ingest then query with an embedded question string.",
      "HEADER: Tuning | CONTENT: Broadcast small tables and let AQE handle skewed joins.",
      "completely unrelated probe text with no matching chunk")
    val vecs = probes.zipWithIndex.map { case (p, i) =>
      (i.toLong, client.embedText(p))
    }
    val queries = vecs.toDF("query_id", "qvec")
    val batch = client.queryIndexedBatch(s"$dir/ann", queries, "query_id", "qvec",
        threshold = 0.0, count = 3)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("content"),
        math.rint(r.getAs[Double]("sim") * 1e9), r.getAs[Long]("rn")))
      .toSet
    val looped = vecs.flatMap { case (qid, v) =>
      client.queryIndexed(s"$dir/ann", v, threshold = 0.0, count = 3)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getString(0),
          math.rint(r.getDouble(2) * 1e9), (i + 1).toLong) }
    }.toSet
    assert(batch == looped, "batch serving diverged from the per-vector loop")
    // a warm request opens every table on the driver: no leaf-file
    // listing job and no Parquet schema job
    val opened = TablesReadSpec.fileOpeningJobs(spark) {
      client.queryIndexedBatch(s"$dir/ann", queries, "query_id", "qvec",
        threshold = 0.0, count = 3).collect()
      ()
    }
    assert(opened.isEmpty, opened.mkString("jobs that only open files:\n", "\n", ""))
  }

  test("composed-index serving equals the plain-IVF path, routed by layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client-pq").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")
    client.buildQueryIndex(s"$dir/index", s"$dir/annpq", composed = true)
    // the layouts really differ — and the serve faces read the mode
    // from the index, never from a caller flag
    def hasCodes(p: String) = {
      val cp = new org.apache.hadoop.fs.Path(s"$p/ivf/cell_codes")
      cp.getFileSystem(spark.sessionState.newHadoopConf()).exists(cp)
    }
    assert(!hasCodes(s"$dir/ann") && hasCodes(s"$dir/annpq"))

    val probes = Seq(
      "HEADER: Usage | CONTENT: Call ingest then query with an embedded question string.",
      "HEADER: Tuning | CONTENT: Broadcast small tables and let AQE handle skewed joins.",
      "completely unrelated probe text with no matching chunk")
    val vecs = probes.zipWithIndex.map { case (p, i) =>
      (i.toLong, client.embedText(p))
    }
    val queries = vecs.toDF("query_id", "qvec")
    def batchSet(ann: String) =
      client.queryIndexedBatch(ann, queries, "query_id", "qvec",
          threshold = 0.0, count = 3)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("content"),
          math.rint(r.getAs[Double]("sim") * 1e9), r.getAs[Long]("rn")))
        .toSet
    assert(batchSet(s"$dir/annpq") == batchSet(s"$dir/ann"),
      "composed batch serving diverged from the plain-IVF path")
    // the point face routes identically
    val qvec = client.embedText(probes.head)
    def pointRows(ann: String) =
      client.queryIndexed(ann, qvec, threshold = 0.0, count = 3)
        .select("content", "sim").collect()
        .map(r => (r.getString(0), math.rint(r.getDouble(1) * 1e9))).toSeq
    assert(pointRows(s"$dir/annpq") == pointRows(s"$dir/ann"))
  }

  test("filtered serve face: label-restricted retrieval equals the label-equijoined scan, both layouts") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-client-filt").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")
    client.buildQueryIndex(s"$dir/index", s"$dir/annpq", composed = true)

    // the filter attribute: each chunk's document context (2 docs -> 2
    // labels, 2 chunks each), derived from the payload metadata
    def labelsOf(ann: String) = client.payloadLabels(ann, col("metadata.context"))
    // one query per chunk, each filtering to ITS OWN document's context
    val index = spark.read.parquet(s"$dir/index")
      .select(col("content"), col("metadata.context").as("label"))
    val probeRows = index.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sortBy(_._1)
    val queries = probeRows.zipWithIndex
      .map { case ((c, lab), i) => (i.toLong, client.embedText(c), lab) }
      .toDF("query_id", "qvec", "label")

    def got(ann: String): Set[(Long, String, Long, Long)] =
      client.queryIndexedFilteredBatch(ann, queries, "query_id", "qvec",
          labelsOf(ann), threshold = 0.0, count = 2)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("content"),
          math.rint(r.getAs[Double]("sim") * 1e9).toLong, r.getAs[Long]("rn")))
        .toSet
    // brute force: label-equijoined exact cosine over the raw index
    val full = spark.read.parquet(s"$dir/index")
      .select(col("content"), col("embedding"),
        col("metadata.context").as("__cl"))
    val expected = full
      .join(broadcast(queries), col("__cl") === col("label"))
      .withColumn("sim", graft.functions.cosine_sim(col("embedding"), col("qvec")))
      .filter(col("sim") > 0.0)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("content").asc)).cast("long"))
      .filter(col("rn") <= 2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("content"),
        math.rint(r.getAs[Double]("sim") * 1e9).toLong, r.getAs[Long]("rn")))
      .toSet
    // NOTE: the engine breaks sim ties by ascending row_id, the brute
    // force by content — the fixture has no duplicate sims per query,
    // so the orders agree (the equality itself checks this)
    val plain = got(s"$dir/ann")
    assert(plain == expected, "plain-IVF filtered serving diverged from the equijoined scan")
    assert(got(s"$dir/annpq") == expected, "composed filtered serving diverged")
    // ... and the persisted filter metadata serves the same answers
    client.buildFilterMeta(s"$dir/ann", labelsOf(s"$dir/ann"))
    assert(graft.query.IvfIndex.cachedLabelRadii(spark, s"$dir/ann/ivf", "label").isDefined)
    assert(got(s"$dir/ann") == expected, "artifact-served filtered results diverged")
  }

  test("hybrid serve face equals the engine-level RRF fusion (q72 shape) over the same inputs") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-client-hyb").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    // composed vector layout + lexical postings under one ann root: the
    // hybrid face must ride the layout-routing discipline of
    // buildQueryIndex(composed = true) unchanged
    client.buildQueryIndex(s"$dir/index", s"$dir/ann", composed = true)
    client.buildLexicalIndex(s"$dir/index", s"$dir/ann")

    val probes = Seq(
      "Call ingest then query with an embedded question string.",
      "Broadcast small tables and let AQE handle skewed joins.")
    val queries = probes.zipWithIndex
      .map { case (p, i) => (i.toLong, client.embedText(p), p) }
      .toDF("query_id", "qvec", "qtext")
    val got = client.queryHybridBatch(s"$dir/ann", queries,
        "query_id", "qvec", "qtext", count = 3, channelK = 3)
      .select(col("query_id"), col("rank"), col("content"), col("rrf_micro"),
        col("vec_rank"), col("lex_rank"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet

    // expected: the q72 fusion computed from ENGINE-level channels over
    // the same inputs — exact brute-force cosine (the index families'
    // exactness contract) and the direct bm25TopK kernel (bit-identical
    // to the pruned queryIndex probe by the q73 contract)
    val withId = graft.pipeline.ScalableWindow.globalRunningSum(
        spark.read.parquet(s"$dir/index").withColumn("__one", lit(1L)),
        "__one", "row_id",
        col("doc_id").asc, col("chunk_id").asc, col("piece_id").asc)
    val vec = graft.query.SimilaritySearch.topKBatch(
        withId.select("row_id", "embedding"), "embedding", "row_id",
        queries.select("query_id", "qvec"), "query_id", "qvec",
        k = 3, threshold = 0.0)
      .select(col("query_id"), col("row_id"), col("rn").as("rank"))
    val qTerms = queries.select(col("query_id"),
      explode(graft.query.LexicalSearch.tokens(col("qtext"))).as("__term"))
    val lex = graft.query.LexicalSearch.bm25TopK(
        withId.select("row_id", "content"), "row_id", "content",
        qTerms, "query_id", "__term", k = 3)
      .select(col("query_id"), col("row_id"), col("rank"))
    val expected = graft.query.LexicalSearch.rrfFuse(
        vec, lex, "query_id", "row_id", "rank", k = 3)
      .join(withId.select("row_id", "content"), "row_id")
      .select(col("query_id"), col("rank"), col("content"), col("rrf_micro"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == expected, "client hybrid fusion diverged from the engine-level q72 shape")
    // both channels really contributed somewhere (the full-outer point)
    val chans = client.queryHybridBatch(s"$dir/ann", queries,
        "query_id", "qvec", "qtext", count = 3, channelK = 3)
      .agg(count(col("vec_rank")).as("v"), count(col("lex_rank")).as("l"))
      .head
    assert(chans.getLong(0) > 0 && chans.getLong(1) > 0)

    // the point face is the batch face at one row
    val point = client.queryHybrid(s"$dir/ann", probes.head, count = 3, channelK = 3)
      .select(col("rank"), col("content"), col("rrf_micro")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batchQ0 = got.filter(_._1 == 0L).map(t => (t._2, t._3, t._4))
    assert(point == batchQ0, "point hybrid face diverged from the batch face")
  }

  test("deleteWhere masks a chunk out of every channel; compactDeletes " +
      "removes it physically with answers unchanged") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-client-del").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann", composed = true)
    client.buildLexicalIndex(s"$dir/index", s"$dir/ann")

    // the takedown arrives as a predicate, not an id list
    client.deleteWhere(s"$dir/ann", col("content").contains("Broadcast small tables"))

    val probes = Seq(
      "Call ingest then query with an embedded question string.",
      "Broadcast small tables and let AQE handle skewed joins.")
    val queries = probes.zipWithIndex
      .map { case (p, i) => (i.toLong, client.embedText(p), p) }
      .toDF("query_id", "qvec", "qtext")

    def vecAnswers() = client.queryIndexedBatch(s"$dir/ann", queries,
        "query_id", "qvec", threshold = 0.0, count = 3)
      .select(col("query_id"), col("content"),
        (round(col("sim") * 1e9)).cast("long").as("s"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    def hybAnswers() = client.queryHybridBatch(s"$dir/ann", queries,
        "query_id", "qvec", "qtext", count = 3, channelK = 3)
      .select(col("query_id"), col("rank"), col("content"), col("rrf_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet

    val vecMasked = vecAnswers()
    val hybMasked = hybAnswers()
    assert(!vecMasked.exists(_._2.contains("Broadcast small tables")))
    assert(!hybMasked.exists(_._3.contains("Broadcast small tables")))

    // oracle: engine-level channels over the SURVIVING rows only
    val withId = graft.pipeline.ScalableWindow.globalRunningSum(
        spark.read.parquet(s"$dir/index").withColumn("__one", lit(1L)),
        "__one", "row_id",
        col("doc_id").asc, col("chunk_id").asc, col("piece_id").asc)
      .filter(!col("content").contains("Broadcast small tables"))
    val vecOracle = graft.query.SimilaritySearch.topKBatch(
        withId.select("row_id", "embedding"), "embedding", "row_id",
        queries.select("query_id", "qvec"), "query_id", "qvec",
        k = 3, threshold = 0.0)
      .join(withId.select("row_id", "content"), "row_id")
      .select(col("query_id"), col("content"),
        (round(col("sim") * 1e9)).cast("long").as("s"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(vecMasked == vecOracle, "masked vector serve diverged from the live-corpus ranking")
    // every table kind the client wrote opens through Tables.read with
    // spark.read.parquet's schema and rows
    for (t <- Seq("ivf/cells", "ivf/cells_meta", "ivf/cell_codes", "ivf/codebooks",
        "ivf/tombstones", "lex/postings", "lex/stats", "tombstones", "payload"))
      TablesReadSpec.assertSameRead(spark, s"$dir/ann/$t")
    assert(Tables.read(spark, s"$dir/ann/payload").schema("metadata").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    val qTerms = queries.select(col("query_id"),
      explode(graft.query.LexicalSearch.tokens(col("qtext"))).as("__term"))
    val lexOracle = graft.query.LexicalSearch.bm25TopK(
        withId.select("row_id", "content"), "row_id", "content",
        qTerms, "query_id", "__term", k = 3)
      .select(col("query_id"), col("row_id"), col("rank"))
    val vecRanks = graft.query.SimilaritySearch.topKBatch(
        withId.select("row_id", "embedding"), "embedding", "row_id",
        queries.select("query_id", "qvec"), "query_id", "qvec",
        k = 3, threshold = 0.0)
      .select(col("query_id"), col("row_id"), col("rn").as("rank"))
    val hybOracle = graft.query.LexicalSearch.rrfFuse(
        vecRanks, lexOracle, "query_id", "row_id", "rank", k = 3)
      .join(withId.select("row_id", "content"), "row_id")
      .select(col("query_id"), col("rank"), col("content"), col("rrf_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(hybMasked == hybOracle, "masked hybrid serve diverged from the live-corpus fusion")

    // physical fold-in: payload row gone, every answer identical
    client.compactDeletes(s"$dir/ann")
    assert(!graft.query.Tombstones.exists(spark, s"$dir/ann/ivf"))
    assert(!graft.query.Tombstones.exists(spark, s"$dir/ann/lex"))
    // the client-level pending table cleared LAST
    assert(!graft.query.Tombstones.exists(spark, s"$dir/ann"))
    assert(spark.read.parquet(s"$dir/ann/payload")
      .filter(col("content").contains("Broadcast small tables")).isEmpty)
    assert(spark.read.parquet(s"$dir/ann/ivf/cells")
      .count() == withId.count())
    assert(vecAnswers() == vecMasked)
    assert(hybAnswers() == hybMasked)
  }

  test("takedown payload purge survives an index re-cluster retiring the " +
      "ivf tombstone table between delete and compaction") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-client-del-rc").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")

    val victim = col("content").contains("Broadcast small tables")
    client.deleteWhere(s"$dir/ann", victim)
    assert(graft.query.Tombstones.exists(spark, s"$dir/ann/ivf"))

    // a maintenance re-cluster lands BETWEEN the delete and the client
    // compaction (e.g. IndexMaintenance reclusterEvery): its generation
    // swap physically drops the deleted rows from the INDEX and retires
    // the spent ivf tombstone table — the exact window that used to
    // orphan the payload purge
    graft.query.IvfIndex.recluster(spark, s"$dir/ann/ivf", "row_id", "embedding")
    assert(!graft.query.Tombstones.exists(spark, s"$dir/ann/ivf"))
    // content still physically present (unreachable) — purge still owed
    assert(spark.read.parquet(s"$dir/ann/payload").filter(victim).count() > 0)

    client.compactDeletes(s"$dir/ann")
    assert(spark.read.parquet(s"$dir/ann/payload").filter(victim).isEmpty,
      "payload purge lost after the index re-cluster retired the ivf tombstones")
    assert(!graft.query.Tombstones.exists(spark, s"$dir/ann"))

    // serving stays exact end to end
    val q = Seq((0L,
        client.embedText("Broadcast small tables and let AQE handle skew."),
        "broadcast"))
      .toDF("query_id", "qvec", "qtext")
    val served = client.queryIndexedBatch(s"$dir/ann", q, "query_id", "qvec",
        threshold = -1.0, count = 5)
      .select("content").collect().map(_.getString(0))
    assert(served.nonEmpty && !served.exists(_.contains("Broadcast small tables")))
  }

  test("answer fills a caller-supplied template") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client-tpl").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40,
        template = "Q={question} CTX={context}"))
    client.ingest(mdxDocs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    val qvec = client.embedText("anything")
    val hits = client.query(s"$dir/index", qvec, threshold = -1.0, count = 2)
    val ans = client.answer("why?", hits)
    assert(ans.isDefined)
    assert(ans.get.contains("Q=why?"))
  }

  test("ingest rejects documents whose first section is not ## Context") {
    val dir = java.nio.file.Files.createTempDirectory("graft-client-bad").toString
    val client = new GraftClient(spark)
    val bad = Seq((1L, "## Wrong\nno context here\n")).toDF("doc_id", "mdx")
    val e = intercept[IllegalArgumentException] {
      client.ingest(bad, "doc_id", "mdx", s"$dir/index")
    }
    assert(e.getMessage.contains("validateContext"))
  }
}
