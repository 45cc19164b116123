package graft

import graft.answer.{AnswerModel, EchoAnswerModel}
import graft.embed.{Embedder, HashingEmbedder}
import graft.ingest.{IngestJob, MdxSplitter}
import graft.query.{ContextAssembler, SimilaritySearch}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The drop-in façade for a user of the reference library: the
  * reference's one exported class (`VectorClient`,
  * src/clients/vector-client.ts:54+) exposes `ingestData`,
  * `createEmbeddings`, `queryEmbeddings`, `getAnswer`; this client maps
  * each onto the engine's distributed pipelines. The Postgres/pgvector
  * table becomes a parquet index path; the sequential per-chunk network
  * loop becomes one lazy plan; the OpenAI/LLM calls become the injected
  * [[Embedder]]/[[AnswerModel]] seams (deterministic defaults).
  */
object GraftClient {
  /** Mirrors `VectorClientOptions` (vector-client.ts:9-17): chunking
    * defaults 1000/200 are the reference's (vector-client.ts:72-73);
    * `template` is the reference's required prompt template with
    * `{question}` / `{context}` slots (vector-client.ts:470-475).
    */
  case class Config(
      chunkSize: Int = 1000,
      chunkOverlap: Int = 200,
      embedDim: Int = 64,
      template: String = "# Question\n{question}\n\n# Context\n{context}")

  /** The reference's columnar query result (vector-client.ts:48-51):
    * index-aligned parallel arrays of chunk contents and their contexts.
    */
  case class Embedding(context: Seq[String], metadataContext: Seq[String])

  /** Partition-directory count of the [[GraftClient.buildQueryIndex]]
    * payload table. ONE constant shared by the write and both pruned
    * read paths — a drifted literal at any of the three sites would
    * compute wrong bucket ids and silently filter hit rows out of the
    * payload fetch.
    */
  private[graft] val PayloadBuckets = 64

  /** The payload bucket rule, as a column and on the driver (Spark's
    * `hash` is Murmur3 with seed 42).
    */
  private[graft] def payloadBucketCol(rowId: Column): Column =
    pmod(hash(rowId), lit(PayloadBuckets))
  private[graft] def payloadBucket(rowId: Long): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(rowId, 42), PayloadBuckets)
}

final class GraftClient(
    spark: SparkSession,
    config: GraftClient.Config = GraftClient.Config(),
    embedder: Embedder = HashingEmbedder.default,
    answerModel: AnswerModel = new EchoAnswerModel) {

  private def ingestCfg = IngestJob.Config(
    chunkSize = config.chunkSize,
    chunkOverlap = config.chunkOverlap,
    embedDim = config.embedDim)

  /** PQ params sized to this client's embedding space: numSub = the
    * largest divisor of embedDim ≤ 8 (PQ subspaces must tile the
    * vector exactly; ≥ 1 always exists).
    */
  private def pqParams = graft.query.IvfPq.Params(
    pq = graft.query.PqIndex.Params(
      dim = config.embedDim,
      numSub = (math.min(8, config.embedDim) to 1 by -1)
        .find(config.embedDim % _ == 0).get))

  /** `ingestData({data, dbTable})`: split MDX documents, validate that
    * every document's first section is `## Context` (A-6), sub-chunk,
    * embed, and write the index table to `indexPath`.
    *
    * @param docs one row per document, with an id column and an MDX
    *             string column
    */
  def ingest(docs: DataFrame, docIdCol: String, mdxCol: String, indexPath: String): Unit =
    ingest(docs, docIdCol, mdxCol, graft.ingest.ParquetSink(indexPath))

  /** [[ingest]] against any [[graft.ingest.IndexSink]] — e.g. a
    * [[graft.ingest.JdbcSink]] serving table for reference migrations.
    */
  def ingest(
      docs: DataFrame,
      docIdCol: String,
      mdxCol: String,
      sink: graft.ingest.IndexSink): Unit = {
    val secs = MdxSplitter.split(docs, docIdCol, mdxCol)
      .withColumnRenamed(docIdCol, "doc_id")
    val bad = MdxSplitter.invalidDocs(secs, "doc_id").limit(1).count()
    require(bad == 0, "validateContext: first chunk must start with '## Context'")
    sink.write(IngestJob.indexFrom(IngestJob.chunkSections(secs, ingestCfg, embedder)))
  }

  /** [[ingest]] over a directory of .mdx files — the whole corpus as
    * one job (file-sharded source, [[graft.sources.MdxDirectorySource]])
    * instead of the reference's one-document-per-call loop.
    */
  def ingestDirectory(mdxDir: String, indexPath: String): Unit =
    ingest(graft.sources.MdxDirectorySource.read(spark, mdxDir), "doc_id", "mdx", indexPath)

  /** `createEmbeddings(question)`: one text to one vector, through the
    * same embedder the ingest path uses (driver-side convenience over a
    * 1-row frame so any [[Embedder]] implementation works).
    */
  def embedText(text: String): Array[Float] = {
    import spark.implicits._
    embedder.embed(Seq(text).toDF("text"), "text", "embedding")
      .select("embedding").collect()(0)
      .getSeq[Float](0).toArray
  }

  /** `queryEmbeddings({embeddings, threshold, count})`: threshold-filtered
    * top-k cosine retrieval against a written index — the pgvector stored
    * function's semantics as an explicit Spark plan (A-14).
    * Output: content, metadata struct, sim, ordered by sim descending.
    */
  def query(
      indexPath: String,
      queryVec: Array[Float],
      threshold: Double,
      count: Int): DataFrame =
    SimilaritySearch.topK(
      Tables.read(spark, indexPath), "embedding", queryVec, count, threshold)
      .select(col("content"), col("metadata"), col("sim"))

  /** Build the SCALE PATH for [[query]] over a written document index:
    * a persisted IVF index over the chunk embeddings (exact retrieval
    * by the cell-radius bound — see [[graft.query.IvfIndex]]) plus an
    * id-hash-partitioned payload table for the content/metadata fetch.
    * Row ids are assigned by the distributed prefix-sum harness over
    * the deterministic (doc_id, chunk_id, piece_id) export order — no
    * global window, rebuild-stable. Build once; [[queryIndexed]] then
    * serves the reference's query semantics without ever scanning the
    * full index.
    *
    * `composed = true` builds the COMPOSED IVF+PQ index instead
    * ([[graft.query.IvfPq]]) — same exactness contract, but the probe
    * scans few-byte PQ codes and fetches full embeddings only for
    * code-bound survivors: the right trade once the corpus outgrows
    * what cell pruning alone keeps memory-resident. The serve faces
    * ([[queryIndexed]]/[[queryIndexedBatch]]) read the layout from the
    * index (`cell_codes` presence), so a caller never states the mode
    * twice.
    */
  def buildQueryIndex(
      indexPath: String,
      annPath: String,
      composed: Boolean = false): Unit = {
    val withId = withRowIds(indexPath)
      .select(col("row_id"), col("content"), col("metadata"), col("embedding"))
    if (composed)
      graft.query.IvfPq.build(
        withId.select("row_id", "embedding"), "row_id", "embedding",
        s"$annPath/ivf", pqParams)
    else
      graft.query.IvfIndex.build(withId, "row_id", "embedding", s"$annPath/ivf")
    withId.select("row_id", "content", "metadata")
      .withColumn("__rbucket", GraftClient.payloadBucketCol(col("row_id")))
      .transform(graft.util.PartitionedWrite.spread(
        _, GraftClient.PayloadBuckets, col("__rbucket"), col("row_id")))
      .write.mode("overwrite").partitionBy("__rbucket")
      .parquet(s"$annPath/payload")
  }

  /** The written document index with its `row_id`: the distributed
    * prefix-sum over the deterministic (doc_id, chunk_id, piece_id)
    * export order. Both channels' builds key by it — the one id space
    * [[graft.query.LexicalSearch.rrfFuse]] needs.
    */
  private def withRowIds(indexPath: String): DataFrame =
    graft.pipeline.ScalableWindow.globalRunningSum(
      Tables.read(spark, indexPath).withColumn("__one", lit(1L)), "__one", "row_id",
      col("doc_id").asc, col("chunk_id").asc, col("piece_id").asc)

  /** Route batch retrieval by the index's own layout
    * ([[graft.query.IvfLayout.of]]): the composed ([[graft.query.IvfPq]])
    * scan or plain [[graft.query.IvfIndex]]. Both are exact and return
    * the shared (queryIdCol, row_id, sim, rn) shape, so the serve faces
    * above them are mode-blind.
    */
  private def topKHits(
      annPath: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      threshold: Double,
      count: Int): DataFrame =
    graft.query.IvfLayout.of(spark, s"$annPath/ivf").queryTopK(spark,
      s"$annPath/ivf", "row_id", "embedding", queries, queryIdCol, vecCol,
      count, threshold)

  /** Attach content and metadata to answer-sized hits (any frame with a
    * `row_id` column): the hits are collected once (free when the layout
    * merged them on the driver) and the payload read is pruned to their
    * buckets' partition directories.
    */
  private def withPayload(annPath: String, hits: DataFrame): DataFrame = {
    graft.util.Generation.recover(spark, annPath)
    val rows = hits.collect()
    val buckets = rows.map(r => GraftClient.payloadBucket(r.getAs[Long]("row_id"))).distinct.toSeq
    val payload = Tables.read(spark, s"$annPath/payload")
      .filter(col("__rbucket").isin(buckets: _*))
      .select(col("row_id"), col("content"), col("metadata"))
    Tables.local(spark, rows.toSeq, hits.schema).join(payload, "row_id")
  }

  /** [[query]] routed through the [[buildQueryIndex]] artifacts: same
    * semantics (threshold + top-k by exact cosine, descending), but
    * the scan reads only bound-surviving IVF cell directories and the
    * payload fetch reads only the k hit rows' partition directories —
    * the production shape at corpus scale, result-identical to the
    * full-scan [[query]] by the IVF exactness contract (spec-pinned).
    */
  def queryIndexed(
      annPath: String,
      queryVec: Array[Float],
      threshold: Double,
      count: Int): DataFrame = {
    import spark.implicits._
    val q = Seq((0L, queryVec)).toDF("query_id", "qvec")
    withPayload(annPath, topKHits(annPath, q, "query_id", "qvec", threshold, count))
      .orderBy(col("rn").asc)
      .select(col("content"), col("metadata"), col("sim"))
  }

  /** BATCH variant of [[queryIndexed]] — the missing serving shape for
    * anything beyond a point lookup (an evaluation set, a reprocessing
    * job, an API batching window): one IVF probe and ONE pruned
    * payload fetch for the whole batch, i.e. two bounded driver
    * round-trips TOTAL instead of two per vector. The probe broadcasts
    * the query batch (the [[graft.query.IvfIndex.queryTopK]]
    * point-lookup contract — for corpus-sized batches use
    * `selfKnnGraph`-style mining instead) and rides whichever index
    * [[buildQueryIndex]] wrote — plain IVF or the composed IVF+PQ
    * scan, read from the layout ([[topKHits]]), result-identical by
    * the families' shared exactness contract; the answer-sized hits
    * are held on the driver, the payload read is pruned to their
    * partition directories by bucket id and then equi-joined on
    * `row_id`.
    *
    * @param queries one row per query: (queryIdCol, vecCol)
    * @return (queryIdCol, content, metadata, sim, rn), rn 1..count by
    *         sim descending per query — [[queryIndexed]]'s result
    *         shape plus the query id and rank
    */
  def queryIndexedBatch(
      annPath: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      threshold: Double,
      count: Int): DataFrame = {
    withPayload(annPath,
        topKHits(annPath, queries, queryIdCol, vecCol, threshold, count))
      .select(col(queryIdCol), col("content"), col("metadata"),
        col("sim"), col("rn"))
  }

  /** Row-level label frame derived from the [[buildQueryIndex]] payload
    * table — the filter-attribute source for
    * [[queryIndexedFilteredBatch]]: any Column over (row_id, content,
    * metadata) becomes the label (tenant, source, section context, a
    * content-derived class). One narrow payload projection; persist it
    * through [[buildFilterMeta]] for the build-once serving shape.
    */
  def payloadLabels(
      annPath: String,
      label: org.apache.spark.sql.Column): DataFrame = {
    graft.util.Generation.recover(spark, annPath)
    Tables.read(spark, s"$annPath/payload")
      .select(col("row_id"), label.as("label"))
  }

  /** Persist the per-(cell, label) radius artifact over the query
    * index ([[graft.query.IvfIndex.buildLabelMeta]] — shared by both
    * layouts), so [[queryIndexedFilteredBatch]] serves from the tiny
    * frame after a metadata-only freshness proof instead of deriving
    * it per call. Rebuild when the LABEL side changes; index-side
    * staleness is detected automatically (the artifact's contract).
    */
  def buildFilterMeta(annPath: String, labels: DataFrame): Unit =
    graft.query.IvfIndex.buildLabelMeta(spark, s"$annPath/ivf",
      "row_id", "embedding", labels.select(col("row_id"), col("label")), "label")

  /** FILTERED batch retrieval — the attribute-constrained serve shape
    * (metadata WHERE + ANN in one call, the q108/q114 semantics)
    * through the client: each query retrieves top-`count` among only
    * the chunks whose label equals ITS label, exact by the
    * per-(cell, label) radius bound (stacked with the code bound on a
    * composed index — the engine is routed by the index's own layout,
    * like every other serve face). High-cardinality label frames
    * reroute to the exact overfetch fallback automatically. Payloads
    * fetch bucket-pruned for just the hit rows.
    *
    * @param queries one row per query: (queryIdCol, vecCol, "label")
    * @param labels  (row_id, label) frame — [[payloadLabels]] or any
    *                caller-provided mapping over the index's row ids
    * @return (queryIdCol, content, metadata, sim, rn) — only
    *         label-matching chunks appear
    */
  def queryIndexedFilteredBatch(
      annPath: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      labels: DataFrame,
      threshold: Double,
      count: Int): DataFrame = {
    val hits = graft.query.IvfLayout.of(spark, s"$annPath/ivf")
      .queryTopKFiltered(spark, s"$annPath/ivf", "row_id", "embedding",
        queries.select(col(queryIdCol), col(vecCol), col("label")),
        queryIdCol, vecCol, labels.select(col("row_id"), col("label")), "label",
        count, threshold)
    withPayload(annPath, hits)
      .select(col(queryIdCol), col("content"), col("metadata"),
        col("sim"), col("rn"))
  }

  /** DELETE chunks from the serving artifacts by row id — the client
    * face of the engine's deletion lifecycle ([[graft.query
    * .Tombstones]]; the reference deletes rows with plain SQL against
    * its pgvector table, reference src/clients/vector-client.ts:
    * 396-415). One O(batch) call masks the rows out of EVERY channel
    * built at `annPath`:
    *
    *  - the vector index (plain IVF or composed IVF+PQ — one shared
    *    tombstone table serves both layouts);
    *  - the lexical BM25 channel when [[buildLexicalIndex]] built one
    *    (postings masked AND the global stats corrected, so fused
    *    hybrid ranks stay exactly the live-corpus ranks);
    *  - the payload table needs no mask: payload rows are only ever
    *    reached through an equi-join with already-masked hits, so a
    *    deleted row's payload is unreachable until
    *    [[compactDeletes]] physically removes it.
    *
    * Serving stays exact from this call on; fold the removals in
    * physically with [[compactDeletes]] at maintenance cadence.
    *
    * A CLIENT-LEVEL pending-deletes table (`annPath/tombstones`,
    * [[graft.query.Tombstones]] layout) records the ids independently
    * of the per-index tombstone tables: those are INDEX lifecycle
    * state, retired by any index-level compaction or generation swap
    * (an [[graft.streaming.IndexMaintenance]] re-cluster rebuilds from
    * live rows and purges its spent table) — but the PAYLOAD purge is
    * the client's own obligation, and keying it off a table another
    * lifecycle may retire first would leave deleted rows' content
    * physically retained (unreachable, but a takedown means REMOVED).
    * [[compactDeletes]] consumes this table and purges it in the
    * same commit that swaps the purged payload buckets in.
    */
  def deleteRows(annPath: String, rowIds: DataFrame): Unit = {
    // index/lex masks FIRST, the client pending table LAST: a crash in
    // between then leaves only a retryable retained-payload state with
    // serving already exact. The reverse order had a window where a
    // pending id's payload could be purged while its vector still
    // served — queryIndexedBatch's hits⋈payload inner join would then
    // silently return fewer than k rows (r21, ADVICE item 3). (The
    // payload purge itself tolerates the missing-client-row case via
    // the index-table union in [[compactDeletes]].)
    graft.query.IvfIndex.delete(spark, s"$annPath/ivf", "row_id",
      rowIds.select(col("row_id")))
    val lex = new org.apache.hadoop.fs.Path(s"$annPath/lex")
    if (lex.getFileSystem(spark.sessionState.newHadoopConf()).exists(lex))
      graft.query.LexicalSearch.deleteFromIndex(spark, s"$annPath/lex",
        "row_id", rowIds.select(col("row_id")))
    graft.query.Tombstones.append(spark, annPath, "row_id",
      rowIds.select(col("row_id")))
  }

  /** `DELETE ... WHERE` over the payload attributes — the predicate
    * form a takedown actually arrives in (a source to drop, a tenant
    * to forget, a content pattern to purge): any Column over
    * (row_id, content, metadata) selects the victims, then
    * [[deleteRows]] masks them everywhere. One payload scan to
    * resolve the predicate; the delete itself stays O(matches).
    */
  def deleteWhere(annPath: String, predicate: org.apache.spark.sql.Column): Unit = {
    graft.util.Generation.recover(spark, annPath)
    deleteRows(annPath,
      Tables.read(spark, s"$annPath/payload").filter(predicate)
        .select(col("row_id")))
  }

  /** Fold pending deletes into every physical artifact at `annPath`,
    * off the query path: the payload partitions holding deleted rows
    * are rewritten first (pruned to their ≤ [[GraftClient
    * .PayloadBuckets]] hash buckets), then the vector index compacts
    * ([[graft.query.IvfIndex.compactTombstones]] — cell-pruned
    * rewrite, code rows move with their cells on a composed layout),
    * then the lexical channel rebuilds. Each of the three publishes
    * through its own [[graft.util.Generation.commit]], purging the
    * pending-delete table it consumed in the same marker, so a crash
    * anywhere leaves every channel either masked or compacted, and a
    * rerun finishes the channels still holding their table.
    */
  def compactDeletes(annPath: String): Unit = {
    val ivfPath = s"$annPath/ivf"
    // the payload purge keys off the UNION of every pending-delete
    // table at this path: the CLIENT-LEVEL table ([[deleteRows]]) —
    // which an index re-cluster between delete and compaction cannot
    // retire — PLUS the ivf/lex index tables, so deletes issued before
    // the client table existed, or directly against an index face
    // (IvfIndex.delete, CDC maintenance), still get their payload
    // physically removed (r21, ADVICE item 1: the unconditional
    // index compaction below retires the only other record of those
    // ids while their payload would have stayed retained forever).
    graft.util.Generation.recover(spark, annPath)
    val pendingTables = Seq(annPath, ivfPath, s"$annPath/lex")
      .flatMap(p => graft.query.Tombstones.df(spark, p))
    pendingTables.reduceOption(_ unionByName _).foreach { t =>
      val tombIds = t.select(
        col(graft.query.Tombstones.IdColumn).as("row_id")).distinct()
      val buckets = tombIds
        .select(GraftClient.payloadBucketCol(col("row_id")).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      // the surviving rows of the touched buckets are staged, then
      // swapped in with the emptied buckets and the client table purged
      val regen = graft.util.Generation.stage(spark, annPath)
      if (buckets.nonEmpty)
        Tables.read(spark, s"$annPath/payload")
          .filter(col("__rbucket").isin(buckets: _*))
          .join(tombIds, Seq("row_id"), "left_anti")
          .transform(graft.util.PartitionedWrite.spread(
            _, buckets.size, col("__rbucket"), col("row_id")))
          .write.partitionBy("__rbucket").parquet(s"$regen/payload")
      val (installs, purge) = graft.util.Generation.partitions(
        spark, annPath, "payload", "__rbucket", buckets)
      graft.util.Generation.commit(spark, annPath, installs,
        purge :+ graft.query.Tombstones.TableName)
    }
    // index-level fold-ins run off their OWN tables (each a cheap no-op
    // when an earlier maintenance pass — e.g. a re-cluster's generation
    // swap — already retired it physically)
    graft.query.IvfIndex.compactTombstones(
      spark, ivfPath, "row_id", "embedding")
    val lex = new org.apache.hadoop.fs.Path(s"$annPath/lex")
    if (lex.getFileSystem(spark.sessionState.newHadoopConf()).exists(lex))
      graft.query.LexicalSearch.compactTombstones(spark, s"$annPath/lex",
        "row_id")
  }

  /** Build the LEXICAL channel of the hybrid serve face over a written
    * document index: a persisted BM25 postings index
    * ([[graft.query.LexicalSearch.buildIndex]] — term-hash-partitioned
    * postings, pruned probes, incremental appends) over the chunk
    * content, keyed by the SAME deterministic row ids as
    * [[buildQueryIndex]] (the distributed prefix-sum over the
    * (doc_id, chunk_id, piece_id) export order) — the two channels
    * share one id space, the precondition of
    * [[graft.query.LexicalSearch.rrfFuse]]. Build once next to the
    * vector artifacts; [[queryHybrid]]/[[queryHybridBatch]] then serve
    * fused retrieval without scanning either corpus.
    */
  def buildLexicalIndex(indexPath: String, annPath: String): Unit = {
    val withId = withRowIds(indexPath).select(col("row_id"), col("content"))
    graft.query.LexicalSearch.buildIndex(withId, "row_id", "content",
      s"$annPath/lex")
  }

  /** HYBRID batch retrieval — Reciprocal Rank Fusion (the engine's q72
    * shape, [[graft.query.LexicalSearch.rrfFuse]], exact BIGINT
    * micro-units) of the two persisted channels:
    *
    *  - vector: the [[buildQueryIndex]] artifacts through the
    *    layout-routed probe ([[queryIndexedBatch]]'s engine — plain
    *    IVF or composed IVF+PQ, read from the index);
    *  - lexical: the [[buildLexicalIndex]] BM25 postings, probe pruned
    *    to the query terms' hash buckets.
    *
    * Both channels retrieve their own top-`channelK`, fuse full-outer
    * (a hit needs only one channel — vector recall backstops lexical
    * vocabulary gaps and vice versa), and only the fused top-`count`
    * rows fetch payloads (bucket-pruned, the [[queryIndexedBatch]]
    * discipline).
    *
    * @param queries one row per query: (queryIdCol, vecCol, textCol) —
    *                the embedded question and its raw text
    * @return (queryIdCol, rank, content, metadata, rrf_micro,
    *         vec_rank, lex_rank) — rank 1..count by fused score desc,
    *         ties ascending row id; a channel that missed a hit leaves
    *         its rank null
    */
  def queryHybridBatch(
      annPath: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      textCol: String,
      count: Int,
      channelK: Int = 20,
      threshold: Double = 0.0): DataFrame = {
    // the vector probe's passes overlap the lexical bucket probe
    val (vec, lex) = graft.util.Par.both(spark, "hybrid")(
      topKHits(annPath, queries.select(col(queryIdCol), col(vecCol)),
          queryIdCol, vecCol, threshold, channelK)
        .select(col(queryIdCol), col("row_id"), col("rn").as("rank")),
      graft.query.LexicalSearch.queryIndex(spark, s"$annPath/lex", "row_id",
          queries.select(col(queryIdCol),
            explode(graft.query.LexicalSearch.tokens(col(textCol))).as("__term")),
          queryIdCol, "__term", k = channelK)
        .select(col(queryIdCol), col("row_id"), col("rank")))
    withPayload(annPath, graft.query.LexicalSearch.rrfFuse(vec, lex,
        queryIdCol, "row_id", "rank", k = count))
      .select(col(queryIdCol), col("rank"), col("content"), col("metadata"),
        col("rrf_micro"),
        col("a_rank").as("vec_rank"), col("b_rank").as("lex_rank"))
  }

  /** Point-lookup hybrid retrieval — the RAG user's one-call face: the
    * question string is embedded through the client's [[Embedder]]
    * (vector channel) and whitespace-tokenized (lexical channel,
    * matching the index's [[graft.query.LexicalSearch.tokens]]
    * analyzer), fused and payload-fetched as [[queryHybridBatch]].
    * Ordered by fused rank.
    */
  def queryHybrid(
      annPath: String,
      question: String,
      count: Int,
      channelK: Int = 20,
      threshold: Double = 0.0): DataFrame = {
    import spark.implicits._
    val q = Seq((0L, embedText(question), question))
      .toDF("query_id", "qvec", "qtext")
    queryHybridBatch(annPath, q, "query_id", "qvec", "qtext",
        count, channelK, threshold)
      .orderBy(col("rank").asc)
      .select(col("rank"), col("content"), col("metadata"),
        col("rrf_micro"), col("vec_rank"), col("lex_rank"))
  }

  /** [[query]] projected to the reference's columnar result shape
    * (parallel index-aligned arrays, vector-client.ts:411-414).
    */
  def queryEmbedding(
      indexPath: String,
      queryVec: Array[Float],
      threshold: Double,
      count: Int): GraftClient.Embedding = {
    val rows = query(indexPath, queryVec, threshold, count)
      .select(col("content"), col("metadata.context")).collect()
    GraftClient.Embedding(
      rows.map(_.getString(0)).toSeq,
      rows.map(_.getString(1)).toSeq)
  }

  /** `getAnswer(question, embedding)`: group the retrieved rows by their
    * shared document context in first-appearance order, render the
    * `## Chunk n` blocks, fill the configured `{question}`/`{context}`
    * template, call the answer model; None on model failure (mirrors the
    * reference returning undefined, vector-client.ts:483-488).
    */
  def answer(question: String, hits: DataFrame): Option[String] = {
    val ranked = hits
      .withColumn("qid", lit(1))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("sim").desc, col("content"))))
      .select(col("qid"), col("rank"),
        col("metadata.context").as("context"), col("content"))
    val merged = ContextAssembler.mergeByContext(ranked, "qid", "rank", "context", "content")
    val blocks = ContextAssembler.assembleBlocks(merged, "qid", "context")
      .select("chunks").collect()
    if (blocks.isEmpty) None
    else {
      // reference PromptTemplate.format semantics: fill the configured
      // template's slots with the question and the rendered chunk blocks
      val prompt = config.template
        .replace("{question}", question)
        .replace("{context}", blocks(0).getString(0))
      answerModel.answer(prompt)
    }
  }
}
