package graft

import graft.ingest.IngestJob
import graft.pipeline.{Decontamination, Dedup, Events, Multimodal, RangeJoin, Relational, Sampling, SequencePacker, TextAnalysis}
import graft.query.{AnnIndex, ContextAssembler, IvfIndex, IvfPq, LexicalSearch, QuantizedSearch, RetrievalEval, SimilaritySearch}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared-query glue (SURVEY §5.3): every entry is a named operator
  * exercised end-to-end, with a DuckDB oracle in [[SparkEntry.oracleSql]]
  * where ANSI SQL can express it.
  */
object Queries {

  /** Q9: batch exact cosine top-k (A-14 semantics — threshold 0.0, k=5,
    * 10 query vectors drawn from the embeddings fixture).
    */
  def q9CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    SimilaritySearch.topKBatch(e, "embedding", "vec_id",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Work dir for the persisted-index queries (q38/q39), per (kind,
    * fixture dir) so the concurrent Verify tasks never collide on a path.
    */
  private def indexWorkDir(kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_index_" +
      dir.replaceAll("[^A-Za-z0-9]", "_") +
      // per-process suffix: a deterministic shared path would let a
      // concurrent JVM's rebuild delete index files another JVM's
      // query is scanning (Verify + Bench overlap in this harness)
      s"_${ProcessHandle.current().pid()}"

  /** Build-once-per-JVM gate for the persisted indexes: every process
    * that runs q38/q39 exercises the build at least once (so the
    * correctness gate always covers it and a stale on-disk index from
    * older code can never be served), while repeated invocations in one
    * session — bench's min-of-two, a REPL — measure retrieval against
    * the persisted artifact, which is the production shape of an index:
    * build once, query many.
    */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  // per-PID dirs don't get overwritten by later runs, so delete what
  // this JVM built on exit or repeated runs litter the temp filesystem
  sys.addShutdownHook {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    builtIndexes.keySet().forEach(p => rm(new java.io.File(p)))
  }
  private def buildOnce(work: String)(build: => Unit): Unit =
    builtIndexes.computeIfAbsent(work, _ => { build; java.lang.Boolean.TRUE })

  /** The 10-vector query batch shared by q9/q38/q39: the first ten
    * corpus vectors, so every approximate path is graded against the
    * same exact-cosine oracle.
    */
  private def queryBatch(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Q38: batch top-k against the PERSISTED LSH index (B-4, the
    * reference's A-14 query at scale: build once, query many). Builds
    * model + pre-hashed rows to a work dir, then retrieves the same
    * 10-query batch as q9 — verified against q9's EXACT oracle, so the
    * row stays green only while the banded index keeps full recall at
    * this operating point (hash tables sized accordingly; misses are a
    * param bug, not an accepted approximation).
    */
  def q38AnnIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("lsh", dir)
    buildOnce(work)(AnnIndex.buildIndex(e, "vec_id", "embedding", work))
    AnnIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q39: batch top-k against the IVF index (the second ANN path —
    * k-means cells, parquet partition-pruned probes, exact by the
    * cell-radius triangle bound — see [[graft.query.IvfIndex]]). Same
    * batch/oracle as q9/q38; green by construction at any corpus shape,
    * because the bound probes every cell that could still change the
    * answer (on this isotropic fixture that is most cells; on a
    * clustered corpus it is few).
    */
  def q39IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    IvfIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q105: batch top-k against the PRODUCT-QUANTIZATION codes alone —
    * a ONE-CELL [[graft.query.IvfPq]] index, so no cell bound prunes
    * anything and every vector's codes are scanned: per-subspace
    * codebooks, ~12-40 B of codes+residual scanned per vector instead
    * of the 256 B payload, certified similarity bounds from the ADC
    * lookup-table scan, exact cosine re-rank of only the
    * bound-surviving candidates. Same batch and EXACT oracle as
    * q9/q38/q39: green at any corpus shape because the residual bound
    * widens (fetches more) rather than misses — on this isotropic
    * fixture it fetches most rows; on a clustered corpus
    * (PqIndexSpec) the fetch is answer-sized.
    */
  def q105PqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("pq", dir)
    buildOnce(work)(IvfPq.build(e, "vec_id", "embedding", work,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 1))))
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q106: IVF HOT-CELL SPLIT maintenance under the exactness gate —
    * the index is deliberately built with too few cells (4, so every
    * cell is over-cap by construction), [[graft.query.IvfIndex
    * .splitHotCells]] splits each hot cell in two along its
    * max-variance dimension (deterministic micro-quantized integer
    * statistics, only the hot directories rewritten), and the
    * standard batch queries the split index. Same full-corpus exact
    * oracle as q9/q39/q85: the row is green only if the split is
    * result-invisible, which the radius-coverage contract guarantees.
    * Together with q85 (append) and the compaction hooks this
    * completes the log-structured index lifecycle: append → split →
    * compact, no full re-cluster anywhere.
    */
  def q106IvfSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf_split", dir)
    buildOnce(work) {
      IvfIndex.build(e, "vec_id", "embedding", work,
        IvfIndex.Params(nCentroids = 4))
      // cap at a sixth of the corpus: every balanced cell (~n/4) is
      // hot, so the split machinery is exercised at any fixture SF
      IvfIndex.splitHotCells(spark, work, "vec_id", "embedding",
        occupancyCap = e.count() / 6)
    }
    IvfIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q107: batch top-k against the COMPOSED IVF+PQ index
    * ([[graft.query.IvfPq]] — the canonical two-level ANN layout):
    * coarse cells prune whole partition directories via the triangle
    * bound, the PQ code scan inside the probed cells prunes individual
    * payload fetches via the residual bound, and only the double
    * survivors are exact-ranked. Same batch and EXACT oracle as
    * q9/q38/q39/q105 — q105's one-cell layout with the cell bound in
    * front, under one exactness gate, and the shape a 100 TB deployment
    * actually runs (read a few cells' few-byte codes, fetch an
    * answer-sized payload set).
    */
  def q107IvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq", dir)
    buildOnce(work)(IvfPq.build(e, "vec_id", "embedding", work))
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q108: FILTERED vector search over the shared persisted IVF index
    * — each query retrieves top-k among only the corpus rows carrying
    * ITS label ([[graft.query.IvfIndex.queryTopKFiltered]]), the
    * attribute-constrained retrieval every production vector store
    * serves (metadata WHERE + ANN in one operator). Exact by the
    * per-(cell, label) radius bound: a query probes only cells that
    * contain its label, so rare labels probe almost nothing at any
    * corpus geometry. The radius metadata is the persisted
    * build-once [[graft.query.IvfIndex.buildLabelMeta]] artifact
    * (freshness proven per call by an occupancy scan; stale falls
    * back to the per-call derivation, never to wrong answers).
    * Oracle = the label-equijoined brute-force ranking.
    */
  def q108FilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    // label metadata is its own build-once artifact: the shared "ivf"
    // index may already have been built by q39/q77/q82/q88's block
    buildOnce(s"$work/__label_meta")(IvfIndex.buildLabelMeta(
      spark, work, "vec_id", "embedding", e.select("vec_id", "label"), "label"))
    IvfIndex.queryTopKFiltered(spark, work, "vec_id", "embedding",
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            col("label")),
        "query_id", "qvec", e.select("vec_id", "label"), "label",
        k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q113: FILTERED retrieval through the HIGH-CARDINALITY fallback
    * ([[graft.query.IvfIndex.queryTopKFiltered]] past
    * `maxLabelFanout`): a derived near-unique label (`vec_id % 97`,
    * ~97 distinct values vs the fanout cap of 16) reroutes the call
    * from the per-(cell, label) radii path — whose metadata frame
    * would grow toward corpus size — to unfiltered overfetch +
    * post-filter + refill, with the tiny `refillCap` driving the
    * still-deficient queries through the ESCALATION branch (direct
    * label-equijoin ranking) at any fixture SF: a label holds ~n/97
    * mates, and a top-32 global overfetch over an isotropic corpus
    * surfaces almost none of them. Same exactness contract and the
    * same label-equijoin oracle shape as q108 — the branch decision
    * is a cost knob, never a semantics one, and this row proves it
    * against DuckDB end-to-end.
    */
  def q113FilteredFallback(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    IvfIndex.queryTopKFiltered(spark, work, "vec_id", "embedding",
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            pmod(col("vec_id"), lit(97)).as("hl")),
        "query_id", "qvec",
        e.select(col("vec_id"), pmod(col("vec_id"), lit(97)).as("hl")), "hl",
        k = 5, threshold = 0.0, probeWidth = 1,
        maxLabelFanout = 16L, refillCap = 32L)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q114: FILTERED vector search over the COMPOSED IVF+PQ index
    * ([[graft.query.IvfPq.queryTopKFiltered]]) — the q108 semantics
    * served from the memory-bound layout a 100 TB corpus actually
    * runs: the per-(cell, label) radius bound restricts probes to
    * label-holding cells (the SAME persisted
    * [[graft.query.IvfIndex.buildLabelMeta]] artifact as q108 — the
    * composed layout shares `cells/`+`cells_meta`, so freshness
    * proofs and upsert folds apply unchanged), and within the probed
    * cells the PQ code scan prices ONLY label-mates, fetching full
    * payloads for just the double-bound survivors. Exact by the
    * stacked bounds; same label-equijoin oracle as q108, so the two
    * layouts are graded against one truth.
    */
  def q114FilteredPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq", dir)
    buildOnce(work)(IvfPq.build(e, "vec_id", "embedding", work))
    // label metadata is its own build-once artifact over the shared
    // "ivfpq" index (q107/q114 share the build, priced once in bench)
    buildOnce(s"$work/__label_meta")(IvfIndex.buildLabelMeta(
      spark, work, "vec_id", "embedding", e.select("vec_id", "label"), "label"))
    IvfPq.queryTopKFiltered(spark, work, "vec_id", "embedding",
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            col("label")),
        "query_id", "qvec", e.select("vec_id", "label"), "label",
        k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q109: INCREMENTAL maintenance of the composed IVF+PQ index under
    * the exactness gate — built over 90% of the corpus, the held-out
    * tenth folded in by [[graft.query.IvfIndex.upsert]] (cell append +
    * radius growth + frozen-codebook code append), then the standard
    * batch queries the merged index against the same full-corpus
    * exact oracle: both stacked bounds must survive maintenance
    * (radius coverage and stored-residual pricing are append-stable),
    * the q85 contract extended to the composed family.
    */
  def q109IvfPqUpsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq_upsert", dir)
    val params = IvfPq.Params()
    buildOnce(work) {
      IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
        "vec_id", "embedding", work, params)
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 0))
    }
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q110: GROUP-CAPPED retrieval — the q9 batch with a diversity
    * constraint: at most 2 hits per label per query, then the global
    * top-5 over the survivors
    * ([[graft.query.SimilaritySearch.cappedTopKBatch]] —
    * cap-then-rank, both stages answer-sized `topk_by` aggregates).
    * The search-diversification shape (cap by source/domain/cluster)
    * every retrieval service ends up needing; oracle states the same
    * two nested rankings.
    */
  def q110CappedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    SimilaritySearch.cappedTopKBatch(
        e.select("vec_id", "embedding"), "embedding", "vec_id",
        e.select("vec_id", "label"), "label",
        queryBatch(e), "query_id", "qvec",
        k = 5, perGroupCap = 2, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q111: HOT-CELL SPLIT maintenance of the COMPOSED IVF+PQ index
    * under the exactness gate — the q106 contract extended to the
    * composed family: built with too few cells (4, so every balanced
    * cell is over-cap at any fixture SF), [[graft.query.IvfPq
    * .splitToConvergence]] splits each hot cell in two and MOVES the
    * PQ code rows with their cells (global codebooks make codes
    * cell-independent — only the partition key changes), and the
    * standard batch queries the split index against the same
    * full-corpus exact oracle. Green only if the one-generation-swap
    * commit leaves cells, metadata and codes agreeing — which
    * closes the composed family's log-structured lifecycle: append
    * (q109) → split (here) → compact, no re-cluster anywhere.
    */
  def q111IvfPqSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq_split", dir)
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4))
    buildOnce(work) {
      IvfPq.build(e, "vec_id", "embedding", work, params)
      // same cap rule as q106: every balanced cell (~n/4) is hot
      IvfIndex.splitToConvergence(spark, work, "vec_id", "embedding",
        occupancyCap = e.count() / 6)
    }
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q112: RESIDUAL (IVFADC) encoding for the composed index
    * ([[graft.query.IvfPq.Params.residual]]) driven through its FULL
    * maintenance lifecycle under the exactness gate: build over 80%
    * of the corpus with deliberately-too-few cells, upsert 10%
    * (reuses the build's encoding generations), split every hot cell
    * (residual codes MOVE with their generation — nothing
    * re-encodes), then upsert the last 10% into the split-minted
    * cells (fresh generations minted from their current centroids).
    * The standard batch then queries against the same full-corpus
    * exact oracle as q107/q109/q111 — green only if the per-(query,
    * generation) LUT pricing is exact across all accumulated
    * generations. The mode's payoff (tighter residual bounds → a
    * smaller exact-verify fetch on clustered corpora) is spec-pinned
    * on constructed clusters; this row prices the isotropic worst
    * case like the rest of the family.
    */
  def q112ResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq_residual", dir)
    val params = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 4),
      residual = true)
    buildOnce(work) {
      IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) >= 2),
        "vec_id", "embedding", work, params)
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 0))
      IvfIndex.splitToConvergence(spark, work, "vec_id", "embedding",
        occupancyCap = e.count() / 6)
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 1))
    }
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q115: FULL RE-CLUSTER with atomic generation swap
    * ([[graft.query.IvfIndex.recluster]]) under the exactness gate —
    * the lifecycle repair the append→split→compact loop cannot
    * provide: a deliberately poor starting generation (2 coarse cells
    * over 90% of the corpus, drifted further by a 10% append) is
    * re-clustered to 16 fresh cells built from the CURRENT corpus and
    * swapped in behind the marker fence, and the standard batch then
    * queries the new generation against the same full-corpus exact
    * oracle as q39/q85/q106 — green only if the swap is
    * result-invisible (same rows in, exact bound out) and leaves no
    * torn cells/cells_meta pair. The mid-swap crash matrix is
    * spec-pinned (ReclusterSpec); this row prices the full
    * build+swap+query lifecycle.
    */
  def q115Recluster(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf_recluster", dir)
    buildOnce(work) {
      IvfIndex.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
        "vec_id", "embedding", work, IvfIndex.Params(nCentroids = 2))
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 0))
      IvfIndex.recluster(spark, work, "vec_id", "embedding",
        IvfIndex.Params(nCentroids = 16))
    }
    IvfIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q117: MULTI-LABEL (disjunctive) filtered search
    * ([[graft.query.IvfIndex.queryTopKFilteredAny]]) — each query
    * retrieves top-k among corpus rows whose label is IN its 2-label
    * set (`label IN (...)`, the filter shape production stores serve
    * next to equality): per-label exact retrieval units over the
    * SAME persisted label-meta artifact as q108, unioned and globally
    * re-ranked — exact by containment (one label per corpus row, so
    * the true set-filtered top-k lives inside the union of per-label
    * top-ks). Oracle = the list_contains-joined brute-force ranking.
    */
  def q117FilteredAny(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    buildOnce(s"$work/__label_meta")(IvfIndex.buildLabelMeta(
      spark, work, "vec_id", "embedding", e.select("vec_id", "label"), "label"))
    IvfIndex.queryTopKFilteredAny(spark, work, "vec_id", "embedding",
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            array(col("label"), col("label") + lit(1)).as("lbls")),
        "query_id", "qvec", "lbls", e.select("vec_id", "label"), "label",
        k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q118: ROW DELETION on the IVF index
    * ([[graft.query.IvfIndex.delete]] /
    * [[graft.query.IvfIndex.compactTombstones]] — the [[graft.query
    * .Tombstones]] design) under the exactness gate, pricing BOTH
    * serving modes in one lifecycle: a first delete batch
    * (`vec_id % 7 == 3`) is physically folded in by the
    * partition-pruned compaction (only the cells holding deleted rows
    * rewritten, radii re-tightened, spent tombstones retired), a
    * second batch (`vec_id % 11 == 5`) stays PENDING, served through
    * the tombstone anti-join mask at the candidate scan — before any
    * floor, so a deleted row can never certify a cutoff that prunes a
    * live answer. Oracle = brute-force cosine top-k over exactly the
    * surviving corpus; green only if masked and compacted rows alike
    * are invisible AND nothing live went missing. The reference gets
    * this operation from Postgres (`DELETE` against its pgvector
    * table, reference src/clients/vector-client.ts:396-415); a 100 TB
    * training corpus needs it as an index-lifecycle primitive
    * (takedowns, right-to-be-forgotten).
    */
  def q118IvfDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf_delete", dir)
    buildOnce(work) {
      IvfIndex.build(e, "vec_id", "embedding", work)
      IvfIndex.delete(spark, work, "vec_id",
        e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
      IvfIndex.compactTombstones(spark, work, "vec_id", "embedding")
      IvfIndex.delete(spark, work, "vec_id",
        e.filter(pmod(col("vec_id"), lit(11)) === 5).select("vec_id"))
    }
    IvfIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q119: the q118 deletion lifecycle on the COMPOSED IVF+PQ index —
    * same two-batch shape (compacted + pending), same survivors-only
    * oracle. The composed path raises the stakes twice over: the
    * pending batch must mask at the CODE scan (an ADC lower bound from
    * a deleted row would inflate the certified floor and could prune a
    * cell holding live answers), and the compaction must move the
    * surviving code rows with their cells (a crash between the two
    * rewrites is reconciled by checking BOTH tables for dirt —
    * DeleteSpec pins that matrix).
    */
  def q119IvfPqDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq_delete", dir)
    val params = IvfPq.Params()
    buildOnce(work) {
      IvfPq.build(e, "vec_id", "embedding", work, params)
      IvfIndex.delete(spark, work, "vec_id",
        e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"))
      IvfIndex.compactTombstones(spark, work, "vec_id", "embedding")
      IvfIndex.delete(spark, work, "vec_id",
        e.filter(pmod(col("vec_id"), lit(11)) === 5).select("vec_id"))
    }
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q121: INDEX INTEGRITY VERIFICATION ([[graft.query.IndexCheck]] —
    * the fsck that closes the ops lifecycle): a composed IVF+PQ index
    * and a lexical postings index are built, given a pending delete
    * batch (so the masked serving state is what gets audited, not just
    * the fresh build), and every invariant the exactness proofs assume
    * is checked — radius coverage over live rows, meta↔directory
    * agreement, id uniqueness, cells↔codes alignment, physical-stats
    * consistency, bucket hashing. The output is the sf-independent
    * verdict table (source, check, ok): every row must read ok=true on
    * a healthy index at ANY corpus size, which is exactly what the
    * literal-VALUES oracle pins (the corruption matrix — each breakage
    * flags exactly its check — lives in IndexCheckSpec, where indexes
    * can be damaged on purpose).
    */
  def q121IndexFsck(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("fsck", dir)
    buildOnce(work) {
      // the composed and lexical chains write disjoint directories from
      // disjoint inputs — build them concurrently (§2.6), like the
      // audits below; each chain stays internally sequential (its
      // delete mutates its own just-built artifact)
      graft.util.Par.both(spark, "q121.build")(
        {
          IvfPq.build(e, "vec_id", "embedding", s"$work/ivfpq")
          IvfIndex.delete(spark, s"$work/ivfpq", "vec_id",
            e.filter(pmod(col("vec_id"), lit(10)) === 0).select("vec_id"))
        },
        {
          val docs = Tables.parallelize(Tables(spark, dir, "documents"))
          LexicalSearch.buildIndex(docs, "doc_id", "text", s"$work/lex")
          LexicalSearch.deleteFromIndex(spark, s"$work/lex", "doc_id",
            docs.filter(pmod(col("doc_id"), lit(10)) === 0).select("doc_id"))
        })
    }
    // the two audits are independent eager job chains over disjoint
    // artifacts — overlap them (§2.6); the final sort owns row order
    graft.util.Par.all(spark, "q121.check")(
        () => graft.query.IndexCheck.checkIvf(spark, s"$work/ivfpq", "vec_id", "embedding")
          .select(lit("ivfpq").as("source"), col("check"), col("ok")),
        () => graft.query.IndexCheck.checkLexical(spark, s"$work/lex", "doc_id")
          .select(lit("lex").as("source"), col("check"), col("ok")))
      .reduce(_ unionByName _)
      .orderBy("source", "check")
  }

  /** Q122: SHARDED retrieval ([[graft.query.ShardedIvf]] — horizontal
    * composition, the 100 TB serving shape): the corpus hash-partitions
    * across 4 independent IVF shards (each built over its quarter —
    * bounded build memory, restartable, rolling-maintainable), a fifth
    * of the rows arrives through the hash-routed upsert, and every 9th
    * row is deleted through the hash-routed tombstone path; the batch
    * then queries ACROSS the shard set (per-shard exact top-k, one
    * answer-sized global re-rank — exact by containment: a global
    * winner ranks ≤ k in its home shard). Oracle = brute-force cosine
    * over the surviving corpus, so the row is green only if sharding,
    * routing, deletion and the cross-shard re-rank are all
    * result-invisible together.
    */
  /** The shared 4-shard set q122/q123 serve from: built over 80%, a
    * fifth hash-route-upserted, every 9th row hash-route-deleted —
    * one lifecycle, two serve faces priced against it.
    */
  private def shardedWork(spark: SparkSession, dir: String): String = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("sharded", dir)
    buildOnce(work) {
      graft.query.ShardedIvf.build(
        e.filter(pmod(col("vec_id"), lit(10)) < 8), "vec_id", "embedding",
        work, n = 4)
      graft.query.ShardedIvf.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) >= 8))
      graft.query.ShardedIvf.delete(spark, work, "vec_id",
        e.filter(pmod(col("vec_id"), lit(9)) === 4).select("vec_id"))
    }
    work
  }

  def q122ShardedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = shardedWork(spark, dir)
    graft.query.ShardedIvf.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q123: FILTERED retrieval across the SAME post-deletion shard set
    * as q122 ([[graft.query.ShardedIvf.queryTopKFiltered]]) — the
    * attribute-constrained serve shape composed with horizontal
    * sharding AND the deletion lifecycle in one row: per-shard
    * label-radius-bounded exact retrieval (each shard's persisted
    * label-meta artifact, built per shard over its routed slice),
    * masked by each shard's pending tombstones, unioned and globally
    * re-ranked. Exact by containment per label; oracle = the
    * label-equijoined brute-force ranking over the SURVIVING corpus.
    */
  def q123ShardedFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = shardedWork(spark, dir)
    buildOnce(s"$work/__label_meta")(graft.query.ShardedIvf.buildLabelMeta(
      spark, work, "vec_id", "embedding", e.select("vec_id", "label"), "label"))
    graft.query.ShardedIvf.queryTopKFiltered(spark, work, "vec_id", "embedding",
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            col("label")),
        "query_id", "qvec", e.select("vec_id", "label"), "label",
        k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q120: DOCUMENT DELETION on the persisted lexical index
    * ([[graft.query.LexicalSearch.deleteFromIndex]]) — the hardest
    * deletion surface, because BM25 couples every document's score to
    * the global (N, Σlen, df): a third of the corpus
    * (`doc_id % 3 == 2`) is deleted and the index must serve scores
    * BIT-IDENTICAL to a from-scratch rebuild over the survivors. The
    * correction data — each deleted doc's length — is recovered from
    * its own posting rows at delete time and written WITH the
    * tombstone in one atomic append; query-time stats subtract the
    * deduplicated tombstone aggregate, the bucket-pruned posting probe
    * anti-joins the mask BEFORE the df window, and df falls out right
    * because it is derived (not stored) from the masked candidate
    * frame. Oracle = the full quantized-rational BM25 arithmetic over
    * the live documents only; deleted query docs (2, 5, 8) still
    * QUERY — their term sets come from the documents table, not the
    * index — they just can never be RETURNED.
    */
  def q120LexDelete(spark: SparkSession, dir: String): DataFrame = {
    val work = indexWorkDir("lex_delete", dir)
    buildOnce(work) {
      val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      LexicalSearch.buildIndex(docs, "doc_id", "text", work)
      LexicalSearch.deleteFromIndex(spark, work, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(3)) === 2).select("doc_id"))
    }
    LexicalSearch.queryIndex(spark, work, "doc_id",
        lexicalQueryBatch(spark, dir), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Q116: FULL RE-CLUSTER of the COMPOSED IVF+PQ index
    * ([[graft.query.IvfPq.recluster]]) under the exactness gate — the
    * q115 contract extended to the whole composed artifact set: a
    * deliberately poor 2-cell composed build over 90% of the corpus
    * plus a 10% upsert is re-clustered to 16 fresh cells (new
    * centroids, new codebooks, re-encoded codes) and swapped in
    * behind the artifact-list-carrying marker fence; the standard
    * batch then queries the new generation against the same
    * full-corpus exact oracle as q107/q109/q111/q112. Green only if
    * the swap leaves cells, metadata, codebooks and codes agreeing —
    * which closes the composed family's full lifecycle: append →
    * split → compact → re-cluster.
    */
  def q116IvfPqRecluster(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivfpq_recluster", dir)
    val poor = IvfPq.Params(
      ivf = IvfIndex.Params(nCentroids = 2))
    val fresh = IvfPq.Params()
    buildOnce(work) {
      IvfPq.build(e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
        "vec_id", "embedding", work, poor)
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 0))
      IvfPq.recluster(spark, work, "vec_id", "embedding", fresh)
    }
    IvfPq.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q97/Q100 via the maintained curation-signal store (cluster labels
    * + frozen-LM scores persisted once, read per query — see
    * [[graft.pipeline.CurationStore]]): same outputs and oracles as
    * the recompute paths ([[Dedup.q97LeakageSafeSplit]] /
    * [[Dedup.q100BestOfCluster]]), with the LSH + LM passes priced in
    * the bench `builds` map instead of re-paid per run.
    */
  def q97LeakageSafeSplitStored(spark: SparkSession, dir: String): DataFrame = {
    val work = indexWorkDir("curation", dir)
    buildOnce(work)(graft.pipeline.CurationStore.build(spark, dir, work))
    graft.pipeline.CurationStore.leakageSafeSplit(spark, work)
  }

  def q100BestOfClusterStored(spark: SparkSession, dir: String): DataFrame = {
    val work = indexWorkDir("curation", dir)
    buildOnce(work)(graft.pipeline.CurationStore.build(spark, dir, work))
    graft.pipeline.CurationStore.bestOfCluster(spark, work)
  }

  /** Q77: exact k-NN GRAPH over the corpus via the persisted IVF index
    * (shared with q39 — one index, two query patterns): every vector's
    * 5 nearest neighbors, self excluded. Unlike q39's point-batch probe,
    * the corpus here IS the query batch, so nothing broadcasts but cell
    * metadata — own-cell co-located self-join seeds a per-vector floor,
    * foreign cells probe only where the triangle bound beats it
    * ([[graft.query.IvfIndex.selfKnnGraph]]). Oracled against the
    * brute-force all-pairs ranking.
    */
  def q77KnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    IvfIndex.selfKnnGraph(spark, work, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q85: INCREMENTAL IVF maintenance under the exactness gate — the
    * index is built over only the vectors with `vec_id % 10 != 0`, the
    * held-out tenth is folded in by [[graft.query.IvfIndex.upsert]]
    * (nearest-centroid assignment + partition append + radius growth,
    * no re-clustering), and the standard batch then queries the merged
    * index. The oracle is the SAME brute-force full-corpus top-k as
    * q9/q38/q39: the row is green only if append-maintenance returns
    * results bit-identical to a fresh build over the union, which is
    * exactly what the triangle bound guarantees (radius coverage, not
    * centroid optimality, is the load-bearing invariant).
    */
  def q85IvfUpsert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf_upsert", dir)
    buildOnce(work) {
      IvfIndex.build(
        e.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id", "embedding", work)
      IvfIndex.upsert(spark, work, "vec_id", "embedding",
        e.filter(pmod(col("vec_id"), lit(10)) === 0))
    }
    IvfIndex.queryTopK(spark, work, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5, threshold = 0.0)
      .select(col("query_id"), col("vec_id"), round(col("sim"), 6).as("sim"), col("rn"))
      .orderBy("query_id", "rn")
  }

  /** Q88: integer-exact PageRank over the semantic k-NN graph (q77's
    * edges — one persisted IVF index now feeds three query patterns):
    * graph centrality as a curation signal separating prototypical
    * from peripheral documents. The edge frame is localCheckpoint'd
    * once (it feeds both the out-degree build and every iteration);
    * ten fixed iterations of [[graft.pipeline.GraphRank.pageRank]]'s
    * micro-mass recurrence, oracled against the same recurrence
    * unrolled as ten chained SQL steps.
    */
  def q88PageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    val edges = IvfIndex.selfKnnGraph(spark, work, "vec_id", "embedding", k = 5)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
      .localCheckpoint()
    graft.pipeline.GraphRank.pageRank(
        e.select(col("vec_id").as("id")), edges, iters = 10)
      .select(col("id").as("vec_id"), col("r").as("rank_micro"))
      .orderBy("vec_id")
  }

  /** Q82: contrastive pair mining over the same persisted IVF index —
    * nearest same-label positive + nearest different-label hard
    * negative per vector ([[graft.query.IvfIndex.contrastivePairs]]),
    * exact vs the brute-force per-side ranking oracle.
    */
  def q82ContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val work = indexWorkDir("ivf", dir)
    buildOnce(work)(IvfIndex.build(e, "vec_id", "embedding", work))
    IvfIndex.contrastivePairs(spark, work, "vec_id", "embedding",
        e.select("vec_id", "label"), "label")
      .orderBy("query_id")
  }

  /** Q50: revenue by priority through [[graft.pipeline.SkewJoin]] — the
    * explicit salted formulation, gate-verified against the plain-join
    * oracle, so "salting preserves join semantics exactly" is a checked
    * row, not a claim. The shuffle key becomes (orderkey, salt): a hot
    * order's lineitems spread over 8 reducers while the orders side
    * replicates 8×.
    */
  def q50SkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(
        col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("rev_cents"))
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
    graft.pipeline.SkewJoin.saltedEquiJoin(li, o, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        (sum("rev_cents").cast("double") / 100.0).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Q51: the same join semantics through the BUCKETED layout
    * ([[graft.pipeline.Bucketing]]): both sides persisted bucketed+sorted
    * on the join key once per JVM (the production shape — pay the
    * shuffle at write time), after which the join itself plans
    * exchange-free (asserted in BucketingSpec); this row gate-checks the
    * layout path end-to-end against the plain-join oracle.
    */
  def q51BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
    val liT = s"q51_li_$suffix"
    val oT = s"q51_o_$suffix"
    buildOnce(s"${Tables.warehouseDir}/$liT") {
      graft.pipeline.Bucketing.writeBucketed(
        Tables(spark, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        liT, "l_orderkey", buckets = 8)
      graft.pipeline.Bucketing.writeBucketed(
        Tables(spark, dir, "orders").select("o_orderkey", "o_orderstatus"),
        oT, "o_orderkey", buckets = 8)
    }
    graft.pipeline.Bucketing.bucketedJoin(spark, liT, "l_orderkey", oT, "o_orderkey")
      .select(
        col("o_orderstatus"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("rev_cents"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_items"),
        (sum("rev_cents").cast("double") / 100.0).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Q52: batch top-k scored on int8-quantized codes
    * ([[graft.query.QuantizedSearch]]) — the 4×-smaller retrieval path;
    * same 10-query batch as q9/q38/q39, its own exact oracle (DuckDB
    * reproduces the quantization + integer dot + sqrt cosine
    * bit-for-bit).
    */
  def q52QuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    QuantizedSearch.topKBatch(e, "vec_id", "embedding",
        queryBatch(e), "query_id", "qvec", k = 5)
      .orderBy("query_id", "rn")
  }

  /** Shared lexical query batch for q71/q72: query_id = doc_id for the
    * first ten documents (the SAME ids as the vector batch, so hybrid
    * fusion fuses aligned channels), terms = each query doc's first 8
    * whitespace tokens, distinct.
    */
  private[graft] def lexicalQueryBatch(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"),
        explode(slice(LexicalSearch.tokens(col("text")), 1, 8)).as("term"))
      .distinct()

  /** Q71: BM25-style lexical top-k ([[graft.query.LexicalSearch]]) —
    * the keyword retrieval channel, integer-exact scoring (quantized
    * rational idf × cleared-denominator tf saturation; contract in the
    * module doc), DuckDB oracle reproduces the arithmetic bit-for-bit.
    */
  def q71Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    LexicalSearch.bm25TopK(
        Tables.parallelize(Tables(spark, dir, "documents")), "doc_id", "text",
        lexicalQueryBatch(spark, dir), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")

  /** Q73: BM25 top-k against the PERSISTED lexical index — q71's exact
    * semantics (same oracle) served from parquet posting lists
    * partitioned by term-hash bucket, so the probe reads only the
    * directories holding some query term
    * ([[graft.query.LexicalSearch.buildIndex]]): the lexical channel's
    * build-once / query-many production shape, mirroring q38/q39.
    */
  def q73LexicalIndexTopK(spark: SparkSession, dir: String): DataFrame = {
    val work = indexWorkDir("lex", dir)
    buildOnce(work)(LexicalSearch.buildIndex(
      Tables.parallelize(Tables(spark, dir, "documents")), "doc_id", "text", work))
    LexicalSearch.queryIndex(spark, work, "doc_id",
        lexicalQueryBatch(spark, dir), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Q89: incremental lexical-index maintenance under the exactness
    * gate — build the postings over `doc_id % 10 != 0`, fold the
    * held-out tenth in with [[graft.query.LexicalSearch.upsertIndex]]
    * (partition append + two-Long stats merge, nothing rebuilt), then
    * query. Graded against the SAME full-corpus BM25 oracle as
    * q71/q73: BM25 scores depend on the global (N, total_len, df), so
    * the row is green only if append-maintenance is score-invisible —
    * which the df-free index layout guarantees by construction.
    */
  def q89LexUpsert(spark: SparkSession, dir: String): DataFrame = {
    val work = indexWorkDir("lex_upsert", dir)
    buildOnce(work) {
      val docs = Tables.parallelize(Tables(spark, dir, "documents"))
      LexicalSearch.buildIndex(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), "doc_id", "text", work)
      LexicalSearch.upsertIndex(spark, work, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    }
    LexicalSearch.queryIndex(spark, work, "doc_id",
        lexicalQueryBatch(spark, dir), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  /** Q102: semantic dedup (SemDeDup, Abbas et al., arXiv:2303.09540)
    * over the embeddings table — within-cell pairwise τ-prune with the
    * keep-first (lowest id) policy
    * ([[graft.pipeline.SemanticDedup.dedupWithinCells]]). The cell
    * assignment is a deterministic 2-bit sign grid on the first two
    * embedding components: a SQL-expressible random-projection
    * stand-in for the production IVF/k-means cells, so DuckDB replays
    * the assignment exactly and the oracle grades the survivor
    * contract itself. τ reuses q20's cross-engine-verified 0.35
    * operating point (the fixture's embeddings are spread; real
    * deployments run τ ≈ 0.95+ on model embeddings).
    */
  def q102SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .withColumn("cell",
        (when(element_at(col("embedding"), 1) > 0f, 2).otherwise(0) +
          when(element_at(col("embedding"), 2) > 0f, 1).otherwise(0)).cast("long"))
    graft.pipeline.SemanticDedup.dedupWithinCells(
        e.select(col("vec_id"), col("embedding"), col("cell")),
        "vec_id", "embedding", "cell", tau = 0.35, rankCol = "vec_id")
      .select(col("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  /** Q103: retrieval-quality evaluation
    * ([[graft.query.RetrievalEval.metrics]]) — the shared 10-query
    * batch retrieves exact-cosine top-20 label-blind (self excluded),
    * then is graded against label-mate relevance: hits/recall/
    * success@10, MRR over the 20-list, and NDCG@10 with the
    * driver-computed nano-discount table embedded identically in both
    * engines. Every metric is exact fixed-point BIGINT.
    */
  def q103RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qvec"))
    val hits = e.crossJoin(broadcast(q.select(col("query_id"), col("qvec"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        graft.functions.cosine_sim(col("embedding"), col("qvec")))
      .transform(SimilaritySearch.topKExplode(_, "query_id", "vec_id", "sim", 20))
    val rels = e.join(
        broadcast(q.select(col("query_id"), col("qlabel"))),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    RetrievalEval.metrics(hits, "query_id", "vec_id", "rn", rels, k = 10)
      .orderBy("query_id")
  }

  /** Q104: corpus drift monitor
    * ([[graft.pipeline.DriftMonitor.chiSquareDrift]]) — the even-id
    * half of the documents table as the reference snapshot, the odd-id
    * half as the current one, bucketed by (source, lang): per-bucket
    * ppm shares and the exact-integer χ²-style divergence, with
    * new/gone bucket flags.
    */
  def q104DriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    graft.pipeline.DriftMonitor.chiSquareDrift(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        Seq("source", "lang"))
      .orderBy("source", "lang")
  }

  /** Q72: hybrid retrieval — Reciprocal Rank Fusion of the exact-cosine
    * vector channel (q9's semantics, k'=20) and the BM25 lexical channel
    * (q71's semantics, k'=20), fused in exact micro-units
    * ([[graft.query.LexicalSearch.rrfFuse]]). doc_id == vec_id in the
    * fixtures, so the channels share an id space the way a production
    * index does.
    */
  def q72HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val vec = SimilaritySearch.topKBatch(e, "embedding", "vec_id",
        queryBatch(e), "query_id", "qvec", k = 20, threshold = 0.0)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rn").as("rank"))
    val lex = LexicalSearch.bm25TopK(
        Tables.parallelize(Tables(spark, dir, "documents")), "doc_id", "text",
        lexicalQueryBatch(spark, dir), "query_id", "term", k = 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    LexicalSearch.rrfFuse(vec, lex, "query_id", "doc_id", "rank", k = 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_micro"),
        col("a_rank").as("vec_rank"), col("b_rank").as("lex_rank"))
      .orderBy("query_id", "rank")
  }

  /** Q12: MDX header-split sections (A-2..A-6) — synthetic-MDX render +
    * regex section split + neighbor window, oracle re-derives the same
    * construction arithmetically in DuckDB.
    */
  def q12Sections(spark: SparkSession, dir: String): DataFrame =
    IngestJob.sections(spark, dir)
      .withColumn("n_chars", length(col("content")).cast("long"))
      .orderBy("doc_id", "chunk_id")

  /** Q12b: full chunking pipeline A-2..A-10 (LangChain-semantics splitter
    * is not SQL-expressible -> rows-only; semantics pinned by ScalaTest).
    */
  def q12bChunkPipeline(spark: SparkSession, dir: String): DataFrame =
    IngestJob.chunks(spark, dir)
      .select(col("doc_id"), col("chunk_id"), col("piece_id"),
        length(col("content")).cast("long").as("n_chars"),
        md5(col("content")).as("content_md5"))
      .orderBy("doc_id", "chunk_id", "piece_id")

  /** Q22: ingest index table A-11..A-13 (embeddings are graft-native ->
    * rows-only; norm must be 1.0 for every row by construction).
    */
  def q22IngestIndex(spark: SparkSession, dir: String): DataFrame =
    IngestJob.index(spark, dir)
      .select(col("doc_id"), col("chunk_id"), col("piece_id"),
        length(col("content")).cast("long").as("n_chars"),
        round(graft.functions.l2_norm(col("embedding")), 4).as("norm"),
        col("metadata.total_chunks").as("total_chunks"))
      .orderBy("doc_id", "chunk_id", "piece_id")

  /** Retrieval hits for the assembly queries: q9's top-k joined to the
    * documents table (vec_id = doc_id in the fixtures), `source` as the
    * grouping context.
    */
  private def retrievedHits(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source").as("context"), col("text").as("content"))
    q9CosineTopK(spark, dir)
      .join(docs, col("vec_id") === col("doc_id"))
      .select(col("query_id"), col("rn"), col("context"), col("content"))
  }

  /** Q23: order-preserving group-by-context merge (A-15). */
  def q23ContextMerge(spark: SparkSession, dir: String): DataFrame =
    ContextAssembler
      .mergeByContext(retrievedHits(spark, dir), "query_id", "rn", "context", "content")
      .orderBy("query_id", "first_seen")

  /** Q24: full prompt assembly (A-16). */
  def q24Prompt(spark: SparkSession, dir: String): DataFrame =
    ContextAssembler
      .assemblePrompt(
        q23ContextMerge(spark, dir), "query_id", "context",
        concat(lit("Q"), col("query_id")))
      .select(col("query_id"), col("prompt"))
      .orderBy("query_id")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_sections" -> (q12Sections _),
    "q12b_chunk_pipeline" -> (q12bChunkPipeline _),
    "q22_ingest_index" -> (q22IngestIndex _),
    "q23_context_merge" -> (q23ContextMerge _),
    "q24_prompt" -> (q24Prompt _),
    "q1_filter" -> (Relational.q1Filter _),
    "q2_join" -> (Relational.q2Join _),
    "q3_join_agg" -> (Relational.q3JoinAgg _),
    "q4_semi_anti" -> (Relational.q4SemiAnti _),
    "q5_window_topn" -> (Relational.q5WindowTopN _),
    "q6_topk" -> (Relational.q6TopK _),
    "q7_union_distinct" -> (Relational.q7UnionDistinct _),
    "q8_events_hourly" -> (Events.hourlyByType _),
    "q8b_sessionize" -> ((s: SparkSession, d: String) => Events.sessionize(s, d)),
    "q8c_session_window" -> (Events.sessionWindow _),
    "q9_cosine_topk" -> (q9CosineTopK _),
    "q10_dedup_exact" -> (Dedup.exact _),
    "q11_text_stats" -> (TextAnalysis.statsByLang _),
    "q13_rollup" -> (Relational.q13Rollup _),
    "q30_cube" -> (Relational.q30Cube _),
    "q31_date_math" -> (Relational.q31DateMath _),
    "q33_sliding_window" -> (Events.slidingCounts _),
    "q34_outer_join" -> (Relational.q34OuterJoin _),
    "q35_window_running" -> (Relational.q35WindowRunning _),
    "q14_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    "q15_minhash_neardup" -> ((s: SparkSession, d: String) => Dedup.minhashNearDup(s, d)),
    "q16_simhash_neardup" -> ((s: SparkSession, d: String) => Dedup.simhashNearDup(s, d)),
    "q17_langid" -> (TextAnalysis.langId _),
    "q18_token_stats" -> (TextAnalysis.tokenStatsBySource _),
    "q19_quality" -> (TextAnalysis.qualityPerDoc _),
    "q20_cosine_neardup" -> ((s: SparkSession, d: String) => Dedup.cosineNearDup(s, d)),
    "q21_fingerprints" -> (TextAnalysis.fingerprints _),
    "q25_ann_join" -> ((s: SparkSession, d: String) => Dedup.annCosineNearDup(s, d)),
    "q26_multimodal_meta" -> (Multimodal.decodeMeta _),
    "q29_bpe_tokens" -> (TextAnalysis.bpeTokenCounts _),
    "q32_dedup_clusters" -> ((s: SparkSession, d: String) => Dedup.dedupClusters(s, d)),
    "q36_quality_ratios" -> (TextAnalysis.qualityRatios _),
    "q37_media_resize" -> (Multimodal.resize _),
    "q27_frame_sample" -> (Multimodal.frameSample _),
    "q28_byte_histogram" -> (Multimodal.byteHistogram _),
    "q38_ann_index_topk" -> (q38AnnIndexTopK _),
    "q39_ivf_topk" -> (q39IvfTopK _),
    "q40_stateful_sessions" -> (graft.streaming.StatefulSessionizer.q40 _),
    "q41_clean_corpus" -> ((s: SparkSession, d: String) => Dedup.cleanCorpus(s, d)),
    "q42_part_type_revenue" -> (Relational.q42PartTypeRevenue _),
    "q43_length_quantiles" -> (Relational.q43LengthQuantiles _),
    "q44_source_centroids" -> (TextAnalysis.sourceCentroids _),
    "q45_asof_attribution" -> (Events.purchaseAttribution _),
    "q46_range_join" -> (RangeJoin.errorPurchaseCorrelation _),
    "q47_distinctive_terms" -> ((s: SparkSession, d: String) => TextAnalysis.distinctiveTerms(s, d)),
    "q48_pivot" -> (Relational.q48Pivot _),
    "q49_grouping_sets" -> (Relational.q49GroupingSets _),
    "q50_skew_join" -> (q50SkewJoin _),
    "q51_bucketed_join" -> (q51BucketedJoin _),
    "q52_quantized_topk" -> (q52QuantizedTopK _),
    "q53_stratified_sample" -> (Sampling.stratifiedSample _),
    "q56_data_quality" -> (graft.pipeline.DataQuality.q56Report _),
    "q57_source_outliers" -> ((s: SparkSession, d: String) => TextAnalysis.sourceOutliers(s, d)),
    "q58_star_join" -> (Relational.q58StarJoin _),
    "q59_json_props" -> (Events.jsonPropsStats _),
    "q60_incremental_dedup" -> ((s: SparkSession, d: String) => Dedup.incrementalDedup(s, d)),
    "q54_signup_funnel" -> (Events.signupFunnel _),
    "q55_trailing_window" -> (Events.trailingActivity _),
    "q61_repetition" -> (TextAnalysis.repetition _),
    "q62_gopher_gate" -> (TextAnalysis.gopherGate _),
    "q63_decontamination" ->
      ((s: SparkSession, d: String) => Decontamination.contaminated(s, d)),
    "q64_sequence_packing" ->
      ((s: SparkSession, d: String) => SequencePacker.pack(s, d)),
    "q65_temperature_mix" -> (Sampling.temperatureMix _),
    "q66_set_ops" -> (Relational.q66SetOps _),
    "q67_window_family" -> (Relational.q67WindowFamily _),
    "q68_stat_moments" -> (Relational.q68StatMoments _),
    "q69_zorder_layout" -> (graft.pipeline.ZOrder.clustered _),
    "q69b_zorder_scaled" -> (graft.pipeline.ZOrder.scaledClustered _),
    "q70_mmr_rerank" -> (graft.query.MmrRerank.q70 _),
    "q71_bm25_topk" -> (q71Bm25TopK _),
    "q72_hybrid_rrf" -> (q72HybridRrf _),
    "q73_lexical_index_topk" -> (q73LexicalIndexTopK _),
    "q74_vocab_prune" -> (TextAnalysis.vocabPrune _),
    "q75_gram_novelty" -> (TextAnalysis.gramNovelty _),
    "q76_source_overlap" -> (TextAnalysis.sourceOverlap _),
    "q77_knn_graph" -> (q77KnnGraph _),
    "q78_pii_redaction" -> (graft.pipeline.PiiRedaction.q78 _),
    "q79_subqueries" -> (Relational.q79Subqueries _),
    "q80_array_functions" -> (Relational.q80ArrayFunctions _),
    "q81_scd2_history" -> (Events.q81Scd2 _),
    "q82_contrastive_pairs" -> (q82ContrastivePairs _),
    "q83_unpivot" -> (Relational.q83Unpivot _),
    "q84_gap_fill" -> (Events.q84GapFill _),
    "q85_ivf_upsert" -> (q85IvfUpsert _),
    "q86_heavy_hitters" -> (graft.pipeline.HeavyHitters.q86FrequentGrams _),
    "q87_budget_select" -> (graft.pipeline.ScalableWindow.q87BudgetSelect _),
    "q88_pagerank" -> (q88PageRank _),
    "q89_lex_upsert" -> (q89LexUpsert _),
    "q90_profile" -> (graft.pipeline.Profiler.q90Profile _),
    "q91_bpe_merge_tokens" -> (TextAnalysis.q91BpeMergeTokens _),
    "q92_repeated_passages" -> ((s: SparkSession, d: String) =>
      Dedup.q92RepeatedPassages(s, d)),
    "q93_streaming_asof" -> (Events.q93StreamingAsofParity _),
    "q94_lm_quality" -> (TextAnalysis.q94LmQuality _),
    "q95_bloom_decontamination" ->
      ((s: SparkSession, d: String) => Decontamination.contaminatedBloom(s, d)),
    "q96_shard_manifest" ->
      (graft.pipeline.ScalableWindow.q96ShardManifest _),
    "q97_leakage_safe_split" ->
      ((s: SparkSession, d: String) => q97LeakageSafeSplitStored(s, d)),
    "q98_budget_waterfill" -> (Sampling.q98BudgetWaterfill _),
    "q99_quota_gate" -> (Sampling.q99QuotaGate _),
    "q100_best_of_cluster" ->
      ((s: SparkSession, d: String) => q100BestOfClusterStored(s, d)),
    "q101_repeated_spans" ->
      ((s: SparkSession, d: String) => Dedup.q101RepeatedSpans(s, d)),
    "q102_semantic_dedup" -> (q102SemanticDedup _),
    "q105_pq_topk" -> (q105PqTopK _),
    "q106_ivf_split" -> (q106IvfSplit _),
    "q107_ivfpq_topk" -> (q107IvfPqTopK _),
    "q108_filtered_topk" -> (q108FilteredTopK _),
    "q109_ivfpq_upsert" -> (q109IvfPqUpsert _),
    "q110_capped_topk" -> (q110CappedTopK _),
    "q111_ivfpq_split" -> (q111IvfPqSplit _),
    "q112_residual_topk" -> (q112ResidualTopK _),
    "q113_filtered_fallback" -> (q113FilteredFallback _),
    "q114_filtered_pq_topk" -> (q114FilteredPqTopK _),
    "q115_recluster" -> (q115Recluster _),
    "q116_ivfpq_recluster" -> (q116IvfPqRecluster _),
    "q117_filtered_any" -> (q117FilteredAny _),
    "q118_ivf_delete" -> (q118IvfDelete _),
    "q119_ivfpq_delete" -> (q119IvfPqDelete _),
    "q120_lex_delete" -> (q120LexDelete _),
    "q121_index_fsck" -> (q121IndexFsck _),
    "q122_sharded_topk" -> (q122ShardedTopK _),
    "q123_sharded_filtered" -> (q123ShardedFiltered _),
    "q103_retrieval_eval" -> (q103RetrievalEval _),
    "q104_drift_monitor" -> (q104DriftMonitor _))

  /** DuckDB-runnable oracles. q15 shares q14's oracle (LSH output is
    * exact-verified); q12b/q16/q21/q22 compute graft-native deterministic
    * kernels DuckDB cannot express, so their oracles read golden parquet
    * generated at sf0.01 by an INDEPENDENT Python re-implementation of
    * the same published algorithms (tools/make_golden.py) — a divergence
    * in either implementation fails the compare.
    */
  val oracles: Map[String, String] = Map(
    "q12b_chunk_pipeline" ->
      """SELECT doc_id, chunk_id, piece_id, n_chars, content_md5
        |FROM '/root/repo/golden/q12b_chunk_pipeline.parquet'
        |ORDER BY doc_id, chunk_id, piece_id""".stripMargin,
    "q22_ingest_index" ->
      """SELECT doc_id, chunk_id, piece_id, n_chars, norm, total_chunks
        |FROM '/root/repo/golden/q22_ingest_index.parquet'
        |ORDER BY doc_id, chunk_id, piece_id""".stripMargin,
    "q16_simhash_neardup" ->
      """SELECT d1, d2, hamming FROM '/root/repo/golden/q16_simhash_neardup.parquet'
        |ORDER BY d1, d2""".stripMargin,
    "q21_fingerprints" ->
      """SELECT doc_id, content_fp, simhash
        |FROM '/root/repo/golden/q21_fingerprints.parquet'
        |ORDER BY doc_id""".stripMargin,
    "q17_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(['the','and','of','to','in','is','that','with'], m -> list_contains(toks, m))) AS s_en,
        |    len(list_filter(['el','la','de','que','y','los','las','por'], m -> list_contains(toks, m))) AS s_es,
        |    len(list_filter(['der','die','das','und','ist','nicht','ein','mit'], m -> list_contains(toks, m))) AS s_de,
        |    len(list_filter(['le','les','et','des','une','est','dans','pour'], m -> list_contains(toks, m))) AS s_fr,
        |    len(list_filter(['的','是','不','我','了','在','有','人'], m -> list_contains(toks, m))) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q12_sections" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words,
        |         (len(string_split(text, ' ')) + 3) // 4 AS q
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(words, 1, q), ' ') AS s0,
        |    array_to_string(list_slice(words, q + 1, 2 * q), ' ') AS s1,
        |    array_to_string(list_slice(words, 2 * q + 1, 3 * q), ' ') AS s2,
        |    array_to_string(list_slice(words, 3 * q + 1, len(words)), ' ') AS s3
        |  FROM w)
        |SELECT doc_id, c.chunk_id, c.header, trim(c.content) AS content,
        |       c.prev_header, c.next_header,
        |       length(trim(c.content))::BIGINT AS n_chars
        |FROM segs,
        |LATERAL (VALUES
        |  (1, '## Context',  s0, '',            '## Overview'),
        |  (2, '## Overview', s1, '## Context',  '### Details'),
        |  (3, '### Details', s2, '## Overview', '## Summary'),
        |  (4, '## Summary',  s3, '### Details', '')
        |) AS c(chunk_id, header, content, prev_header, next_header)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q23_context_merge" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0),
        |j AS (
        |  SELECT h.query_id, h.rn, d.source AS context, d.text AS content
        |  FROM r h JOIN documents d ON h.vec_id = d.doc_id WHERE h.rn <= 5)
        |SELECT query_id, context, min(rn)::BIGINT AS first_seen,
        |       count(*)::BIGINT AS n_chunks,
        |       string_agg(content, chr(10) ORDER BY rn) AS merged
        |FROM j GROUP BY query_id, context
        |ORDER BY query_id, first_seen""".stripMargin,
    "q24_prompt" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |r AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0),
        |j AS (
        |  SELECT h.query_id, h.rn, d.source AS context, d.text AS content
        |  FROM r h JOIN documents d ON h.vec_id = d.doc_id WHERE h.rn <= 5),
        |g AS (
        |  SELECT query_id, context, min(rn) AS first_seen,
        |         string_agg(content, chr(10) ORDER BY rn) AS merged
        |  FROM j GROUP BY query_id, context),
        |b AS (
        |  SELECT query_id, context, merged,
        |    row_number() OVER (PARTITION BY query_id ORDER BY first_seen) AS chunk_n
        |  FROM g)
        |SELECT query_id,
        |  '# Question' || chr(10) || 'Q' || query_id || chr(10) || chr(10) ||
        |  '# Context' || chr(10) ||
        |  string_agg('## Chunk ' || chunk_n || chr(10) || chr(10) ||
        |    '### Context' || chr(10) || context || chr(10) || chr(10) ||
        |    '### Content' || chr(10) || merged || chr(10) || chr(10) ||
        |    '---' || chr(10) || chr(10), '' ORDER BY chunk_n) AS prompt
        |FROM b GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q1_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q2_join" ->
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,
    "q3_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |round(avg(l_quantity), 4) AS avg_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q4_semi_anti" ->
      """SELECT c_custkey, 1 AS has_orders FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 0 AS has_orders FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "q5_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q6_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q7_union_distinct" ->
      """SELECT DISTINCT key FROM (
        |  SELECT n_regionkey AS key FROM nation
        |  UNION ALL SELECT r_regionkey AS key FROM region) t
        |ORDER BY key""".stripMargin,
    "q8_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // q8c: native session_window operator — same session semantics, same
    // oracle (no exact-30-min boundary gaps exist in the fixtures, where
    // strict-> vs window-overlap semantics could differ)
    "q8c_session_window" -> sessionizeOracle,
    "q8b_sessionize" -> sessionizeOracle,
    // custom flatMapGroups state machine, same session semantics
    "q40_stateful_sessions" -> sessionizeOracle,
    "q9_cosine_topk" -> cosineTopKOracle,
    // The persisted-index paths must return the identical top-k as the
    // exact scan: the index only routes candidates, exact cosine ranks.
    "q38_ann_index_topk" -> cosineTopKOracle,
    "q39_ivf_topk" -> cosineTopKOracle,
    "q105_pq_topk" -> cosineTopKOracle,
    // q106 queries the split-maintained index — same exact oracle; the
    // hot-cell split must be invisible to results
    "q106_ivf_split" -> cosineTopKOracle,
    // q115/q116 query re-clustered (generation-swapped) indexes; same
    // exact oracle — the swap must be result-invisible in both layouts
    "q115_recluster" -> cosineTopKOracle,
    "q116_ivfpq_recluster" -> cosineTopKOracle,
    "q107_ivfpq_topk" -> cosineTopKOracle,
    // q109 queries the upsert-maintained composed index — same exact
    // oracle; maintenance must be invisible to results
    "q109_ivfpq_upsert" -> cosineTopKOracle,
    // q111 queries the split-maintained composed index — same exact
    // oracle; the codes-move-with-cells commit must be invisible too
    "q111_ivfpq_split" -> cosineTopKOracle,
    // q112 queries the residual-encoded composed index after its full
    // build/upsert/split/upsert lifecycle — same exact oracle; every
    // encoding generation must price exactly
    "q112_residual_topk" -> cosineTopKOracle,
    // q110: cap-then-rank — at most 2 hits per label per query before
    // the global top-5, both rankings (sim desc, id asc)
    "q110_capped_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id, e.label,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e CROSS JOIN q),
        |capped AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id, label
        |                       ORDER BY sim DESC, vec_id) AS rn_g
        |  FROM s WHERE sim > 0.0),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM capped WHERE rn_g <= 2)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q108: the same ranking restricted to label-mates — the filter is
    // an equijoin in both engines
    "q108_filtered_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN q ON e.label = q.ql),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q113: the q108 shape with a derived near-unique label — the
    // fallback branch must be oracle-invisible (same equijoin truth)
    "q113_filtered_fallback" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |    vec_id % 97 AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN q ON e.vec_id % 97 = q.ql),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q114: the q108 truth served from the composed IVF+PQ layout —
    // the index family must be oracle-invisible (same equijoin truth)
    "q114_filtered_pq_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN q ON e.label = q.ql),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q117: the q108 shape with a 2-label SET per query — the
    // disjunctive filter is a list-containment join in both engines
    "q117_filtered_any" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |    [label, label + 1] AS lbls
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN q ON list_contains(q.lbls, e.label)),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q122: sharded retrieval over the post-deletion corpus — every 9th
    // row deleted through the hash-routed tombstone path, so the same
    // survivors-only brute-force shape gates it (its own live set)
    "q122_sharded_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id % 9 <> 4),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q123: label-filtered retrieval across the same post-deletion shard
    // set — the q108 equijoin truth restricted to the survivors
    "q123_sharded_filtered" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
        |  FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
        |  FROM embeddings e JOIN q ON e.label = q.ql
        |  WHERE e.vec_id % 9 <> 4),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s WHERE sim > 0.0)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // q118/q119: the deletion lifecycle (compacted batch + pending
    // batch) on both vector layouts — one survivors-only brute-force
    // ranking gates them; deleted ids may still QUERY (q comes from the
    // full table), they just never appear as results
    "q118_ivf_delete" -> cosineTopKLiveOracle,
    "q119_ivfpq_delete" -> cosineTopKLiveOracle,
    // q120: lexical deletion — the full quantized BM25 arithmetic over
    // live documents only (stats, tf, df), query terms from the full
    // corpus (bm25CteLive's contract)
    "q120_lex_delete" -> bm25Oracle(k = 10,
      select = "query_id, CAST(\"rank\" AS BIGINT) AS \"rank\", doc_id, score",
      suffix = "ORDER BY query_id, \"rank\"",
      livePred = "doc_id % 3 <> 2"),
    // q121: the fsck verdict table is sf-INDEPENDENT by construction —
    // every invariant must hold on a healthy index at any corpus size,
    // so the oracle is the literal expected verdicts (the per-breakage
    // detection matrix is spec territory: IndexCheckSpec corrupts
    // indexes on purpose, which SQL over healthy fixtures cannot)
    "q121_index_fsck" ->
      """SELECT * FROM (VALUES
        |  ('ivfpq', 'codes_align', true),
        |  ('ivfpq', 'label_meta_fresh', true),
        |  ('ivfpq', 'meta_matches_dirs', true),
        |  ('ivfpq', 'pending_markers', true),
        |  ('ivfpq', 'pending_tombstones', true),
        |  ('ivfpq', 'radius_coverage', true),
        |  ('ivfpq', 'unique_ids', true),
        |  ('lex', 'bucket_hash', true),
        |  ('lex', 'pending_tombstones', true),
        |  ('lex', 'stats_physical', true)
        |) AS t(source, "check", ok)
        |ORDER BY source, "check"""".stripMargin,
    // q85 queries the upsert-maintained index (90% build + 10% append);
    // same exact oracle — append-maintenance must be invisible to results
    "q85_ivf_upsert" -> cosineTopKOracle,
    "q10_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin,
    "q11_text_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q13_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |coalesce(l_linestatus, 'ALL') AS lstatus,
        |round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q30_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |coalesce(l_linestatus, 'ALL') AS lstatus,
        |round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q31_date_math" ->
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(month(o_orderdate) AS INT) AS o_month,
        |    CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |    strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
        |    strftime(o_orderdate::DATE + INTERVAL 90 DAY, '%Y-%m-%d') AS due_90d,
        |    CAST(CASE WHEN o_totalprice > 100000 THEN round(o_totalprice * 10, 0)
        |              ELSE round(o_totalprice * 5, 0) END AS BIGINT) AS fee_cents
        |  FROM orders)
        |SELECT o_year, o_month, count(*) AS n_orders,
        |  CAST(sum(fee_cents) AS BIGINT) / 100.0 AS total_fees,
        |  min(quarter_start) AS quarter_start, max(due_90d) AS max_due
        |FROM o GROUP BY o_year, o_month ORDER BY o_year, o_month""".stripMargin,
    "q14_ngram_jaccard" -> ngramJaccardOracle,
    "q15_minhash_neardup" -> ngramJaccardOracle,
    "q32_dedup_clusters" -> dedupClustersOracle,
    "q41_clean_corpus" -> cleanCorpusOracle,
    "q42_part_type_revenue" ->
      """WITH l AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, p_type,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS rev_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_month, p_type, count(*) AS n_items,
        |  CAST(sum(rev_cents) AS BIGINT) / 100.0 AS revenue
        |FROM l GROUP BY ship_month, p_type
        |ORDER BY ship_month, p_type""".stripMargin,
    "q43_length_quantiles" ->
      """SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // parallel unnest zips component with its index in DuckDB; components
    // quantized to micro-unit integers pre-sum so the aggregate is
    // order-independent and the final double is bit-identical (see
    // TextAnalysis.sourceCentroids scaladoc)
    "q44_source_centroids" ->
      """WITH x AS (
        |  SELECT d.source,
        |    unnest(em.embedding) AS e,
        |    unnest(range(len(em.embedding))) AS dim
        |  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)
        |SELECT source, CAST(dim AS INT) AS dim, count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE) / 1000000.0 AS centroid
        |FROM x GROUP BY source, dim ORDER BY source, dim""".stripMargin,
    // DuckDB's native ASOF JOIN is the oracle for the union+window
    // formulation; right side deduped identically (arg_max == max_by)
    // so tie-breaks cannot diverge
    "q45_asof_attribution" ->
      """WITH c AS (
        |  SELECT user_id, ts, max(event_id) AS attr_event_id,
        |         arg_max(event_type, event_id) AS attr_type
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  c.attr_event_id, c.attr_type,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS attr_ts,
        |  CAST(epoch_ns(p.ts) // 1000000000
        |       - epoch_ns(c.ts) // 1000000000 AS BIGINT) AS gap_s
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts
        |ORDER BY purchase_id""".stripMargin,
    // the oracle is the naive inequality join the binned operator must
    // exactly reproduce; coordinates floored to whole epoch seconds on
    // both sides
    "q46_range_join" ->
      """WITH err AS (
        |  SELECT event_id AS error_id, user_id, ts,
        |         epoch_ns(ts) // 1000000000 AS es
        |  FROM events WHERE event_type = 'error'),
        |pur AS (
        |  SELECT event_id AS purchase_id, user_id, ts,
        |         epoch_ns(ts) // 1000000000 AS ps
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.error_id, e.user_id, p.purchase_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  CAST(e.es - p.ps AS BIGINT) AS delta_s
        |FROM err e JOIN pur p
        |  ON e.user_id = p.user_id
        | AND e.es >= p.ps - 7200 AND e.es < p.ps + 7200
        |ORDER BY error_id, purchase_id""".stripMargin,
    // same tokenization as q18/q19; score = tf/df is one IEEE division
    // of two exact integers (no log — libm isn't bit-stable across
    // engines), rank totally ordered by (score DESC, term)
    "q47_distinctive_terms" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT source, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.source, tf.term,
        |    CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
        |    CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
        |    row_number() OVER (
        |      PARTITION BY tf.source
        |      ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
        |               tf.term) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT source, CAST(rank AS BIGINT) AS rank, term, tf, df, score
        |FROM s WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // pivot == one FILTERed aggregate per explicit year column; empty
    // combinations are NULL in both engines
    "q48_pivot" -> {
      val yearCols = (1995 to 2001)
        .map(y => s"  CAST(sum(cents) FILTER (WHERE yr = $y) AS BIGINT) / 100.0 AS y$y")
        .mkString(",\n")
      s"""WITH j AS (
         |  SELECT n.n_name, year(o.o_orderdate) AS yr,
         |         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
         |SELECT n_name,
         |$yearCols
         |FROM j GROUP BY n_name ORDER BY n_name""".stripMargin
    },
    // grouped-out nulls coalesced to the 'ALL' sentinel (q13 convention)
    // so cross-engine NULL ordering never matters
    "q49_grouping_sets" ->
      """WITH j AS (
        |  SELECT r.r_name, o.o_orderpriority,
        |         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey)
        |SELECT coalesce(r_name, 'ALL') AS region,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) / 100.0 AS revenue
        |FROM j
        |GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), ())
        |ORDER BY region, priority""".stripMargin,
    // q50/q51 run the salted and bucketed formulations against the SAME
    // plain-join semantics — the oracle checks the optimization changed
    // nothing
    "q50_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |    AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q51_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |    AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // int8 quantization reproduced in DuckDB: floor max-abs scaling,
    // exact integer dots via parallel unnest zip, sqrt cosine (sqrt is
    // IEEE correctly-rounded in both engines)
    "q52_quantized_topk" ->
      """WITH m AS (
        |  SELECT vec_id,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma,
        |    embedding
        |  FROM embeddings),
        |qv AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))
        |    END AS q
        |  FROM m),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    unnest(a.q) AS xa, unnest(b.q) AS xb
        |  FROM qv a, qv b WHERE a.vec_id < 10),
        |d AS (
        |  SELECT query_id, vec_id,
        |    CAST(sum(xa * xb) AS BIGINT) AS dot,
        |    CAST(sum(xa * xa) AS BIGINT) AS nq,
        |    CAST(sum(xb * xb) AS BIGINT) AS nc
        |  FROM pairs GROUP BY 1, 2),
        |s0 AS (
        |  SELECT query_id, vec_id,
        |    CASE WHEN nq = 0 OR nc = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE)
        |              / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
        |    END AS qsim
        |  FROM d),
        |s AS (
        |  SELECT query_id, vec_id, qsim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY qsim DESC, vec_id) AS rn
        |  FROM s0)
        |SELECT query_id, vec_id, qsim, CAST(rn AS BIGINT) AS rn
        |FROM s WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // Knuth multiplicative hash in exact BIGINT arithmetic — both
    // engines compute the identical keep decision per row
    "q53_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    ((doc_id * 2654435761) % 4294967296) % 1000 AS bucket,
        |    100 + (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3)
        |      * 200 AS rate_mille
        |  FROM documents)
        |SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(rate_mille AS BIGINT) AS rate_mille
        |FROM d WHERE bucket < rate_mille ORDER BY doc_id""".stripMargin,
    "q54_signup_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(epoch_ns(ts) // 1000000000) AS signup_sec
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, CAST(s.signup_sec AS BIGINT) AS signup_sec,
        |  CAST(min(p.sec) AS BIGINT) AS purchase_sec,
        |  CAST(min(p.sec) - s.signup_sec AS BIGINT) AS gap_s,
        |  min(p.sec) IS NOT NULL AS converted
        |FROM s LEFT JOIN p
        |  ON s.user_id = p.user_id AND p.sec > s.signup_sec
        |GROUP BY s.user_id, s.signup_sec
        |ORDER BY s.user_id""".stripMargin,
    // RANGE frame on integer epoch seconds; frame sum in exact cents
    "q55_trailing_window" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    epoch_ns(ts) // 1000000000 AS sec,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |  count(*) OVER w AS n_24h,
        |  CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS value_24h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q56_data_quality" ->
      """WITH base AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS doc_text_empty,
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS doc_nchars_wrong,
        |    sum(CASE WHEN lang NOT IN ('en','es','de','fr','zh') THEN 1 ELSE 0 END) AS doc_lang_unknown,
        |    sum(CASE WHEN doc_id IS NULL OR text IS NULL OR lang IS NULL
        |             OR source IS NULL THEN 1 ELSE 0 END) AS doc_null_field,
        |    count(*) - count(DISTINCT doc_id) AS doc_id_duplicates
        |  FROM documents),
        |rowchecks AS (
        |  SELECT 'doc_text_empty' AS check_name, doc_text_empty AS v, n FROM base
        |  UNION ALL SELECT 'doc_nchars_wrong', doc_nchars_wrong, n FROM base
        |  UNION ALL SELECT 'doc_lang_unknown', doc_lang_unknown, n FROM base
        |  UNION ALL SELECT 'doc_null_field', doc_null_field, n FROM base
        |  UNION ALL SELECT 'doc_id_duplicates', doc_id_duplicates, n FROM base),
        |fks AS (
        |  SELECT 'fk_lineitem_orders' AS check_name,
        |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |       ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS v,
        |    (SELECT count(*) FROM lineitem) AS n
        |  UNION ALL SELECT 'fk_orders_customer',
        |    (SELECT count(*) FROM orders o LEFT JOIN customer c
        |       ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
        |    (SELECT count(*) FROM orders)
        |  UNION ALL SELECT 'fk_embeddings_documents',
        |    (SELECT count(*) FROM embeddings e LEFT JOIN documents d
        |       ON e.vec_id = d.doc_id WHERE d.doc_id IS NULL),
        |    (SELECT count(*) FROM embeddings))
        |SELECT check_name, CAST(v AS BIGINT) AS n_violations,
        |  CAST(n AS BIGINT) AS n_rows, v = 0 AS pass
        |FROM (SELECT * FROM rowchecks UNION ALL SELECT * FROM fks)
        |ORDER BY check_name""".stripMargin,
    // distances in exact kilo-quantized integers (centroid never
    // materializes as a float); n² divides out in one final double op
    "q57_source_outliers" ->
      """WITH x AS (
        |  SELECT d.source, em.vec_id,
        |    unnest(list_transform(em.embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))) AS xk,
        |    unnest(range(len(em.embedding))) AS dim
        |  FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id),
        |s AS (
        |  SELECT source, dim, count(*) AS n, CAST(sum(xk) AS BIGINT) AS sm
        |  FROM x GROUP BY 1, 2),
        |v AS (
        |  SELECT x.vec_id, x.source, s.n,
        |    CAST(sum((x.xk * s.n - s.sm) * (x.xk * s.n - s.sm)) AS BIGINT)
        |      AS dist2_scaled
        |  FROM x JOIN s ON x.source = s.source AND x.dim = s.dim
        |  GROUP BY 1, 2, 3)
        |SELECT vec_id, source, CAST(n AS BIGINT) AS n_vecs, dist2_scaled,
        |  CAST(dist2_scaled AS DOUBLE)
        |    / CAST(n * n * 64 * 1000000 AS DOUBLE) AS msd,
        |  CAST(dist2_scaled AS DOUBLE)
        |    / CAST(n * n * 64 * 1000000 AS DOUBLE) > 0.0165 AS is_outlier
        |FROM v ORDER BY vec_id""".stripMargin,
    "q58_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |    AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'EUROPE')
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q59_json_props" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(k) AS BIGINT) / CAST(count(k) AS DOUBLE) AS avg_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact cross-corpus n-gram Jaccard (old = id < 250, new = id >= 250),
    // best match per new doc ranked by the SAME rounded jac both engines
    // produce (q14-proven equal)
    "q60_incremental_dedup" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, length(text) - 4),
        |      i -> substr(text, CAST(i AS INT), 6)))) AS gram
        |  FROM documents WHERE length(text) >= 6),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM g a JOIN g b
        |    ON a.gram = b.gram AND a.doc_id < 250 AND b.doc_id >= 250
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT d1, d2, round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jac
        |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id
        |              JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5),
        |best AS (
        |  SELECT d2, d1, jac,
        |    row_number() OVER (PARTITION BY d2 ORDER BY jac DESC, d1) AS rn
        |  FROM j)
        |SELECT d2 AS new_id, d1 AS dup_of, jac
        |FROM best WHERE rn = 1 ORDER BY new_id""".stripMargin,
    "q36_quality_ratios" -> qualityRatiosOracle,
    // DuckDB range(a, b) is empty when b <= a, so the short-doc n-gram
    // guard Spark needs (sequence descends) is implicit here
    "q61_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM t),
        |c AS (
        |  SELECT doc_id,
        |    len(toks)::BIGINT AS n_words,
        |    (len(toks) - len(list_distinct(toks)))::BIGINT AS n_dup_words,
        |    len(g2)::BIGINT AS n_2grams,
        |    (len(g2) - len(list_distinct(g2)))::BIGINT AS n_dup_2grams,
        |    len(g3)::BIGINT AS n_3grams,
        |    (len(g3) - len(list_distinct(g3)))::BIGINT AS n_dup_3grams
        |  FROM g),
        |tw AS (
        |  SELECT doc_id, max(c)::BIGINT AS top_word_count FROM (
        |    SELECT doc_id, w, count(*) AS c FROM (
        |      SELECT doc_id, unnest(toks) AS w FROM t)
        |    GROUP BY doc_id, w)
        |  GROUP BY doc_id)
        |SELECT c.doc_id, n_words,
        |  CASE WHEN n_words = 0 THEN 0.0 ELSE
        |    CAST((n_dup_words * 2000000 + n_words) // (n_words * 2) AS DOUBLE) / 1000000.0
        |  END AS dup_word_frac,
        |  CASE WHEN n_2grams = 0 THEN 0.0 ELSE
        |    CAST((n_dup_2grams * 2000000 + n_2grams) // (n_2grams * 2) AS DOUBLE) / 1000000.0
        |  END AS dup_2gram_frac,
        |  CASE WHEN n_3grams = 0 THEN 0.0 ELSE
        |    CAST((n_dup_3grams * 2000000 + n_3grams) // (n_3grams * 2) AS DOUBLE) / 1000000.0
        |  END AS dup_3gram_frac,
        |  top_word_count,
        |  CASE WHEN n_words = 0 THEN 0.0 ELSE
        |    CAST((top_word_count * 2000000 + n_words) // (n_words * 2) AS DOUBLE) / 1000000.0
        |  END AS top_word_frac
        |FROM c JOIN tw ON c.doc_id = tw.doc_id ORDER BY c.doc_id""".stripMargin,
    "q66_set_ops" ->
      """SELECT 'both' AS op, custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |UNION ALL
        |SELECT 'only_1995' AS op, custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |UNION ALL
        |SELECT 'only_1996' AS op, custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
        |ORDER BY op, custkey""".stripMargin,
    // unique custkey in the ORDER BY keeps every rank function totally
    // ordered; percent_rank/cume_dist are single divisions of exact ints
    "q67_window_family" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_acctbal, c_custkey""".stripMargin,
    // exact HUGEINT second moments; floats only in the final fixed-shape
    // expression (mirrors the Spark DECIMAL(38,0) computation)
    "q68_stat_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag,
        |    count(*)::HUGEINT AS n,
        |    sum(q)::HUGEINT AS sq, sum(p)::HUGEINT AS sp,
        |    sum(q * q)::HUGEINT AS sq2, sum(p * p)::HUGEINT AS sp2,
        |    sum(q * p)::HUGEINT AS spq
        |  FROM s GROUP BY l_returnflag)
        |SELECT l_returnflag, n::BIGINT AS n_rows,
        |  (n * sq2 - sq * sq)::DOUBLE / (n * (n - 1))::DOUBLE / 10000.0 AS var_qty,
        |  (n * sp2 - sp * sp)::DOUBLE / (n * (n - 1))::DOUBLE / 10000.0 AS var_price,
        |  (n * spq - sq * sp)::DOUBLE /
        |    (sqrt((n * sq2 - sq * sq)::DOUBLE) * sqrt((n * sp2 - sp * sp)::DOUBLE))
        |    AS corr_qp
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q69_zorder_layout" -> zorderOracle,
    "q69b_zorder_scaled" -> zorderScaledOracle,
    "q70_mmr_rerank" ->
      """SELECT query_id, "rank", vec_id, score
        |FROM '/root/repo/golden/q70_mmr_rerank.parquet'
        |ORDER BY query_id, "rank"""".stripMargin,
    // same tokenization as q47; idf/saturation arithmetic is pure BIGINT
    // (// = integer division) mirroring LexicalSearch's contract exactly
    "q71_bm25_topk" -> bm25Oracle(k = 10,
      select = "query_id, CAST(\"rank\" AS BIGINT) AS \"rank\", doc_id, score",
      suffix = "ORDER BY query_id, \"rank\""),
    // the persisted-index path is scoring-identical to q71 by
    // construction (same kernel over the same posting rows), so it is
    // graded against the same oracle
    "q73_lexical_index_topk" -> bm25Oracle(k = 10,
      select = "query_id, CAST(\"rank\" AS BIGINT) AS \"rank\", doc_id, score",
      suffix = "ORDER BY query_id, \"rank\""),
    // q89 queries the upsert-maintained postings (90% build + 10%
    // append); same full-corpus oracle — BM25's global stats make any
    // maintenance error score-visible, so equality IS the contract
    "q89_lex_upsert" -> bm25Oracle(k = 10,
      select = "query_id, CAST(\"rank\" AS BIGINT) AS \"rank\", doc_id, score",
      suffix = "ORDER BY query_id, \"rank\""),
    // the IVF graph build is exact by the same cell-radius bound as
    // q39, so it is graded against the brute-force all-pairs ranking
    "q77_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT a.vec_id AS query_id, b.vec_id,
        |    list_cosine_similarity(b.v, a.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
        |  FROM s)
        |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // injection expression mirrored verbatim from PiiRedaction
    // .injectSyntheticPii (fixture text is PII-free word salad; without
    // the deterministic injection the redaction gate would be vacuous);
    // regexes restricted to Java/RE2-agreeing constructs
    "q78_pii_redaction" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
        |            || '-' || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.1' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phones,
        |  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  sha256(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS clean_sha
        |FROM d ORDER BY doc_id""".stripMargin,
    // same subquery shapes; DuckDB decorrelates its own way — only the
    // results are the contract. Money in exact integer cents; the
    // avg/5 bound is identical IEEE math (integer-valued quantities)
    "q79_subqueries" ->
      """SELECT 'small_qty_items' AS shape, count(*) AS n,
        |  sum(cast(round(l.l_extendedprice * 100, 0) as bigint))::BIGINT AS cents
        |FROM lineitem l
        |WHERE l.l_quantity < (
        |  SELECT avg(l2.l_quantity) / 5 FROM lineitem l2
        |  WHERE l2.l_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'above_avg_qty', count(*), sum(cast(l_quantity as bigint))::BIGINT
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |UNION ALL
        |SELECT 'has_urgent_order', count(*),
        |  sum(cast(round(c_acctbal * 100, 0) as bigint))::BIGINT
        |FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT 'no_orders', count(*),
        |  sum(cast(round(c_acctbal * 100, 0) as bigint))::BIGINT
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'debtor_orders', count(*),
        |  sum(cast(round(o_totalprice * 100, 0) as bigint))::BIGINT
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY shape""".stripMargin,
    // DuckDB's list lambdas mirror Spark's higher-order functions; the
    // micro-quantized stats are exact integers, pal_dot is the q20
    // fixed-order double-fold precedent
    "q80_array_functions" ->
      """SELECT vec_id,
        |  len(list_filter(embedding, x -> x > 0))::BIGINT AS n_pos,
        |  list_sum(list_transform(embedding,
        |    x -> round(x::DOUBLE * 1000000)::BIGINT))::BIGINT AS sum_micro,
        |  list_max(list_transform(embedding,
        |    x -> abs(round(x::DOUBLE * 1000000)::BIGINT)))::BIGINT AS absmax_micro,
        |  round(list_dot_product(embedding::DOUBLE[],
        |    list_reverse(embedding)::DOUBLE[]), 6) AS pal_dot
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // SCD2: collapse filter before the lead(), both over the same
    // (ts, event_id) order; value passes through untouched (bit-equal
    // parquet doubles), validity bounds formatted to seconds
    "q81_scd2_history" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, value FROM o
        |      WHERE pv IS NULL OR value <> pv),
        |v AS (
        |  SELECT user_id, value, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM c)
        |SELECT user_id, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  vt IS NULL AS is_current
        |FROM v ORDER BY user_id, valid_from, value""".stripMargin,
    // brute-force per-side (same/different label) best-neighbor ranking;
    // the IVF miner must return exactly this by its cell-radius bound
    "q82_contrastive_pairs" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nid,
        |    b.label = a.label AS same,
        |    list_cosine_similarity(b.v, a.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT query_id, nid, same, sim,
        |    row_number() OVER (PARTITION BY query_id, same
        |                       ORDER BY sim DESC, nid) AS rn
        |  FROM p)
        |SELECT e.vec_id AS query_id, e.label,
        |  pos.nid AS pos_id, round(pos.sim, 6) AS pos_sim,
        |  neg.nid AS neg_id, round(neg.sim, 6) AS neg_sim
        |FROM e
        |LEFT JOIN r pos ON pos.query_id = e.vec_id AND pos.same AND pos.rn = 1
        |LEFT JOIN r neg ON neg.query_id = e.vec_id AND NOT neg.same AND neg.rn = 1
        |ORDER BY query_id""".stripMargin,
    // DuckDB's UNPIVOT names value columns exactly like Spark's melt
    // when the centi-quantized projections share names; sums are exact
    // integer centi-units
    "q83_unpivot" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    cast(round(l_quantity * 100, 0) as bigint) AS qty_centi,
        |    cast(round(l_extendedprice * 100, 0) as bigint) AS price_centi,
        |    cast(round(l_discount * 100, 0) as bigint) AS disc_centi
        |  FROM lineitem),
        |u AS (
        |  SELECT l_returnflag, measure, val FROM t
        |  UNPIVOT (val FOR measure IN (qty_centi, price_centi, disc_centi)))
        |SELECT l_returnflag, measure, count(*) AS n,
        |  sum(val)::BIGINT AS sum_centi,
        |  min(val) AS min_centi, max(val) AS max_centi
        |FROM u GROUP BY l_returnflag, measure
        |ORDER BY l_returnflag, measure""".stripMargin,
    // dense hourly grid per user from its own [min, max] hour; centi
    // sums exact; forward-fill = last_value IGNORE NULLS running frame
    "q84_gap_fill" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hr,
        |    sum(cast(round(value * 100, 0) as bigint))::BIGINT AS hv_centi,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
        |  FROM h GROUP BY user_id),
        |j AS (
        |  SELECT s.user_id, s.hr, h.hv_centi, h.n_events
        |  FROM s LEFT JOIN h ON h.user_id = s.user_id AND h.hr = s.hr)
        |SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
        |  last_value(hv_centi IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_centi,
        |  coalesce(n_events, 0) AS n_events,
        |  hv_centi IS NULL AS is_gap
        |FROM j ORDER BY user_id, hour""".stripMargin,
    // corpus-frequency vocabulary pruning: hapax (df<2) and the top-10
    // total-count terms dropped, surviving token order preserved
    "q74_vocab_prune" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |v AS (
         |  SELECT term, count(*)::BIGINT AS cnt,
         |         count(DISTINCT doc_id)::BIGINT AS df
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
         |  GROUP BY term),
         |drop_top AS (
         |  SELECT term FROM v ORDER BY cnt DESC, term ASC
         |  LIMIT ${TextAnalysis.PruneTopK}),
         |keep AS (
         |  SELECT list(term) AS kl FROM v
         |  WHERE df >= 2 AND term NOT IN (SELECT term FROM drop_top)),
         |r AS (
         |  SELECT doc_id, toks,
         |    list_filter(toks, x -> list_contains(k.kl, x)) AS kept
         |  FROM t CROSS JOIN keep k)
         |SELECT doc_id, len(toks)::BIGINT AS n_before,
         |  len(kept)::BIGINT AS n_after,
         |  array_to_string(kept, ' ') AS text_pruned
         |FROM r ORDER BY doc_id""".stripMargin,
    // first-occurrence attribution of distinct 3-grams in doc_id order
    "q75_gram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
        |  FROM t),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
        |p AS (
        |  SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |    sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
        |      AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY g.doc_id)
        |SELECT t.doc_id,
        |  coalesce(n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(n_novel, 0)::BIGINT AS n_novel,
        |  CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0 ELSE
        |    CAST((n_novel * 2000000 + n_grams) // (n_grams * 2) AS DOUBLE)
        |      / 1000000.0
        |  END AS novelty
        |FROM t LEFT JOIN p ON t.doc_id = p.doc_id ORDER BY t.doc_id""".stripMargin,
    "q88_pagerank" -> pageRankOracle,
    "q90_profile" -> profileOracle,
    // merges-table BPE is a graft-native kernel DuckDB cannot express;
    // the oracle is the committed golden parquet from the independent
    // Python re-implementation (tools/make_golden.py)
    "q91_bpe_merge_tokens" ->
      """SELECT doc_id, ws_tokens, bpe_tokens
        |FROM '/root/repo/golden/q91_bpe_merge_tokens.parquet'
        |ORDER BY doc_id""".stripMargin,
    // exact 8-token cross-document window matches; the engine's hash
    // pre-filter + collision verification must be result-invisible, so
    // the oracle is the plain string-equality window self-join
    "q92_repeated_passages" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, list_aggr(toks[i:i+7], 'string_agg', ' ') AS win
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.win
        |  FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id)
        |SELECT d1, d2, count(*)::BIGINT AS n_matches,
        |  count(DISTINCT win)::BIGINT AS n_windows
        |FROM p GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,
    // q101: merged maximal runs of q92's windows — diagonal (p1-p2) +
    // gaps-and-islands run grouping, expressed identically here
    "q101_repeated_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i AS p, list_aggr(toks[i:i+7], 'string_agg', ' ') AS win
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
        |m AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.p AS p1, b.p AS p2
        |  FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT d1, d2, p1 - p2 AS diag,
        |    p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS isl
        |  FROM m),
        |s AS (
        |  SELECT d1, d2, count(*) AS n_win
        |  FROM r GROUP BY d1, d2, diag, isl)
        |SELECT d1, d2, count(*)::BIGINT AS n_spans,
        |  max(n_win + 7)::BIGINT AS max_span_tokens,
        |  sum(n_win + 7)::BIGINT AS total_span_tokens
        |FROM s GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,
    // the streaming as-of fold must equal DuckDB's native inclusive
    // ASOF JOIN; reference ties at one (user, ts) resolve to the max
    // event id on both sides (fold's last write == arg_max)
    "q93_streaming_asof" ->
      """WITH c AS (
        |  SELECT user_id, ts, arg_max(event_type, event_id) AS ref_type
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  c.ref_type,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ref_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    // q102: SemDeDup survivors — the 2-bit sign-grid cell assignment
    // restated on DuckDB's 1-based list indexing, the pairwise
    // τ-compare on the same DOUBLE-cast cosine as the q20/q25 oracle
    // (threshold decisions already cross-engine-verified there), drop
    // rule = EXISTS a lower-id τ-close cell-mate
    "q102_semantic_dedup" ->
      """WITH c AS (
        |  SELECT vec_id,
        |    ((CASE WHEN embedding[1] > 0 THEN 2 ELSE 0 END)
        |     + (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END))::BIGINT AS cell,
        |    embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |d AS (
        |  SELECT DISTINCT a.vec_id
        |  FROM c a JOIN c b ON a.cell = b.cell AND b.vec_id < a.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        |SELECT vec_id, cell FROM c
        |WHERE vec_id NOT IN (SELECT vec_id FROM d)
        |ORDER BY vec_id""".stripMargin,
    "q103_retrieval_eval" -> retrievalEvalOracle,
    // q104: both snapshots' bucket counts reduce to exact ppm shares
    // (integer floor division), the drift summand is pure BIGINT
    // arithmetic — both engines state the identical quantized formula
    "q104_drift_monitor" ->
      """WITH r AS (
        |  SELECT source, lang, count(*)::BIGINT AS ref_n
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |c AS (
        |  SELECT source, lang, count(*)::BIGINT AS cur_n
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |t AS (
        |  SELECT (SELECT sum(ref_n) FROM r)::BIGINT AS R,
        |         (SELECT sum(cur_n) FROM c)::BIGINT AS C),
        |j AS (
        |  SELECT coalesce(r.source, c.source) AS source,
        |    coalesce(r.lang, c.lang) AS lang,
        |    coalesce(r.ref_n, 0) AS ref_n, coalesce(c.cur_n, 0) AS cur_n
        |  FROM r FULL OUTER JOIN c
        |    ON r.source = c.source AND r.lang = c.lang),
        |s AS (
        |  SELECT source, lang, ref_n, cur_n,
        |    (ref_n * 1000000 // greatest(coalesce(t.R, 0), 1))::BIGINT AS ref_ppm,
        |    (cur_n * 1000000 // greatest(coalesce(t.C, 0), 1))::BIGINT AS cur_ppm
        |  FROM j CROSS JOIN t)
        |SELECT source, lang, ref_n, cur_n, ref_ppm, cur_ppm,
        |  ((cur_ppm - ref_ppm) * (cur_ppm - ref_ppm)
        |    // greatest(ref_ppm, 1))::BIGINT AS chi2_ppm,
        |  CASE WHEN ref_n = 0 THEN 'new'
        |       WHEN cur_n = 0 THEN 'gone' ELSE 'ok' END AS status
        |FROM s ORDER BY source, lang""".stripMargin,
    "q97_leakage_safe_split" -> leakageSafeSplitOracle,
    // the ascending water-filling scan stated with explicit ROWS frames
    // (DuckDB's default ORDER BY frame is RANGE); all BIGINT, floor
    // division and % identical on non-negative values
    "q98_budget_waterfill" ->
      (waterfillCtes + "\n" +
        """SELECT source, avail, saturated, allocated
          |FROM alloc ORDER BY source""".stripMargin),
    // q98's allocations enforced as a per-source admission gate: admit
    // docs in id order while the source's running token total fits its
    // allocation — the same window both engines state declaratively
    "q99_quota_gate" ->
      (waterfillCtes + ",\n" +
        """d AS (
          |  SELECT doc_id, source,
          |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
          |    (sum(len(string_split_regex(trim(text), '\s+'))) OVER (
          |       PARTITION BY source ORDER BY doc_id
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
          |      AS cum_tokens
          |  FROM documents)
          |SELECT d.doc_id, d.source, d.n_tokens, d.cum_tokens,
          |  (d.cum_tokens <= alloc.allocated) AS admitted
          |FROM d JOIN alloc USING (source) ORDER BY d.doc_id""".stripMargin),
    // shard cuts stated declaratively as the window the distributed
    // prefix-sum harness implements; integer floor division on both
    // sides (all values non-negative)
    "q96_shard_manifest" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n
        |  FROM documents),
        |t AS (SELECT sum(n)::BIGINT // 20 + 1 AS budget FROM d),
        |c AS (SELECT doc_id, n,
        |        (sum(n) OVER (ORDER BY doc_id))::BIGINT - n AS cum_excl
        |      FROM d)
        |SELECT (c.cum_excl // t.budget)::BIGINT AS shard_id,
        |  count(*)::BIGINT AS n_docs, sum(c.n)::BIGINT AS shard_tokens,
        |  min(c.doc_id) AS first_doc, max(c.doc_id) AS last_doc
        |FROM c CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin,
    // corpus-trained add-one bigram LM scored in exact integer ppm:
    // DuckDB 1-based list indexing (toks[i], toks[i+1] over range(1,
    // len)) mirrors Spark's 0-based t[i-1], t[i] over sequence(1,
    // size-1); both floor-divide positives so div == // exactly
    "q94_lm_quality" ->
      ("WITH " + lmQualityCtes + "\n" +
        """SELECT doc_id, n_trans, sum_prob_ppm, avg_prob_ppm
          |FROM lm_scores ORDER BY doc_id""".stripMargin),
    // quality-aware canonical selection: q32's near-dup clusters keep
    // their HIGHEST-q94-scoring member (tie lowest id), not the min id;
    // singleton scored docs are their own cluster. Both CTE chains are
    // the shared constants the q32/q94 oracles use, so the composition
    // cannot drift from its parts.
    "q100_best_of_cluster" ->
      (clusterLabelsCte + ",\n" + lmQualityCtes + ",\n" +
        """m AS (
          |  SELECT s.doc_id, coalesce(l.cluster_id, s.doc_id) AS cluster_id,
          |    s.avg_prob_ppm
          |  FROM lm_scores s LEFT JOIN labels l ON s.doc_id = l.node)
          |SELECT cluster_id,
          |  count(*)::BIGINT AS cluster_size,
          |  arg_max(doc_id, avg_prob_ppm * 1000000000 - doc_id) AS kept_doc,
          |  max(avg_prob_ppm)::BIGINT AS kept_quality_ppm
          |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    // q87's running sum is computed by the distributed prefix-sum
    // harness (range partition + per-partition fold + offset join);
    // the oracle states the same total-order ROWS window declaratively
    "q87_budget_select" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    (len(list_distinct(toks)) * 1000000) // len(toks) AS ratio_micro
        |  FROM d),
        |w AS (
        |  SELECT doc_id, n_tokens, ratio_micro::BIGINT AS ratio_micro,
        |    sum(n_tokens) OVER (ORDER BY ratio_micro DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |  FROM s),
        |b AS (SELECT (sum(n_tokens) // 10)::BIGINT AS budget FROM s)
        |SELECT doc_id, n_tokens, ratio_micro, cum_tokens FROM w, b
        |WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin,
    // q86's Misra-Gries sketch is a guaranteed-superset candidate pass
    // followed by an exact recount, so its output must EQUAL the plain
    // exact threshold answer — that equality is the whole contract
    "q86_heavy_hitters" ->
      """WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |  FROM t),
        |tot AS (SELECT count(*) AS n FROM g)
        |SELECT gram, count(*)::BIGINT AS cnt FROM g, tot
        |GROUP BY gram, n HAVING count(*) * 4000 > n
        |ORDER BY cnt DESC, gram""".stripMargin,
    // unordered source pairs sharing >=1 distinct 3-gram; exact Jaccard
    "q76_source_overlap" ->
      """WITH t AS (
        |  SELECT source, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source, gram FROM (
        |    SELECT source, unnest(
        |      list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |    FROM t)),
        |s AS (SELECT source, count(*)::BIGINT AS n FROM g GROUP BY source),
        |sh AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    count(*)::BIGINT AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
        |  CASE WHEN sa.n + sb.n - n_shared = 0 THEN 0.0 ELSE
        |    CAST((n_shared * 2000000 + (sa.n + sb.n - n_shared))
        |         // ((sa.n + sb.n - n_shared) * 2) AS DOUBLE) / 1000000.0
        |  END AS jaccard
        |FROM sh JOIN s sa ON sh.src_a = sa.source
        |JOIN s sb ON sh.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // fusion = integer micro-unit reciprocal ranks over the two channels'
    // FULL OUTER join; channel ranks re-derived with q9's exact-cosine
    // CTE (k'=20) and q71's BM25 CTE (k'=20)
    "q72_hybrid_rrf" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |s AS (
         |  SELECT q.query_id, e.vec_id,
         |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
         |  FROM embeddings e CROSS JOIN q),
         |vr0 AS (
         |  SELECT query_id, vec_id AS doc_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id)
         |      AS vrank
         |  FROM s WHERE sim > 0.0),
         |vr AS (SELECT * FROM vr0 WHERE vrank <= 20),
         |${bm25Cte}
         |lr AS (
         |  SELECT query_id, doc_id, lrank FROM (
         |    SELECT query_id, doc_id,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY score DESC, doc_id) AS lrank
         |    FROM sc) WHERE lrank <= 20),
         |f AS (
         |  SELECT coalesce(vr.query_id, lr.query_id) AS query_id,
         |    coalesce(vr.doc_id, lr.doc_id) AS doc_id,
         |    vr.vrank AS vec_rank, lr.lrank AS lex_rank,
         |    coalesce(1000000000000 // (60 + vr.vrank), 0) +
         |      coalesce(1000000000000 // (60 + lr.lrank), 0) AS rrf_micro
         |  FROM vr FULL OUTER JOIN lr
         |    ON vr.query_id = lr.query_id AND vr.doc_id = lr.doc_id),
         |o AS (
         |  SELECT query_id, doc_id, rrf_micro, vec_rank, lex_rank,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY rrf_micro DESC, doc_id) AS "rank"
         |  FROM f)
         |SELECT query_id, CAST("rank" AS BIGINT) AS "rank", doc_id,
         |  CAST(rrf_micro AS BIGINT) AS rrf_micro,
         |  CAST(vec_rank AS BIGINT) AS vec_rank,
         |  CAST(lex_rank AS BIGINT) AS lex_rank
         |FROM o WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,
    // eval split + gram length must mirror Decontamination's constants;
    // range(1, len-2) emits i = 1..len-3, i.e. every 4-gram start
    "q63_decontamination" -> decontaminationOracle,
    // the Bloom pre-filter only generates candidates; exact gram-equality
    // verification makes false positives result-invisible, so the oracle
    // is q63's (the q20/q25 contract applied to decontamination)
    "q95_bloom_decontamination" -> decontaminationOracle,
    // the packing recurrence as a recursive CTE: the frontier advances
    // one row_number per source per iteration, carrying the running fill
    "q64_sequence_packing" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT source, doc_id,
         |    len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |  FROM documents),
         |p AS (
         |  SELECT source, doc_id, n_tokens, rn,
         |    0::BIGINT AS seq_id, 0::BIGINT AS offset_in_seq, n_tokens AS fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
         |    CASE WHEN p.fill + d.n_tokens > ${pipeline.SequencePacker.Budget}
         |      THEN p.seq_id + 1 ELSE p.seq_id END,
         |    CASE WHEN p.fill + d.n_tokens > ${pipeline.SequencePacker.Budget}
         |      THEN 0::BIGINT ELSE p.fill END,
         |    CASE WHEN p.fill + d.n_tokens > ${pipeline.SequencePacker.Budget}
         |      THEN d.n_tokens ELSE p.fill + d.n_tokens END
         |  FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1)
         |SELECT source, doc_id, n_tokens, seq_id, offset_in_seq
         |FROM p ORDER BY source, doc_id""".stripMargin,
    // integer-exact mixing rates: floor(sqrt(n)*1000) milli-weights
    // (IEEE sqrt is correctly rounded in both engines), one BIGINT
    // division for the ppm rate, Knuth-hash ppm bucket for the keep
    "q65_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, count(*)::BIGINT AS n_src FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_src,
        |    CAST(floor(sqrt(n_src::DOUBLE) * 1000) AS BIGINT) AS w_milli
        |  FROM c),
        |t AS (
        |  SELECT sum(n_src)::BIGINT AS n_total, sum(w_milli)::BIGINT AS w_total
        |  FROM w),
        |r AS (
        |  SELECT source, n_src,
        |    least(1000000::BIGINT,
        |      (w_milli * (n_total // 2) * 1000000) // (w_total * n_src)) AS rate_ppm
        |  FROM w, t)
        |SELECT d.doc_id, d.source, r.n_src, r.rate_ppm,
        |  ((d.doc_id * 2654435761) % 4294967296) % 1000000 AS bucket
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ((d.doc_id * 2654435761) % 4294967296) % 1000000 < r.rate_ppm
        |ORDER BY d.doc_id""".stripMargin,
    "q62_gopher_gate" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    len(toks)::BIGINT AS n_words,
         |    list_aggregate(list_transform(toks, t -> length(t)), 'sum')::BIGINT
         |      AS sum_word_len,
         |    len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))::BIGINT
         |      AS n_alpha_words,
         |    len(list_distinct(toks))::BIGINT AS n_distinct_words
         |  FROM t)
         |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_distinct_words,
         |  (n_words >= ${TextAnalysis.GateMinWords}
         |    AND n_words <= ${TextAnalysis.GateMaxWords}) AS flag_words,
         |  (sum_word_len >= ${TextAnalysis.GateMinMeanLen} * n_words
         |    AND sum_word_len <= ${TextAnalysis.GateMaxMeanLen} * n_words) AS flag_mean_len,
         |  (n_alpha_words * 10 >= n_words * 9) AS flag_alpha,
         |  (n_distinct_words * 2 >= n_words) AS flag_ttr,
         |  ((n_words >= ${TextAnalysis.GateMinWords}
         |     AND n_words <= ${TextAnalysis.GateMaxWords})
         |   AND (sum_word_len >= ${TextAnalysis.GateMinMeanLen} * n_words
         |     AND sum_word_len <= ${TextAnalysis.GateMaxMeanLen} * n_words)
         |   AND (n_alpha_words * 10 >= n_words * 9)
         |   AND (n_distinct_words * 2 >= n_words)) AS keep
         |FROM c ORDER BY doc_id""".stripMargin,
    // resized payload = every 2nd byte; ASCII fixture => char == byte,
    // so DuckDB reconstructs the strided string and hashes it
    "q37_media_resize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    octet_length(text::BLOB)::BIGINT AS orig_bytes,
        |    array_to_string(list_transform(range(1, length(text) + 1, 2),
        |      i -> substr(text, CAST(i AS INT), 1)), '') AS resized
        |  FROM documents)
        |SELECT doc_id, media_type, orig_bytes,
        |  length(resized)::BIGINT AS resized_bytes,
        |  md5(resized) AS resized_md5,
        |  (64 + length(resized) % 64)::BIGINT AS width,
        |  (64 + (length(resized) // 64) % 64)::BIGINT AS height
        |FROM r ORDER BY doc_id""".stripMargin,
    // every event lies in exactly 4 of the 1h/15m sliding windows, whose
    // starts are the event's 15-min bucket minus k*15min, k=0..3
    "q33_sliding_window" ->
      """SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE,
        |  '%Y-%m-%d %H:%M:%S') AS w_start, event_type, count(*) AS n
        |FROM events, (SELECT unnest(range(0, 4)) AS k) k
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "q34_outer_join" ->
      """SELECT n_nationkey, n_name,
        |  count(s_suppkey) AS n_suppliers,
        |  coalesce(round(sum(s_acctbal), 2), 0.0) AS total_acctbal
        |FROM nation LEFT OUTER JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin,
    "q35_window_running" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey % 100 = 0),
        |w AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, cents,
        |    CAST(sum(cents) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        |    CAST(sum(cents) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum3,
        |    count(*) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cnt3,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rnk,
        |    dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS drnk
        |  FROM o)
        |SELECT o_custkey, o_orderkey,
        |  CAST(cum_c AS DOUBLE) / 100.0 AS cum_spend,
        |  CAST((sum3 * 2 + cnt3) // (cnt3 * 2) AS DOUBLE) / 100.0 AS avg3,
        |  rnk, drnk
        |FROM w ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q18_token_stats" ->
      """SELECT source, count(*) AS n_docs,
        |CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q19_quality" ->
      """SELECT doc_id,
        |len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct,
        |round(len(list_distinct(string_split_regex(trim(text), '\s+'))) * 1.0
        |      / len(string_split_regex(trim(text), '\s+')), 6) AS ttr,
        |round((length(text) - len(string_split_regex(trim(text), '\s+')) + 1) * 1.0
        |      / len(string_split_regex(trim(text), '\s+')), 6) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q20_cosine_neardup" -> cosineNearDupOracle,
    // The ANN path must produce the identical pair set as the exact join:
    // LSH only generates candidates, exact cosine verifies every pair.
    "q25_ann_join" -> cosineNearDupOracle,
    // Multimodal: documents' UTF-8 payloads stand in for opaque media
    // blobs; the fixture is pure ASCII (verified), so DuckDB's
    // char-indexed arithmetic equals Spark's byte-indexed arithmetic.
    "q26_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  octet_length(text::BLOB)::BIGINT AS n_bytes,
        |  (64 + octet_length(text::BLOB) % 64)::BIGINT AS width,
        |  (64 + (octet_length(text::BLOB) // 64) % 64)::BIGINT AS height,
        |  (CASE WHEN doc_id % 3 = 0 THEN 0
        |        ELSE octet_length(text::BLOB) * 8 END)::BIGINT AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, text, octet_length(text::BLOB)::BIGINT AS n_bytes,
        |    CAST(ceil(octet_length(text::BLOB) / 16.0) AS BIGINT) AS n_blocks
        |  FROM documents
        |  WHERE octet_length(text::BLOB) > 0)
        |SELECT doc_id,
        |  CAST(t.b // 4 AS INT) AS frame_id,
        |  t.b AS block_idx,
        |  md5(substr(text, CAST(t.b * 16 + 1 AS INT), 16)) AS frame_md5,
        |  least(16, n_bytes - t.b * 16)::BIGINT AS frame_bytes
        |FROM m, unnest(range(0, n_blocks, 4)) AS t(b)
        |ORDER BY doc_id, frame_id""".stripMargin,
    // explicit whitespace class + integer half-up blowup: mirrors
    // TextAnalysis.BpeTokenPattern / bpeTokenCounts exactly
    "q29_bpe_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS BIGINT) AS bpe_tokens
        |  FROM documents)
        |SELECT doc_id, ws_tokens, bpe_tokens,
        |  CAST((bpe_tokens * 2000000 + ws_tokens) // (ws_tokens * 2) AS DOUBLE) / 1000000.0 AS blowup
        |FROM t ORDER BY doc_id""".stripMargin,
    // integer half-up frac: mirrors Multimodal.byteHistogram exactly
    "q28_byte_histogram" ->
      """WITH c AS (
        |  SELECT doc_id, octet_length(text::BLOB)::BIGINT AS n_bytes,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ascii(substr(text, CAST(i AS INT), 1))) AS codes
        |  FROM documents)
        |SELECT doc_id, CAST(t.b AS INT) AS bin,
        |  CAST(len(list_filter(codes, c -> c // 16 = t.b)) AS BIGINT) AS n_in_bin,
        |  CAST((len(list_filter(codes, c -> c // 16 = t.b)) * 2000000 + n_bytes)
        |       // (n_bytes * 2) AS DOUBLE) / 1000000.0 AS frac
        |FROM c, unnest(range(0, 16)) AS t(b)
        |ORDER BY doc_id, bin""".stripMargin)

  /** Exact batch cosine top-k (k=5, threshold 0.0, first-10 query
    * batch) — the shared oracle for the exact scan (q9) and both
    * persisted-index retrieval paths (q38 LSH, q39 IVF).
    */
  /** Shared BM25 oracle CTE chain (ends at `sc` = (query_id, doc_id,
    * score), trailing comma included): the q47 tokenization, then
    * LexicalSearch's integer idf/saturation arithmetic verbatim —
    * DuckDB `//` and Spark `div` agree on positive BIGINTs.
    */
  /** The shared BM25 CTE chain, parameterized by a LIVE-corpus
    * predicate (q120's deletion oracle): the scored corpus — lens,
    * stats, tf — reads only live documents, while the query-term
    * derivation reads the FULL corpus (a deleted document may still
    * issue queries; it just cannot be returned). `TRUE` reproduces
    * the undeleted chain exactly.
    */
  private def bm25CteLive(livePred: String): String =
    s"""tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      |  FROM documents),
      |ltok AS (SELECT * FROM tok WHERE $livePred),
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dlen FROM ltok),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |              CAST(sum(dlen) AS BIGINT) AS total_len FROM lens),
      |tfc AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(toks) AS term FROM ltok)
      |  GROUP BY doc_id, term),
      |qt AS (
      |  SELECT DISTINCT query_id, term FROM (
      |    SELECT doc_id AS query_id, unnest(toks[1:8]) AS term
      |    FROM tok WHERE doc_id < 10)),
      |dfq AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc
      |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
      |sc AS (
      |  -- HUGEINT intermediates mirror Spark's DECIMAL(38,0); the two
      |  -- quantized quotients and the final sum are the BIGINT contract
      |  SELECT qt.query_id, tfc.doc_id,
      |    CAST(SUM(
      |      ((((2::HUGEINT * st.n_docs - 2 * dfq.df + 1) * 1000000)
      |        // (2 * dfq.df + 1)) *
      |       ((44::HUGEINT * tfc.tf * st.total_len * 1000000) //
      |        (20::HUGEINT * tfc.tf * st.total_len + 6::HUGEINT * st.total_len
      |         + 18::HUGEINT * lens.dlen * st.n_docs))) // 1000000
      |    ) AS BIGINT) AS score
      |  FROM tfc JOIN qt USING (term) JOIN dfq USING (term)
      |  JOIN lens ON tfc.doc_id = lens.doc_id CROSS JOIN st
      |  GROUP BY qt.query_id, tfc.doc_id),""".stripMargin

  private lazy val bm25Cte: String = bm25CteLive("TRUE")

  private def bm25Oracle(
      k: Int, select: String, suffix: String,
      livePred: String = "TRUE"): String =
    s"""WITH ${bm25CteLive(livePred)}
       |r AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, doc_id) AS "rank"
       |  FROM sc)
       |SELECT $select
       |FROM r WHERE "rank" <= $k $suffix""".stripMargin

  /** q88's oracle: the identical integer micro-mass recurrence, with
    * the ten iterations UNROLLED as chained CTE steps (portable — no
    * reliance on aggregation-in-recursive-CTE support) over the same
    * brute-force k-NN edge derivation as q77's oracle. Every division
    * is `//` on BIGINTs, so both engines floor identically and the
    * compare is exact. The dangling term mirrors
    * [[graft.pipeline.GraphRank.pageRank]]'s uniform redistribution —
    * on the k-NN graph it is identically zero (every node emits k
    * edges), but both sides compute it, so the recurrences stay
    * textually parallel.
    */
  private lazy val pageRankOracle: String = {
    // each pr step references pr(i-1) TWICE (dangling pool + shares);
    // MATERIALIZED stops DuckDB inlining the reference, which would
    // re-evaluate the whole chain (and the n² k-NN CTE under it)
    // exponentially many times
    val steps = (1 to 10).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT t.id,
         |    (tp.t + coalesce(c.s, 0) + (dg.d * 85) // (100 * n.cnt))::BIGINT AS r
         |  FROM (SELECT vec_id AS id FROM e0) t
         |  CROSS JOIN tp CROSS JOIN n
         |  CROSS JOIN (
         |    SELECT coalesce(sum(r), 0)::BIGINT AS d FROM pr${i - 1}
         |    WHERE id NOT IN (SELECT src FROM od)) dg
         |  LEFT JOIN (
         |    SELECT ed.dst AS id, sum((p.r * 85) // (100 * od.deg)) AS s
         |    FROM ed JOIN od USING (src) JOIN pr${i - 1} p ON p.id = ed.src
         |    GROUP BY ed.dst) c USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY list_cosine_similarity(b.v, a.v) DESC, b.vec_id) AS rn
       |  FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id),
       |ed AS MATERIALIZED (SELECT src, dst FROM s WHERE rn <= 5),
       |od AS MATERIALIZED (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |n AS (SELECT count(*)::BIGINT AS cnt FROM e0),
       |tp AS (SELECT ((1000000000000 * 15) // (100 * cnt))::BIGINT AS t FROM n),
       |pr0 AS (
       |  SELECT vec_id AS id, (1000000000000 // cnt)::BIGINT AS r FROM e0, n),
       |$steps
       |SELECT id AS vec_id, r AS rank_micro FROM pr10 ORDER BY vec_id""".stripMargin
  }

  /** q90's oracle: one UNION ALL branch per profiled column, each the
    * plain exact statistics — generated from [[graft.pipeline.Profiler.Q90Targets]],
    * the SAME constant the Spark side profiles, so the two cannot drift.
    */
  private lazy val profileOracle: String = {
    def branches(table: String, cols: Seq[String]): Seq[String] = cols.map { c =>
      s"""SELECT '$table' AS tbl, '$c' AS col_name,
         |  count(*)::BIGINT AS n_rows,
         |  (count(*) - count($c))::BIGINT AS n_nulls,
         |  count(DISTINCT $c)::BIGINT AS ndv,
         |  CAST(min($c) AS VARCHAR) AS min_s,
         |  CAST(max($c) AS VARCHAR) AS max_s
         |FROM $table""".stripMargin
    }
    graft.pipeline.Profiler.Q90Targets
      .flatMap { case (table, cols) => branches(table, cols) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
  }

  /** Q103 oracle: ranked retrieval restated as the q9-pattern window,
    * label-mate relevance, and the metric arithmetic in BIGINT with the
    * SAME driver-computed discount literals the Spark plan embeds
    * ([[graft.query.RetrievalEval.discountNanos]]) — interpolated into
    * this string from the one Scala array, so the two engines cannot
    * drift on the only irrational ingredient.
    */
  private lazy val retrievalEvalOracle: String = {
    val disc = RetrievalEval.discountNanos(10)
    val discCase =
      (1 to 10).map(r => s"WHEN $r THEN ${disc(r - 1)}").mkString(" ")
    val idcg = RetrievalEval.idcgNanos(10)
    val idcgCase =
      (1 to 10).map(r => s"WHEN $r THEN ${idcg(r - 1)}").mkString(" ")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < 10),
       |s AS (
       |  SELECT q.query_id, q.qlabel, e.vec_id, e.label,
       |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.query_id),
       |r AS (
       |  SELECT query_id, qlabel, vec_id, label,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
       |  FROM s),
       |h AS (SELECT * FROM r WHERE rn <= 20),
       |n AS (
       |  SELECT q.query_id, count(b.vec_id)::BIGINT AS n_rel
       |  FROM q LEFT JOIN embeddings b
       |    ON b.label = q.qlabel AND b.vec_id <> q.query_id
       |  GROUP BY 1),
       |t AS (
       |  SELECT query_id,
       |    sum(CASE WHEN label = qlabel AND rn <= 10 THEN 1 ELSE 0 END)::BIGINT
       |      AS hits_at_k,
       |    min(CASE WHEN label = qlabel THEN rn END)::BIGINT AS first_rel,
       |    sum(CASE WHEN label = qlabel AND rn <= 10
       |             THEN CASE rn $discCase ELSE 0 END
       |             ELSE 0 END)::BIGINT AS dcg_nanos
       |  FROM h GROUP BY 1)
       |SELECT t.query_id,
       |  n.n_rel,
       |  t.hits_at_k,
       |  (t.hits_at_k * 1000000 // greatest(n.n_rel, 1))::BIGINT AS recall_micro,
       |  (CASE WHEN t.hits_at_k > 0 THEN 1 ELSE 0 END)::BIGINT AS success_at_k,
       |  coalesce(t.first_rel, 0)::BIGINT AS first_rel_rank,
       |  (CASE WHEN t.first_rel IS NULL THEN 0
       |        ELSE 1000000 // t.first_rel END)::BIGINT AS mrr_micro,
       |  t.dcg_nanos,
       |  (CASE least(n.n_rel, 10) $idcgCase ELSE 0 END)::BIGINT AS idcg_nanos,
       |  (CASE WHEN n.n_rel > 0
       |        THEN (t.dcg_nanos * 1000000)
       |             // (CASE least(n.n_rel, 10) $idcgCase ELSE 0 END)
       |        ELSE 0 END)::BIGINT AS ndcg_micro
       |FROM t JOIN n USING (query_id) ORDER BY query_id""".stripMargin
  }

  /** q118/q119's oracle: [[cosineTopKOracle]] restricted to the rows
    * surviving both delete batches (the compacted `% 7 == 3` set and
    * the pending `% 11 == 5` set). The query batch stays the FULL
    * first-ten — issuing a query from a deleted vector is legal.
    */
  private lazy val cosineTopKLiveOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id % 7 <> 3 AND e.vec_id % 11 <> 5),
      |r AS (
      |  SELECT query_id, vec_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
      |  FROM s WHERE sim > 0.0)
      |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
      |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  private lazy val cosineTopKOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |s AS (
      |  SELECT q.query_id, e.vec_id,
      |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
      |  FROM embeddings e CROSS JOIN q),
      |r AS (
      |  SELECT query_id, vec_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
      |  FROM s WHERE sim > 0.0)
      |SELECT query_id, vec_id, round(sim, 6) AS sim, rn
      |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  private lazy val sessionizeOracle: String =
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin

  private lazy val decontaminationOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
       |    AS gram
       |  FROM t),
       |tr AS (SELECT * FROM g
       |       WHERE doc_id % ${pipeline.Decontamination.EvalMod} <> ${pipeline.Decontamination.EvalRem}),
       |ev AS (SELECT doc_id AS eval_id, gram FROM g
       |       WHERE doc_id % ${pipeline.Decontamination.EvalMod} = ${pipeline.Decontamination.EvalRem})
       |SELECT tr.doc_id, count(DISTINCT tr.gram)::BIGINT AS n_shared_grams,
       |  count(DISTINCT ev.eval_id)::BIGINT AS n_eval_docs
       |FROM tr JOIN ev ON tr.gram = ev.gram
       |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  private lazy val cosineNearDupOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.35
      |ORDER BY v1, v2""".stripMargin

  /** Built from the Scala stopword constant so the lists cannot drift;
    * ratios use the same integer half-up rounding as the engine (see
    * TextAnalysis.qualityRatios — `round(double, 6)` ties diverge
    * between engines).
    */
  /** Q69 oracle: the Morton interleave as generated bit arithmetic —
    * identical formula to [[graft.pipeline.ZOrder.interleave]], so the
    * bucket envelopes must match bit-for-bit.
    */
  private lazy val zorderOracle: String = {
    val bits = pipeline.ZOrder.DimBits
    val inter = (0 until bits).map(i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT l_partkey, l_suppkey,
       |    (ntile(${1 << bits}) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) - 1)::BIGINT AS xb,
       |    (ntile(${1 << bits}) OVER (ORDER BY l_suppkey, l_orderkey, l_linenumber) - 1)::BIGINT AS yb
       |  FROM lineitem),
       |z AS (
       |  SELECT l_partkey, l_suppkey, ($inter) AS z FROM t)
       |SELECT z >> ${pipeline.ZOrder.BucketShift} AS bucket,
       |  count(*)::BIGINT AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** q69b: identical interleave/bucket arithmetic, but value-scaled
    * dimension buckets (row-local, distributed) instead of ntile.
    */
  private lazy val zorderScaledOracle: String = {
    val bits = pipeline.ZOrder.DimBits
    val tiles = 1L << bits
    val inter = (0 until bits).map(i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
       |         min(l_suppkey) AS smin, max(l_suppkey) AS smax
       |  FROM lineitem),
       |t AS (
       |  SELECT l_partkey, l_suppkey,
       |    least(${tiles - 1},
       |      ((l_partkey - b.pmin) * $tiles) // (b.pmax - b.pmin + 1))::BIGINT AS xb,
       |    least(${tiles - 1},
       |      ((l_suppkey - b.smin) * $tiles) // (b.smax - b.smin + 1))::BIGINT AS yb
       |  FROM lineitem CROSS JOIN b),
       |z AS (
       |  SELECT l_partkey, l_suppkey, ($inter) AS z FROM t)
       |SELECT z >> ${pipeline.ZOrder.BucketShift} AS bucket,
       |  count(*)::BIGINT AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  private lazy val qualityRatiosOracle: String = {
    val stop = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH s AS (
       |  SELECT doc_id, length(text)::BIGINT AS n_chars,
       |    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS n_punct,
       |    (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::BIGINT AS n_upper,
       |    (length(text) - length(regexp_replace(text, '[ \\t\\n\\f\\r]', '', 'g')))::BIGINT AS n_ws,
       |    len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens,
       |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
       |        t -> list_contains($stop, t)))::BIGINT AS n_stop
       |  FROM documents)
       |SELECT doc_id,
       |  CAST((n_punct * 2000000 + n_chars) // (n_chars * 2) AS DOUBLE) / 1000000.0 AS punct_ratio,
       |  CAST((n_upper * 2000000 + n_chars) // (n_chars * 2) AS DOUBLE) / 1000000.0 AS upper_ratio,
       |  CAST((n_ws * 2000000 + n_chars) // (n_chars * 2) AS DOUBLE) / 1000000.0 AS ws_ratio,
       |  CAST((n_stop * 2000000 + n_tokens) // (n_tokens * 2) AS DOUBLE) / 1000000.0 AS stopword_ratio
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Shared recursive-CTE prefix computing per-node min-label cluster
    * ids over the n-gram-Jaccard near-dup graph (full corpus) — used by
    * the q32 and q41 oracles.
    */
  private lazy val clusterLabelsCte: String =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, length(text) - 4),
      |      i -> substr(text, CAST(i AS INT), 6)))) AS gram
      |  FROM documents WHERE length(text) >= 6),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |  WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5),
      |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
      |          UNION SELECT d2, d1 FROM pairs),
      |reach(node, r) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
      |labels AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** Shared bigram-LM CTE chain (q94/q100), WITHOUT the leading WITH so
    * it composes after other chains: `lm_scores` ends with one row per
    * scored (≥2-token) doc carrying (doc_id, n_trans, sum_prob_ppm,
    * avg_prob_ppm).
    */
  private lazy val lmQualityCtes: String =
    """lt AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |v AS (SELECT count(DISTINCT tok)::BIGINT AS vsz
      |      FROM lt, unnest(toks) AS u(tok)),
      |tr AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM lt, unnest(range(1, len(toks))) AS r(i)
      |  WHERE len(toks) >= 2),
      |uni AS (SELECT w1, count(*)::BIGINT AS c1 FROM tr GROUP BY 1),
      |bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM tr GROUP BY 1, 2),
      |dg AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS m
      |       FROM tr GROUP BY 1, 2, 3),
      |lm_scores AS (
      |  SELECT dg.doc_id,
      |    sum(dg.m)::BIGINT AS n_trans,
      |    sum(dg.m * ((bi.c12 + 1) * 1000000 // (uni.c1 + v.vsz)))::BIGINT
      |      AS sum_prob_ppm,
      |    (sum(dg.m * ((bi.c12 + 1) * 1000000 // (uni.c1 + v.vsz)))
      |      // sum(dg.m))::BIGINT AS avg_prob_ppm
      |  FROM dg JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
      |  GROUP BY 1)""".stripMargin

  /** Shared water-filling CTE chain (q98/q99): `alloc` ends with one
    * row per source carrying (source, avail, saturated, allocated).
    */
  private lazy val waterfillCtes: String =
    """WITH s AS (
      |  SELECT source,
      |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS avail
      |  FROM documents GROUP BY source),
      |t AS (SELECT sum(avail)::BIGINT AS total, count(*)::BIGINT AS k FROM s),
      |a AS (
      |  SELECT s.source, s.avail, t.total // 2 AS budget, t.k,
      |    row_number() OVER (ORDER BY s.avail ASC, s.source ASC) AS rn,
      |    coalesce(sum(s.avail) OVER (ORDER BY s.avail ASC, s.source ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pfx
      |  FROM s CROSS JOIN t),
      |b AS (SELECT *, (avail * (k - rn + 1) <= budget - pfx) AS saturated
      |      FROM a),
      |c AS (
      |  SELECT *,
      |    coalesce(sum(CASE WHEN saturated THEN avail END) OVER (), 0)::BIGINT
      |      AS sat_sum,
      |    (sum(CASE WHEN saturated THEN 0 ELSE 1 END) OVER ())::BIGINT AS u,
      |    (sum(CASE WHEN saturated THEN 0 ELSE 1 END) OVER (
      |       ORDER BY avail DESC, source ASC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
      |      AS unsat_rank
      |  FROM b),
      |alloc AS (
      |  SELECT source, avail, saturated,
      |    (CASE WHEN saturated THEN avail
      |          ELSE (budget - sat_sum) // u
      |            + (CASE WHEN unsat_rank <= (budget - sat_sum) % u
      |               THEN 1 ELSE 0 END)
      |     END)::BIGINT AS allocated
      |  FROM c)""".stripMargin

  /** Q97 oracle: cluster labels from the same recursive CTE as q32;
    * split buckets in the engine-portable Knuth arithmetic (all values
    * non-negative, so plain % equals pmod).
    */
  private lazy val leakageSafeSplitOracle: String =
    clusterLabelsCte + "\n" +
      """SELECT d.doc_id, d.source,
        |  coalesce(l.cluster_id, d.doc_id) AS cluster_id,
        |  CASE
        |    WHEN (coalesce(l.cluster_id, d.doc_id) * 2654435761)
        |         % 4294967296 % 1000 < 800 THEN 'train'
        |    WHEN (coalesce(l.cluster_id, d.doc_id) * 2654435761)
        |         % 4294967296 % 1000 < 900 THEN 'valid'
        |    ELSE 'test'
        |  END AS split
        |FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
        |ORDER BY d.doc_id""".stripMargin

  private lazy val dedupClustersOracle: String =
    clusterLabelsCte + "\n" +
      """SELECT l.node AS doc_id, l.cluster_id,
        |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
        |FROM labels l ORDER BY doc_id""".stripMargin

  /** Cleaned corpus: exact-group representatives that are also their
    * near-dup cluster's minimum (clusters computed over the FULL corpus
    * — identical texts have identical gram sets, so this equals the
    * engine's clusters-over-representatives; see Dedup.cleanCorpus).
    */
  private lazy val cleanCorpusOracle: String =
    clusterLabelsCte + ",\n" +
      """exact AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |  FROM documents GROUP BY text)
        |SELECT e.doc_id, e.n_copies
        |FROM exact e LEFT JOIN labels l ON e.doc_id = l.node
        |WHERE l.node IS NULL OR l.cluster_id = e.doc_id
        |ORDER BY e.doc_id""".stripMargin

  private lazy val ngramJaccardOracle: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, length(text) - 4),
      |      i -> substr(text, CAST(i AS INT), 6)))) AS gram
      |  FROM documents WHERE length(text) >= 6),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jac
      |FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE i * 1.0 / (s1.sz + s2.sz - i) >= 0.5
      |ORDER BY d1, d2""".stripMargin
}
