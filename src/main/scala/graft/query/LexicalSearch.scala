package graft.query

import graft.Tables
import graft.util.Generation
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25-style lexical retrieval + reciprocal-rank hybrid fusion — the
  * keyword half of hybrid search. The reference's retrieval surface is
  * vector-only (reference src/clients/vector-client.ts:396-415); every
  * production RAG deployment of that shape pairs it with a lexical
  * (BM25) channel and fuses the two rankings, so this module completes
  * the query path: [[bm25TopK]] is the inverted-index scorer,
  * [[rrfFuse]] is Reciprocal Rank Fusion (Cormack, Clarke & Büttcher,
  * SIGIR 2009) over the two channels' ranks.
  *
  * Determinism contract (the cross-engine disciplines of q47/q52/q57):
  *
  *  - The Robertson idf `ln((N - df + ½)/(df + ½))` is replaced by the
  *    micro-quantized RATIONAL `⌊10⁶·(2N−2df+1)/(2df+1)⌋` — `ln` is a
  *    libm call with no bit guarantee across engines, while one BIGINT
  *    division is exact everywhere, and `ln` is monotone so each
  *    term's idf ORDER is preserved (sums across terms can reorder vs
  *    log-BM25; the quantized-rational scorer IS the contract).
  *  - The tf saturation `tf·(k1+1)/(tf + k1·(1−b+b·len/avglen))` with
  *    k1=6/5, b=3/4 is cleared of denominators (multiply through by
  *    20·totalLen) into `44·tf·L / (20·tf·L + 6·L + 18·len·N)` with
  *    L = Σ len — again one integer division after micro-scaling.
  *  - A term's score is `⌊idf_micro · sat_micro / 10⁶⌋` (micro units),
  *    a document's score the BIGINT SUM — order-independent, so partial
  *    aggregation cannot perturb ranks.
  *
  * Overflow discipline (the full chain, not just one factor): every
  * product and both division numerators are computed in DECIMAL(38,0)
  * on the Spark side and HUGEINT on the oracle side, so no intermediate
  * can wrap below 10³⁸ — in particular the sat numerator `44·tf·L·10⁶`
  * (which alone would overflow BIGINT at tf·L ≈ 2·10¹¹) and the term
  * product `idf_micro·sat_micro ≤ 4.4·N·10¹²` (BIGINT-unsafe beyond
  * N ≈ 2·10⁶ docs) stay exact. Only the two quantized quotients and the
  * final per-document sum live in BIGINT: `idf_micro ≤ 2.1·N·10⁶`
  * (safe to N < 4·10¹² docs) and the sum `≤ Q·4.4·N·10⁶` for Q distinct
  * query terms — safe while `N·Q ≲ 2·10¹²`, e.g. 10¹⁰ documents with
  * 200-term queries. Beyond that, shard the corpus; both engines compute
  * the identical floor at every step inside the bound, so there is no
  * silent cross-engine divergence anywhere in the safe region.
  *
  * Ranking-quality caveat (deliberate, documented divergence from
  * log-BM25): the rational idf is strictly positive and ~linear in N/df
  * where `ln` is logarithmic, so RARE terms are amplified relative to
  * common ones beyond what Lucene's `ln(1+(N−df+½)/(df+½))` gives, and
  * high-df terms (df > N/2, where Robertson's idf goes negative and
  * Lucene clamps to a small positive floor) keep a positive — and
  * relative to log-land, larger — weight, so stop-word-heavy queries
  * weight common terms more than standard BM25 would. Per-term document
  * ORDER is identical (both maps are monotone in df); cross-term sums
  * can reorder. The quantized-rational scorer IS the contract; filter
  * stop-words from the query batch when log-BM25 fidelity matters.
  *
  * Scale shape (100 TB): tf is ONE partial-aggregated shuffle over
  * (doc, term) carrying doc length with it; the query side broadcasts;
  * candidate scoring touches only documents sharing ≥1 query term (the
  * posting-list lookup, realized as a broadcast semi-restriction of the
  * tf table), and df is recovered from that already-restricted candidate
  * frame by a window count — the corpus is scanned exactly twice (stats,
  * tf), never shuffles wide, and never cross-joins.
  */
object LexicalSearch {

  /** Whitespace tokens — the q18/q19/q47 tokenization, shared so the
    * lexical channel scores the same terms the analysis suite counts.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Tokenized corpus → (id, term, __tf, __len) posting rows. Doc
    * length rides along with tf (constant within the group), so no
    * separate corpus-wide lens frame ever joins back in.
    */
  private def postings(
      docs: DataFrame, idCol: String, textCol: String,
      termCol: String): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__len"),
        explode(col("__toks")).as(termCol))
      .groupBy(col(idCol), col(termCol))
      .agg(count(lit(1)).as("__tf"), first(col("__len")).as("__len"))

  /** The shared scoring kernel: candidate posting rows → per-query
    * ranked top-k. `cand` holds one row per (query, term, doc) with
    * __tf/__len; `stats` is the one-row (__n_docs, __total_len) frame.
    *
    * df is recovered from the restricted candidate frame: the query
    * side is distinct per (query, term), so a (query, term) window
    * partition holds exactly one row per posting-list document — its
    * count IS df. The corpus-side aggregation never runs a second time.
    *
    * DECIMAL(38,0) intermediates (HUGEINT in the oracle): see the
    * module doc's overflow discipline. `div` (IntegralDivide) returns
    * BIGINT; every quotient is inside the documented BIGINT bound.
    */
  private def scoreCandidates(
      cand: DataFrame, stats: DataFrame,
      queryIdCol: String, idCol: String, termCol: String,
      k: Int): DataFrame = {
    val wdf = Window.partitionBy(col(queryIdCol), col(termCol))
    val scored = cand
      .withColumn("__df", count(lit(1)).over(wdf))
      .crossJoin(broadcast(stats))
      .withColumn("__idf_micro",
        expr("""((2 * cast(__n_docs as decimal(38,0)) - 2 * __df + 1)
               | * 1000000) div (2 * __df + 1)""".stripMargin))
      .withColumn("__sat_micro",
        expr("""(44 * cast(__tf as decimal(38,0)) * __total_len * 1000000) div
               |(20 * cast(__tf as decimal(38,0)) * __total_len
               | + 6 * cast(__total_len as decimal(38,0))
               | + 18 * cast(__len as decimal(38,0)) * __n_docs)""".stripMargin))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(expr(
        """(cast(__idf_micro as decimal(38,0)) * __sat_micro)
          | div 1000000""".stripMargin)).as("score"))
    // answer-sized shuffle: the BIGINT fixed-point score rides topk_by
    // EXACTLY (long comparisons, no double cast — BM25 micro-scores
    // order past 2^53), so the map-side partial caps each task at k
    // entries per query instead of shuffling every matched document
    scored
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "score", k))
      .select(col(queryIdCol), col("rn").as("rank"), col(idCol), col("score"))
  }

  /** BM25 top-k for a batch of term-set queries over a document corpus.
    *
    * @param docs       corpus with (idCol, textCol)
    * @param queryTerms SMALL frame of (queryIdCol, termCol), distinct
    *                   terms per query (duplicate query terms are not
    *                   re-weighted); broadcast to the posting lists
    * @param k          results per query; ties broken by ascending id
    * @return (queryIdCol, rank, idCol, score) — score in micro units
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: DataFrame,
      queryIdCol: String,
      termCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    // one-row corpus stats frame, broadcast by the cross join below
    val stats = toks.agg(
      count(lit(1)).as("__n_docs"),
      sum(size(col("__toks")).cast("long")).as("__total_len"))
    // posting-list lookup: only (doc, term) rows whose term some query
    // asked for survive — the broadcast hash join is the index probe
    val qt = broadcast(queryTerms.select(col(queryIdCol), col(termCol)).distinct())
    val cand = postings(docs, idCol, textCol, termCol).join(qt, termCol)
    scoreCandidates(cand, stats, queryIdCol, idCol, termCol, k)
  }

  /** Number of term-hash partition directories in the persisted index:
    * enough that one query batch prunes most of the corpus's posting
    * files, few enough that tiny fixtures don't fragment.
    */
  val IndexBuckets = 64

  /** Build the persisted lexical index — the build-once half of the
    * production build-once / query-many split the vector channels
    * already have (q38's LSH index, q39's IVF): posting rows
    * (doc, term, tf, len) written parquet-partitioned by a term-hash
    * bucket so a query batch's probe reads only the matching partition
    * directories, plus the one-row corpus stats frame. df is NOT
    * materialized: the query-time window recovers it from the pruned
    * posting read (see [[scoreCandidates]]), so the index carries no
    * per-term aggregate that incremental corpus appends would
    * invalidate row-by-row.
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      workDir: String): Unit = {
    // a fresh build indexes exactly `docs`: a stale delete log from a
    // previous index at this path must not mask (or stats-correct
    // against) the new corpus
    Tombstones.clear(docs.sparkSession, workDir)
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    toks.agg(
        count(lit(1)).as("__n_docs"),
        sum(size(col("__toks")).cast("long")).as("__total_len"))
      .write.mode("overwrite").parquet(s"$workDir/stats")
    postings(docs, idCol, textCol, "__term")
      .withColumn("__bucket", pmod(hash(col("__term")), lit(IndexBuckets)))
      // bounded files/dir AND cluster-scaled write parallelism — see
      // graft.util.PartitionedWrite
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__bucket"), col(idCol)))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$workDir/postings")
  }

  /** Incremental index maintenance — the lexical twin of
    * [[graft.query.IvfIndex.upsert]]: append the new documents'
    * posting rows into their term-hash partitions and merge the
    * one-row corpus stats. Because [[buildIndex]] deliberately stores
    * NO per-term aggregate (df is recovered at query time from the
    * pruned posting read), an append invalidates nothing row-by-row —
    * the new postings land in their buckets, (N, total_len) is a
    * two-Long merge, and the very next query scores bit-identically
    * to a from-scratch rebuild over the union. That equality is q89's
    * oracle contract. Append-only: new ids must be disjoint from the
    * indexed ids (the caller's dedup gate owns identity) — a repeat
    * would double its postings, never silently drop.
    */
  def upsertIndex(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      idCol: String,
      textCol: String,
      newDocs: DataFrame): Unit = {
    Generation.recover(spark, workDir)
    // a tombstoned id must be physically purged (compactTombstones)
    // before re-insert: clearing its mask here would resurface the old
    // postings alongside the new ones AND double the doc in the stats
    Tombstones.requireNoOverlap(spark, workDir, idCol, newDocs,
      "LexicalSearch.upsertIndex")
    postings(newDocs, idCol, textCol, "__term")
      .withColumn("__bucket", pmod(hash(col("__term")), lit(IndexBuckets)))
      // bounded files/dir per append, cluster-scaled parallelism
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__bucket"), col(idCol)))
      .write.mode("append").partitionBy("__bucket")
      .parquet(s"$workDir/postings")
    val add = newDocs
      .select(tokens(col(textCol)).as("__toks"))
      .agg(
        count(lit(1)).as("__n_docs"),
        coalesce(sum(size(col("__toks")).cast("long")), lit(0L))
          .as("__total_len"))
    // two one-row frames; localCheckpoint materializes the merge
    // before the overwrite of the path it was read from
    val merged = Tables.read(spark, s"$workDir/stats")
      .unionByName(add)
      .agg(
        sum(col("__n_docs")).as("__n_docs"),
        sum(col("__total_len")).as("__total_len"))
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$workDir/stats")
  }

  /** Compact the append-maintained postings ([[graft.util.Compaction]]):
    * every [[upsertIndex]] lands files per touched term-hash bucket;
    * the __bucket partition layout is preserved so pruned probes are
    * unaffected. Run off the query path.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String): graft.util.Compaction.Report =
    graft.util.Compaction.compact(spark, s"$workDir/postings", Seq("__bucket"))

  /** DELETE documents from the persisted index — the lexical twin of
    * [[graft.query.IvfIndex.delete]], with one extra obligation the
    * vector side does not have: BM25 is score-coupled to two GLOBAL
    * corpus statistics (N, Σlen), so masking a doc's postings without
    * correcting the stats would mis-normalize every OTHER document's
    * score. The correction data is recovered here, at delete time,
    * from the doc's own posting rows (`__len` rides every posting),
    * and written WITH the tombstone — `(__del_id, __del_len)` in one
    * atomic parquet append:
    *
    *  - [[queryIndex]] then serves exactly the rebuild-on-live-corpus
    *    scores: stats are corrected by the (deduplicated) tombstone
    *    aggregate — a tombstone-table-sized frame, broadcast-joined —
    *    postings anti-join the mask after the bucket pruning, and df
    *    recovers from the masked candidate frame as always;
    *  - the persisted `stats` table keeps its invariant: it ALWAYS
    *    aggregates the PHYSICAL postings. Delete touches it never, so
    *    there is no two-table crash window — a torn delete is just a
    *    shorter tombstone table, consistent at every prefix;
    *  - physical removal is [[compactTombstones]]'s job.
    *
    * Cost: one narrow scan of the postings table per delete batch (a
    * doc's rows live in every term bucket it uses — there is no
    * pruned way to find them, which is also why physical removal is a
    * rebuild). Batch deletes accordingly. Ids absent from the index
    * contribute no tombstone row (nothing to mask, nothing to
    * correct).
    */
  def deleteFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      idCol: String,
      ids: DataFrame): Unit = {
    Generation.recover(spark, workDir)
    Tables.read(spark, s"$workDir/postings")
      .join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      // __len is constant within a doc; min() is its order-independent
      // witness (first() would be partition-order-dependent)
      .groupBy(col(idCol))
      .agg(min(col("__len")).as("__del_len"))
      .select(col(idCol).as(Tombstones.IdColumn), col("__del_len"))
      .repartition(1)
      .write.mode("append").parquet(Tombstones.path(workDir))
  }

  /** The live-corpus (__n_docs, __total_len) one-row frame: the
    * physical `stats` table, corrected by the tombstone aggregate when
    * a delete is pending. Deduplicated by id so re-deletes never
    * double-subtract.
    */
  private def liveStats(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String): DataFrame = {
    val raw = Tables.read(spark, s"$workDir/stats")
    if (!Tombstones.exists(spark, workDir)) raw
    else {
      val corr = Tables.read(spark, Tombstones.path(workDir))
        .groupBy(col(Tombstones.IdColumn))
        .agg(min(col("__del_len")).as("__l"))
        .agg(count(lit(1)).as("__dn"),
          coalesce(sum(col("__l")), lit(0L)).as("__dl"))
      raw.crossJoin(broadcast(corr))
        .select(
          (col("__n_docs") - col("__dn")).as("__n_docs"),
          (col("__total_len") - col("__dl")).as("__total_len"))
    }
  }

  /** Fold pending deletes into the physical layout. A deleted doc's
    * postings are scattered across every term bucket it used, so —
    * unlike the vector side's cell-pruned rewrite — the honest
    * physical removal is a REBUILD of the postings table (bucket
    * layout preserved) with the stats recomputed from the survivors,
    * committed with one staged-generation swap
    * ([[graft.util.Generation.commit]], purging the tombstone table):
    * fresh postings + fresh stats + no tombstones become visible as ONE
    * transition behind the marker fence, and a crash at any point
    * either leaves the old generation
    * fully live (still masked, still corrected) or rolls forward
    * deterministically at the next entry point. There is no
    * crash window in which stats and mask disagree — the exact
    * two-table race the swap exists to close.
    */
  def compactTombstones(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      idCol: String): Unit = {
    Generation.recover(spark, workDir)
    if (!Tombstones.exists(spark, workDir)) return
    val regen = Generation.stage(spark, workDir)
    val survivors = Tombstones.liveOnly(
        Tables.read(spark, s"$workDir/postings"), spark, workDir, idCol)
      .localCheckpoint()
    survivors
      .transform(graft.util.PartitionedWrite.spread(
        _, IndexBuckets, col("__bucket"), col(idCol)))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(s"$regen/postings")
    // stats recomputed from the survivors — one min-len witness per
    // doc, then the two-Long aggregate (the buildIndex shape)
    survivors.groupBy(col(idCol)).agg(min(col("__len")).as("__l"))
      .agg(count(lit(1)).as("__n_docs"),
        coalesce(sum(col("__l")), lit(0L)).as("__total_len"))
      .write.mode("overwrite").parquet(s"$regen/stats")
    Generation.commit(spark, workDir, Seq("postings", "stats"), Seq(Tombstones.TableName))
  }

  /** Maintenance diagnostics for the postings index — the lexical twin
    * of [[graft.query.IvfIndex.stats]]: one row per term-hash bucket,
    * (bucket, postings, terms, n_files) — the inputs to the compact /
    * rebuild decisions (n_files decay at append cadence →
    * [[compactIndex]]; a pathologically hot bucket → widen
    * [[IndexBuckets]] and rebuild). One partial-aggregating scan of
    * the postings (bucket counts + per-bucket distinct terms) plus a
    * driver-side listing of the ≤ [[IndexBuckets]] directories — no
    * full-payload pass, run off the query path.
    */
  def stats(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String): DataFrame = {
    Generation.recover(spark, workDir)
    import spark.implicits._
    val occ = Tables.read(spark, s"$workDir/postings")
      .groupBy(col("__bucket").cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("postings"),
        countDistinct(col("__term")).as("terms"))
    val files = graft.util.PartitionFiles
      .counts(spark, s"$workDir/postings", "__bucket")
      .toDF("bucket", "n_files")
    occ.join(broadcast(files), Seq("bucket"), "full")
      .select(col("bucket"),
        coalesce(col("postings"), lit(0L)).as("postings"),
        coalesce(col("terms"), lit(0L)).as("terms"),
        coalesce(col("n_files"), lit(0L)).as("n_files"))
      .orderBy("bucket")
  }

  /** BM25 top-k against a [[buildIndex]]-persisted index. The query
    * batch's term-hash buckets are collected driver-side (bounded by
    * [[IndexBuckets]] — query compilation, not data movement) into a
    * partition-pruning IN filter, so the scan touches only the posting
    * directories holding some query term; scoring is bit-identical to
    * [[bm25TopK]] by construction (same kernel, same inputs).
    */
  def queryIndex(
      spark: org.apache.spark.sql.SparkSession,
      workDir: String,
      idCol: String,
      queryTerms: DataFrame,
      queryIdCol: String,
      termCol: String,
      k: Int): DataFrame = {
    // completes a torn compactTombstones or compactIndex swap (one
    // fs.exists when healthy)
    Generation.recover(spark, workDir)
    // stats corrected for pending deletes ([[liveStats]]); postings
    // masked after the bucket pruning and BEFORE the df window in
    // [[scoreCandidates]] — df must count live posting-list docs only
    val stats = liveStats(spark, workDir)
    val qt = queryTerms.select(col(queryIdCol), col(termCol)).distinct()
    val buckets = qt
      .select(pmod(hash(col(termCol)), lit(IndexBuckets)).as("__bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val cand = Tombstones.liveOnly(
        Tables.read(spark, s"$workDir/postings")
          .filter(col("__bucket").isin(buckets: _*)),
        spark, workDir, idCol)
      .withColumnRenamed("__term", termCol)
      .join(broadcast(qt), termCol)
    scoreCandidates(cand, stats, queryIdCol, idCol, termCol, k)
  }

  /** RRF rank-fusion constant — the k=60 of Cormack et al. 2009. */
  val RrfK = 60

  /** Reciprocal Rank Fusion of two ranked lists sharing an id space:
    * score(d) = Σ_channels 1/(60 + rank_channel(d)), summed over the
    * channels that returned d. Computed in exact micro-units
    * (`10¹² div (60 + rank)`) so fusion is pure BIGINT — no float sum
    * whose order could differ between engines. Channels join FULL
    * OUTER: a document needs only one channel to be fused, which is the
    * point of RRF (vector recall backstops lexical vocabulary gaps and
    * vice versa).
    *
    * @param a,b (queryIdCol, idCol, rankCol) frames — top-k' slices,
    *            at most one row per (query, id) each
    * @return (queryIdCol, rank, idCol, rrf_micro, a_rank, b_rank);
    *         per-query rank by fused score desc, id asc; missing
    *         channel ranks are null
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      queryIdCol: String,
      idCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    val aa = a.select(col(queryIdCol).as("__qa"), col(idCol).as("__ia"),
      col(rankCol).cast("long").as("a_rank"))
    val bb = b.select(col(queryIdCol).as("__qb"), col(idCol).as("__ib"),
      col(rankCol).cast("long").as("b_rank"))
    val fused = aa.join(bb,
        col("__qa") === col("__qb") && col("__ia") === col("__ib"), "full_outer")
      .select(
        coalesce(col("__qa"), col("__qb")).as(queryIdCol),
        coalesce(col("__ia"), col("__ib")).as(idCol),
        col("a_rank"), col("b_rank"))
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000000000 div (${RrfK} + a_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000000 div (${RrfK} + b_rank)"), lit(0L)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("rrf_micro").desc, col(idCol).asc)
    fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("rrf_micro"), col("a_rank"), col("b_rank"))
  }
}
