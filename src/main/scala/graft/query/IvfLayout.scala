package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The serve faces both IVF layouts share — plain [[IvfIndex]] and
  * composed [[IvfPq]]. A layout supplies exactly ONE exact retrieval
  * body, [[retrieve]]; everything else here runs it:
  *
  *  - [[queryTopK]]: the body with no label scope;
  *  - [[queryTopKFiltered]]: the body scoped to the query's label
  *    (probes restricted to label-holding cells, bounded by the
  *    per-(cell, label) radii, corpus rows restricted to label-mates),
  *    or — past `maxLabelFanout` — the shared overfetch fallback
  *    ([[IvfIndex.filteredViaOverfetch]]) refilling through the same
  *    body unscoped;
  *  - [[queryTopKFilteredAny]]: the multi-label reduction over
  *    [[queryTopKFiltered]].
  *
  * Every path is exact; the branches are cost knobs, never semantics
  * ones (the q108/q113/q114 contract).
  */
trait IvfLayout {
  import IvfLayout._

  /** This layout's bound-pruned exact search: pass 1 probes the
    * `probeWidth` nearest (query, cell) pairs and certifies a k-th-best
    * floor, pass 2 probes exactly the pairs whose cell bound still
    * reaches it. `scope` = None probes every populated cell, bounded by
    * its radius; Some probes only cells holding the query's label
    * (`queries` then carries `scope.labelCol`), bounded by the
    * per-(cell, label) radius, and scores only label-mates. The
    * unscoped plan is the serve hot path: the scope adds nothing to it.
    */
  private[graft] def retrieve(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queryIdCol: String,
      queryVecCol: String,
      threshold: Double,
      probeWidth: Int)(
      queries: DataFrame,
      k: Int,
      scope: Option[LabelScope]): Retrieval

  /** Batch top-k, exact by the layout's bounds. `probeWidth` is a cost
    * knob, not a recall knob: wider = tighter pass-1 floor = fewer
    * pass-2 probes for dense query batches. Probe ranking uses the
    * assignment metric (Euclidean distance of the NORMALIZED query to
    * the centroid): centroids are means of unit vectors with varying
    * norms, so cosine ranking would probe different cells than
    * assignment used.
    *
    * @return (queryIdCol, idCol, sim, rn) — rn 1..k by descending exact
    *         sim, ties broken by ascending id
    */
  def queryTopK(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1): DataFrame =
    retrieve(spark, indexPath, idCol, embCol, queryIdCol, queryVecCol,
      threshold, probeWidth)(queries, k, None).topK

  /** FILTERED batch top-k: per-query top-k restricted to corpus rows
    * whose `labelCol` equals the query's — the attribute-constrained
    * ("filtered ANN") retrieval every production vector store serves,
    * here EXACT by the per-(cell, label) radius bound. A query probes
    * only cells that actually CONTAIN its label (rare labels probe
    * almost nowhere regardless of geometry), seeds a floor from the
    * `probeWidth` nearest such cells, and extends to exactly the
    * label-holding cells whose label-radius bound can still beat it.
    * Candidates are label-filtered before ranking, so the exact kernel
    * prices only qualifying rows.
    *
    * 100 TB shape: the label metadata is the persisted
    * [[IvfIndex.buildLabelMeta]] artifact (build once, query many — a
    * fresh call reads the tiny radii frame after a metadata-only
    * freshness proof, no vector payloads; absent or stale it is derived
    * per call, one nCells × nLabels aggregation over the index). Both
    * layouts keep `cells/` + `cells_meta` at the same paths, so the
    * artifact, its freshness proof and its upsert folds serve both.
    * For high-cardinality predicates the radii frame grows toward
    * corpus size — past `maxLabelFanout` the call AUTOMATICALLY
    * branches to unfiltered overfetch + post-filter + refill
    * ([[IvfIndex.filteredViaOverfetch]]): same exact answers, and the
    * only corpus-proportional artifact anywhere is the index scan the
    * unfiltered bound already prices.
    *
    * @param queries (queryIdCol, queryVecCol, labelCol) — the wanted
    *                label rides the query row
    * @param labels  (idCol, labelCol) corpus label source
    * @param maxLabelFanout the largest per-(cell, label) radii frame
    *                this call may build/broadcast — measured as the
    *                persisted artifact's row count when one is fresh,
    *                else estimated as `approx_count_distinct(label)`
    *                (a lower bound on the pairs frame). Past it the
    *                overfetch fallback runs instead.
    * @param refillCap the fallback's per-query overfetch ceiling
    *                before a still-deficient query escalates to the
    *                direct label-equijoin ranking (cost knob only —
    *                every path is exact)
    * @return (queryIdCol, idCol, sim, rn), rn 1..k by sim desc, ties
    *         ascending id — only label-matching rows appear
    */
  def queryTopKFiltered(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1,
      maxLabelFanout: Long = 1000000L,
      refillCap: Long = IvfIndex.RefillCap): DataFrame =
    queryTopKFilteredWithPath(spark, indexPath, idCol, embCol, queries,
      queryIdCol, queryVecCol, labels, labelCol, k, threshold, probeWidth,
      maxLabelFanout, refillCap)._1

  /** [[queryTopKFiltered]] plus which path ran (`true` = the
    * high-cardinality overfetch fallback) — the branch decision,
    * spec-checkable.
    */
  private[graft] def queryTopKFilteredWithPath(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1,
      maxLabelFanout: Long = 1000000L,
      refillCap: Long = IvfIndex.RefillCap): (DataFrame, Boolean) = {
    graft.util.Generation.recover(spark, indexPath)
    val body = retrieve(spark, indexPath, idCol, embCol, queryIdCol,
      queryVecCol, threshold, probeWidth) _
    // branch on the size of the radii frame this call would otherwise
    // build AND broadcast: the fresh artifact's row count when present
    // (parquet-metadata-only), else approx_count_distinct over the
    // labels frame — one narrow partial-aggregated scan, vastly cheaper
    // than the nCells × nLabels derivation it guards
    val cached = IvfIndex.cachedLabelRadii(spark, indexPath, labelCol)
    val fanout = cached.map(_.count()).getOrElse(
      labels.agg(approx_count_distinct(col(labelCol))).head.getLong(0))
    if (fanout > maxLabelFanout)
      (IvfIndex.filteredViaOverfetch(spark, indexPath, idCol, embCol, queries,
        queryIdCol, queryVecCol, labels, labelCol, k, threshold, refillCap,
        body), true)
    else {
      // the persisted artifact when provably fresh, else derived per
      // call — a cost fallback, never a correctness one (a stale
      // artifact is detected, not served)
      val radii = cached.getOrElse(IvfIndex.labelRadii(spark, indexPath,
        idCol, embCol, labels, labelCol).localCheckpoint())
      (body(queries, k, Some(LabelScope(labels, labelCol, radii))).topK, false)
    }
  }

  /** MULTI-LABEL (disjunctive) filtered batch top-k: per-query top-k
    * restricted to corpus rows whose label is IN the query's label
    * SET — the `WHERE label IN (...)` retrieval production stores
    * serve next to the equality filter. Exact by containment: a
    * corpus row carries ONE label, so the true top-k over a label
    * set's mates is contained in the union of the per-label top-ks,
    * and each per-label retrieval is [[queryTopKFiltered]] verbatim
    * (label-radius path or high-cardinality fallback, branch per
    * call). Each query's label set explodes into deduplicated
    * (query, label) retrieval units keyed by a composite struct id,
    * the single-label engine runs once over the whole unit batch, and
    * one global per-query top-k over the union finishes — answer-sized
    * (≤ |set| × k rows per query reach the final `topk_by`). No row can
    * double-surface (one label per corpus row ⇒ at most one unit
    * yields it).
    *
    * @param queries (queryIdCol, queryVecCol, labelSetCol) — the
    *                wanted labels ride each query row as an ARRAY
    * @return (queryIdCol, idCol, sim, rn), rn 1..k by sim desc, ties
    *         ascending id — only rows whose label is in the query's
    *         set appear; an empty or all-absent set yields no rows
    */
  def queryTopKFilteredAny(
      spark: SparkSession,
      indexPath: String,
      idCol: String,
      embCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      labelSetCol: String,
      labels: DataFrame,
      labelCol: String,
      k: Int,
      threshold: Double,
      probeWidth: Int = 1,
      maxLabelFanout: Long = 1000000L,
      refillCap: Long = IvfIndex.RefillCap): DataFrame = {
    val units = queries
      .select(col(queryIdCol), col(queryVecCol),
        explode(col(labelSetCol)).as(labelCol))
      // duplicate labels in one set must not double the unit (and with
      // it the row's presence in the union); the distinct is
      // query-batch-sized
      .distinct()
      .select(
        struct(col(queryIdCol).as("q"), col(labelCol).as("l")).as("__fq"),
        col(queryVecCol), col(labelCol))
    queryTopKFiltered(spark, indexPath, idCol, embCol, units, "__fq",
        queryVecCol, labels, labelCol, k, threshold, probeWidth,
        maxLabelFanout, refillCap)
      .select(col("__fq").getField("q").as(queryIdCol), col(idCol), col("sim"))
      .transform(SimilaritySearch.topKExplode(_, queryIdCol, idCol, "sim", k))
  }
}

object IvfLayout {

  /** The index's own layout, read from disk ([[IvfPq.isComposed]]) — so
    * layout-routed callers never state the mode twice.
    */
  private[graft] def of(spark: SparkSession, indexPath: String): IvfLayout =
    if (IvfPq.isComposed(spark, indexPath)) IvfPq else IvfIndex

  /** A resolved label restriction: the corpus labels (idCol, labelCol)
    * and the per-(cell, label) radii (centroid_id, labelCol, __rl).
    */
  private[graft] case class LabelScope(labels: DataFrame, labelCol: String, radii: DataFrame)

  /** One [[IvfLayout.retrieve]] result: the top-k (queryIdCol, idCol,
    * sim, rn) plus two LAZY diagnostic frames — the (queryIdCol,
    * centroid_id) pairs probed across both passes and the (queryIdCol,
    * idCol) candidates that reached exact scoring. The serve path never
    * evaluates the diagnostics; specs and the scaling-curve report read
    * them.
    */
  private[graft] case class Retrieval(topK: DataFrame, probed: DataFrame, candidates: DataFrame)

  /** The prepared query frame with the scope's label column joined back
    * on ([[AnnIndex.prepared]] keeps only the id and the vector).
    */
  private[query] def withQueryLabel(
      prepared: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      scope: Option[LabelScope]): DataFrame =
    scope.fold(prepared)(s =>
      prepared.join(queries.select(col(queryIdCol), col(s.labelCol)), Seq(queryIdCol)))

  /** The (query, cell) pairs a probe may rank, with the radius that
    * bounds each: unscoped, every populated cell by its own radius;
    * scoped, only the cells holding the query's label, by that label's
    * radius (`sim(q, x∈c with label L) ≤ 1 − max(0, d(q,c) − r(c,L))²/2`).
    */
  private[query] def cellsInScope(
      qNorm: DataFrame,
      cellMeta: DataFrame,
      scope: Option[LabelScope]): (DataFrame, Column) = scope match {
    case None => (qNorm.crossJoin(cellMeta), col("radius"))
    case Some(s) =>
      (qNorm.join(broadcast(s.radii), Seq(s.labelCol))
        .join(cellMeta.select(col("centroid_id"), col("center")), Seq("centroid_id")),
        col("__rl"))
  }

  /** Probed corpus rows joined to their (query, cell) selection; scoped,
    * corpus labels attach to just the probed rows and only label-mates
    * survive — before any scoring, so no kernel work is spent on a row
    * that cannot be served.
    */
  private[query] def rowsInScope(
      rows: DataFrame,
      sel: DataFrame,
      idCol: String,
      scope: Option[LabelScope]): DataFrame = scope match {
    case None => rows.join(sel, Seq("centroid_id"))
    case Some(s) =>
      rows.join(s.labels.select(col(idCol), col(s.labelCol).as("__clabel")), Seq(idCol))
        .join(sel, Seq("centroid_id"))
        .filter(col("__clabel") === col(s.labelCol))
  }
}
