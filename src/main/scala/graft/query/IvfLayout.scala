package graft.query

import graft.Tables
import graft.functions.{TopKByScore, VectorOps, topk_by}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
    * Both passes are planned on the driver ([[IvfLayout.ProbePlan]],
    * O(queries × cells)); a pass with no pair to probe never runs.
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
    * The plain layout merges its top-k on the driver into a local
    * relation ([[IvfLayout.DriverTopK]]); the composed one re-ranks lazily.
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
        idCol, embCol, labels, labelCol))
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
    * sim, rn) plus two diagnostic frames — the (queryIdCol, centroid_id)
    * pairs probed across both passes and the (queryIdCol, idCol)
    * candidates that reached exact scoring (lazy). The serve path never
    * evaluates the diagnostics; specs and the scaling-curve report read
    * them.
    */
  private[graft] case class Retrieval(topK: DataFrame, probed: DataFrame, candidates: DataFrame)

  /** A (query, cell) pair: selection row, cell id and bound `ub_sim`. */
  private[query] final case class Probe(row: Row, cell: Any, ub: Double)

  /** The probe planner of both layouts, on the driver: the query batch
    * (id, vector, scope label) and `cells_meta` — scoped, the
    * broadcast-sized per-(cell, label) radii too — are collected once,
    * and every (query, cell) pair in scope is bounded and
    * ranked by `(cdist, centroid_id)` with the executors' arithmetic (the
    * query by [[VectorOps.l2Normalize]] cast to float, `cdist =
    * sqrt(l2Sq)`, `ub_sim = 1 − max(0, cdist − radius − pad)²/2`) and
    * Spark's double order. Driver memory is O(queries × cells).
    */
  private[query] final class ProbePlan(
      spark: SparkSession,
      indexPath: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      scope: Option[LabelScope]) {
    private val qs = queries.select(
      (queryIdCol +: queryVecCol +: scope.map(_.labelCol).toSeq).map(col): _*)
    private val meta = Tables.read(spark, s"$indexPath/cells_meta")
      .select("centroid_id", "center", "radius")
    private val cells = meta.collect().toSeq.map(r =>
      (r.get(0), doubles(r.get(1)).map(_.toFloat), r.getAs[Number](2).doubleValue))
    // scoped: only cells holding the query's label, each bounded by
    // that label's radius (sim(q, x∈c with label L) ≤
    // 1 − max(0, d(q,c) − r(c,L))²/2); a null label joins nothing
    private val inScope: Row => Seq[(Any, Array[Float], Double)] = scope match {
      case None => _ => cells
      case Some(s) =>
        val centers = cells.map(c => key(c._1) -> c).toMap
        val byLabel = s.radii.select(col("centroid_id"), col(s.labelCol), col("__rl"))
          .collect().toSeq
          .filter(r => !r.isNullAt(1) && centers.contains(key(r.get(0))))
          .groupMap(_.get(1))(r => centers(key(r.get(0))).copy(_3 = r.getAs[Number](2).doubleValue))
        q => if (q.isNullAt(2)) Nil else byLabel.getOrElse(q.get(2), Nil)
    }
    // a null query vector scores nothing: it has no pair to probe
    private val normed = qs.collect().toSeq.map(q =>
      q -> Option(q.get(1)).map(v => VectorOps.l2Normalize(doubles(v)).map(_.toFloat)))
    private val byQuery = normed.groupBy(_._1.get(0)).toSeq.map { case (qid, group) =>
      qid -> group.flatMap { case (q, qn) =>
        qn.toSeq.flatMap(n => inScope(q).map { case (c, center, radius) =>
          val cdist = math.sqrt(VectorOps.l2Sq(n, center))
          val ub = 1.0 - StrictMath.pow(math.max(0.0, cdist - radius - IvfIndex.RadiusPad), 2) / 2
          (cdist, Probe(Row.fromSeq(q.toSeq :+ c), c, ub))
        })
      }.sortWith { case ((da, a), (db, b)) =>
        cmp(da, db) < 0 || (cmp(da, db) == 0 && key(a.cell) < key(b.cell))
      }.map(_._2)
    }
    private val selSchema = StructType(qs.schema.fields :+ meta.schema("centroid_id"))

    /** The batch as a local (queryIdCol, __qv, scope label, __qnorm). */
    val prepared: DataFrame = Tables.local(spark,
      normed.map { case (q, qn) => Row.fromSeq(q.toSeq :+ qn.map(_.toSeq).orNull) },
      StructType(qs.schema.fields.updated(1, qs.schema(1).copy(name = "__qv")) :+
        StructField("__qnorm", ArrayType(FloatType, containsNull = false))))

    /** The `probeWidth` nearest pairs of every query: pass 1. */
    def first(probeWidth: Int): Seq[Probe] = byQuery.flatMap(_._2.take(probeWidth))

    /** The farther pairs whose bound still reaches the query's pass-1
      * floor (absent: the threshold). `>=` on the floor, not `>`: a
      * bound-equal cell can hold a tie that wins the ascending-id
      * tie-break.
      */
    def second(probeWidth: Int, threshold: Double, floor: Any => Option[Double]): Seq[Probe] =
      byQuery.flatMap { case (q, ps) =>
        val f = floor(q).getOrElse(threshold)
        ps.drop(probeWidth).filter(p => cmp(p.ub, threshold) > 0 && cmp(p.ub, f) >= 0)
      }

    /** A pass's selection as a local relation, and its distinct cells. */
    def selection(ps: Seq[Probe]): (DataFrame, Seq[Any]) =
      (Tables.local(spark, ps.map(_.row), selSchema), ps.map(_.cell).distinct)

    /** The distinct (queryIdCol, centroid_id) pairs of `ps`. */
    def probed(ps: Seq[Probe]): DataFrame = Tables.local(spark,
      ps.map(p => Row(p.row.get(0), p.cell)).distinct,
      StructType(Seq(qs.schema(0), selSchema.last)))

    private def key(cell: Any): Long = cell.asInstanceOf[Number].longValue

    /** Array elements as Spark's array casts read them (null reads 0). */
    private def doubles(v: Any): Array[Double] =
      v.asInstanceOf[scala.collection.Seq[Any]].iterator
        .map { case null => 0.0; case n: Number => n.doubleValue }.toArray
  }

  /** Spark's double order: NaN greatest and equal to itself, −0.0 = 0.0. */
  private def cmp(a: Double, b: Double): Int = SQLOrderingUtil.compareDoubles(a, b)

  /** Per-query top-k merged on the driver: each [[add]] collects a
    * pass's `topk_by(id, score, k)` per query and keeps the first k of
    * its union with the query's list in the aggregate's order (score
    * desc, id asc, NaN greatest). A list is a long id array and a
    * sortable long score array sized by its hits, never by k.
    */
  private[query] final class DriverTopK(k: Int) {
    private val cap = math.max(k, 0)
    private val best = scala.collection.mutable.LinkedHashMap[Any, (Array[Long], Array[Long])]()

    def add(scored: DataFrame, queryIdCol: String, idCol: String, scoreCol: String): Unit =
      scored.groupBy(col(queryIdCol))
        .agg(topk_by(col(idCol), col(scoreCol), lit(cap)))
        .collect().foreach { r =>
          val es = r.getSeq[Row](1)
          val in = (es.map(_.getLong(0)).toArray,
            es.map(e => TopKByScore.toSortable(e.getDouble(1))).toArray)
          best(r.get(0)) = best.get(r.get(0)).fold(in)(merge(_, in))
        }

    private def merge(a: (Array[Long], Array[Long]), b: (Array[Long], Array[Long])) = {
      val (ids, ss) = (a._1 ++ b._1, a._2 ++ b._2)
      val order = ids.indices.sortWith((i, j) => ss(i) > ss(j) || ss(i) == ss(j) && ids(i) < ids(j))
      (order.take(cap).map(ids).toArray, order.take(cap).map(ss).toArray)
    }

    /** The query's k-th best score so far; None below k entries. */
    def floor(q: Any): Option[Double] = best.get(q)
      .collect { case (_, ss) if cap > 0 && ss.length == cap => TopKByScore.fromSortable(ss(cap - 1)) }

    /** (queryIdCol, idCol, sim, rn) as a local relation, rn 1..k by sim
      * desc, ties ascending id: [[SimilaritySearch.topKExplode]]'s shape.
      */
    def result(spark: SparkSession, queryIdField: StructField, idCol: String): DataFrame =
      Tables.local(spark,
        best.toSeq.flatMap { case (q, (ids, ss)) =>
          ids.indices.map(i => Row(q, ids(i), TopKByScore.fromSortable(ss(i)), i + 1L))
        },
        StructType(Seq(queryIdField, StructField(idCol, LongType, nullable = false),
          StructField("sim", DoubleType, nullable = false),
          StructField("rn", LongType, nullable = false))))
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
