package graft.streaming

import graft.Tables
import graft.query.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The COMPOSED continuous training-data pipeline: one micro-batch
  * step chaining the four admission stages every per-operator face
  * ships separately —
  *
  *   exact dedup  →  near-dup admission  →  per-source quota gate
  *                →  ANN index maintenance
  *
  * with every stage's cross-batch state persisted under `workDir`:
  *
  *   - `shas/`     seen payload hashes (exact-dedup state; a payload
  *     seen once never re-enters, even if a later stage rejected it —
  *     [[StreamingDedup]]'s first-occurrence contract).
  *   - `neardup/`  the [[graft.pipeline.NearDupIndex]] that
  *     [[StreamingNearDup]] admits against: only documents that stage
  *     ADMITS are indexed, so the corpus side stays mutually
  *     non-duplicate.
  *   - `gated/batch=N/` the quota verdict ledger, one partition per
  *     micro-batch (doc_id, source, n_tokens, cum_tokens, admitted).
  *     [[StreamingQuota]] semantics: every gated document's tokens
  *     consume budget, admission is `cum ≤ quota`.
  *   - `index/`    the IVF index over finally-admitted documents
  *     (built on first admission, [[IvfIndex.upsert]]-maintained
  *     after).
  *   - `applied_batch` the replay fence, written LAST.
  *
  * Restart contract (the composed version of the per-operator fences):
  * a batch id at or below the fence is a no-op; a crash inside the
  * step replays it, and each write degrades instead of corrupting —
  * the near-dup probe join discards self-matches (corpus ids <
  * batch ids), the quota ledger partition is reused if it already
  * exists (first write wins, so budgets are never double-counted),
  * the index upsert can at worst duplicate one batch's rows
  * (surfaced, never silently dropped — [[IndexMaintenance]]'s
  * documented at-least-once window), and the seen-sha append runs
  * last so exact-dedup can never eat a batch the downstream stages
  * haven't finished. Feed ids must increase across batches (the
  * ordered-feed contract all streaming faces share).
  *
  * 100 TB shape: per-batch cost scales with the batch — its shas,
  * its band buckets, its per-source counters (one long each), its
  * upsert — never with the corpus.
  */
object TrainingFeed {

  /** `splitCap`: optional per-cell occupancy cap for the maintained
    * index — any cell a batch's fold pushes over it is hot-cell-split
    * in the same fenced step ([[IndexMaintenance.applyBatch]]'s
    * splitCap story), so probe cost stays bounded under a feed that
    * runs for months without ever re-clustering. Result-invisible by
    * the split's radius-coverage contract.
    */
  /** `reclusterEvery`: optional full re-cluster cadence for the
    * maintained index (every Nth applied batch, inside the fence —
    * [[IndexMaintenance.applyBatch]]'s knob): the centroid-PLACEMENT
    * repair a feed that drifts for months eventually needs, which
    * splits cannot provide. Result-invisible; a crash mid-swap is
    * completed by the next reader ([[IvfIndex.recluster]]).
    */
  /** `opCol` + `compactDeletesEvery`: the DELETION cadence — the last
    * lifecycle knob the composed feed lacked ([[IndexMaintenance
    * .applyBatch]]'s pair; the reference's store deletes with plain
    * SQL, reference src/clients/vector-client.ts:396-415). With
    * `opCol` set, feed rows tagged "delete" are TAKEDOWNS of
    * previously-admitted doc ids: inside the index fence, their ids
    * mask out of the serving index before the batch's fold (O(batch),
    * exact from this batch on — the q118 contract under continuous
    * ingest), and `compactDeletesEvery` folds accumulated tombstones
    * in physically every Nth applied batch. Rows whose op is NULL or
    * anything else flow through admission unchanged. Deletion is a
    * SERVING-index operation only, deliberately: the seen-sha table
    * and the near-dup probe index keep the taken-down content's
    * fingerprints, so the same text — or a near-duplicate of it —
    * can never be re-admitted later (a takedown that re-admits copies
    * is not a takedown), and the quota ledger keeps its consumed
    * tokens (budgets record what was SPENT).
    */
  case class Config(
      quotas: Map[String, Long],
      threshold: Double = 0.5,
      embedDim: Int = 16,
      nCentroids: Int = 8,
      splitCap: Option[Long] = None,
      reclusterEvery: Option[Long] = None,
      opCol: Option[String] = None,
      compactDeletesEvery: Option[Long] = None)

  /** Whitespace token count, Python-split parity (empty → 0; regex
    * trim because Spark's `trim` strips spaces only).
    */
  def tokenCount(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val t = regexp_replace(text, "^\\s+|\\s+$", "")
    when(length(t) === 0, 0L)
      .otherwise(size(split(t, "\\s+")).cast("long"))
  }

  /** Apply one micro-batch (doc_id, text, source) through the chain.
    * Exposed for direct testing of the replay behavior; [[start]]
    * wires it through foreachBatch.
    */
  def step(batch: DataFrame, batchId: Long, workDir: String, cfg: Config): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    IndexMaintenance.fenced(spark, workDir, batch, batchId) {
      // CDC split ([[IndexMaintenance.applyBatch]]'s opCol contract):
      // tagged deletes become stage-4 takedown ids; everything else —
      // including NULL-op rows, the common CDC insert encoding — is a
      // document for admission
      val (delIds, arriving) = cfg.opCol match {
        case Some(oc) =>
          (batch.filter(col(oc) === "delete")
             .select(col("doc_id").cast("long").as("doc_id")).localCheckpoint(),
           batch.filter(coalesce(col(oc), lit("")) =!= "delete"))
        case None =>
          (batch.limit(0).select(col("doc_id").cast("long").as("doc_id")), batch)
      }
      val docs = arriving
        .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
        .localCheckpoint()

      // ---- stage 0 (observer): ingest-mix drift vs the reference ----
      // opt-in via [[enableDriftMonitor]]; observes the RAW arriving
      // batch (pre-dedup — the point is what the firehose delivers, not
      // what survives admission), behind its own fence so a replayed
      // batch never double-counts. Purely observational: no effect on
      // any admission verdict — which includes its failures: a corrupt
      // drift state must log and skip, never halt admission.
      if (Tables.exists(spark, s"$workDir/drift/ref_counts"))
        try StreamingDrift.applyBatch(
          s"$workDir/drift", Seq("source"), docs.select("source"), batchId)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger("graft.TrainingFeed").warn(
              s"drift observer failed on batch $batchId (admission unaffected): $e")
        }

      // ---- stage 1: exact dedup (first occurrence per payload sha) ----
      val wSha = Window.partitionBy("content_sha").orderBy("doc_id")
      val firstPerSha = docs
        .withColumn("content_sha", sha2(col("text"), 256))
        .withColumn("__rn", row_number().over(wSha))
        .filter(col("__rn") === 1).drop("__rn")
      val shasPath = s"$workDir/shas"
      val fresh =
        (if (Tables.exists(spark, shasPath))
           firstPerSha.join(Tables.read(spark, shasPath), Seq("content_sha"), "left_anti")
         else firstPerSha).localCheckpoint()

      val gatedDir = s"$workDir/gated/batch=$batchId"
      val gated =
        // first-write-wins on the COMMIT marker, not the directory: a
        // crash mid-write leaves gatedDir with only _temporary, which a
        // dir-existence gate would try to READ — throwing on every
        // replay and wedging the feed permanently. The ledger write
        // below is mode(overwrite), so re-running it over a torn
        // partition is idempotent (budgets still counted once: the prior
        // consumption scan reads only committed rows).
        if (Tables.exists(spark, s"$gatedDir/_SUCCESS")) Tables.read(spark, gatedDir)
        else {
          // ---- stage 2: near-dup admission (persisted probe index) ----
          val verdicts = StreamingNearDup.admissionStep(
            fresh.select("doc_id", "text"), s"$workDir/neardup", cfg.threshold)
          val ndOk = fresh
            .join(verdicts.filter(col("admitted")).select("doc_id"), "doc_id")

          // ---- stage 3: per-source quota gate ----
          val gatedPath = s"$workDir/gated"
          val prior =
            if (Tables.exists(spark, gatedPath))
              Tables.read(spark, gatedPath)
                .groupBy("source").agg(sum("n_tokens").as("__consumed"))
            else spark.emptyDataset[(String, Long)].toDF("source", "__consumed")
          val quotasDf = cfg.quotas.toSeq.toDF("source", "__quota")
          val wSrc = Window.partitionBy("source").orderBy("doc_id")
          val g = ndOk
            .withColumn("n_tokens", tokenCount(col("text")))
            .join(broadcast(prior), Seq("source"), "left")
            .join(broadcast(quotasDf), Seq("source"), "left")
            .withColumn("cum_tokens",
              sum("n_tokens").over(wSrc) + coalesce(col("__consumed"), lit(0L)))
            .withColumn("admitted",
              col("cum_tokens") <= coalesce(col("__quota"), lit(0L)))
            .select("doc_id", "source", "n_tokens", "cum_tokens", "admitted")
            .localCheckpoint()
          g.write.mode("overwrite").parquet(gatedDir)
          g
        }

      // ---- stage 4: index maintenance over the finally admitted ----
      // own fence (inside the index dir, [[IndexMaintenance]] shape): a
      // replay whose quota ledger already existed must not upsert the
      // same rows twice
      val indexPath = s"$workDir/index"
      if (batchId > IndexMaintenance.lastApplied(spark, indexPath)) {
        // takedowns FIRST, on the index as the feed left it last batch
        // (a delete targets earlier batches' admissions — feed ids
        // increase, so it can never name a row this batch will fold).
        // Replay-safe without extra machinery: a replayed tombstone
        // append is a duplicate mask row, deduplicated by every reader
        // and by compaction. No index yet means nothing was admitted —
        // the delete targets nothing and is skipped rather than leaving
        // a tombstone table for a directory the first build owns.
        if (!Tables.exists(spark, s"$indexPath/cells_meta")) ()
        else if (!delIds.isEmpty)
          IvfIndex.delete(spark, indexPath, "doc_id", delIds)
        val vecs = gated.filter(col("admitted"))
          .join(docs.select("doc_id", "text"), "doc_id")
          .select(col("doc_id"),
            graft.functions.hash_embed(col("text"), lit(cfg.embedDim)).as("embedding"))
          .localCheckpoint()
        val n = vecs.count()
        if (n > 0) {
          if (!Tables.exists(spark, s"$indexPath/cells_meta"))
            IvfIndex.build(vecs, "doc_id", "embedding", indexPath,
              IvfIndex.Params(nCentroids = cfg.nCentroids))
          else {
            // CDC convergence, mirroring [[IndexMaintenance.applyBatch]]
            // (r21, ADVICE item 2): with a delete channel open
            // (cfg.opCol), a batch admitting a doc whose id is
            // pending-tombstoned (same-batch delete+insert, or an id
            // reused before the compaction cadence) would trip the
            // upsert's overlap guard — identically on every foreachBatch
            // replay, wedging the feed forever. Fold the pending deletes
            // in physically FIRST, so the upsert lands on an index whose
            // old rows are gone: replace semantics, idempotent under
            // replay. One semi-join against the cadence-bounded table,
            // only in CDC mode.
            if (cfg.opCol.isDefined &&
                graft.query.Tombstones.overlaps(spark, indexPath, "doc_id", vecs))
              IvfIndex.compactTombstones(spark, indexPath, "doc_id", "embedding")
            IvfIndex.upsert(spark, indexPath, "doc_id", "embedding", vecs)
          }
          // optional occupancy repair inside the fence — a replayed or
          // crashed split reconciles at the next pass's head-of-call
          // repair (the IndexMaintenance.applyBatch splitCap story)
          cfg.splitCap.foreach(cap => IvfIndex.splitToConvergence(
            spark, indexPath, "doc_id", "embedding", cap))
          // optional centroid-placement repair at a batch cadence (the
          // applyBatch reclusterEvery story): fresh generation built off
          // the query path, marker-fenced atomic swap any reader
          // completes, fenced against replays like everything here
          cfg.reclusterEvery.foreach { rn =>
            if (rn > 0 && batchId % rn == 0)
              IvfIndex.recluster(spark, indexPath, "doc_id", "embedding",
                IvfIndex.Params(nCentroids = cfg.nCentroids))
          }
        }
        // physical deletion fold-in at a batch cadence (the
        // [[IndexMaintenance.applyBatch]] compactDeletesEvery story):
        // cell-pruned rewrite, radii re-tightened, spent tombstones
        // retired in one generation swap — a crashed pass is a clean
        // rerun inside the same fence. Runs even on
        // admission-empty batches: a takedown-only feed window still
        // owes its compaction cadence.
        cfg.compactDeletesEvery.foreach { cn =>
          if (cn > 0 && batchId % cn == 0 &&
              Tables.exists(spark, s"$indexPath/cells_meta"))
            IvfIndex.compactTombstones(spark, indexPath, "doc_id", "embedding")
        }
        IndexMaintenance.writeFence(spark, indexPath, batchId)
      }

      // ---- stage 5 (observer): retrieval health of the maintained ----
      // ---- index                                                  ----
      // opt-in via [[enableHealthProbe]]: after the index fold, the fixed
      // probe set is retrieved against the maintained index and scored by
      // [[graft.query.RetrievalEval.metrics]] — the signal [[driftReport]]
      // cannot give (not "has the input mix moved" but "does the index
      // still RETRIEVE"). Replay-proof without its own fence: one metrics
      // partition per batch, first write wins — and a replay that does
      // reach the recompute sees the identical post-index-fence index, so
      // the metrics it would write are identical anyway. Observational
      // like stage 0: failures log and skip, admission unaffected.
      if (Tables.exists(spark, s"$workDir/health/queries") &&
          Tables.exists(spark, s"$indexPath/cells_meta")) {
        val mDir = s"$workDir/health/metrics/batch=$batchId"
        // first-write-wins gates on the COMMIT marker, not the directory:
        // a crash mid-write leaves mDir with only _temporary and no
        // _SUCCESS, and a dir-existence gate would then skip the replay's
        // recompute forever — healthReport silently missing that batch.
        // The overwrite below makes the retried write idempotent.
        if (!Tables.exists(spark, s"$mDir/_SUCCESS"))
          try {
            val hq = Tables.read(spark, s"$workDir/health/queries")
            val rels = Tables.read(spark, s"$workDir/health/rels")
            val kH = Tables.read(spark, s"$workDir/health/k").head.getInt(0)
            // threshold -2 < any cosine: health wants the full ranked
            // list, the relevance join does the grading
            val hits = IvfIndex.queryTopK(spark, indexPath, "doc_id", "embedding",
              hq, "query_id", "qvec", kH, threshold = -2.0)
            graft.query.RetrievalEval
              .metrics(hits, "query_id", "doc_id", "rn", rels, kH)
              .write.mode("overwrite").parquet(mDir)
          } catch {
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger("graft.TrainingFeed").warn(
                s"health probe failed on batch $batchId (admission unaffected): $e")
          }
        // LABELED face: filtered retrieval health — the q108 shape the
        // serve faces users actually hit (metadata WHERE + ANN in one
        // operator). Runs IFF [[enableHealthProbe]] was given a label
        // frame; same first-write-wins + log-and-skip discipline, its
        // own metrics partition so the two faces' trajectories read
        // independently.
        if (Tables.exists(spark, s"$workDir/health/labels")) {
          val fDir = s"$workDir/health/metrics_filtered/batch=$batchId"
          if (!Tables.exists(spark, s"$fDir/_SUCCESS"))
            try {
              val hq = Tables.read(spark, s"$workDir/health/queries")
              val rels = Tables.read(spark, s"$workDir/health/rels")
              val kH = Tables.read(spark, s"$workDir/health/k").head.getInt(0)
              val labs = Tables.read(spark, s"$workDir/health/labels")
              val hits = IvfIndex.queryTopKFiltered(spark, indexPath,
                "doc_id", "embedding", hq, "query_id", "qvec",
                labs, "label", kH, threshold = -2.0)
              graft.query.RetrievalEval
                .metrics(hits, "query_id", "doc_id", "rn", rels, kH)
                .write.mode("overwrite").parquet(fDir)
            } catch {
              case scala.util.control.NonFatal(e) =>
                org.slf4j.LoggerFactory.getLogger("graft.TrainingFeed").warn(
                  s"filtered health probe failed on batch $batchId " +
                    s"(admission unaffected): $e")
            }
        }
      }

      // ---- seen-payload shas (LAST state write before the fence) ----
      fresh.select("content_sha").write.mode("append").parquet(shasPath)
    }
    ()
  }

  /** Wire a (doc_id, text, source) stream through [[step]]. */
  def start(
      stream: DataFrame,
      workDir: String,
      checkpoint: String,
      cfg: Config): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(batch, batchId, workDir, cfg)
      }
      .start()

  /** The admitted feed so far: the quota ledger's admitted rows. */
  def admittedFeed(spark: SparkSession, workDir: String): DataFrame =
    Tables.read(spark, s"$workDir/gated")
      .filter(col("admitted"))
      .select("doc_id", "source", "n_tokens", "cum_tokens")

  /** Opt into the stage-0 drift observer: persist the reference
    * snapshot's per-source counts; every subsequent [[step]] folds the
    * arriving mix and serves [[driftReport]].
    */
  def enableDriftMonitor(ref: DataFrame, workDir: String): Unit =
    StreamingDrift.buildReference(ref, Seq("source"), s"$workDir/drift")

  /** The drift of everything that has ARRIVED (pre-admission) vs the
    * reference snapshot — [[graft.pipeline.DriftMonitor]]'s report
    * columns keyed by source.
    */
  def driftReport(spark: SparkSession, workDir: String): DataFrame =
    StreamingDrift.report(spark, s"$workDir/drift")

  /** Opt into the stage-5 retrieval-health observer: persist a FIXED
    * probe set — queries `(query_id, qvec)` in the feed's embedding
    * space (the same `hash_embed(text, cfg.embedDim)` kernel stage 4
    * indexes with, for the default embedder) and a graded relevance
    * set `(query_id, doc_id)` — that every subsequent [[step]]
    * retrieves against the maintained index AFTER its fold and scores
    * via [[graft.query.RetrievalEval.metrics]], one metrics partition
    * per batch. An operator running the feed for a week then has the
    * recall signal the drift observer cannot give: [[healthReport]]'s
    * recall/MRR/NDCG trajectory over batch ids says whether the index
    * still retrieves, not merely whether the input mix moved.
    *
    * Probe cost per batch: one [[IvfIndex.queryTopK]] over the fixed
    * batch of probe queries (point-lookup shape — broadcast queries,
    * bound-pruned cells) plus an answer-sized metrics aggregation;
    * independent of corpus growth except through the probes the index
    * geometry demands.
    */
  /** `labels`: optional (doc_id, label) corpus frame — when given,
    * `probeQueries` must also carry a `label` column (the label each
    * probe filters to), and every [[step]] additionally runs the
    * FILTERED retrieval probe ([[IvfIndex.queryTopKFiltered]], the
    * q108 serve shape) against the maintained index, scoring it into
    * its own `health/metrics_filtered` partitions
    * ([[filteredHealthReport]]). Docs the frame does not cover can
    * never equi-match a probe's label (the filtered path's inner-join
    * contract) — pass the mapping for every doc id the feed may admit,
    * or derive it from feed metadata (e.g. `source`) at enable time.
    */
  def enableHealthProbe(
      probeQueries: DataFrame,
      rels: DataFrame,
      workDir: String,
      k: Int = 10,
      labels: Option[DataFrame] = None): Unit = {
    require(k >= 1, "k must be >= 1")
    val spark = probeQueries.sparkSession
    import spark.implicits._
    labels.foreach { _ =>
      require(probeQueries.columns.contains("label"),
        "enableHealthProbe: a labels frame needs probeQueries to carry " +
          "the probe's wanted label in a 'label' column")
    }
    val qCols = Seq(col("query_id"), col("qvec")) ++
      (if (labels.isDefined) Seq(col("label")) else Nil)
    probeQueries.select(qCols: _*)
      .write.mode("overwrite").parquet(s"$workDir/health/queries")
    rels.select(col("query_id"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$workDir/health/rels")
    Seq(k).toDF("k")
      .repartition(1).write.mode("overwrite").parquet(s"$workDir/health/k")
    labels.foreach(_.select(col("doc_id"), col("label"))
      .write.mode("overwrite").parquet(s"$workDir/health/labels"))
  }

  /** Per-(batch, query) retrieval health of the maintained index —
    * [[graft.query.RetrievalEval.metrics]]' columns plus the `batch`
    * partition column. A batch is present iff the probe was enabled
    * and an index existed when it was applied; a metric row reflects
    * the index state just after that batch's fold.
    */
  def healthReport(spark: SparkSession, workDir: String): DataFrame =
    Tables.read(spark, s"$workDir/health/metrics")

  /** [[healthReport]] for the LABELED (filtered-retrieval) probe face —
    * present iff [[enableHealthProbe]] was given a labels frame.
    */
  def filteredHealthReport(spark: SparkSession, workDir: String): DataFrame =
    Tables.read(spark, s"$workDir/health/metrics_filtered")
}
