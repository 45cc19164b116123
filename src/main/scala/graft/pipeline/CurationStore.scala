package graft.pipeline

import graft.Tables
import graft.util.{Compaction, Generation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintained CURATION-SIGNAL artifacts: the verified near-dup cluster
  * labels (q32) and frozen-LM quality scores (q94) that best-of-cluster
  * canonical selection (q100) and leakage-safe splitting (q97) consume.
  *
  * Recomputing those signals per run re-pays the corpus's most
  * expensive passes — the LSH collision join and the bigram-model
  * build — every time a downstream selection runs. This store applies
  * the discipline the IVF / lexical indexes already established
  * (build once, query many, append-maintain): `build` persists the
  * signals plus what incremental maintenance needs, `append` folds a
  * new document batch in WITHOUT rescanning the old corpus, and the
  * query faces ([[bestOfCluster]], [[leakageSafeSplit]]) are one
  * artifact-read join each.
  *
  * Layout under `workDir`:
  *   - `clusters/`  (node, label) — verified near-dup connected
  *     components, exactly q32's label frame (singletons implicit).
  *   - `scores/`    (doc_id, n_trans, sum_prob_ppm, avg_prob_ppm) —
  *     q94's exact-integer LM scores.
  *   - `docs/`      (doc_id, source) — the split-assignment universe.
  *   - `model/{unigrams,bigrams,vocab}` — the FROZEN add-one bigram
  *     model ([[TextAnalysis.q94LmQuality]]'s count frames), so
  *     appended documents are scored under the model the corpus was
  *     curated with (the production contract: the quality model is
  *     trained once and applied to each incoming batch; retraining
  *     per batch would silently re-rank already-curated documents).
  *   - `bands/` and `sigdocs/` — the [[NearDupIndex]] over every stored
  *     document (the index [[graft.streaming.StreamingNearDup]] keeps
  *     over admitted ones), so an append probes only the partition
  *     directories its own bands hash into.
  *
  * 100 TB shape: `build` pays the corpus passes once; each `append`
  * costs O(batch) — its bands, its candidate buckets, its verified
  * pairs, one contracted-graph CC over (old labels ∪ batch ids)
  * touched by new edges — never a corpus rescan. Cluster-merge
  * correctness of the contraction: every old cluster is represented
  * by its label (= member minimum), so components over contracted
  * edges have the same minima as components over the full edge set,
  * and labels equal the full recompute's.
  */
object CurationStore {

  /** The flat append-maintained tables (the index tables are
    * [[NearDupIndex]]'s).
    */
  private def flatTables(workDir: String) = Seq(s"$workDir/docs", s"$workDir/scores")

  /** Build the store from the corpus at `dir`. One LSH pass (shared
    * with the session pair cache), one LM pass, plus the probe-index
    * write.
    *
    * The two corpus-expensive chains are INDEPENDENT and overlap as
    * concurrent jobs (§2.6 — the IvfPq/ShardedIvf build discipline):
    * the near-dup chain (LSH collision join → connected components →
    * probe index, all off the session signature cache) never reads
    * anything the LM chain (tokenize → model counts → scores) writes,
    * and vice versa. Within the LM chain the three model-count writes
    * are themselves independent actions over one persisted
    * tokenization and run concurrently; `scores` then reads the
    * persisted model tables (the append path's exact code path), so it
    * waits for all three.
    */
  def build(
      spark: SparkSession,
      dir: String,
      workDir: String,
      threshold: Double = 0.5): Unit = {
    val docsAll = Tables.parallelize(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("text"), col("source"))

    def nearDupChain(): Unit =
      // the probe index needs only the session signature cache (its
      // first toucher materializes it — ConcurrentHashMap.computeIfAbsent
      // plus Spark's persist locks make the concurrent first touch
      // safe), not the cluster labels: fork it alongside the pair
      // verification + connected components chain
      graft.util.Par.both(spark, "CurationStore.nearDup")(
        NearDupIndex.append(Dedup.minhashSigs(spark, dir), docsAll, workDir),
        {
          docsAll.select("doc_id", "source")
            .write.mode("overwrite").parquet(s"$workDir/docs")
          Dedup.connectedComponents(
              Dedup.verifiedNearDupPairs(spark, dir, threshold).select("d1", "d2"))
            .write.mode("overwrite").parquet(s"$workDir/clusters")
        })

    def lmChain(): Unit = {
      // frozen model from ONE cached tokenization pass (the regex
      // tokenizer dominates these aggregations; uncached, each of the
      // three model writes re-tokenized the corpus)
      val toks = TextAnalysis.lmToks(docsAll)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val trans = TextAnalysis.lmTrans(toks)
        graft.util.Par.all(spark, "CurationStore.model")(
          () => trans.groupBy("w1").agg(count(lit(1)).as("c1"))
            .write.mode("overwrite").parquet(s"$workDir/model/unigrams"),
          () => trans.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
            .write.mode("overwrite").parquet(s"$workDir/model/bigrams"),
          () => toks.select(explode(col("t")).as("w"))
            .agg(count_distinct(col("w")).as("vsz"))
            .write.mode("overwrite").parquet(s"$workDir/model/vocab"))

        // corpus scores UNDER the just-persisted frozen model — the same
        // code path `append` scores with, and exact-equal to the per-run
        // q94 recompute because every corpus transition is in the model
        // (the left joins' unseen-coalesce branches never fire)
        scoreUnderModel(spark, toks, workDir)
          .write.mode("overwrite").parquet(s"$workDir/scores")
      } finally { toks.unpersist(); () }
    }

    graft.util.Par.both(spark, "CurationStore.build")(nearDupChain(), lmChain())
  }

  /** Score tokenized documents under the PERSISTED frozen model (left
    * joins + add-one smoothing: an unseen bigram scores
    * (0+1)·10^6 div (c1 + V), an unseen head token 10^6 div V — the
    * additive-smoothing contract). Shared by [[build]] (corpus pass)
    * and [[append]] (batch pass) so both score bit-identically.
    */
  private def scoreUnderModel(
      spark: SparkSession, toks: DataFrame, workDir: String): DataFrame = {
    val uni = Tables.read(spark, s"$workDir/model/unigrams")
    val bi = Tables.read(spark, s"$workDir/model/bigrams")
    val vocab = Tables.read(spark, s"$workDir/model/vocab")
    TextAnalysis.lmTrans(toks)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__ppm",
        expr("(coalesce(c12, 0) + 1) * 1000000 div (coalesce(c1, 0) + vsz)"))
      .groupBy("doc_id")
      .agg(
        sum("m").cast("long").as("n_trans"),
        sum(col("m") * col("__ppm")).cast("long").as("sum_prob_ppm"))
      .withColumn("avg_prob_ppm", expr("sum_prob_ppm div n_trans"))
  }

  /** Fold a new batch (doc_id, text, source) into the store: score it
    * under the frozen model, discover its verified near-dup pairs —
    * in-batch, and against the corpus via the partition-pruned probe
    * index — merge cluster labels through the contracted graph, and
    * append the batch's own index rows. Ids must exceed all stored ids
    * (the ordered-feed contract the streaming operators share).
    */
  def append(
      spark: SparkSession,
      batch: DataFrame,
      workDir: String,
      threshold: Double = 0.5): Unit = {
    Generation.recover(spark, workDir)
    val docs = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("source"))
      .localCheckpoint()

    docs.select("doc_id", "source")
      .write.mode("append").parquet(s"$workDir/docs")

    scoreUnderModel(spark, TextAnalysis.lmToks(docs), workDir)
      .write.mode("append").parquet(s"$workDir/scores")

    // ---- near-dup pairs of the batch: in-batch, and vs the index ----
    val sigs = Dedup.minhashSigs(docs).localCheckpoint()
    val newNew = Dedup.nearDupPairs(docs, sigs, threshold).select("d1", "d2")
    val newOld = NearDupIndex.probe(spark, workDir, sigs, docs, threshold)
      .select("d1", "d2")

    // ---- contracted-graph cluster merge ----
    val oldLabels = Tables.read(spark, s"$workDir/clusters").localCheckpoint()
    val contracted = newOld
      .join(oldLabels.withColumnRenamed("node", "d1"), Seq("d1"), "left")
      .select(coalesce(col("label"), col("d1")).as("d1"), col("d2"))
      .unionByName(newNew)
    val merged = Dedup.connectedComponents(contracted)
    val relabeledOld = oldLabels.as("o")
      .join(merged.as("m"), col("o.label") === col("m.node"), "left")
      .select(col("o.node"), coalesce(col("m.label"), col("o.label")).as("label"))
    // merged nodes not already labeled = batch docs + old singletons
    // drawn into a cluster by a new edge
    val newMembers = merged.join(oldLabels.select("node"), Seq("node"), "left_anti")
    val updated = relabeledOld.unionByName(newMembers).localCheckpoint()
    updated.write.mode("overwrite").parquet(s"$workDir/clusters")

    NearDupIndex.append(sigs, docs, workDir)
  }

  /** q100's output from the store: one artifact-read join + the same
    * composite-key agg — warm cost is the read cost, not the LSH + LM
    * recompute.
    */
  def bestOfCluster(spark: SparkSession, workDir: String): DataFrame = {
    Generation.recover(spark, workDir)
    val labels = Tables.read(spark, s"$workDir/clusters")
    val quality = Tables.read(spark, s"$workDir/scores")
      .select(col("doc_id"), col("avg_prob_ppm"))
    quality.join(labels, quality("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        col("avg_prob_ppm"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"),
          col("avg_prob_ppm") * lit(1000000000L) - col("doc_id"))
          .as("kept_doc"),
        max(col("avg_prob_ppm")).as("kept_quality_ppm"))
      .orderBy("cluster_id")
  }

  /** q97's output from the store: cluster-consistent split assignment
    * over the stored document universe.
    */
  def leakageSafeSplit(spark: SparkSession, workDir: String): DataFrame = {
    Generation.recover(spark, workDir)
    val labels = Tables.read(spark, s"$workDir/clusters")
    val docs = Tables.read(spark, s"$workDir/docs")
    val bucket = Sampling.keepBucket(col("cluster_id"))
    docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(bucket < 800, "train")
          .when(bucket < 900, "valid")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Compact the store's append-maintained tables
    * ([[graft.util.Compaction]]): each [[append]] lands files per
    * touched bucket in the probe index plus one file per batch in the
    * flat docs/scores tables. Partition layouts are preserved (pruned
    * probes unaffected); flat tables compact to well-sized files. Run
    * off the ingest path.
    */
  def compactStore(spark: SparkSession, workDir: String): Seq[Compaction.Report] =
    NearDupIndex.compact(spark, workDir) ++
      Compaction.compactExisting(spark, flatTables(workDir).map(_ -> Seq.empty[String]))
}
