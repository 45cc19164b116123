package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale properties asserted on the OPTIMIZED PLAN, not just the
  * results — the shapes that make these queries survive 100× data:
  * a regression that silently un-pushes a filter or flips a broadcast
  * to a sort-merge join fails here long before it times out a bench.
  */
class PlanShapeSpec extends AnyFunSuite with SharedSpark {

  /** The executed plans of the eager cuts `body` runs (a collect or a
    * checkpoint is a listened-to action) — where a plan hides below a
    * cut or the result is a driver-local relation, the cut plans are the
    * ones that read the tables.
    */
  private def cutPlans(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("q60's cross-corpus cutoff filters push below the LSH band join") {
    val plan = graft.pipeline.Dedup
      .incrementalDedup(spark, Sf0001)
      .queryExecution.optimizedPlan.toString
    // both restrictions must appear as source-side filters (they occur
    // once per consumer of each side), not one residual post-filter
    assert(plan.split("< 250").length > 2,
      "old-side cutoff not pushed to multiple inputs:\n" + plan.take(2000))
    assert(plan.split(">= 250").length > 2,
      "new-side cutoff not pushed to multiple inputs:\n" + plan.take(2000))
    graft.pipeline.Dedup.unpersistSigs(spark, Sf0001)
  }

  test("q58's dimension joins all broadcast at fixture scale") {
    val plan = graft.pipeline.Relational
      .q58StarJoin(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "a star-join side fell back to sort-merge:\n" + plan.take(2000))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "expected the dimension tables to broadcast:\n" + plan.take(2000))
  }

  test("q1's date predicate reaches the parquet scan") {
    val plan = graft.pipeline.Relational
      .q1Filter(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(1500))
    assert(plan.contains("IsNotNull(l_shipdate)"), plan.take(1500))
  }

  test("q63's eval gram set broadcasts; the train side never sort-merges") {
    val plan = graft.pipeline.Decontamination
      .contaminated(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "eval side not broadcast:\n" + plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "gram join fell back to sort-merge:\n" + plan.take(2000))
  }

  test("q65's rate frame broadcasts onto a single corpus scan") {
    val qe = graft.pipeline.Sampling
      .temperatureMix(spark, Sf0001).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "rate frame not broadcast:\n" + plan.take(2000))
    // the corpus must be scanned exactly twice: once for the per-source
    // counts, once for the filtered output — NOT once per source or any
    // other multiple
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 2, s"expected 2 document scans, saw $scans:\n" + plan.take(2000))
  }

  test("q78 redaction is map-only: no hash exchange anywhere in the plan") {
    val plan = graft.pipeline.PiiRedaction
      .q78(spark, Sf0001)
      .queryExecution.executedPlan.toString
    // the only allowed exchanges are the deliberate small-input spread
    // (round-robin, Tables.parallelize) and the output sort's range
    // partitioning — detection/redaction itself must never shuffle
    assert(!plan.contains("hashpartitioning"),
      "redaction plan gained a hash shuffle:\n" + plan.take(2000))
  }

  test("q79's correlated subqueries decorrelate — no cartesian product") {
    val plan = graft.pipeline.Relational
      .q79Subqueries(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "a subquery planned as a cartesian product:\n" + plan.take(2000))
    // EXISTS / NOT EXISTS / IN must plan as semi/anti joins, not as
    // aggregated rewrites per-row
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      "EXISTS/NOT EXISTS did not plan as semi/anti joins:\n" + plan.take(2000))
  }

  test("q92's self-join consumes the pre-filtered candidates ONCE, materialized") {
    val plan = graft.pipeline.Dedup
      .q92RepeatedPassages(spark, Sf0001)
      .queryExecution.optimizedPlan.toString
    // the min!=max doc pruning runs BEFORE the window self-join and the
    // pruned candidate frame is checkpointed, so both join sides read
    // the SAME materialized RDD (LogicalRDD) — one corpus windowing
    // pass total, join input proportional to repeated text. (Before the
    // checkpoint, each side re-ran the full tokenize + k-gram explode +
    // two aggregations — the pre-filter showed as two Aggregates under
    // the join instead.)
    val joinIdx = plan.indexOf("Join Inner")
    assert(joinIdx >= 0, "window self-join missing:\n" + plan.take(2000))
    val below = plan.substring(joinIdx)
    val rddBelow = below.split("LogicalRDD").length - 1
    assert(rddBelow >= 2,
      s"expected both join sides to read the checkpointed candidate frame:\n${plan.take(2500)}")
    assert(!below.contains("Relation") && !below.contains("FileScan"),
      s"a join side re-scans the corpus instead of the checkpoint:\n${plan.take(2500)}")
  }

  test("q95's Bloom pre-filter runs scan-side, below the exact verify join") {
    val plan = graft.pipeline.Decontamination
      .contaminatedBloom(spark, Sf0001)
      .queryExecution.executedPlan.toString
    val filterIdx = plan.indexOf("bloom_might_contain")
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(filterIdx >= 0, "Bloom pre-filter missing from plan:\n" + plan.take(2000))
    assert(joinIdx >= 0, "exact verify join not broadcast:\n" + plan.take(2000))
    // physical plans print top-down: the filter must appear AFTER the
    // join header, i.e. inside the join's input subtree
    assert(filterIdx > joinIdx,
      "Bloom filter not below the verify join:\n" + plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "verify join fell back to sort-merge:\n" + plan.take(2000))
  }

  test("q94's model joins consume pre-aggregated frames; vocab broadcasts") {
    val plan = graft.pipeline.TextAnalysis
      .q94LmQuality(spark, Sf0001)
      .queryExecution.optimizedPlan.toString
    // the 1-row vocabulary scalar must broadcast (nested-loop on a
    // single row), never shuffle the transitions against it
    val execPlan = graft.pipeline.TextAnalysis
      .q94LmQuality(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(execPlan.contains("BroadcastNestedLoopJoin"),
      "vocab scalar not broadcast:\n" + execPlan.take(2000))
    // transitions reach the bigram-count join only after the per-(doc,
    // bigram) aggregate: the join inputs are Aggregates, not raw explodes
    val joinIdx = plan.indexOf("Join Inner")
    assert(joinIdx >= 0)
    assert(plan.substring(joinIdx).split("Aggregate").length - 1 >= 3,
      "expected aggregated inputs under the model joins:\n" + plan.take(2500))
  }

  test("IVF probes prune the cells scan with a static partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    val e = Tables(spark, Sf0001, "embeddings")
    graft.query.IvfIndex.build(e.select("vec_id", "embedding"),
      "vec_id", "embedding", dir, graft.query.IvfIndex.Params(nCentroids = 8))
    // a scan carrying "PartitionFilters: [centroid_id ... IN (...)]" is
    // the static pruning contract: the probed cell ids were collected
    // (bounded by nCentroids) and pushed at plan time, so only the
    // probed centroid_id= directories are read — DPP never needs to fire
    def prunedPlan(plan: String): Boolean =
      "PartitionFilters: \\[centroid_id[^\\]]{0,200}? IN".r
        .findFirstIn(plan).isDefined
    def pruned(df: org.apache.spark.sql.DataFrame): Boolean =
      prunedPlan(df.queryExecution.executedPlan.toString)

    val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    // q39's probe passes are cuts whose per-query top-k merges on the
    // driver, so the result is a local relation: assert on the cut plans
    assert(cutPlans(graft.query.IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0)).exists(prunedPlan),
      "q39-shape probe scan not statically pruned")
    assert(pruned(graft.query.IvfIndex.selfKnnGraph(spark, dir, "vec_id", "embedding", 5)),
      "q77-shape pass-2 scan not statically pruned")
    // q82's pass-2 scan sits below the argmax checkpoint, so the result
    // plan no longer shows it: assert on the cut plans
    assert(cutPlans(graft.query.IvfIndex.contrastivePairs(spark, dir, "vec_id", "embedding",
        e.select("vec_id", "label"), "label")).exists(prunedPlan),
      "q82-shape pass-2 scan not statically pruned")
  }

  test("LSH queryTopK prunes the vector fetch with a static partition filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-prune").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    graft.query.AnnIndex.buildIndex(e, "vec_id", "embedding", dir)
    val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val plan = graft.query.AnnIndex.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // the exact-verification payload scan reads only the candidate
    // ids' partition directories (the bucket probe itself is
    // materialized pre-plan, same collected-ids discipline)
    assert("PartitionFilters: \\[__vbucket[^\\]]{0,200}? IN".r.findFirstIn(plan).isDefined,
      "q38-shape vector fetch not statically pruned:\n" + plan.take(2000))
  }

  test("PQ query broadcasts the LUT batch and never windows the scan") {
    // q105's one-cell composed plan: the code scan runs inside the
    // probe passes' eager cuts, the re-rank in the returned frame
    val plans = cutPlans(graft.Queries.q105PqTopK(spark, Sf0001).collect())
    // the corpus-side codes scan must meet the per-query lookup tables
    // through a BROADCAST of the (point-lookup-sized) query batch —
    // the codes table itself never shuffles pre-ranking
    val codeScans = plans.filter(_.contains("cell_codes"))
    assert(codeScans.nonEmpty, "no cut plan scanned the codes:\n" + plans.mkString("\n").take(2000))
    assert(codeScans.forall(p => p.contains("BroadcastHashJoin") &&
        p.contains("BroadcastExchange") && !p.contains("SortMergeJoin")),
      "query LUT batch not broadcast onto the codes scan:\n" + codeScans.mkString("\n").take(2000))
    // both ranking stages (floor + final top-k) are map-side-capped
    // typed aggregates, never a corpus-shuffling window
    assert(plans.exists(_.contains("partial_topk_by")),
      "map-side partial top-k missing:\n" + plans.mkString("\n").take(2000))
    assert(!plans.exists(_.contains("Window")),
      "ranking fell back to a corpus-shuffling window:\n" + plans.mkString("\n").take(2000))
  }

  test("IVF probes stay statically pruned after a hot-cell split") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-split-plan").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    graft.query.IvfIndex.build(e, "vec_id", "embedding", dir,
      graft.query.IvfIndex.Params(nCentroids = 4))
    val report = graft.query.IvfIndex.splitHotCells(spark, dir,
      "vec_id", "embedding", occupancyCap = e.count() / 6)
    assert(report.split.nonEmpty, "fixture cells unexpectedly under cap")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plans = cutPlans(graft.query.IvfIndex.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0))
    // the split rewrote directories with dynamic partition overwrite;
    // the q39-shape static isin pruning must survive the new layout
    assert(plans.exists("PartitionFilters: \\[centroid_id[^\\]]{0,200}? IN".r
        .findFirstIn(_).isDefined),
      "post-split probe scan not statically pruned:\n" + plans.mkString("\n").take(4000))
  }

  test("IVF+PQ scans code AND payload tables statically pruned to probed cells") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-plan").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    graft.query.IvfPq.build(e, "vec_id", "embedding", dir,
      graft.query.IvfPq.Params(ivf = graft.query.IvfIndex.Params(nCentroids = 8)))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = graft.query.IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // BOTH levels read partition-pruned: the final exact-fetch payload
    // scan in this plan, and (asserted by construction inside scan())
    // the pass-2 code scan — here the visible plan carries the fetch
    assert("PartitionFilters: \\[centroid_id[^\\]]{0,200}? IN".r
        .findFirstIn(plan).isDefined,
      "exact-fetch payload scan not statically pruned:\n" + plan.take(2000))
    assert(plan.contains("partial_topk_by") && !plan.contains("Window"),
      "ranking tail not the answer-sized aggregate:\n" + plan.take(2000))
  }

  test("filtered IVF+PQ (q114) keeps the pruned fetch and aggregate tail") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-fpq-plan").toString
    val e = Tables(spark, Sf0001, "embeddings")
    graft.query.IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding",
      dir, graft.query.IvfPq.Params(ivf = graft.query.IvfIndex.Params(nCentroids = 8)))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))
    val plan = graft.query.IvfPq.queryTopKFiltered(spark, dir,
        "vec_id", "embedding", queries, "query_id", "qvec",
        e.select("vec_id", "label"), "label", k = 5, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // the label filter composes WITHOUT changing the scan disciplines:
    // exact-fetch payload scan statically pruned to candidate cells
    // (code scans are pruned by construction inside scan()), ranking
    // tail the answer-sized aggregate
    assert("PartitionFilters: \\[centroid_id[^\\]]{0,200}? IN".r
        .findFirstIn(plan).isDefined,
      "filtered exact-fetch payload scan not statically pruned:\n" + plan.take(2000))
    assert(plan.contains("partial_topk_by") && !plan.contains("Window"),
      "filtered ranking tail not the answer-sized aggregate:\n" + plan.take(2000))
  }

  test("multi-label filtered search (q117) keeps the answer-sized ranking tail") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-any-plan").toString
    val e = Tables(spark, Sf0001, "embeddings")
    graft.query.IvfIndex.build(e.select("vec_id", "embedding"),
      "vec_id", "embedding", dir, graft.query.IvfIndex.Params(nCentroids = 8))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        array(col("label"), col("label") + lit(1)).as("lbls"))
    val plan = graft.query.IvfIndex.queryTopKFilteredAny(spark, dir,
        "vec_id", "embedding", queries, "query_id", "qvec", "lbls",
        e.select("vec_id", "label"), "label", k = 5, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // the multi-label reduction must not re-introduce a window: both
    // the per-unit rankings and the final global re-rank ride the
    // bounded-heap aggregate (map-side partials cap every exchange at
    // k entries per key)
    assert(plan.contains("partial_topk_by") && !plan.contains("Window"),
      "multi-label ranking tail not the answer-sized aggregate:\n" + plan.take(2000))
  }

  test("residual-mode IVF+PQ keeps the pruned fetch and aggregate tail") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqres-plan").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    val p = graft.query.IvfPq.Params(
      ivf = graft.query.IvfIndex.Params(nCentroids = 8), residual = true)
    graft.query.IvfPq.build(e, "vec_id", "embedding", dir, p)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = graft.query.IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // the per-(query, generation) LUT join must not change the scan
    // shape: payload fetch statically pruned, answer-sized ranking
    assert("PartitionFilters: \\[centroid_id[^\\]]{0,200}? IN".r
        .findFirstIn(plan).isDefined,
      "residual exact-fetch payload scan not statically pruned:\n" + plan.take(2000))
    assert(plan.contains("partial_topk_by") && !plan.contains("Window"),
      "residual ranking tail not the answer-sized aggregate:\n" + plan.take(2000))
  }

  test("the client's batch serving path prunes the payload fetch by bucket") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-client-plan").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    val docs = Seq(
      (1L, "## Context\nctx one\n\n## Usage\nCall ingest then query here.\n"),
      (2L, "## Context\nctx two\n\n## Tuning\nBroadcast small tables.\n"))
      .toDF("doc_id", "mdx")
    client.ingest(docs, "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")
    val queries = Seq((0L, client.embedText("Call ingest then query here.")))
      .toDF("query_id", "qvec")
    val plan = client.queryIndexedBatch(s"$dir/ann", queries,
        "query_id", "qvec", threshold = 0.0, count = 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[__rbucket[^\\]]{0,200}? IN".r
        .findFirstIn(plan).isDefined,
      "batch payload scan not statically pruned by bucket:\n" + plan.take(2000))
  }

  test("batch top-k partial-aggregates BEFORE the exchange; no window") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables(spark, Sf0001, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = graft.query.SimilaritySearch.topKBatch(
        e, "embedding", "vec_id", queries, "query_id", "qvec",
        k = 10, threshold = 0.0)
      .queryExecution.executedPlan.toString
    // the answer-sized-shuffle contract: a map-side partial_topk_by
    // must appear (it caps each task at k rows per query pre-exchange),
    // and no Window operator may creep back into the ranking tail
    assert(plan.contains("partial_topk_by"),
      "map-side partial top-k missing:\n" + plan.take(2000))
    assert(!plan.contains("Window"),
      "ranking fell back to a corpus-shuffling window:\n" + plan.take(2000))
  }

  test("BM25 ranking partial-aggregates BEFORE the exchange (exact longs)") {
    val plan = graft.Queries.q71Bm25TopK(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by"),
      "BM25 tail lost its map-side partial top-k:\n" + plan.take(2000))
  }

  test("q102 semantic dedup anti-joins on an ids-only distinct frame") {
    val plan = graft.Queries.q102SemanticDedup(spark, Sf0001)
      .queryExecution.optimizedPlan.toString
    val antiIdx = plan.indexOf("Join LeftAnti")
    assert(antiIdx >= 0, "survivor anti-join missing:\n" + plan.take(2000))
    // the dropped-id side must collapse to a distinct over the bare id
    // BEFORE the anti-join consumes it — column pruning has stripped
    // embeddings/ranks, so the anti-join's build side is ids, not
    // payloads (the scale contract of the drop set)
    assert("Aggregate \\[vec_id#\\d+L?\\], \\[vec_id#\\d+L?\\]".r
        .findFirstIn(plan.substring(antiIdx)).isDefined,
      "dropped-id frame is not an ids-only distinct:\n" + plan.take(2500))
  }

  test("q103 retrieval grading keeps the answer-sized ranking shapes") {
    val plan = graft.Queries.q103RetrievalEval(spark, Sf0001)
      .queryExecution.executedPlan.toString
    // the hit list comes off the shared topk_by tail (map-side partial
    // before the exchange), and the metric layer adds no Window — the
    // whole evaluation stays answer-sized
    assert(plan.contains("partial_topk_by"),
      "hit ranking lost its map-side partial top-k:\n" + plan.take(2000))
    assert(!plan.contains("Window"),
      "metric layer grew a window operator:\n" + plan.take(2000))
  }

  test("q64 packing shuffles once on the shard key before the typed fold") {
    val qe = graft.pipeline.SequencePacker.pack(spark, Sf0001).queryExecution
    val plan = qe.executedPlan.toString
    // one hash-partitioning exchange for groupByKey; the only other
    // exchange is the output sort's range partitioning
    val hashEx = "hashpartitioning".r.findAllIn(plan).size
    assert(hashEx >= 1, "groupByKey exchange missing:\n" + plan.take(2000))
    assert("rangepartitioning".r.findAllIn(plan).size <= 1,
      "unexpected extra range exchange:\n" + plan.take(2000))
  }

  test("a tombstone-masked probe keeps its static partition pruning and " +
      "anti-joins the delete log as a broadcast hash join") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-del").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    graft.query.IvfIndex.build(e, "vec_id", "embedding", dir,
      graft.query.IvfIndex.Params(nCentroids = 8))
    graft.query.IvfIndex.delete(spark, dir, "vec_id",
      e.filter(pmod(col("vec_id"), lit(10)) === 0).select("vec_id"))
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plans = cutPlans(graft.query.IvfIndex.queryTopK(spark, dir, "vec_id",
        "embedding", queries, "query_id", "qvec", k = 3, threshold = 0.0))
    val all = plans.mkString("\n").take(5000)
    // the static isin pruning still reaches the cells scan of every probe
    // pass (the probed ids appear as a partition filter, not a
    // post-filter) ...
    val probes = plans.filter(_.contains("PartitionFilters: [centroid_id"))
    assert(probes.nonEmpty, "static partition pruning lost under the mask:\n" + all)
    // ... and the mask must not demote the equi anti-join to a nested
    // loop (build side is the tiny tombstone parquet — size stats
    // broadcast it)
    assert(probes.forall(p => p.contains("BroadcastHashJoin") && p.contains("LeftAnti")),
      "tombstone mask is not a broadcast hash anti-join:\n" + all)
    assert(!plans.exists(_.contains("BroadcastNestedLoopJoin")),
      "tombstone mask degraded to a nested-loop join:\n" + all)
  }
}
