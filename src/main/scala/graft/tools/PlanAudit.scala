package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._

/** Plan/stage diagnostics for the heavy approximate-join operators —
  * counts each intermediate so regressions in candidate volume are
  * visible, and prints formatted plans for audit.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [q15|q25|plans]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "all"
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[audit] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    if (what == "q15" || what == "all") {
      // instrument the REAL q15 stages (same private[graft] builders the
      // query uses), so the audit cannot drift from the pipeline
      import graft.pipeline.Dedup
      val sigs = Dedup.minhashSigs(spark, sfDir)
      timed("q15 sig compute")(println(s"[audit] sigs: ${sigs.count()}"))
      val collisions = Dedup.minhashCollisions(Dedup.minhashBands(sigs))
      timed("q15 raw band collisions")(println(s"[audit] collisions: ${collisions.count()}"))
      val plausible = Dedup.minhashPlausible(collisions, sigs, sigs, threshold = 0.5)
      timed("q15 est-filter survivors")(println(s"[audit] plausible: ${plausible.count()}"))
      println("[audit] q15 plausible plan:")
      plausible.explain("formatted")
      Dedup.unpersistSigs(spark, sfDir)
    }

    if (what == "q25" || what == "all") {
      import graft.query.AnnIndex
      val e = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val prep = AnnIndex.hashInput(AnnIndex.prepared(e, "vec_id", "embedding")).cache()
      timed("q25 prepared")(println(s"[audit] vectors: ${prep.count()}"))
      val model = timed("q25 fit")(AnnIndex.fit(prep))
      val dist = math.sqrt(2.0 - 2.0 * 0.35)
      val cand = model.approxSimilarityJoin(prep, prep, dist, "dist")
        .filter(col("datasetA.vec_id") < col("datasetB.vec_id"))
      timed("q25 candidates within dist")(println(s"[audit] cand pairs: ${cand.count()}"))
      prep.unpersist()
    }

    if (what == "topk") {
      // the batch-retrieval shuffle shape: partial topk_by must appear
      // BEFORE the exchange (answer-sized shuffle), final after it
      import graft.query.SimilaritySearch
      val e = Tables(spark, sfDir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val out = SimilaritySearch.topKBatch(
        e, "embedding", "vec_id", q, "query_id", "qvec", k = 20, threshold = -2.0)
      out.explain("formatted")
      timed("topKBatch collect")(println(s"[audit] rows: ${out.count()}"))
    }

    if (what == "plans") {
      graft.Queries.all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
