package graft.tools

import graft.Tables
import graft.query.{IvfIndex, IvfPq, PqIndex, Tombstones}
import org.apache.spark.sql.functions._

/** Scaling evidence for the DELETION lifecycle (the round-19
  * operator), the [[ScalingCurve]] discipline applied to tombstones:
  * on the clustered synthetic corpus at geometrically-spaced sizes,
  * measure what a deployment actually pays
  *
  *  - MASKED SERVE: batch top-k wall seconds on the plain and
  *    composed layouts with 0% / 1% / 10% / 30% of the corpus
  *    tombstoned (the always-on cost between compactions — the
  *    anti-join at the candidate scan, sized by the tombstone table,
  *    which is deletion-cadence-bounded, never corpus-bounded);
  *  - COMPACTION: wall seconds of the cell-pruned physical fold-in at
  *    the 10% point (every cell is affected at a uniform 10% delete —
  *    the worst case for the pruning — so this upper-bounds a real
  *    batch, whose deletes cluster in few cells), plus the
  *    post-compaction query time showing the serve cost returns to
  *    the 0% row.
  *
  * The claim this turns into data: masked-serve overhead is a small
  * bounded factor over the unmasked row at every corpus size (the
  * anti-join build side broadcasts from parquet size stats), and
  * compaction costs one pruned rewrite of the affected directories —
  * there is no hidden corpus-proportional tax on the query path.
  * Output: one JSON line per measurement + tools/deletion_curve.json.
  * Diagnostics-only main — never on any query path.
  */
object DeletionCurve {

  def main(args: Array[String]): Unit = {
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SCALING_SIZES", "20000,200000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    val dim = 16
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val out = new StringBuilder("[\n")
    var first = true
    def emit(js: String): Unit = {
      println(js)
      if (!first) out.append(",\n")
      out.append("  ").append(js)
      first = false
    }
    for (n <- sizes) {
      val e = ScalingCurve.corpus(spark, n, dim, clustered = true).localCheckpoint()
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        .localCheckpoint()
      val nCentroids = math.max(16,
        math.min(256, (math.sqrt(n.toDouble) / 2).toInt))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_delcurve_$n"
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
      val ivfP = IvfIndex.Params(nCentroids = nCentroids, maxIter = 5)
      val pqP = PqIndex.Params(dim = dim, numSub = 4, codebookSize = 16)
      IvfIndex.build(e.select("vec_id", "embedding"), "vec_id", "embedding",
        s"$root/ivf", ivfP)
      IvfPq.build(e.select("vec_id", "embedding"), "vec_id", "embedding",
        s"$root/ivfpq", IvfPq.Params(ivf = ivfP, pq = pqP))

      def queryIvf(): Unit =
        IvfIndex.queryTopK(spark, s"$root/ivf", "vec_id", "embedding",
            q, "query_id", "qvec", k = 5, threshold = 0.0)
          .write.format("noop").mode("overwrite").save()
      def queryPq(): Unit =
        IvfPq.queryTopK(spark, s"$root/ivfpq", "vec_id", "embedding",
            q, "query_id", "qvec", k = 5, threshold = 0.0)
          .write.format("noop").mode("overwrite").save()

      // tomb_pct 0 is the reference row; each pct masks its own slice
      // (vec_id % 100 < pct — a uniform cut across every cluster, the
      // adversarial spread for cell pruning) and retires it before the
      // next, so rows are independent, not cumulative
      for (pct <- Seq(0, 1, 10, 30)) {
        if (pct > 0) {
          val dead = e.filter(pmod(col("vec_id"), lit(100)) < pct)
            .select("vec_id")
          IvfIndex.delete(spark, s"$root/ivf", "vec_id", dead)
          IvfIndex.delete(spark, s"$root/ivfpq", "vec_id", dead)
        }
        val sIvf = timed(queryIvf())
        val sPq = timed(queryPq())
        emit(s"""{"n":$n,"n_centroids":$nCentroids,"tomb_pct":$pct,""" +
          s""""ivf_masked_sec":$sIvf,"ivfpq_masked_sec":$sPq}""")
        if (pct > 0) {
          Tombstones.clear(spark, s"$root/ivf")
          Tombstones.clear(spark, s"$root/ivfpq")
        }
      }

      // compaction at the 10% point: every cell affected (the pruned
      // rewrite's worst case), then the serve cost is back at the 0% row
      val dead10 = e.filter(pmod(col("vec_id"), lit(100)) < 10).select("vec_id")
      IvfIndex.delete(spark, s"$root/ivf", "vec_id", dead10)
      IvfIndex.delete(spark, s"$root/ivfpq", "vec_id", dead10)
      val cIvf = timed(IvfIndex.compactTombstones(
        spark, s"$root/ivf", "vec_id", "embedding"))
      val cPq = timed(IvfIndex.compactTombstones(
        spark, s"$root/ivfpq", "vec_id", "embedding"))
      val sIvfAfter = timed(queryIvf())
      val sPqAfter = timed(queryPq())
      emit(s"""{"n":$n,"n_centroids":$nCentroids,"tomb_pct":10,""" +
        s""""ivf_compact_sec":$cIvf,"ivfpq_compact_sec":$cPq,""" +
        s""""ivf_post_compact_sec":$sIvfAfter,"ivfpq_post_compact_sec":$sPqAfter}""")
      rm(new java.io.File(root))
    }
    out.append("\n]\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("tools/deletion_curve.json"),
      out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
