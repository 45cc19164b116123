package graft.tools

import graft.Tables
import graft.query.{IvfIndex, IvfLayout, IvfPq, PqIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve evidence for the ANN families' pruning claims
  * (round-15 verdict ask #4): synthesize embedding corpora at
  * geometrically-spaced sizes (deterministic seed — per-component
  * values derive from xxhash64(vec_id, dim), no RNG state), in a
  * CLUSTERED variant (8 separated modes + noise — the geometry
  * production corpora approximate) and an ISOTROPIC one (the
  * adversarial worst case the exactness contract prices), then
  * measure per (family, size):
  *
  *  - probe fraction: (query, cell) pairs actually probed / the full
  *    query×cells grid (q39's IVF bound; q107's composed scan; q108's
  *    label-restricted probes);
  *  - fetch fraction: exact-ranked candidate rows / (queries × corpus)
  *    — the volume the bounds could not discard;
  *  - wall seconds for the materialized result (noop write).
  *
  * The claim this turns from design into data: on clustered corpora
  * probe and fetch FRACTIONS fall (or hold) as the corpus grows —
  * cost grows sublinearly with n — while the isotropic rows document
  * the graceful degradation toward a full scan. nCentroids scales as
  * ~2·√n (the standard IVF sizing) so cells stay O(√n)-occupied as a
  * deployment would size them. Output: one JSON line per measurement
  * plus the whole report persisted to tools/scaling_curve.json.
  * Diagnostics-only main — never on any query path.
  */
object ScalingCurve {

  /** Deterministic synthetic embeddings: component c of vector i is a
    * hash-derived uniform in [-0.5, 0.5); the clustered variant adds a
    * unit spike on dimension 2·(i mod 8) — 8 well-separated modes, the
    * FilteredSearchSpec fixture geometry at scale.
    */
  private[tools] def corpus(spark: SparkSession, n: Long, dim: Int, clustered: Boolean): DataFrame = {
    val noise =
      s"""transform(sequence(0, ${dim - 1}), c ->
         |  cast(pmod(xxhash64(id * $dim + c), 1000000) / 1000000.0 - 0.5
         |    as float))""".stripMargin
    val emb =
      if (!clustered) noise
      else
        s"""zip_with($noise,
           |  transform(sequence(0, ${dim - 1}), c ->
           |    cast(if(c = 2 * pmod(id, 8), 3.0, 0.0) as float)),
           |  (a, b) -> cast(a * 0.4 + b as float))""".stripMargin
    spark.range(n).select(
      col("id").as("vec_id"),
      expr(emb).as("embedding"),
      pmod(col("id"), lit(8)).cast("int").as("label"))
  }

  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label"))

  def main(args: Array[String]): Unit = {
    // default sizes exercise a 10× and 100× blow-up over the smallest;
    // SPARK_GRAFT_SCALING_SIZES overrides (comma-separated)
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SCALING_SIZES", "20000,200000,2000000")
      .split(",").map(_.trim.toLong).toSeq
    // variant filter for incremental extensions of the committed report
    // (e.g. a clustered-only 5M point appended to the standard sweep)
    val variants = sys.env.getOrElse("SPARK_GRAFT_SCALING_VARIANTS",
        "clustered,isotropic")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
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
    for (clustered <- Seq(true, false)
           if variants(if (clustered) "clustered" else "isotropic");
         n <- sizes) {
      val variant = if (clustered) "clustered" else "isotropic"
      val e = corpus(spark, n, dim, clustered).localCheckpoint()
      val q = queriesOf(e).localCheckpoint()
      // ~√n/2 cells, capped at 256: keeps the coarse fit O(n·k) cost
      // tractable at 2M rows on one box while cells still grow with n
      // (a deployment sizes k ~ √n; the REPORT's quantity — probe
      // FRACTION of the grid — is sizing-normalized either way)
      val nCentroids = math.max(16,
        math.min(256, (math.sqrt(n.toDouble) / 2).toInt))
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_scaling_${variant}_$n"
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
      val pqP = PqIndex.Params(dim = dim, numSub = 4, codebookSize = 16)
      val ivfP = IvfIndex.Params(nCentroids = nCentroids, maxIter = 5)
      val buildIvf = timed(IvfIndex.build(
        e.select("vec_id", "embedding"), "vec_id", "embedding", s"$root/ivf", ivfP))
      val buildPq = timed(IvfPq.build(
        e.select("vec_id", "embedding"), "vec_id", "embedding", s"$root/ivfpq",
        IvfPq.Params(ivf = ivfP, pq = pqP)))
      val buildMeta = timed(IvfIndex.buildLabelMeta(
        spark, s"$root/ivf", "vec_id", "embedding",
        e.select("vec_id", "label"), "label"))

      case class Row(family: String, sec: Double, probeFrac: Double, fetchFrac: Double)
      def measure(family: String)(run: => (DataFrame, Option[DataFrame], Option[DataFrame])): Row = {
        var probed = Option.empty[DataFrame]; var cands = Option.empty[DataFrame]
        val sec = timed {
          val (r, p, c) = run
          probed = p; cands = c
          r.write.format("noop").mode("overwrite").save()
        }
        val pf = probed.map(_.count().toDouble / (10.0 * nCentroids)).getOrElse(-1.0)
        val ff = cands.map(_.count().toDouble / (10.0 * n)).getOrElse(-1.0)
        Row(family, sec, pf, ff)
      }

      val rows = Seq(
        measure("ivf_topk") {
          val r = IvfIndex.retrieve(spark, s"$root/ivf", "vec_id", "embedding",
            "query_id", "qvec", threshold = 0.0, probeWidth = 1)(q, 5, None)
          (r.topK, Some(r.probed), Some(r.candidates))
        },
        measure("ivfpq_topk") {
          val r = IvfPq.retrieve(spark, s"$root/ivfpq", "vec_id", "embedding",
            "query_id", "qvec", threshold = 0.0, probeWidth = 1)(q, 5, None)
          (r.topK, Some(r.probed), Some(r.candidates))
        },
        measure("filtered_topk") {
          val labels = e.select("vec_id", "label")
          val scope = IvfLayout.LabelScope(labels, "label",
            IvfIndex.cachedLabelRadii(spark, s"$root/ivf", "label").getOrElse(
              IvfIndex.labelRadii(spark, s"$root/ivf", "vec_id", "embedding",
                labels, "label")))
          val r = IvfIndex.retrieve(spark, s"$root/ivf", "vec_id", "embedding",
            "query_id", "qvec", threshold = 0.0, probeWidth = 1)(q, 5, Some(scope))
          (r.topK, Some(r.probed), None)
        },
        measure("filtered_fallback") {
          // the q113 shape: a near-unique derived label forces the
          // overfetch + escalation machinery; wall time only (its cost
          // is rounds × answer-sized frames, not probe geometry)
          val qq = q.withColumn("hl", pmod(col("query_id"), lit(97)))
          (IvfIndex.queryTopKFiltered(spark, s"$root/ivf", "vec_id", "embedding",
            qq.select(col("query_id"), col("qvec"), col("hl")),
            "query_id", "qvec",
            e.select(col("vec_id"), pmod(col("vec_id"), lit(97)).as("hl")), "hl",
            k = 5, threshold = 0.0, probeWidth = 1,
            maxLabelFanout = 16L, refillCap = 32L), None, None)
        })

      for (r <- rows) {
        val js =
          s"""{"variant":"$variant","n":$n,"n_centroids":$nCentroids,""" +
            s""""family":"${r.family}","sec":${r.sec},"probe_frac":${r.probeFrac},""" +
            s""""fetch_frac":${r.fetchFrac},"build_ivf_sec":$buildIvf,""" +
            s""""build_ivfpq_sec":$buildPq,"build_label_meta_sec":$buildMeta}"""
        println(js)
        if (!first) out.append(",\n")
        out.append("  ").append(js)
        first = false
      }
      rm(new java.io.File(root))
    }
    out.append("\n]\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("tools/scaling_curve.json"),
      out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
