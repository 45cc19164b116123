package graft.tools

import graft.{Bench, SparkEntry, Tables}
import graft.query.{IvfIndex, IvfLayout, IvfPq, PqIndex, Tombstones}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The one diagnostics main — never on any query path. Four modes:
  *
  *  - `profile`: each named declared query runs twice through the noop
  *    sink (the cold run prices any buildOnce artifact, the warm run is
  *    the headline shape) and prints its top stages by wall time, with
  *    task time, input and shuffle volume, from a SparkListener. With
  *    SPARK_GRAFT_PLAN_OUT set (e.g. `plans/r21/%s_before.txt`, %s = the
  *    query) the cold run's formatted plan is written there.
  *  - `scans`: how many times each query's PLANNED physical tree scans
  *    each parquet location. `REPEAT` flags ≥ 2 scans of one location
  *    (AQE stage reuse may still dedupe them at runtime; every flag
  *    wants a disposition), `ok` means scans were seen and none repeats,
  *    `cut` means the frame starts at a checkpoint or local relation,
  *    so the plan shows no scan to judge.
  *  - `plans`: each query's formatted plan.
  *  - `curves`: the ANN families' scaling and deletion curves on
  *    synthetic corpora ([[curves]]).
  *
  * Building a query's frame runs its eager prelude (index builds, probe
  * collects, checkpoints), so an unfiltered walk costs about one bench
  * sweep's build phase.
  *
  * Usage: runMain graft.tools.Diag profile|scans|plans
  *        runMain graft.tools.Diag curves [outDir]   (default `tools`)
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (the bench contract);
  * SPARK_GRAFT_ONLY, a comma list of queries (required by `profile`;
  * unset, the walk covers every query Bench sweeps);
  * SPARK_GRAFT_PLAN_OUT (`profile`); SPARK_GRAFT_SCALING_SIZES
  * (`curves`, default 20000,200000,2000000).
  */
object Diag {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("profile", "scans", "plans", "curves")(mode),
      "usage: Diag profile|scans|plans|curves [outDir]")
    def list(v: String): Seq[String] =
      sys.env.get(v).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = list("SPARK_GRAFT_ONLY")
    require(mode != "profile" || only.nonEmpty, "profile: set SPARK_GRAFT_ONLY=q..,q..")
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      // JVM/codegen warm-up (the Bench discipline)
      noop(spark.range(1000000).selectExpr("sum(id)"))
      mode match {
        case "profile" => profile(spark, sfDir, only, sys.env.get("SPARK_GRAFT_PLAN_OUT"))
        case "scans" => scans(spark, sfDir, only)
        case "plans" => plans(spark, sfDir, only)
        case "curves" =>
          val sizes = Some(list("SPARK_GRAFT_SCALING_SIZES")).filter(_.nonEmpty)
            .getOrElse(Seq("20000", "200000", "2000000"))
          curves(spark, sizes.map(_.toLong), args.lift(1).getOrElse("tools"))
      }
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `body` once off the clock, then timed: one-time costs (first reads
    * of a fresh index, codegen of a new plan shape) stay out of the
    * measurement — ragbench's warm-up discipline.
    */
  private def timedWarm[T](body: => T): (T, Double) = { body; timed(body) }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** The walk `profile`, `scans` and `plans` share: the named queries
    * in the given order (every query Bench sweeps, by name, when none
    * is named), each handed to `f` with a builder of its frame. The
    * session's cached MinHash signatures of `sfDir` are released after.
    */
  private def walk[T](spark: SparkSession, sfDir: String, only: Seq[String])(
      f: (String, () => DataFrame) => T): Seq[T] = {
    val fns = SparkEntry.queries
    val names =
      if (only.nonEmpty) only else fns.keys.toSeq.sorted.filterNot(Bench.excluded)
    try names.map(name => f(name, () => fns(name)(spark, sfDir)))
    finally graft.pipeline.Dedup.unpersistSigs(spark, sfDir)
  }

  final case class Stage(
      id: Int,
      name: String,
      wallMs: Long,
      taskMs: Long,
      inputMb: Double,
      shufReadMb: Double,
      shufWriteMb: Double,
      tasks: Int)

  /** One `profile` run: the query, 1 (cold) or 2 (warm), wall seconds
    * and the stages that completed during it.
    */
  final case class Profiled(query: String, run: Int, wallSec: Double, stages: Seq[Stage])

  def profile(
      spark: SparkSession,
      sfDir: String,
      only: Seq[String],
      planOut: Option[String]): Seq[Profiled] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        buf.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'), wall,
          m.executorRunTime, m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6, si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try walk(spark, sfDir, only) { (name, frame) =>
      (1 to 2).map { run =>
        buf.clear()
        val (df, wall) = timed { val df = frame(); noop(df); df }
        Thread.sleep(700) // listener bus drain
        val stages = { import scala.jdk.CollectionConverters._; buf.asScala.toVector }
        println(f"== $name run $run wall=$wall%.3f s  stages=${stages.size} " +
          f"stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.2f s ==")
        stages.sortBy(-_.wallMs).take(30).foreach { s =>
          println(f"  stage ${s.id}%5d ${s.wallMs / 1000.0}%7.3fs task=" +
            f"${s.taskMs / 1000.0}%8.2fs n=${s.tasks}%4d in=${s.inputMb}%8.1fMB " +
            f"sr=${s.shufReadMb}%8.1fMB sw=${s.shufWriteMb}%8.1fMB  ${s.name}")
        }
        if (run == 1) planOut.foreach { pat =>
          val p = java.nio.file.Paths.get(pat.format(name))
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(p, formatted(df).getBytes("UTF-8"))
          println(s"  [plan] wrote $p")
        }
        Profiled(name, run, wall, stages)
      }
    }.flatten
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** (query, tag, per-location scan counts) — tag `REPEAT`, `ok`, `cut`
    * (see the modes above) or `ERROR` when the frame failed to build.
    * Locations are grouped by their FULL path (per-shard directories
    * share a basename) and shown by their last two segments.
    */
  def scans(spark: SparkSession, sfDir: String, only: Seq[String]): Seq[(String, String, String)] = {
    val loc = """Location: \S+ \[([^\]]*)""".r
    walk(spark, sfDir, only) { (name, frame) =>
      val (tag, summary) = try {
        val counts = loc.findAllMatchIn(formatted(frame()))
          .map(_.group(1)).toSeq
          .groupBy(identity).view.mapValues(_.size)
          .toSeq.sortBy(-_._2)
          .map { case (p, c) => (p.split("/").takeRight(2).mkString("/"), c) }
        val tag =
          if (counts.isEmpty) "cut" else if (counts.exists(_._2 >= 2)) "REPEAT" else "ok"
        (tag, counts.map { case (t, c) => s"$t=$c" }.mkString(" "))
      } catch { case scala.util.control.NonFatal(e) => ("ERROR", String.valueOf(e.getMessage)) }
      println(s"[scans] $tag $name $summary")
      (name, tag, summary)
    }
  }

  /** (query, formatted plan), each also printed. */
  def plans(spark: SparkSession, sfDir: String, only: Seq[String]): Seq[(String, String)] =
    walk(spark, sfDir, only) { (name, frame) =>
      val plan = formatted(frame())
      println(s"\n===== $name =====\n$plan")
      (name, plan)
    }

  /** Deterministic synthetic embeddings: component c of vector i is a
    * hash-derived uniform in [-0.5, 0.5) (xxhash64 of (i, c), no RNG
    * state); the clustered variant adds a unit spike on dimension
    * 2·(i mod 8) — 8 well-separated modes, the FilteredSearchSpec
    * fixture geometry at scale.
    */
  private def corpus(spark: SparkSession, n: Long, dim: Int, clustered: Boolean): DataFrame = {
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

  /** Scaling and deletion evidence for the ANN families' pruning claims.
    * For each variant (CLUSTERED: 8 separated modes + noise, the
    * geometry production corpora approximate; ISOTROPIC: the adversarial
    * worst case the exactness contract prices) and size n, one corpus,
    * one IVF and one IVF+PQ index are built (~√n/2 cells, 16 to 256) and
    * 10 queries are measured:
    *
    *  - scaling, per serve family: wall seconds of the materialized
    *    result; probe fraction, the (query, cell) pairs probed over the
    *    full query × cells grid; fetch fraction, the exact-ranked
    *    candidate rows over queries × corpus (-1 where the family does
    *    not report it). On clustered corpora both fractions hold or fall
    *    as n grows; the isotropic rows show the degradation toward a
    *    full scan.
    *  - deletion, clustered only: masked-serve seconds on both layouts
    *    with 0 / 1 / 10 / 30 % of the corpus tombstoned (vec_id % 100 <
    *    pct, a uniform cut across every cell; each slice is retired
    *    before the next, so the rows are independent), then compaction
    *    seconds at 10 % (every cell affected, the pruned rewrite's worst
    *    case) and the serve seconds after it.
    *
    * Every measured query runs once untimed on the same index and batch
    * first ([[timedWarm]]). Prints one JSON line per measurement and
    * writes `scaling_curve.json` and `deletion_curve.json` under
    * `outDir`; returns both sets of lines.
    */
  def curves(spark: SparkSession, sizes: Seq[Long], outDir: String): (Seq[String], Seq[String]) = {
    val dim = 16
    val scaling, deletion = Seq.newBuilder[String]
    def emit(to: scala.collection.mutable.Builder[String, _], js: String): Unit = {
      println(js); to += js; ()
    }
    for (clustered <- Seq(true, false); n <- sizes) {
      val variant = if (clustered) "clustered" else "isotropic"
      val e = corpus(spark, n, dim, clustered).localCheckpoint()
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"), col("label"))
        .localCheckpoint()
      // ~√n/2 cells, capped at 256: keeps the coarse fit tractable at 2M
      // rows on one box while cells still grow with n (the reported
      // probe FRACTION is sizing-normalized either way)
      val nCentroids = math.max(16, math.min(256, (math.sqrt(n.toDouble) / 2).toInt))
      val root = java.nio.file.Files.createTempDirectory(s"graft_curves_${variant}_$n").toString
      val (ivf, ivfpq) = (s"$root/ivf", s"$root/ivfpq")
      try {
        val ivfP = IvfIndex.Params(nCentroids = nCentroids, maxIter = 5)
        val pqP = PqIndex.Params(dim = dim, numSub = 4, codebookSize = 16)
        val vecs = e.select("vec_id", "embedding")
        val labels = e.select("vec_id", "label")
        val buildIvf = timed(IvfIndex.build(vecs, "vec_id", "embedding", ivf, ivfP))._2
        val buildPq = timed(IvfPq.build(vecs, "vec_id", "embedding", ivfpq,
          IvfPq.Params(ivf = ivfP, pq = pqP)))._2
        val buildMeta = timed(IvfIndex.buildLabelMeta(
          spark, ivf, "vec_id", "embedding", labels, "label"))._2

        def measure(family: String)(run: => (DataFrame, Option[DataFrame], Option[DataFrame])): Unit = {
          val ((probed, cands), sec) = timedWarm {
            val (r, p, c) = run
            noop(r)
            (p, c)
          }
          val pf = probed.map(_.count().toDouble / (10.0 * nCentroids)).getOrElse(-1.0)
          val ff = cands.map(_.count().toDouble / (10.0 * n)).getOrElse(-1.0)
          emit(scaling,
            s"""{"variant":"$variant","n":$n,"n_centroids":$nCentroids,""" +
              s""""family":"$family","sec":$sec,"probe_frac":$pf,""" +
              s""""fetch_frac":$ff,"build_ivf_sec":$buildIvf,""" +
              s""""build_ivfpq_sec":$buildPq,"build_label_meta_sec":$buildMeta}""")
        }
        def retrieve(layout: IvfLayout, path: String, scope: Option[IvfLayout.LabelScope]) =
          layout.retrieve(spark, path, "vec_id", "embedding", "query_id", "qvec",
            threshold = 0.0, probeWidth = 1)(q, 5, scope)
        measure("ivf_topk") {
          val r = retrieve(IvfIndex, ivf, None)
          (r.topK, Some(r.probed), Some(r.candidates))
        }
        measure("ivfpq_topk") {
          val r = retrieve(IvfPq, ivfpq, None)
          (r.topK, Some(r.probed), Some(r.candidates))
        }
        measure("filtered_topk") {
          val scope = IvfLayout.LabelScope(labels, "label",
            IvfIndex.cachedLabelRadii(spark, ivf, "label").getOrElse(
              IvfIndex.labelRadii(spark, ivf, "vec_id", "embedding", labels, "label")))
          val r = retrieve(IvfIndex, ivf, Some(scope))
          (r.topK, Some(r.probed), None)
        }
        measure("filtered_fallback") {
          // the q113 shape: a near-unique derived label forces the
          // overfetch + escalation machinery; wall time only (its cost
          // is rounds × answer-sized frames, not probe geometry)
          (IvfIndex.queryTopKFiltered(spark, ivf, "vec_id", "embedding",
            q.select(col("query_id"), col("qvec"), pmod(col("query_id"), lit(97)).as("hl")),
            "query_id", "qvec",
            e.select(col("vec_id"), pmod(col("vec_id"), lit(97)).as("hl")), "hl",
            k = 5, threshold = 0.0, probeWidth = 1,
            maxLabelFanout = 16L, refillCap = 32L), None, None)
        }

        if (clustered) {
          val batch = q.select("query_id", "qvec")
          def serve(layout: IvfLayout, path: String): Double = timedWarm(noop(
            layout.queryTopK(spark, path, "vec_id", "embedding", batch, "query_id",
              "qvec", k = 5, threshold = 0.0)))._2
          def deleteSlice(pct: Int): Unit = {
            val dead = e.filter(pmod(col("vec_id"), lit(100)) < pct).select("vec_id")
            Seq(ivf, ivfpq).foreach(IvfIndex.delete(spark, _, "vec_id", dead))
          }
          for (pct <- Seq(0, 1, 10, 30)) {
            if (pct > 0) deleteSlice(pct)
            val (sIvf, sPq) = (serve(IvfIndex, ivf), serve(IvfPq, ivfpq))
            emit(deletion, s"""{"n":$n,"n_centroids":$nCentroids,"tomb_pct":$pct,""" +
              s""""ivf_masked_sec":$sIvf,"ivfpq_masked_sec":$sPq}""")
            if (pct > 0) Seq(ivf, ivfpq).foreach(Tombstones.clear(spark, _))
          }
          deleteSlice(10)
          val Seq(cIvf, cPq) = Seq(ivf, ivfpq).map(p =>
            timed(IvfIndex.compactTombstones(spark, p, "vec_id", "embedding"))._2)
          val (sIvf, sPq) = (serve(IvfIndex, ivf), serve(IvfPq, ivfpq))
          emit(deletion, s"""{"n":$n,"n_centroids":$nCentroids,"tomb_pct":10,""" +
            s""""ivf_compact_sec":$cIvf,"ivfpq_compact_sec":$cPq,""" +
            s""""ivf_post_compact_sec":$sIvf,"ivfpq_post_compact_sec":$sPq}""")
        }
      } finally rm(new java.io.File(root))
    }
    val out = (scaling.result(), deletion.result())
    for ((file, lines) <- Seq("scaling_curve.json" -> out._1, "deletion_curve.json" -> out._2)) {
      val p = java.nio.file.Paths.get(outDir, file)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        lines.map("  " + _).mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    }
    out
  }
}
