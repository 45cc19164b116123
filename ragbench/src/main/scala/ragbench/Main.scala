package ragbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <serve|curate> --seed <n> --seconds <s> --trace <0|1> --work <dir> --report <file>
  * }}}
  *
  * Untraced (`--trace 0`): set up the workload, then run its operation
  * in a closed loop (one client, no think time) for `--seconds`, and
  * print the end-to-end metrics. Traced (`--trace 1`): with a Spark
  * listener registered, set up and run every workload, alternating
  * untraced and traced operations, and print the per-layer metrics;
  * the untraced/traced difference is the tracing overhead. The last
  * line of standard output is the result object; the full record
  * (samples, tails, spans, jobs) goes to `--report`.
  */
object Main {

  /** The module-level spans each workload's report breaks time down by. */
  val Layers: Map[String, Seq[String]] = Map(
    "serve" -> Seq("build.ingest", "build.build_ivf", "build.build_lex", "churn.delete",
      "serve.hybrid_retrieve", "serve.hybrid_fetch", "serve.embed",
      "serve.ivf_retrieve", "serve.ivf_fetch", "serve.assemble"),
    "curate" -> Seq("minhash_neardup", "dedup_clusters", "clean_corpus", "repeated_passages",
      "heavy_hitters", "source_overlap", "decontamination").map("curate." + _))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, report: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("report"))
    require(a.workload == Train || Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  /** Pseudo-workload that runs the set-up and one traced operation of
    * every workload and reports nothing: a JVM class-loading pass whose
    * loaded classes the launcher archives for later runs.
    */
  val Train = "train"

  final case class Loop(walls: Seq[Double], tracedWalls: Seq[Double], items: Long,
      attempted: Int, failedOps: Int, failures: Seq[String])

  /** Registers `listener` while tracing is on. Before it is removed, the
    * bus is drained so every job it saw start is also seen to end.
    */
  final class Listening(spark: SparkSession, listener: JobListener) {
    private var on = false
    def set(enable: Boolean): Unit = if (enable != on) {
      if (enable) spark.sparkContext.addSparkListener(listener)
      else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      on = enable
    }
  }

  /** Run `w`'s operation in a closed loop (one client, no think time)
    * until `seconds` have passed and at least `w.minOps` operations ran.
    * When tracing, operation 0 is an untraced warm-up that is not
    * counted, then operations run traced, untraced, untraced, traced (and
    * so on), so a warm-up trend cancels out of the tracing overhead. Each
    * operation is an `op` span.
    */
  def loop(w: Workload, t: Tracer, seconds: Double, tracing: Option[Listening]): Loop = {
    val walls = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Double]
    var items = 0L
    var attempted = 0
    var failedOps = 0
    val failures = Vector.newBuilder[String]
    val minOps = if (tracing.isDefined) 5 else w.minOps
    val t0 = System.nanoTime()
    while (attempted < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = attempted
      val tracedOp = tracing.isDefined && i > 0 && Set(0, 3)((i - 1) % 4)
      val counted = tracing.isEmpty || i > 0
      tracing.foreach(_.set(tracedOp))
      t.recording = tracing.isEmpty || tracedOp
      attempted += 1
      w.prepare(i)
      val s = System.nanoTime()
      val outcome = try Right(t.span("op", w.name, i)(w.op(i))) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - s) / 1e9
      val errs = outcome match {
        case Right(check) =>
          val r = check()
          if (counted) {
            items += r.items
            if (tracedOp) traced += wall else walls += wall
          }
          r.failures
        case Left(e) => Seq(s"${e.getClass.getName}: ${e.getMessage}")
      }
      if (errs.nonEmpty) failedOps += 1
      failures ++= errs.map(f => s"op $i: $f")
    }
    t.recording = true
    val l = Loop(walls.result(), traced.result(), items, attempted, failedOps, failures.result())
    l.failures.foreach(f => System.err.println(s"[ragbench] ${w.name} $f"))
    if (l.walls.isEmpty) throw new IllegalStateException(s"every ${w.name} operation failed")
    l
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val listener = new JobListener()
    val builder = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[ragbench] session up in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val tracing = if (a.trace || a.workload == Train) Some(new Listening(spark, listener)) else None
    tracing.foreach(_.set(true))
    val report = new Report()
    if (a.workload == Train) {
      try Workloads.Names.foreach { name =>
        val w = Workloads(name, spark, new Tracer(), s"${a.work}/$name", a.seed)
        w.setup()
        w.prepare(0)
        w.op(0)()
      } finally spark.stop()
      return
    }
    try {
      val t = new Tracer()
      val w = Workloads(a.workload, spark, t, s"${a.work}/${a.workload}", a.seed)
      val setupFailures = t.span("setup", w.name)(w.setup())
      setupFailures.foreach(f => System.err.println(s"[ragbench] ${w.name} setup: $f"))
      val setupS = (System.nanoTime() - t0) / 1e9
      val l = loop(w, t, a.seconds, tracing)
      tracing.foreach(_.set(false))
      val spans = t.all
      val (costs, orphans) =
        if (a.trace) Attribution.charge(spans.filterNot(s => Report.Scopes(s.phase)), listener.jobs)
        else (Nil, Nil)
      val scopes = if (a.trace) Attribution.charge(spans.filter(s => Report.Scopes(s.phase)), listener.jobs)._1 else Nil
      report.workload(w, setupS, l, spans, costs, orphans)
      report.printDetail(w, spans, costs, l)
      val metrics =
        if (a.trace) Report.scopeMetrics(scopes, l.items.toDouble / (l.walls.size + l.tracedWalls.size)) :+
          (("jvm.peak_rss_mb", Report.peakRssMb(), "MB"))
        else Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", Stats.median(l.walls), "s"),
          ("items_per_s", l.items / (l.walls.sum + l.tracedWalls.sum), "1/s"))
      report.result(setupFailures, l, metrics)
    } finally {
      System.err.println(f"[ragbench] measured in ${(System.nanoTime() - t0) / 1e9}%.1f s; stopping Spark")
      spark.stop()
    }
    report.write(a.report)
    println(report.resultLine)
    System.err.println(f"[ragbench] done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
