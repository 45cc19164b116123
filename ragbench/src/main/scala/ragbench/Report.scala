package ragbench

import scala.collection.mutable

/** Minimal JSON rendering for the result line and the report file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a finite number: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}

/** Collects what a run measured: the result line's metrics and, for
  * the report file, the workload's samples, tails, spans and jobs.
  */
final class Report {
  private val fields = mutable.ArrayBuffer[(String, String)]()
  private var line = ""

  private def latency(xs: Seq[Double]) = Json.obj(Seq(
    "samples" -> Json.num(xs.size),
    "p50_s" -> (if (xs.isEmpty) "null" else Json.num(Stats.median(xs))),
    "tail" -> Stats.tail(xs).map { case (p, v) =>
      Json.obj(Seq("percentile" -> Json.num(p), "s" -> Json.num(v)))
    }.getOrElse("null"),
    "values_s" -> Json.arr(xs.map(Json.num))))

  private def numbers(m: Map[String, Double]) =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })

  def workload(w: Workload, setupS: Double, l: Main.Loop, spans: Seq[Span],
      costs: Seq[SpanCost], orphans: Seq[Job]): Unit = {
    fields ++= Seq(
      "workload" -> Json.str(w.name),
      "inputs" -> numbers(w.facts),
      "setup_s" -> Json.num(setupS),
      "attempted" -> Json.num(l.attempted),
      "failures" -> Json.arr(l.failures.map(Json.str)),
      "op_latency" -> latency(l.walls),
      // per span key, the latency of each call, with its sample count and tail
      "span_latency" -> Json.obj(spans.groupBy(_.key).toSeq.sortBy(_._1).map {
        case (k, ss) => k -> latency(ss.map(_.micros / 1e6))
      }),
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "name" -> Json.str(s.key), "request" -> Json.num(s.request), "parent" -> Json.str(s.parent),
        "start_us" -> Json.num(s.start), "end_us" -> Json.num(s.end))))))
    if (l.tracedWalls.nonEmpty) fields ++= Seq(
      "traced_op_latency" -> latency(l.tracedWalls),
      "tracing_overhead_s" -> Json.num(Report.overhead(l)),
      "span_coverage" -> Json.num(Report.coverage(spans, l)),
      "layers" -> numbers(Report.layerMetrics(costs)),
      "ratios" -> numbers(w.ratios(costs)),
      "unattributed_jobs" -> Json.num(orphans.size),
      "jobs" -> Json.arr(costs.flatMap(c => c.jobs.map(j => Json.obj(Seq(
        "span" -> Json.str(c.span.key), "request" -> Json.num(c.span.request),
        "job" -> Json.num(j.id), "start_us" -> Json.num(j.start), "end_us" -> Json.num(j.end),
        "call_site" -> Json.str(j.callSite), "task_us" -> Json.num(j.taskMicros),
        "shuffle_bytes" -> Json.num(j.shuffleBytes), "rows_read" -> Json.num(j.rowsRead),
        "rows_written" -> Json.num(j.rowsWritten)))))))
  }

  /** Human-readable lines ahead of the result line: the workload's own
    * end-to-end figures with their sample counts and tails and, when
    * traced, each module span's per-layer figures.
    */
  def printDetail(w: Workload, spans: Seq[Span], costs: Seq[SpanCost], l: Main.Loop): Unit = {
    def show(x: Double) = f"$x%.4f"
    for ((name, xs, unit) <- w.figures(spans, l)) {
      val tail = Stats.tail(xs).map { case (p, v) => s" p$p=${show(v)}" }.getOrElse("")
      println(s"[e2e] $name ${show(Stats.median(xs))} $unit (samples=${xs.size}$tail)")
    }
    if (l.tracedWalls.nonEmpty) {
      val layers = Report.layerMetrics(costs)
      for (key <- Main.Layers(w.name)) println(s"[layer] $key " + Report.Kinds.map {
        case (kind, unit) => s"$kind=${layers.get(s"$key.$kind").map(show).getOrElse("-")}$unit"
      }.mkString(" "))
      for ((k, v) <- w.ratios(costs).toSeq.sortBy(_._1)) println(s"[layer] $k ${show(v)} ${Report.ratioUnit(k)}")
      println(s"[trace] overhead ${show(Report.overhead(l))} s per operation; " +
        s"spans cover ${show(100 * Report.coverage(spans, l))}% of traced operation time")
    }
  }

  /** The result line: `correct` when no set-up check or operation
    * failed; the set-up counts as one attempted operation.
    */
  def result(setupFailures: Seq[String], l: Main.Loop, metrics: Seq[(String, Double, String)]): Unit = {
    val failed = setupFailures.size.min(1) + l.failedOps
    line = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> Json.num(1 + l.attempted),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    if (setupFailures.nonEmpty) fields += "setup_failures" -> Json.arr(setupFailures.map(Json.str))
  }

  def resultLine: String = line

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val body = Json.obj(fields.toSeq :+ ("result" -> (if (line.isEmpty) "null" else line)))
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    ()
  }
}

object Report {
  /** Span phases that enclose others: the whole set-up and each operation. */
  val Scopes: Set[String] = Set("setup", "op")

  /** Per-layer kinds reported for every span, with their units. */
  val Kinds: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "task_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB")

  private def kinds(prefix: String, cs: Seq[SpanCost]): Seq[(String, Double)] = {
    def med(f: SpanCost => Double) = Stats.median(cs.map(f))
    Seq(
      s"$prefix.wall_s" -> med(_.span.micros / 1e6),
      s"$prefix.driver_s" -> med(_.driverMicros / 1e6),
      s"$prefix.task_s" -> med(_.taskMicros / 1e6),
      s"$prefix.jobs" -> med(_.jobs.size.toDouble),
      s"$prefix.shuffle_mb" -> med(_.shuffleBytes / 1e6))
  }

  /** Median per call of each kind, per module span key. */
  def layerMetrics(costs: Seq[SpanCost]): Map[String, Double] =
    costs.groupBy(_.span.key).toSeq.flatMap { case (key, cs) => kinds(key, cs) }.toMap

  /** The result line's per-layer metrics: the set-up's and the median
    * traced operation's time split into driver, executor, scheduler and
    * shuffle work, plus rows scanned per unit of work.
    */
  def scopeMetrics(scopes: Seq[SpanCost], itemsPerOp: Double): Seq[(String, Double, String)] = {
    val units = Kinds.toMap
    val ops = scopes.filter(_.span.phase == "op")
    (kinds("setup", scopes.filter(_.span.phase == "setup")) ++ kinds("op", ops))
      .map { case (k, v) => (k, v, units(k.split('.').last)) } :+
      (("op.rows_read_per_item", Stats.median(ops.map(_.rowsRead.toDouble)) / itemsPerOp, "rows/item"))
  }

  /** Median traced operation minus median untraced operation. */
  def overhead(l: Main.Loop): Double = Stats.median(l.tracedWalls) - Stats.median(l.walls)

  /** Share of the traced operations' wall time their module spans cover. */
  def coverage(spans: Seq[Span], l: Main.Loop): Double =
    spans.filter(s => s.request >= 0 && !Scopes(s.phase)).map(_.micros).sum / 1e6 / l.tracedWalls.sum

  def ratioUnit(key: String): String =
    if (key.endsWith("stored_mb")) "MB"
    else if (key.endsWith("_per_q")) "rows/q"
    else "rows/row"

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
