package graft.tools

import graft.{SparkEntry, Tables}

/** Whole-suite duplicated-scan audit (guide §1.2 / §2.4): for every
  * declared query, counts how many times the PLANNED physical tree
  * scans each parquet location, and flags queries that compile ≥ 2
  * scans of the same table. A repeated scan is not automatically a bug
  * (AQE stage reuse dedupes canonically-identical subtrees at runtime,
  * and some shapes — q92/q101's two corpus windowing passes — are the
  * documented §5-safe floor), but every flagged row should have a
  * disposition: this is how the q76 four-planned-scans defect was
  * confirmed. Diagnostics-only main — never on any query path.
  *
  * Usage: SPARK_GRAFT_AUDIT_Q=q76,... (optional filter)
  *        runMain graft.tools.ScanAudit [sfDir]
  *
  * Note: CONSTRUCTING a query's frame runs its eager prelude (index
  * buildOnce, probe-selection collects, checkpoints), so a full audit
  * costs about one bench sweep's build phase.
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val excluded = Set("q14_ngram_jaccard", "q20_cosine_neardup",
      "q69_zorder_layout")
    val only = sys.env.get("SPARK_GRAFT_AUDIT_Q")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val loc = """Location: \S+ \[([^\]]*)""".r
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => excluded(n) }
      .filter { case (n, _) => only.forall(_(n)) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          // group by the FULL location (distinct per-shard dirs share a
          // basename and must not be conflated), display the last two
          // path segments
          val counts = loc.findAllMatchIn(plan)
            .map(_.group(1)).toSeq
            .groupBy(identity).view.mapValues(_.size)
            .toSeq.sortBy(-_._2)
            .map { case (p, c) => (p.split("/").takeRight(2).mkString("/"), c) }
          val flagged = counts.filter(_._2 >= 2)
          val summary = counts.map { case (t, c) => s"$t=$c" }.mkString(" ")
          val tag = if (flagged.nonEmpty) "REPEAT" else "ok"
          println(s"[scan-audit] $tag $name $summary")
        } catch {
          case e: Throwable =>
            println(s"[scan-audit] ERROR $name ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
