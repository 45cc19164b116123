package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-query profiling harness for the optimization rounds (guide §1:
  * measure first). Runs each named declared query through the noop sink
  * twice (cold run prices any buildOnce artifact, warm run is the
  * headline shape), records per-stage wall/task/shuffle metrics via a
  * SparkListener, prints the top stages of each run, and optionally
  * dumps `.explain("formatted")` to `plans/<round>/<query>_<suffix>.txt`
  * (the judge-facing plan evidence). Diagnostics-only main — never on
  * any query path.
  *
  * Env: SPARK_GRAFT_PROFILE_Q (comma list, required),
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS (the bench contract),
  * SPARK_GRAFT_PLAN_OUT (e.g. "plans/r21/%s_before.txt"; %s = query).
  */
object ProfileRun {

  private case class St(
      id: Int,
      name: String,
      wallMs: Long,
      taskMs: Long,
      shufReadMb: Double,
      shufWriteMb: Double,
      inputMb: Double,
      tasks: Int)

  def main(args: Array[String]): Unit = {
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE_Q", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, "set SPARK_GRAFT_PROFILE_Q=q..,q..")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planOut = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // JVM/codegen warmup (the Bench discipline)
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()

    val buf = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        buf.add(St(si.stageId, si.name.takeWhile(_ != '\n'), wall,
          m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6,
          si.numTasks))
      }
    })

    val fns = SparkEntry.queries
    names.foreach { name =>
      val fn = fns(name)
      (1 to 2).foreach { run =>
        buf.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(700) // listener bus drain
        val stages = {
          import scala.jdk.CollectionConverters._
          buf.asScala.toVector
        }
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
          java.nio.file.Files.write(p,
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode).getBytes("UTF-8"))
          println(s"  [plan] wrote $p")
        }
      }
    }
    graft.pipeline.Dedup.unpersistSigs(spark, sfDir)
    spark.stop()
  }
}
