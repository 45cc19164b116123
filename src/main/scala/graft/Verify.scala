package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Pre-clean: a query failing BEFORE its overwrite starts would
    // otherwise leave a stale result from a previous run in place, and
    // the downstream compare would pass falsely on old data.
    val outRoot = new java.io.File(outDir)
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete()
    }
    if (outRoot.exists()) deleteRec(outRoot)
    outRoot.mkdirs()
    // 4 queries in flight: actions are thread-safe on one SparkSession,
    // outputs go to disjoint directories, and overlapping the many small
    // single-partition writes roughly halves the wall time. Daemon
    // threads + finally so an escaping error exits instead of hanging
    // the JVM on non-daemon workers.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    try {
      val tasks = SparkEntry.queries.toSeq.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // caller-owned persist lifecycle: release the session-shared dedup
    // caches (minhash signatures + verified pairs) before stopping
    graft.pipeline.Dedup.unpersistSigs(spark, sfDir)
    spark.stop()
  }
}
