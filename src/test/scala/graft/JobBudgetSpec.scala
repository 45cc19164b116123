package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Exact Spark job counts of warm serve calls on a fixed fixture. A job
  * count is deterministic where wall time on a shared box is not, and at
  * serving sizes latency follows it almost one for one. A change that
  * lowers a count updates its pin; one that raises it says why.
  */
class JobBudgetSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Jobs started while `body` runs, counted once the bus has drained. */
  private def jobs(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.SpecBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a warm plain-IVF batch request with a pending delete runs 12 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val client = new GraftClient(spark,
      GraftClient.Config(chunkSize = 200, chunkOverlap = 40, embedDim = 64))
    val docs = Seq(
      (1L, "## Context\nThe graft engine indexes MDX documentation for retrieval.\n" +
        "## Usage\nCall ingest then query with an embedded question string.\n"),
      (2L, "## Context\nSpark pipelines shuffle data between stages by key.\n" +
        "## Tuning\nBroadcast small tables and let AQE handle skewed joins.\n"))
    client.ingest(docs.toDF("doc_id", "mdx"), "doc_id", "mdx", s"$dir/index")
    client.buildQueryIndex(s"$dir/index", s"$dir/ann")
    client.deleteRows(s"$dir/ann", Seq(0L).toDF("row_id"))
    // a checkpointed question batch, as a serving process holds one
    val queries = Seq(
        "HEADER: Usage | CONTENT: Call ingest then query with an embedded question string.",
        "HEADER: Tuning | CONTENT: Broadcast small tables and let AQE handle skewed joins.",
        "completely unrelated probe text with no matching chunk")
      .zipWithIndex.map { case (p, i) => (i.toLong, client.embedText(p)) }
      .toDF("query_id", "qvec").localCheckpoint()
    def request(): Unit = {
      client.queryIndexedBatch(s"$dir/ann", queries, "query_id", "qvec",
        threshold = 0.0, count = 3).collect()
      ()
    }
    request()
    val counts = Seq.fill(3)(jobs(request()))
    assert(counts == Seq(12, 12, 12), s"warm request job counts $counts")
  }
}
