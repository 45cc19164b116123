package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Exact Spark job counts of warm calls on a fixed fixture. A job
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

  test("a warm one-cell IvfPq top-k batch (q105's layout) runs 18 jobs") {
    import graft.query.{IvfIndex, IvfPq}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs-pq").toString
    val e = Tables(spark, Sf0001, "embeddings").select("vec_id", "embedding")
    IvfPq.build(e, "vec_id", "embedding", dir,
      IvfPq.Params(ivf = IvfIndex.Params(nCentroids = 1)))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def request(): Unit = {
      IvfPq.queryTopK(spark, dir, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, threshold = 0.0).collect()
      ()
    }
    request()
    val counts = Seq.fill(3)(jobs(request()))
    assert(counts == Seq(18, 18, 18), s"warm one-cell request job counts $counts")
  }

  /** 4 tight clusters on orthogonal axes: with 2 cells each built cell
    * holds two clusters, so every cell is over a 60-row cap.
    */
  private def clustered(n: Long): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(13)
    (0L until n).map { i =>
      val base = Array.fill(8)(0.0f)
      base((i % 4).toInt * 2) = 1.0f
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.08f))
    }.toDF("vec_id", "embedding")
  }

  /** Jobs of `op` on three fresh indexes made by `fixture`, after one
    * warm-up run on a fourth: a maintenance pass mutates its index, so
    * each counted run gets its own copy.
    */
  private def warmPassJobs(fixture: String => Unit)(op: String => Any): Seq[Int] = {
    val dirs = Seq.fill(4) {
      val d = java.nio.file.Files.createTempDirectory("graft-jobs-pass").toString
      fixture(d)
      d
    }
    op(dirs.head)
    dirs.tail.map(d => jobs(op(d)))
  }

  test("a warm plain-IVF splitHotCells pass runs 19 jobs") {
    import graft.query.IvfIndex
    val e = clustered(200L)
    val counts = warmPassJobs(
      IvfIndex.build(e, "vec_id", "embedding", _, IvfIndex.Params(nCentroids = 2))) { d =>
      assert(IvfIndex.splitHotCells(spark, d, "vec_id", "embedding", 60L).split.nonEmpty)
    }
    assert(counts == Seq.fill(3)(19), s"warm split job counts $counts")
  }

  test("a warm composed compactTombstones pass runs 18 jobs") {
    import graft.query.{IvfIndex, IvfPq, PqIndex}
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val e = clustered(200L)
    val counts = warmPassJobs { d =>
      IvfPq.build(e, "vec_id", "embedding", d, IvfPq.Params(
        ivf = IvfIndex.Params(nCentroids = 4),
        pq = PqIndex.Params(dim = 8, numSub = 4, codebookSize = 8)))
      IvfIndex.delete(spark, d, "vec_id",
        e.filter(pmod(col("vec_id"), lit(8)) === 2).select("vec_id"))
    } { d =>
      assert(IvfIndex.compactTombstones(spark, d, "vec_id", "embedding").rowsRemoved == 25L)
    }
    assert(counts == Seq.fill(3)(18), s"warm compaction job counts $counts")
  }
}
