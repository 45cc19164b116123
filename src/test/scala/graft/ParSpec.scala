package graft

import graft.util.Par
import org.apache.spark.{SpecBus, TaskContext}
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite with SharedSpark {

  private def sc = spark.sparkContext

  /** A job of `tasks` tasks that runs until it is killed (or a minute
    * passes, so a failed cancel shows as a slow test, not a hang).
    */
  private def longJob(tasks: Int): Long =
    sc.parallelize(1 to tasks, tasks).mapPartitions { it =>
      val tc = TaskContext.get()
      val end = System.nanoTime + 60000000000L
      while (!tc.isInterrupted() && System.nanoTime < end) Thread.sleep(20)
      it
    }.count()

  /** Blocks until a job tagged `tag` is running. */
  private def awaitJob(tag: String): Unit = {
    val end = System.nanoTime + 30000000000L
    while (sc.statusTracker.getJobIdsForTag(tag).isEmpty) {
      assert(System.nanoTime < end, s"no job tagged $tag started")
      Thread.sleep(20)
    }
  }

  private def liveThreads(labels: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && labels.exists(l => t.getName.startsWith(s"$l#")))
      .map(_.getName)
  }

  /** Runs `call`, which must throw `boom`, then checks that nothing it
    * started is still running.
    */
  private def assertStopped(boom: Exception, labels: String*)(call: => Any): Unit = {
    val t0 = System.nanoTime
    val thrown = intercept[Exception](call)
    val secs = (System.nanoTime - t0) / 1e9
    assert(thrown eq boom, s"expected the original exception, got $thrown")
    assert(secs < 30, s"siblings were waited out, not cancelled ($secs s)")
    assert(liveThreads(labels: _*).isEmpty)
    SpecBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"jobs outlived the call: ${sc.statusTracker.getActiveJobIds.toSeq}")
  }

  test("a failed branch cancels its sibling's running job and rethrows unchanged") {
    val boom = new IllegalStateException("boom")
    assertStopped(boom, "par.a") {
      Par.all(spark, "par.a")(
        () => { awaitJob("par.a#1"); throw boom },
        () => longJob(2))
    }
  }

  test("the cancel reaches the jobs of a Par nested in a sibling branch") {
    val boom = new IllegalStateException("boom")
    assertStopped(boom, "par.b", "par.b.inner") {
      Par.both(spark, "par.b")(
        Par.all(spark, "par.b.inner")(() => longJob(1), () => longJob(1)),
        { awaitJob("par.b.inner#0"); awaitJob("par.b.inner#1"); throw boom })
    }
  }

  test("results come back in argument order, each branch's jobs under its own tag") {
    val out = Par.all(spark, "par.c")(
      () => { Thread.sleep(300); sc.parallelize(1 to 10, 1).count() },
      () => sc.parallelize(1 to 20, 2).count(),
      () => Par.all(spark, "par.c.inner")(() => sc.parallelize(1 to 30, 3).count()).sum)
    assert(out == Seq(10L, 20L, 30L))
    SpecBus.drain(sc)
    def taskCounts(tag: String): Set[Int] = sc.statusTracker.getJobIdsForTag(tag).toSet
      .flatMap((j: Int) => sc.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq))
      .flatMap((s: Int) => sc.statusTracker.getStageInfo(s).map(_.numTasks))
    assert(taskCounts("par.c#0") == Set(1))
    assert(taskCounts("par.c#1") == Set(2))
    // a nested call's jobs carry the enclosing branch's tag too
    assert(taskCounts("par.c#2") == Set(3))
    assert(taskCounts("par.c.inner#0") == Set(3))
  }
}
