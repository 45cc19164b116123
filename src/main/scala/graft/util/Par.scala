package graft.util

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{JobTagCancel, SparkContext}
import org.apache.spark.sql.SparkSession

/** The one way the engine runs independent Spark job chains
  * concurrently (§2.6: overlapping barrier-heavy chains back-fills the
  * cores each one leaves idle).
  *
  * Each branch runs on its own fresh daemon thread, not on a pool: a
  * branch may itself call `Par` (a sharded build runs IVF+PQ builds,
  * each of which runs PQ codebook fits), and a nested blocking join can
  * starve a bounded pool. A fresh thread inherits the caller's Spark
  * local properties, so every job carries the tag `label#i` of its own
  * branch and of every enclosing branch.
  *
  * On the first failure the call cancels the tagged jobs of every
  * branch (nested descendants included), interrupts and joins every
  * branch thread, and rethrows the original exception unchanged, with
  * later failures attached as suppressed. No branch thread and no job
  * it submitted outlives the call.
  */
object Par {
  private val calls = new AtomicLong

  /** Runs `branches` concurrently; returns their results in argument
    * order.
    */
  def all[T](spark: SparkSession, label: String)(branches: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    // cancellation is scoped by a per-call tag, so a failure cannot
    // cancel a concurrent call that happens to use the same label
    val call = calls.incrementAndGet()
    val scopes = branches.indices.map(i => s"par$call#$i")
    val results = new Array[Any](branches.size)
    val failures = new ConcurrentLinkedQueue[Throwable]
    val finished = new LinkedBlockingQueue[Integer]
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() =>
        try {
          sc.addJobTag(s"$label#$i")
          sc.addJobTag(scopes(i))
          results(i) = branch()
        } catch { case e: Throwable => failures.add(e) }
        finally finished.offer(i),
        s"$label#$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try {
      var pending = threads.size
      while (pending > 0 && failures.isEmpty) { finished.take(); pending -= 1 }
    } catch {
      case e: InterruptedException => stop(sc, label, scopes, threads); throw e
    }
    if (!failures.isEmpty) {
      stop(sc, label, scopes, threads)
      val first = failures.poll()
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** Runs two branches of different result types concurrently. */
  def both[A, B](spark: SparkSession, label: String)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all[Any](spark, label)(() => a, () => b)
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  private def stop(
      sc: SparkContext,
      label: String,
      scopes: Seq[String],
      threads: Seq[Thread]): Unit = {
    var interrupted = false
    def uninterruptibly(f: => Unit): Unit = {
      var done = false
      while (!done)
        try { f; done = true }
        catch { case _: InterruptedException => interrupted = true }
    }
    def cancel(): Unit = scopes.foreach(s =>
      uninterruptibly(JobTagCancel.cancelAndWait(sc, s, s"a branch of $label failed")))
    cancel()
    threads.foreach(_.interrupt())
    threads.foreach(t => uninterruptibly(t.join()))
    // a branch interrupted between submitting a job and waiting for it
    // left that job running
    cancel()
    if (interrupted) Thread.currentThread.interrupt()
  }
}
