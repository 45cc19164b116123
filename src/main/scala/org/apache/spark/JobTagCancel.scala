package org.apache.spark

import scala.concurrent.duration.Duration

import org.apache.spark.util.ThreadUtils

/** Blocking tag cancellation, which Spark keeps package-private: the
  * public `cancelJobsWithTag` only posts the request, so a caller that
  * must not return while a tagged job is still running waits for the
  * scheduler to have failed every job it cancelled.
  */
object JobTagCancel {
  def cancelAndWait(sc: SparkContext, tag: String, reason: String): Unit =
    if (!sc.isStopped)
      ThreadUtils.awaitResult(sc.cancelJobsWithTagWithFuture(tag, reason), Duration.Inf)
}
