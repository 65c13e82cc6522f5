package org.apache.spark.graftshim

import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.util.ThreadUtils

/** Access to the `private[spark]` cancel-by-tag that reports when the
  * scheduler has ended the cancelled jobs. Lives under `org.apache.spark`
  * solely to satisfy the access qualifier. */
object JobTags {

  /** Cancel every active job tagged `tag` and wait until the scheduler
    * has ended each of them. */
  def cancelAndWait(sc: SparkContext, tag: String, reason: String): Unit =
    ThreadUtils.awaitResult(sc.cancelJobsWithTagWithFuture(tag, reason),
      Duration.Inf)
}
