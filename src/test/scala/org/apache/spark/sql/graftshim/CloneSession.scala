package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test access to the `private[sql]` `cloneSession()`, the session a
  * streaming `foreachBatch` body runs under. Lives under
  * `org.apache.spark.sql` solely to satisfy the access qualifier. */
object CloneSession {
  def apply(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
