package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners. Lives under
  * `org.apache.spark` solely to satisfy the access qualifier. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
