package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session wiring for graft's plan rules. */
object GraftPlans {

  /** The physical rules, added to a session builder through
    * `withExtensions` ([[graft.GraftSession.recommended]] does it). Spark
    * builds every session of that builder from its extensions, so each
    * `newSession()` keeps them. */
  def extensions(e: SparkSessionExtensions): Unit =
    e.injectQueryStagePrepRule(_ => SmallSortExchange)

  /** Adds [[NanosTimestampPushdown]] to the session's extra optimizations.
    * They belong to one session: call it again on a `newSession()`. */
  def install(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraOptimizations.contains(NanosTimestampPushdown))
      classic.experimental.extraOptimizations =
        classic.experimental.extraOptimizations :+ NanosTimestampPushdown
  }
}
