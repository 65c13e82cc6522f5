package org.apache.spark.sql.execution.graftshim

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference,
  Expression}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{HashedRelation, HashedRelationBroadcastMode}

/** Access to the `private[execution]` hash relation a broadcast join
  * builds. Lives under `org.apache.spark.sql.execution` solely to satisfy
  * the access qualifier. */
object BroadcastKeys {

  /** Whether `plan` is a finished broadcast stage whose hash relation is
    * keyed by `keys` (over `output`, the stage's rows) and holds each key
    * at most once. Reads the driver's copy of the relation: no Spark job. */
  def unique(plan: SparkPlan, keys: Seq[Expression], output: Seq[Attribute]): Boolean =
    plan match {
      case b: BroadcastQueryStageExec if b.isMaterialized => b.broadcast match {
        case e @ BroadcastExchangeExec(HashedRelationBroadcastMode(k, _), _)
            if e.relationFuture.isDone =>
          Try(BindReferences.bindReferences(keys, output)).toOption.exists(bound =>
            bound.map(nullable) == k.map(nullable)) &&
            (e.relationFuture.get().value match {
              case h: HashedRelation => h.keyIsUnique
              case _ => false
            })
        case _ => false
      }
      case _ => false
    }

  /** `e` canonical, its bound inputs nullable: the physical plan learns
    * from filters that a column holds no null, the logical plan does not. */
  private def nullable(e: Expression): Expression =
    e.transform { case b: BoundReference => b.copy(nullable = true) }.canonicalized
}
