package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: make time predicates on nanosecond-precision parquet
  * columns pushable.
  *
  * Sources with TIMESTAMP(NANOS) parquet columns are read as raw longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and converted with
  * `timestamp_micros(ts div 1000)`. A filter like
  * `timestamp_micros(ts div 1000) >= T` then wraps the column in an
  * expression, so the parquet scan gets only `IsNotNull` pushed and reads
  * the full table — at 100 TB that is the difference between pruning row
  * groups server-side and scanning everything.
  *
  * This rule rewrites such comparisons into raw-long bounds (exact
  * integer algebra on `floor(ns / 1000)`, positive-epoch domain):
  *   µs(ns div 1000) >= T  ⇔  ns >= T·1000
  *   µs(ns div 1000) >  T  ⇔  ns >  T·1000 + 999
  *   µs(ns div 1000) <= T  ⇔  ns <= T·1000 + 999
  *   µs(ns div 1000) <  T  ⇔  ns <  T·1000
  *   µs(ns div 1000) =  T  ⇔  ns between T·1000 and T·1000+999
  * which Catalyst then pushes to the scan as plain column comparisons.
  * Skipped on multiplication overflow (timestamps near the year-2262
  * ns-epoch ceiling).
  *
  * Inject per session:
  *   GraftPlans.install(spark)   // adds to experimental.extraOptimizations
  */
object NanosTimestampPushdown extends Rule[LogicalPlan] {

  /** Matches timestamp_micros(`ns` div 1000) and yields `ns`. */
  private object NsAsTimestamp {
    def unapply(e: Expression): Option[Expression] = e match {
      case MicrosToTimestamp(IntegralDivide(ns, Literal(d: Long, LongType), _))
          if d == 1000L && ns.dataType == LongType => Some(ns)
      case MicrosToTimestamp(Cast(IntegralDivide(ns, Literal(d: Long, LongType), _), _, _, _))
          if d == 1000L && ns.dataType == LongType => Some(ns)
      case _ => None
    }
  }

  private def usLit(e: Expression): Option[Long] = e match {
    case Literal(us: Long, TimestampType) => Some(us)
    case _ => None
  }

  private def nsOf(us: Long, offset: Long): Option[Long] = {
    val hi = us * 1000L
    // overflow check for |us| > Long.Max/1000
    if (us != 0 && hi / us != 1000L) None else Some(hi + offset)
  }

  private def lit(ns: Long): Expression = Literal(ns, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case e @ GreaterThanOrEqual(NsAsTimestamp(ns), r) if usLit(r).isDefined =>
      nsOf(usLit(r).get, 0).map(b => GreaterThanOrEqual(ns, lit(b)): Expression).getOrElse(e)
    case e @ GreaterThan(NsAsTimestamp(ns), r) if usLit(r).isDefined =>
      nsOf(usLit(r).get, 999).map(b => GreaterThan(ns, lit(b)): Expression).getOrElse(e)
    case e @ LessThanOrEqual(NsAsTimestamp(ns), r) if usLit(r).isDefined =>
      nsOf(usLit(r).get, 999).map(b => LessThanOrEqual(ns, lit(b)): Expression).getOrElse(e)
    case e @ LessThan(NsAsTimestamp(ns), r) if usLit(r).isDefined =>
      nsOf(usLit(r).get, 0).map(b => LessThan(ns, lit(b)): Expression).getOrElse(e)
    case e @ EqualTo(NsAsTimestamp(ns), r) if usLit(r).isDefined =>
      (for {
        lo <- nsOf(usLit(r).get, 0); hi <- nsOf(usLit(r).get, 999)
      } yield And(GreaterThanOrEqual(ns, lit(lo)),
        LessThanOrEqual(ns, lit(hi))): Expression).getOrElse(e)
    // literal-on-left orientations (lit ⋈ col ⇔ col ⋈⁻¹ lit)
    case e @ GreaterThanOrEqual(l, NsAsTimestamp(ns)) if usLit(l).isDefined =>
      nsOf(usLit(l).get, 999).map(b => LessThanOrEqual(ns, lit(b)): Expression).getOrElse(e)
    case e @ GreaterThan(l, NsAsTimestamp(ns)) if usLit(l).isDefined =>
      nsOf(usLit(l).get, 0).map(b => LessThan(ns, lit(b)): Expression).getOrElse(e)
    case e @ LessThanOrEqual(l, NsAsTimestamp(ns)) if usLit(l).isDefined =>
      nsOf(usLit(l).get, 0).map(b => GreaterThanOrEqual(ns, lit(b)): Expression).getOrElse(e)
    case e @ LessThan(l, NsAsTimestamp(ns)) if usLit(l).isDefined =>
      nsOf(usLit(l).get, 999).map(b => GreaterThan(ns, lit(b)): Expression).getOrElse(e)
    case e @ EqualTo(l, NsAsTimestamp(ns)) if usLit(l).isDefined =>
      (for {
        lo <- nsOf(usLit(l).get, 0); hi <- nsOf(usLit(l).get, 999)
      } yield And(GreaterThanOrEqual(ns, lit(lo)),
        LessThanOrEqual(ns, lit(hi))): Expression).getOrElse(e)
  }
}
