package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayTransform, Attribute, Cast,
  CreateArray, CreateNamedStruct, ExplodeBase, Expression, ExpressionSet, ExtractValue, Inline,
  JsonToStructs, Literal, StringSplit}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.execution.graftshim.BroadcastKeys
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, MapType, ObjectType}

/** Query-stage preparation rule: a global sort whose input is small sorts
  * in one partition.
  *
  * Under a global `orderBy`, `EnsureRequirements` inserts a range-
  * partitioned exchange. Before that exchange can shuffle, Spark runs a
  * sampling job (`RangePartitioner.sketch`) that evaluates the sort's
  * whole input once more, only to pick partition bounds. Most results of
  * this package are small ordered tables (summaries, roll-ups, calendars,
  * tracks), and under `coalescePartitions.parallelismFirst=false` adaptive
  * execution coalesces a shuffle of up to `advisoryPartitionSizeInBytes`
  * into one partition anyway. So for an input estimated at or below that
  * size the rule swaps the range partitioning for a single partition: the
  * rows, their order and the final partition count stay the same, and the
  * sampling job and the second evaluation of the input go away. Larger
  * inputs keep the range exchange, and with it their parallel sort.
  *
  * The estimate is an upper bound wherever Spark's size statistics fall
  * short by more than a row's width, so that a large input is not sent
  * to one task:
  *   - a join is at most the product of its inputs' row counts times the
  *     joined row width. When one side holds each join key once, each row
  *     of the other side meets at most one of its rows, and the bound is
  *     the sum of the row counts times that width: the side's distinct
  *     keys cover the join keys (an aggregate by the key, say), or it is a
  *     finished broadcast whose hash relation found each key once (a
  *     dimension table joined on its primary key);
  *   - an `explode` or `inline` of an array its input rows hold (or that
  *     `split`, `from_json` or `transform` makes of them) emits at most one
  *     row per input row and byte. Any other node that may emit more rows than it
  *     reads (a `sequence` exploded, a `flatMap`, a grouped map) has no
  *     bound, and its sort keeps the range exchange;
  *   - every other node keeps Spark's ratio of its size to its inputs'.
  * Like all of Spark's statistics, the estimate counts a string, array or
  * map value computed inside the stage at its type's default width.
  * Row counts are the runtime counts of finished stages where known; a
  * stage still running, or a cached frame not yet filled, is estimated
  * from the plan that computes it. Adaptive execution applies the rule
  * after `EnsureRequirements` at first planning and again at each
  * re-optimization, where finished stages carry their runtime sizes. The
  * rule rewrites only exchanges that
  * `EnsureRequirements` made, and never adds one: `repartitionByRange`
  * keeps its exchange, a sort under a limit (`TakeOrderedAndProject`) has
  * none, and a sort over an input that is already one partition (a global
  * aggregate) gets none. Without coalescing to the advisory size the rule
  * would change the partition count, so it then leaves every plan alone.
  *
  * Installed per session builder by [[GraftPlans.extensions]]. */
object SmallSortExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = threshold match {
    case None => plan
    case Some(max) => plan.transformUp {
      case e @ ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _)
          if child.logicalLink.flatMap(size).exists(_ <= max) =>
        e.copy(outputPartitioning = SinglePartition)
    }
  }

  /** An upper estimate of `p`'s size in bytes; None when unbounded. */
  private def size(p: LogicalPlan): Option[BigInt] = p match {
    case s: LogicalQueryStage if !s.isMaterialized => size(s.logicalPlan)
    case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
      size(r.cacheBuilder.logicalPlan)
    case _: LeafNode => Some(p.stats.sizeInBytes)
    case j: Join => j.joinType match {
      case LeftSemi | LeftAnti | ExistenceJoin(_) => size(j.left)
      case _ =>
        for (l <- rows(j.left); r <- rows(j.right))
          yield (if (oneMatch(j)) l + r else l * r) * (width(j.left) + width(j.right))
    }
    case g: Generate if stored(g) =>
      for (b <- size(g.child); n <- rows(g.child)) yield (n + b) * width(g)
    case _ if bounded(p) =>
      val ours = p.children.map(size)
      Option.when(ours.forall(_.isDefined)) {
        val spark = p.children.map(_.stats.sizeInBytes).sum
        if (spark <= 0) ours.flatten.sum
        else p.stats.sizeInBytes * ours.flatten.sum / spark
      }
    case _ => None
  }

  /** Nodes that emit no more rows than their inputs hold, or (an `Expand`)
    * a count Spark's statistics already multiply in. */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: Aggregate | _: Sort | _: Window | _: Distinct |
         _: Deduplicate | _: Union | _: Intersect | _: Except | _: Expand |
         _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset | _: Sample |
         _: Repartition | _: RepartitionByExpression | _: RebalancePartitions |
         _: SubqueryAlias | _: ResolvedHint | _: WindowGroupLimit => true
    case _ => false
  }

  /** Whether `g` explodes an array of at most one element per byte of
    * its input rows: then it emits at most one row per input row (for an
    * empty or null array) and byte. Other arrays (a `sequence`, say) are
    * not bounded by their input. */
  private def stored(g: Generate): Boolean = g.generator match {
    case e: ExplodeBase => fromInput(e.child, g.child)
    case i: Inline => fromInput(i.child, g.child)
    case _ => false
  }

  /** Whether every array in `e`, over the rows of `p`, has at most one
    * element per byte those rows hold: data of the rows, parts of it,
    * `split` or `from_json` of it, `transform`s of it, and structs and
    * JSON (`to_json`, as the optimizer rewrites it) built of such values
    * and scalar literals. An attribute is followed through the
    * projections and filters that define it; one that another node
    * outputs is data of the rows. */
  private def fromInput(e: Expression, p: LogicalPlan): Boolean = (e, p) match {
    case (a: Attribute, Project(list, child)) =>
      list.collectFirst { case d: Alias if d.exprId == a.exprId => d.child }
        .fold(fromInput(a, child))(fromInput(_, child))
    case (a: Attribute, Filter(_, child)) => fromInput(a, child)
    case (_: Attribute, _) => true
    case (l: Literal, _) => l.dataType match {
      case _: ArrayType | _: MapType => false
      case _ => true
    }
    case (_: ExtractValue | _: Cast, _) => fromInput(e.children.head, p)
    case (j: JsonToStructs, _) => !j.child.foldable && fromInput(j.child, p)
    case (StringSplit(str, _, _), _) => !str.foldable && fromInput(str, p)
    case (t: ArrayTransform, _) => fromInput(t.argument, p)
    case (_: CreateArray, _) => e.children.forall(c => !c.foldable && fromInput(c, p))
    case (s: CreateNamedStruct, _) => s.valExprs.forall(fromInput(_, p))
    case (i: Invoke, _) if i.targetObject.dataType == ToJson => i.arguments.forall(fromInput(_, p))
    case _ => false
  }

  private val ToJson = ObjectType(classOf[StructsToJsonEvaluator])

  /** Whether one side of `j` holds at most one row per join key. */
  private def oneMatch(j: Join): Boolean = j match {
    case ExtractEquiJoinKeys(_, lk, rk, _, _, l, r, _) => unique(l, lk) || unique(r, rk)
    case _ => false
  }

  /** Whether `p` holds each value of `keys` once: its distinct keys
    * cover them (a query stage reports none, so they are read from the
    * plans the stages ran), or it is a finished broadcast whose hash
    * relation on `keys` found each key once. */
  private def unique(p: LogicalPlan, keys: Seq[Expression]): Boolean =
    p.transformUp { case s: LogicalQueryStage => s.logicalPlan }
      .distinctKeys.exists(_.subsetOf(ExpressionSet(keys))) || (p match {
        case s: LogicalQueryStage => BroadcastKeys.unique(s.physicalPlan, keys, s.output)
        case _ => false
      })

  /** A finished stage's runtime row count, else size over row width. */
  private def rows(p: LogicalPlan): Option[BigInt] = p match {
    case s: LogicalQueryStage if s.isMaterialized && s.stats.rowCount.isDefined =>
      s.stats.rowCount
    case _ => size(p).map(b => (b / width(p)).max(1))
  }

  private def width(p: LogicalPlan): BigInt = EstimationUtils.getSizePerRow(p.output)

  /** The advisory partition size, when adaptive execution coalesces a
    * shuffle up to it. */
  private def threshold: Option[Long] =
    Option.when(conf.coalesceShufflePartitionsEnabled &&
        !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))(
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
}
