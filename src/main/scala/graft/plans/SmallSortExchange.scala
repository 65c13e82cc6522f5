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
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DateType,
  FloatType, IntegerType, MapType, ObjectType, ShortType, StructType, YearMonthIntervalType}

import graft.functions.NGrams

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
  *     `split`, `from_json`, `transform`, `NGrams` or `array` makes of
  *     them): n rows of b bytes emit at most `n + b / floor` rows, one a
  *     row for an empty array and one an element, where each element
  *     takes at least `floor` bytes of the rows. An element of a stored array takes its
  *     width if that is fixed and under 8 bytes (1, 2 or 4), else 8 (a
  *     long, a double or an `UnsafeArrayData` offset slot); JSON text the
  *     rows store, 2 bytes (`1,`); the text `split` cuts, 1. `transform`
  *     and `NGrams` keep their array's floor (n-word windows are no more
  *     than the words), and `from_json` of `to_json` the least
  *     floor of the arrays it serialized. An `array(...)` of k values
  *     makes the bound `k·n + b / floor`. Any other node that may emit
  *     more rows than it reads (a `sequence` exploded, a `flatMap`, a
  *     grouped map) has no bound, and its sort keeps the range exchange;
  *   - every other node keeps Spark's ratio of its size to its inputs'.
  * Like all of Spark's statistics, the estimate counts a string, array or
  * map value computed inside the stage at its type's default width, and a
  * file at its size on disk.
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
    case g: Generate =>
      for (e <- elements(g); b <- size(g.child); n <- rows(g.child))
        yield (n * e.perRow.max(1) + b / e.floor) * width(g)
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

  /** A bound on the elements of the arrays in a value, summed over rows:
    * at most `perRow` elements a row plus one per `floor` bytes the rows
    * hold. Of two arrays, either may be the one exploded. */
  private case class Elements(perRow: Int, floor: Int) {
    def max(o: Elements): Elements = Elements(perRow max o.perRow, floor min o.floor)
  }

  /** A value that holds no array. */
  private val NoArray = Elements(0, Int.MaxValue)

  /** The elements `g` explodes, when its input rows bound them. Other
    * arrays (a `sequence`, say) have no bound. */
  private def elements(g: Generate): Option[Elements] = g.generator match {
    case e: ExplodeBase => elements(e.child, g.child)
    case i: Inline => elements(i.child, g.child)
    case _ => None
  }

  /** The elements of the arrays in `e` over the rows of `p`: data of the
    * rows, parts of it, `split` or `from_json` of it, `transform`s of it,
    * the n-grams of it (at most one a word), and arrays and structs built
    * of such values and scalar literals. None for any other expression. */
  private def elements(e: Expression, p: LogicalPlan): Option[Elements] = defining(e, p) match {
    case (a: Attribute, _) => Some(stored(a.dataType))
    case (l: Literal, _) => Option.when(stored(l.dataType) == NoArray)(NoArray)
    case (d @ (_: ExtractValue | _: Cast), q) => elements(d.children.head, q)
    case (j: JsonToStructs, q) => defining(j.child, q) match {
      case (i: Invoke, r) if i.targetObject.dataType == ToJson => all(i.arguments, r)
      case (c, r) => text(c, r, floor = 2)
    }
    case (StringSplit(str, _, _), q) => text(str, q, floor = 1)
    case (t: ArrayTransform, q) => elements(t.argument, q)
    case (g: NGrams, q) => elements(g.child, q)
    case (a: CreateArray, q) => all(a.children, q).map(_ max Elements(a.children.size, Int.MaxValue))
    case (s: CreateNamedStruct, q) => all(s.valExprs, q)
    case _ => None
  }

  private def all(es: Seq[Expression], p: LogicalPlan): Option[Elements] =
    es.foldLeft(Option(NoArray))((acc, e) => for (a <- acc; b <- elements(e, p)) yield a max b)

  /** The elements that `split` or `from_json` makes of the text `e`, at
    * least `floor` bytes of text each; JSON that `to_json` wrote holds
    * the arrays it serialized, and only those. A literal text has no
    * bound. */
  private def text(e: Expression, p: LogicalPlan, floor: Int): Option[Elements] =
    defining(e, p) match {
      case (d, _) if d.foldable => None
      case (d, q) => elements(d, q).map(_ max Elements(0, floor))
    }

  private val ToJson = ObjectType(classOf[StructsToJsonEvaluator])

  /** `e`, or the expression that defines the attribute `e` over the rows
    * of a plan below `p`, followed through projections and filters; an
    * attribute that another node outputs is data of its rows. */
  private def defining(e: Expression, p: LogicalPlan): (Expression, LogicalPlan) = (e, p) match {
    case (a: Attribute, Project(list, child)) =>
      defining(list.collectFirst { case d: Alias if d.exprId == a.exprId => d.child }
        .getOrElse(a), child)
    case (a: Attribute, Filter(_, child)) => defining(a, child)
    case _ => (e, p)
  }

  /** The arrays a stored value of type `dt` holds (a map holds two). */
  private def stored(dt: DataType): Elements = dt match {
    case ArrayType(et, _) => Elements(0, elementBytes(et)) max stored(et)
    case MapType(k, v, _) =>
      Elements(0, elementBytes(k) min elementBytes(v)) max stored(k) max stored(v)
    case s: StructType => s.fields.foldLeft(NoArray)((a, f) => a max stored(f.dataType))
    case _ => NoArray
  }

  /** The fewest bytes one element of type `et` takes in an
    * `UnsafeArrayData`: a value narrower than 8 bytes its width, any other
    * 8 (a long or double, or the offset slot of a variable-width value). */
  private def elementBytes(et: DataType): Int = et match {
    case BooleanType | ByteType | ShortType | IntegerType | FloatType | DateType |
         _: YearMonthIntervalType => et.defaultSize
    case _ => 8
  }

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
