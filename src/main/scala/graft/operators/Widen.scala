package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
import org.apache.spark.sql.execution.{CoalesceExec, ExternalRDDScanExec,
  FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}

/** Spread a NARROW source across the session's cores; pass a wide one
  * through untouched. Per-row work (tokenize regexes, quality batteries,
  * vector scoring) runs on the scan side, and a single-file source hands
  * all of it to ONE task (measured: the full-corpus word-regex pass ran
  * 1-task, ~2 s of a 6-9 s query at sf0.1). A real corpus arrives in
  * thousands of splits, where a repartition would shuffle the fattest
  * data for nothing, so this is a no-op at scale.
  *
  * Narrow = fewer input partitions than `defaultParallelism`, summed over
  * the leaves of `queryExecution.sparkPlan`, so deciding runs no Spark
  * job (`df.rdd` would run every upstream shuffle stage under AQE). A
  * repartition or coalesce to an explicit count counts as that count, so
  * an already-widened input stays as it is; a leaf that cannot be sized
  * counts as wide. */
private[graft] object Widen {

  /** No `keys`: round-robin to `defaultParallelism` (deterministic under
    * task retries; every consumer here is partition-order independent).
    * With `keys`: hash-partition by the key the next aggregate or window
    * groups on, with an explicit count AQE cannot fold back to one task.
    * That operator reuses the partitioning, and the exchange ships raw
    * rows rather than exploded ones: for the shingle window a round-robin
    * widen was measured WORSE (q_d10 7.9 → 8.5 s), because the window's
    * own exploded-rows exchange stayed on top of it. */
  def widen(df: DataFrame, keys: Column*): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (leaves(df.queryExecution.sparkPlan, par).forall(_ >= par)) df
    else if (keys.isEmpty) df.repartition(par)
    else df.repartition(par, keys: _*)
  }

  /** Input partitions of `plan`, or None when a leaf cannot be sized
    * without running a job. Sized leaves: file and data-source splits,
    * local rows (sliced as Spark does, at most `par`), RDD scans (e.g. a
    * `localCheckpoint`) and in-memory caches (their cached plan's own
    * leaves). */
  private def leaves(plan: SparkPlan, par: Int): Option[Int] = plan match {
    // runtime (dynamic) partition filters are only known once the join's
    // other side has run
    case s: FileSourceScanExec =>
      if (s.partitionFilters.exists(_.isInstanceOf[DynamicPruningExpression])) None
      else Some(s.inputRDD.getNumPartitions)
    case s: DataSourceV2ScanExecBase => Some(s.partitions.size)
    case l: LocalTableScanExec => Some(math.min(l.rows.size, par))
    case r: RDDScanExec => Some(r.rdd.getNumPartitions)
    case r: ExternalRDDScanExec[_] => Some(r.rdd.getNumPartitions)
    case m: InMemoryTableScanExec => leaves(m.relation.cachedPlan, par)
    case a: AdaptiveSparkPlanExec => leaves(a.inputPlan, par)
    case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
      Some(e.outputPartitioning.numPartitions)
    case c: CoalesceExec =>
      Some(leaves(c.child, par).fold(c.numPartitions)(math.min(_, c.numPartitions)))
    case p if p.children.nonEmpty =>
      p.children.foldLeft(Option(0))((acc, c) =>
        acc.flatMap(n => leaves(c, par).map(n + _)))
    case _ => None
  }
}
