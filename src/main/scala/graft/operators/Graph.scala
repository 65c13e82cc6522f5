package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics over candidate-pair frames (the output
  * shape of the dedup family: (id_a, id_b) near-dup pairs). Complements
  * [[Dedup.componentLabels]] (connected components): where components
  * tell you WHICH docs form a duplicate cluster, centrality tells you
  * which doc is the cluster's canonical representative — the standard
  * "pick the hub, drop the satellites" curation refinement.
  */
object Graph {

  /** Unnormalized PageRank (damping d, teleport 1−d, pr₀ = 1 — the
    * N-factored-out formulation, so no corpus count is needed) over the
    * UNDIRECTED graph induced by `pairs` (both directions added, pairs
    * deduped). A fixed `iters` power iterations carried as INTEGER
    * nano-ranks (prn = pr·1e9): per-edge contributions are
    * floor(prn/deg + 0.5) longs — summed exactly in any partition
    * order — and each iteration re-grids via the same explicit
    * floor(x + 0.5), the sq8 discipline. No engine `round` anywhere:
    * rank/deg quotients land EXACTLY on .5 ties whenever deg is a
    * power of two, where HALF_UP (Spark) and half-even (DuckDB) split —
    * a measured 1-ulp divergence at sf0.1 under `round`. The SQL oracle
    * replays all iterations as chained CTEs, bit-identically.
    *
    * Output: (id, deg, pr) for every node that appears in a pair.
    * Isolated docs never enter (their rank is the teleport constant by
    * definition — join them back with a literal if needed).
    *
    * Scale shape: the edge set is hash-partitioned once ([[symmetricEdges]])
    * and degrees are a narrow reduce over it; then each iteration is ONE
    * narrow join against the co-partitioned rank vector + ONE message
    * shuffle (sum per destination) — no per-round Catalyst planning, no
    * windows, no driver-side graph, state ∝ nodes. Lineage is cut at
    * every `checkEvery`-round block boundary ([[LoopBlocks]]), and
    * each boundary also takes an exact CONVERGENCE EARLY-EXIT check:
    * the L1 delta between the boundary iterate and its IMMEDIATE
    * predecessor is 0 exactly when the integer nano-rank vector hit a
    * grid fixed point — the iteration is a pure function of the previous
    * vector, so every remaining round would return the SAME vector and
    * the exit is result-identical to running all `iters` (the q_d16
    * oracle replays all rounds unconditionally and hashes equal; the
    * executed-round count replays as the same boundary schedule).
    * Consecutive iterates, never block-apart snapshots: the floor
    * re-grid admits small limit cycles in principle, and p_{t+k} ==
    * p_t alone would not certify a fixed point. Block-amortized
    * checking (not per-round): measured per-round delta checks cost
    * ~0.1 s/round of pure job overhead at bench scale while a boundary
    * check adds one tiny join per 4 rounds. */
  def pageRank(pairs: DataFrame, iters: Int = 10,
               damping: Double = 0.85): DataFrame =
    pageRankRun(pairs, iters, damping).ranks

  /** [[pageRank]]'s result plus the number of power iterations actually
    * EXECUTED (`rounds` ≤ `iters`): `iters` unless a block boundary
    * measured delta == 0, in which case that boundary round (the work
    * that proved the fixed point) is the last one counted. */
  final case class PageRankResult(ranks: DataFrame, rounds: Int)

  def pageRankRun(pairs: DataFrame, iters: Int = 10,
                  damping: Double = 0.85,
                  checkEvery: Int = 4): PageRankResult = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    require(checkEvery >= 1, s"checkEvery must be positive: $checkEvery")
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val idType = pairs.schema("id_a").dataType
    val teleportN = (1 - damping) * 1e9
    loop(reliable = false) { blocks =>
      val edges = symmetricEdges(pairs, (r, i) => r.get(i))
      val part = edges.partitioner.get
      val deg = blocks.pin(edges.mapValues(_ => 1L).reduceByKey(part, _ + _))
      // eager: the edge attach, the pr₀ seed and the output join below
      // must all hit the cache, not race to compute it concurrently
      deg.count()
      // every src has a degree (deg derives from these edges), so the
      // inner join drops nothing
      val edgesDeg = blocks.pin(edges.join(deg, part))
      var pr: RDD[(Any, Long)] = deg.mapValues(_ => 1000000000L)
      var rounds = 0
      var converged = false
      while (rounds < iters && !converged) {
        val t = rounds + 1
        // no check on the final round: there is no exit left to take and
        // the executed-round count is `iters` either way (the oracle's
        // schedule matches)
        val check = t % checkEvery == 0 && t < iters
        val msgs = edgesDeg.join(pr, part).map { case (_, ((dst, dg), prn)) =>
          (dst, math.floor(prn.toDouble / dg.toDouble + 0.5).toLong)
        }
        val next = msgs.reduceByKey(part, _ + _).mapValues(s =>
          math.floor(teleportN + damping * s.toDouble + 0.5).toLong)
        rounds = t
        if (check) {
          // every node has an incoming edge (undirected), so the id sets
          // of next and pr are identical and the inner co-partitioned
          // join carries the full vector
          val staged = next.join(pr, part)
          converged = blocks.cut(staged)(_.aggregate(0L)(
            (acc, kv) => acc + math.abs(kv._2._1 - kv._2._2), _ + _)) == 0L
          pr = staged.mapValues(_._1)
        } else {
          pr = next
        }
      }
      val ranks = pr.join(deg, part).map { case (id, (prn, dg)) =>
        Row(id, dg, prn.toDouble / 1e9)
      }
      PageRankResult(blocks.output(pairs.sparkSession.createDataFrame(ranks,
        StructType(Seq(StructField("id", idType), StructField("deg", LongType),
          StructField("pr", DoubleType))))), rounds)
    }
  }

  /** The symmetric distinct edge set of `pairs` (`id_a`, `id_b`): both
    * directions of every pair, once each, as (src, dst) keys read by
    * `key(row, column)`, hash-partitioned by src into as many partitions
    * as the distinct edge scan has (sized from data by AQE). The result's
    * partitioner is the one an iterative loop keeps its vertex state in,
    * so every per-pass join against the edges is narrow. */
  private[operators] def symmetricEdges[K: ClassTag](pairs: DataFrame,
      key: (Row, Int) => K): RDD[(K, K)] = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().rdd.map(r => (key(r, 0), key(r, 1)))
    edges.partitionBy(new HashPartitioner(math.max(edges.getNumPartitions, 1)))
  }

  /** Runs an iterative RDD loop and releases every block it kept once
    * `body` returns. `body` must return an output that is already
    * materialized ([[LoopBlocks.output]]): until then the output still
    * reads the pinned inputs and the last cut. */
  private[operators] def loop[R](reliable: Boolean)(body: LoopBlocks => R): R = {
    val blocks = new LoopBlocks(reliable)
    try body(blocks) finally blocks.release()
  }

  /** The blocks an iterative loop keeps: inputs it reads every pass
    * (`pin`) and its latest lineage cut (`cut`). A loop whose state
    * refers to the previous pass's state must cut its lineage every so
    * often, or each pass recomputes all earlier ones. With `reliable`,
    * cuts and output are checkpoints in the checkpoint dir, which survive
    * the loss of an executor; otherwise they are executor-local blocks. */
  private[graft] final class LoopBlocks(reliable: Boolean) {
    private var pinned: List[RDD[_]] = Nil
    private var lastCut: Option[RDD[_]] = None

    def pin[T](rdd: RDD[T]): RDD[T] = {
      pinned ::= rdd
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Cuts `rdd`'s lineage at the action `materialize` runs on it (which
      * can compute a per-pass figure in the same job), then releases the
      * cut it supersedes. */
    def cut[T, R](rdd: RDD[T])(materialize: RDD[T] => R): R = {
      if (reliable) { rdd.persist(); rdd.checkpoint() } else rdd.localCheckpoint()
      val result = materialize(rdd)
      lastCut.foreach(_.unpersist(false))
      lastCut = Some(rdd)
      result
    }

    /** `df`, eagerly checkpointed the way the cuts are. */
    def output(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

    def release(): Unit =
      (lastCut.toList ::: pinned).foreach(_.unpersist(false))
  }
}
