package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Bloom
import graft.operators.Dedup

/** Streaming-safe benchmark-contamination flagging — the ingest-time
  * face of the batch q_t7 contamination join: mark every incoming
  * document that shares an n-word shingle with a benchmark/eval corpus,
  * BEFORE it lands in the training set.
  *
  * Instead of a stream-side join (per-micro-batch shuffle against the
  * benchmark table), the benchmark's shingles are compiled ONCE into a
  * Bloom filter ([[Bloom.build]], one aggregate pass over the eval
  * corpus — eval sets are small) and the stream check is a STATELESS
  * map-side expression: `exists(shingles, bit-probe)`. No watermark, no
  * state store, no shuffle — works identically on a batch DataFrame and
  * a streaming one, at scan speed. The Bloom can only err by
  * OVER-flagging (a false positive quarantines a clean doc for the
  * exact batch check); a contaminated document is never missed — the
  * no-false-negatives direction is the one eval hygiene needs.
  */
object StreamContamination {

  /** Compile the benchmark corpus into the shingle Bloom filter. No
    * distinct pass: Bloom bit-OR insertion is idempotent, so deduping
    * keys first would only add a shuffle. */
  def benchmarkFilter(benchmark: DataFrame, textCol: String, n: Int = 3,
                      numBits: Int = 1 << 20, numHashes: Int = 5): Bloom.Filter = {
    val sh = benchmark.select(explode(Dedup.shingleStrings(col(textCol), n)).as("s"))
    Bloom.build(sh, "s", numBits, numHashes)
  }

  /** Add a `contaminated` flag: true iff ANY of the document's n-word
    * shingles might be in the benchmark filter. Stateless and map-side —
    * safe under structured streaming with no watermark. */
  def flag(df: DataFrame, textCol: String, filter: Bloom.Filter,
           n: Int = 3): DataFrame = {
    require(!df.columns.contains("contaminated"),
      "input column 'contaminated' collides with the output flag — alias it")
    df.withColumn("contaminated",
      exists(Dedup.shingleStrings(col(textCol), n), s => Bloom.mightContain(s, filter)))
  }

  /** Compile the benchmark EMBEDDINGS into a driver-side unit-row matrix
    * — the semantic twin of [[benchmarkFilter]], feeding [[flagSemantic]].
    * Eval sets are benchmark-sized (thousands of rows × a fixed dim), so
    * the collect is a bounded model artifact, like a Bloom filter or a
    * centroid table. Rows are L2-normalized here so the stream side pays
    * ONE dot product per eval row; zero-norm eval rows are dropped (no
    * cosine direction). */
  def benchmarkMatrix(eval: DataFrame, vecCol: String): Array[Array[Double]] =
    eval.select(col(vecCol).cast("array<double>"))
      // null vectors have no direction — drop BEFORE the collect (the
      // getSeq deref below would NPE on them), matching the zero-norm
      // drop semantics
      .where(col(vecCol).isNotNull)
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .flatMap { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) Some(v.map(_ / n)) else None
      }

  /** Hard ceiling on the eval matrix [[flagSemantic]] accepts — the
    * matrix rides to every task as a serialized reference object, so it
    * must stay a bounded model artifact (Bloom-filter-sized), not a
    * second corpus. 256 MiB of doubles (~43k rows at 768 dims) covers
    * typical benchmark suites; the documented worst case — the FULL
    * union of public evals, ~1e5 rows × 768 dims ≈ 600 MB — is
    * INTENTIONALLY refused by this guard: shrink such a set with the
    * batch LSH pre-prune
    * ([[graft.operators.Similarity.semanticDecontaminateLsh]]) before
    * it reaches the stream, rather than shipping a corpus-sized matrix
    * to every task. */
  val MaxMatrixBytes: Long = 256L << 20

  /** Add a `contaminated` flag: true iff the row's embedding reaches
    * cosine ≥ `minCosine` against ANY benchmark vector — the streaming
    * face of [[graft.operators.Similarity.semanticDecontaminate]]
    * (flag-equivalence spec-asserted). The matrix crosses into generated
    * code as ONE reference object ([[graft.functions.MaxUnitDot]], the
    * `BpeEncode` rank-table pattern — O(1) plan nodes at any matrix
    * size; a plan-literal matrix would break codegen/plan serialization
    * near real benchmark-union sizes), so the check is STATELESS and
    * map-side: no join, no watermark, no state store — identical on
    * batch and streaming frames. Matrices past [[MaxMatrixBytes]] are
    * refused loudly: gate those with the batch LSH pre-prune
    * ([[graft.operators.Similarity.semanticDecontaminateLsh]]) instead.
    *
    * Threshold semantics match the batch op: cosines land on the 6-dp
    * grid before the compare (round is monotone, so rounding the MAX
    * equals flagging on any rounded cosine). Zero-norm rows have no
    * direction and never flag. ULP caveat: the batch op computes
    * round(dot/(cn·en), 6) per pair with UNNORMALIZED vectors while this
    * path computes round(max(dot with pre-normalized rows)/cn, 6) — the
    * two float expressions can differ in the last ulp, so a cosine
    * sitting EXACTLY on a 6-dp rounding boundary could flip the
    * flag-vs-batch equivalence (never observed on the fixtures; the
    * monotone-rounding argument covers everything off the boundary). */
  def flagSemantic(df: DataFrame, vecCol: String,
                   matrix: Array[Array[Double]],
                   minCosine: Double,
                   maxBytes: Long = MaxMatrixBytes): DataFrame = {
    val bytes = matrix.foldLeft(0L)((a, r) => a + 8L * r.length)
    require(bytes <= maxBytes,
      s"eval matrix is $bytes bytes of doubles > $maxBytes — this " +
        "is a per-task reference object, not a corpus; pre-prune with " +
        "Similarity.semanticDecontaminateLsh (batch) or shrink the eval set")
    flagSemanticCore(df, vecCol, matrix, minCosine, viaPlanLiteral = false)
  }

  /** The composable plan-literal twin (typedLit matrix + higher-order
    * `aggregate`) — NOT the production path (the literal breaks plan
    * serialization at real eval sizes); kept for the spec that pins the
    * reference-object expression bit-for-bit against it. */
  private[graft] def flagSemanticViaPlanLiteral(df: DataFrame, vecCol: String,
      matrix: Array[Array[Double]], minCosine: Double): DataFrame =
    flagSemanticCore(df, vecCol, matrix, minCosine, viaPlanLiteral = true)

  private def flagSemanticCore(df: DataFrame, vecCol: String,
      matrix: Array[Array[Double]], minCosine: Double,
      viaPlanLiteral: Boolean): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1]: $minCosine")
    require(!df.columns.contains("contaminated"),
      "input column 'contaminated' collides with the output flag — alias it")
    if (matrix.isEmpty) return df.withColumn("contaminated", lit(false))
    val v = col(vecCol).cast("array<double>")
    val vn = sqrt(graft.functions.VectorDot(v, v))
    val bestDot =
      if (viaPlanLiteral)
        aggregate(typedLit(matrix.map(_.toSeq).toSeq), lit(Double.MinValue),
          (acc, ev) => greatest(acc, graft.functions.VectorDot(v, ev)))
      else graft.functions.MaxUnitDot(v, matrix)
    df.withColumn("contaminated",
      when(vn > 0, round(bestDot / vn, 6) >= minCosine)
        .otherwise(lit(false)))
  }
}
