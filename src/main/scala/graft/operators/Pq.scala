package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqCodec

/** Product quantization (PQ) for embedding search at extreme scale —
  * the IVF-PQ half Spark has no analog for: vectors are L2-normalized,
  * split into `m` subvectors, and each subvector is replaced by the id
  * of its nearest codeword from a per-subspace codebook of
  * `codebookSize` entries. A 64-dim float vector (256 B) becomes m
  * 1-byte codes — a 16× memory cut that lets a candidate scan run over
  * codes instead of raw vectors.
  *
  * Search is asymmetric-distance (ADC): each QUERY precomputes a
  * (m × codebookSize) lookup table of partial dots once; scoring a
  * corpus vector is then m array lookups + adds (not a d-dim dot).
  * `pqTopK` scans codes with ADC, keeps `rerankDepth` candidates, and
  * re-ranks them with the exact cosine — the standard recall/cost dial.
  *
  * Determinism/oracle story: the codebook is a hash-sample of corpus
  * vectors (md5 order, like IVF's `sampleCentroids`) collected to the
  * driver (k rows — sampling-based training is the codebook's job at
  * any scale) and bound to codegen'd codec expressions
  * (`graft.functions.PqCodec`) as a plain reference array — NOT
  * unrolled literals, so the plan stays constant-size at any
  * codebookSize (the standard k=256 byte code included) while encode
  * and ADC remain pure map-side expressions with no joins. Fixed-order
  * float math throughout (ascending-index dots, ascending-j LUT sums)
  * lets a SQL oracle replay every stage bit-for-bit.
  */
object Pq {

  private def asDouble(c: Column): Column = c.cast("array<double>")
  // nrm must be the ALREADY-COMPUTED norm column: ArrayTransform evaluates
  // its lambda per element interpreted, so an inline norm(c) would re-run
  // a d-dim dot + sqrt for every element (O(d²) per row on the encode scan)
  private def normalize(c: Column, nrm: Column): Column =
    transform(c, x => x / nrm)

  /** Deterministic codebook: the `codebookSize` corpus vectors with the
    * smallest md5-derived hash, L2-normalized, sliced into `m`
    * subspaces. Returns cb(j)(code) = codeword vector (dsub doubles).
    * One tiny TakeOrderedAndProject job + a k-row collect. */
  def codebook(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, dim: Int, codebookSize: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim ($dim) must split into m ($m) subspaces")
    val dsub = dim / m
    val seeds = corpus
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .where(col("nrm") > 0)
      .orderBy(Sampling.hash24(col("id"), "pq").asc, col("id").asc)
      .limit(codebookSize)
      .select(normalize(col("v"), col("nrm")).as("nv"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == codebookSize,
      s"corpus has only ${seeds.length} non-zero vectors < codebookSize $codebookSize")
    Array.tabulate(m)(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** Flatten a codebook for the codec expressions:
    * cbFlat((j·k + c)·dsub + t) = cb(j)(c)(t);
    * halfFlat(j·k + c) = ‖cb(j)(c)‖²/2 (ascending left-fold sum — the
    * same fold order the encode argmin and the SQL oracle use). */
  private[operators] def flatten(
      cb: Array[Array[Array[Double]]]): (Array[Double], Array[Double]) = {
    val m = cb.length; val k = cb(0).length; val dsub = cb(0)(0).length
    val cbFlat = new Array[Double](m * k * dsub)
    val halfFlat = new Array[Double](m * k)
    for (j <- 0 until m; c <- 0 until k) {
      System.arraycopy(cb(j)(c), 0, cbFlat, (j * k + c) * dsub, dsub)
      halfFlat(j * k + c) = cb(j)(c).map(x => x * x).sum / 2.0
    }
    (cbFlat, halfFlat)
  }

  /** (id, codes array<int>) — normalized-vector PQ codes in ONE
    * codegen'd expression (zero-norm vectors excluded, mirroring
    * Similarity). */
  def encodeCodes(corpus: DataFrame, idCol: String, vecCol: String,
                  cb: Array[Array[Array[Double]]], dim: Int): DataFrame = {
    val m = cb.length
    val dsub = dim / m
    val (cbFlat, halfFlat) = flatten(cb)
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .where(col("nrm") > 0)
      .withColumn("nv", normalize(col("v"), col("nrm")))
      .select(col("id"),
        PqCodec.encodeCol(col("nv"), cbFlat, halfFlat, m, cb(0).length, dsub)
          .as("codes"))
  }

  /** (id, code_0 … code_{m-1}) — the wide-column form of `encodeCodes`
    * (one int column per subspace, the layout a code-only parquet scan
    * would store). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             cb: Array[Array[Array[Double]]], dim: Int): DataFrame = {
    val m = cb.length
    encodeCodes(corpus, idCol, vecCol, cb, dim)
      .select(col("id") +:
        (0 until m).map(j => element_at(col("codes"), j + 1).as(s"c$j")): _*)
  }

  // ---- shared search stages (in-memory operator AND persisted index) -----
  // One implementation each of query prep, probe selection, ADC scoring,
  // and exact re-rank: `IvfPqIndex.search`'s byte-identical-to-in-memory
  // guarantee rests on these being literally the same code, not synced
  // copies.

  /** (query_id, qv, qn, nq, lut): normalized queries with their ADC
    * lookup tables — lut[j·k + code] = q_j · cb(j)(code), m·k dots per
    * query computed once on the tiny broadcast side. */
  private[operators] def prepQueries(queries: DataFrame, idCol: String,
      vecCol: String, cbFlat: Array[Double], m: Int, codebookSize: Int,
      dsub: Int): DataFrame =
    Similarity.queryVectors(queries, idCol, vecCol)
      .withColumn("nq", normalize(col("qv"), col("qn")))
      .withColumn("lut", PqCodec.lutCol(col("nq"), cbFlat, m, codebookSize, dsub))

  /** (query_id, centroid_id): each query's nProbe nearest inverted
    * lists (same probe math as ivfTopK; + 0.0 canonicalizes -0.0 — see
    * Similarity.topKPerQuery). */
  private[operators] def probePairs(q: DataFrame, cents: DataFrame,
                                    nProbe: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("query_id"),
        struct(
          (-(Similarity.dot(col("qv"), col("centroid")) /
            (col("qn") * col("centroid_n"))) + lit(0.0)).as("negsim"),
          col("centroid_id")).as("_cand"))
      .groupBy("query_id")
      .agg(slice(array_sort(collect_list(col("_cand"))), 1, nProbe).as("_top"))
      .select(col("query_id"), explode(col("_top.centroid_id")).as("centroid_id"))

  /** [[probePairs]] with each query's global-codebook LUT attached. */
  private[operators] def probeTable(q: DataFrame, cents: DataFrame,
                                    nProbe: Int): DataFrame =
    probePairs(q, cents, nProbe)
      .join(q.select(col("query_id"), col("lut")), Seq("query_id"))

  /** ADC scores of code rows joined to their probing queries —
    * ascending-j LUT-lookup sums, deterministic and d-free per pair. */
  private[operators] def adcScored(codes: DataFrame, probes: DataFrame,
                                   codebookSize: Int): DataFrame =
    codes.join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(PqCodec.adcCol(col("lut"), col("codes"), codebookSize), 6)
          .as("cosine"))

  /** Exact-cosine re-rank of a bounded (query_id, neighbor_id) candidate
    * set against raw vectors, then the k-bounded top-k. */
  private[operators] def exactRerank(cands: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, q: DataFrame, k: Int): DataFrame = {
    val e = Similarity.corpusVectors(corpus, idCol, vecCol)
    val exact = cands
      .join(e, Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
          .as("cosine"))
    Similarity.topKPerQuery(exact, k)
  }

  /** ADC top-k with exact re-rank: ADC-score every (query, code row)
    * pair via the query-side LUT (m lookups + adds per pair), keep
    * `rerankDepth` per query, re-rank those exactly by cosine.
    * Output: (query_id, neighbor_id, cosine, rank).
    *
    * Scale shape: queries (with their LUTs) broadcast; the corpus scan
    * reads only the m-byte codes (+ id); the exact re-rank joins raw
    * vectors for rerankDepth·|queries| rows only. No window, no
    * corpus shuffle; top-k via the k-bounded aggregate. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 16, dim: Int = 64,
             codebookSize: Int = 16, rerankDepth: Int = 50): DataFrame = {
    require(rerankDepth >= k, "rerankDepth must be >= k")
    val dsub = dim / m
    val cb = codebook(corpus, idCol, vecCol, m, dim, codebookSize)
    val (cbFlat, _) = flatten(cb)
    val codes = encodeCodes(corpus, idCol, vecCol, cb, dim)
      .withColumnRenamed("id", "neighbor_id")
    val q = prepQueries(queries, idCol, vecCol, cbFlat, m, codebookSize, dsub)
    // full-corpus ADC (the PQ primitive; ivfPqTopK bounds the scan)
    val scored = codes.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(PqCodec.adcCol(col("lut"), col("codes"), codebookSize), 6)
          .as("cosine")) // approx cosine (normalized inputs)
    val cands = Similarity.topKPerQuery(scored, rerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cands, corpus, idCol, vecCol, q, k)
  }

  /** IVF-PQ: the 100 TB ANN composition. `pqTopK`'s ADC stage scans
    * EVERY corpus code row per query batch — correct as the PQ
    * primitive, but at scale the scan must be bounded by the coarse
    * quantizer first. Here the corpus is bucketed into `nCentroids`
    * inverted lists (same deterministic md5-sampled centroids and
    * argmax-cosine assignment as `Similarity.ivfTopK`), each vector's
    * PQ codes are stored WITH its list id, and a query's ADC runs only
    * over the `nProbe` lists it probes — cost drops from |corpus| to
    * ~|corpus|·nProbe/nCentroids code rows per query, the standard
    * FAISS-style IVF-PQ layout. Exact cosine re-ranks the
    * `rerankDepth` ADC survivors.
    *
    * Scale shape: centroid sample is TakeOrderedAndProject; assignment
    * is a broadcast join reduced by a map-side-combinable min(struct);
    * the probe restriction is an equi-join on the list id against the
    * broadcast (query, lut) probe table; ADC is a pure map-side codegen
    * expression over the m-byte codes; both top-k stages are k-bounded
    * aggregates. No window, no full-corpus per-query work, nothing
    * O(n²).
    *
    * By default the codebook trains on the corpus-wide hash sample (not
    * per-list residuals): encode stays one map-side expression and the
    * ADC scores are comparable across lists; recall tunes with
    * nProbe/rerankDepth, gated in DedupSimilaritySpec. `residual = true`
    * switches to per-list residual codebooks ([[ivfPqResidualTopK]]) —
    * tighter quantization at equal code bytes, at the cost of per-list
    * LUTs and a stacked codebook that grows with nCentroids. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 16, dim: Int = 64, codebookSize: Int = 16,
                rerankDepth: Int = 50, residual: Boolean = false,
                hierarchicalAssign: Boolean = false): DataFrame = {
    require(rerankDepth >= k, "rerankDepth must be >= k")
    require(nCentroids > 0 && nProbe > 0, "nCentroids and nProbe must be positive")
    if (residual)
      return ivfPqResidualTopK(corpus, queries, idCol, vecCol, k, nCentroids,
        nProbe, m, dim, codebookSize, rerankDepth)
    val dsub = dim / m
    val cb = codebook(corpus, idCol, vecCol, m, dim, codebookSize)
    val (cbFlat, halfFlat) = flatten(cb)
    val c = Widen.widen(Similarity.corpusVectors(corpus, idCol, vecCol))
    val cents = Similarity.sampleCentroids(corpus, idCol, vecCol, nCentroids)
    // inverted lists: (list id, PQ codes) per vector — at rest this is
    // the m-byte-code + centroid-id table a 100 TB index persists.
    // hierarchicalAssign swaps in the two-level approximate assignment
    // (Similarity.assignToHierarchical — clustered corpora only, see its
    // scaladoc); default stays exact, the oracled path.
    val assigned =
      if (hierarchicalAssign) Similarity.assignToHierarchical(c, cents)
      else Similarity.assignTo(c, cents)
    val codes = assigned
      .select(col("centroid_id"), col("neighbor_id"),
        PqCodec.encodeCol(normalize(col("cv"), col("cn")), cbFlat, halfFlat,
          m, codebookSize, dsub).as("codes"))
    // query side: nProbe nearest lists (same probe math as ivfTopK) plus
    // the per-query ADC lookup table
    val q = prepQueries(queries, idCol, vecCol, cbFlat, m, codebookSize, dsub)
    val probes = probeTable(q, cents, nProbe)
    // ADC only within probed lists; assignment is unique per vector and
    // probe lists are distinct per query, so (query, neighbor) pairs are
    // already distinct — no dedup aggregate
    val scored = adcScored(codes, probes, codebookSize)
    val cands = Similarity.topKPerQuery(scored, rerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cands, corpus, idCol, vecCol, q, k)
  }

  /** Residual IVF-PQ (`ivfPqTopK(residual = true)`): each inverted list
    * quantizes its OWN residual cloud r = v̂ − ĉ (unit vector minus unit
    * assigned centroid) with a per-list codebook, and ADC becomes
    * `q̂·ĉ (exact, per probed list) + q̂·r̃ (per-list LUT)` — the FAISS
    * residual formulation. Residuals are tighter than raw vectors
    * (within-list spread only), so at EQUAL code bytes the quantizer is
    * finer; the cost is the per-list codebook table.
    *
    * Scale shape: everything the non-residual path proves, plus one
    * broadcast (centroid_id → list_idx, unit centroid) join on each
    * side; the per-list codebooks ride codegen as ONE stacked array
    * indexed by list slab, trained by the same deterministic
    * smallest-md5 sampling (k-bounded per-list via `BoundedTopK`, never
    * a per-list window), with short lists padded cyclically. HONEST
    * trade: the stacked array is nCentroids·codebookSize·dim doubles —
    * at the √n rule and 1e9 vectors that is ~260 MB riding the plan, so
    * at extreme scale cap nCentroids for residual mode (or shard the
    * index) where the global-codebook path has no such ceiling. The
    * corpus is assigned twice (once to train, once to encode) — the
    * same recompute-over-persist choice `codebook` makes, since caching
    * the fattest table is the wrong default at 100 TB. */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, nCentroids: Int = 16,
                        nProbe: Int = 4, m: Int = 16, dim: Int = 64,
                        codebookSize: Int = 16,
                        rerankDepth: Int = 50): DataFrame = {
    require(rerankDepth >= k, "rerankDepth must be >= k")
    require(nCentroids > 0 && nProbe > 0, "nCentroids and nProbe must be positive")
    val dsub = dim / m
    val c = Widen.widen(Similarity.corpusVectors(corpus, idCol, vecCol))
    val cents = Similarity.sampleCentroids(corpus, idCol, vecCol, nCentroids)
    val ar = assignedResiduals(c, cents)
    val (cbFlat, halfFlat, idxDf) =
      residualTrain(ar, cents, m, codebookSize, dsub)
    val codes = residualEncode(ar, idxDf, cbFlat, halfFlat, m, codebookSize,
      dsub)
    val q = prepQueriesBase(queries, idCol, vecCol)
    val probes = residualProbes(q, cents, idxDf, nProbe, cbFlat, m,
      codebookSize, dsub)
    val scored = residualAdcScored(codes, probes, codebookSize)
    val cands = Similarity.topKPerQuery(scored, rerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cands, corpus, idCol, vecCol, q, k)
  }

  // ---- residual-mode shared stages (in-memory operator AND persisted
  // index — the same no-drift factoring as the global-codebook path) ------

  /** (query_id, qv, qn, nq): normalized queries without a LUT — the
    * residual path computes its LUTs per (query, probed list). */
  private[operators] def prepQueriesBase(queries: DataFrame, idCol: String,
                                         vecCol: String): DataFrame =
    Similarity.queryVectors(queries, idCol, vecCol)
      .withColumn("nq", normalize(col("qv"), col("qn")))

  /** (centroid_id, neighbor_id, rv): each vector's residual against its
    * assigned UNIT centroid — one broadcast join past the assignment. */
  private[operators] def assignedResiduals(c: DataFrame,
                                           cents: DataFrame): DataFrame = {
    val unitCents = cents.select(col("centroid_id"),
      transform(col("centroid"), x => x / col("centroid_n")).as("cu"))
    Similarity.assignTo(c, cents)
      .join(broadcast(unitCents), Seq("centroid_id"))
      .select(col("centroid_id"), col("neighbor_id"),
        zip_with(transform(col("cv"), x => x / col("cn")), col("cu"),
          (a, b) => a - b).as("rv"))
  }

  /** Stacked per-list residual codebook (cbFlat, halfFlat slabs in
    * sorted-centroid-id order) + the (centroid_id, list_idx) mapping
    * frame. Seeds are each list's `codebookSize` smallest-hash members'
    * residuals (k-bounded aggregate, never a per-list window),
    * cyclically padded when a list is shorter than the codebook; an
    * empty list keeps a zero slab (it has no code rows to score). */
  /** (centroid_id, list_idx): slab index = position in sorted-by-id
    * centroid order — a pure function of the centroid table, so build,
    * append, and search derive the IDENTICAL mapping from the same
    * centroids (sidecar or in-memory) without persisting it. */
  private[operators] def listIndexFrame(cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val orderedIds = cents.select("centroid_id").orderBy("centroid_id")
      .collect().map(_.get(0))
    cents.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        orderedIds.zipWithIndex.map { case (v, i) => Row(v, i) }: _*),
      StructType(Seq(cents.schema("centroid_id"),
        StructField("list_idx", IntegerType, nullable = false))))
  }

  private[operators] def residualTrain(ar: DataFrame, cents: DataFrame,
      m: Int, codebookSize: Int, dsub: Int)
      : (Array[Double], Array[Double], DataFrame) = {
    import org.apache.spark.sql.Row
    val seedRows = GroupTopN.smallestPerKey(ar, "centroid_id",
      struct(Sampling.hash24(col("neighbor_id"), "pqr").as("h"),
        col("neighbor_id").as("id"), col("rv")).as("_it"), codebookSize)
      .collect()
    val seedsByList: Map[Any, Seq[Seq[Double]]] = seedRows.map { r =>
      r.get(0) -> r.getSeq[Row](1).map(_.getSeq[Double](2))
    }.toMap
    val idxDf = listIndexFrame(cents)
    val orderedIds = cents.select("centroid_id").orderBy("centroid_id")
      .collect().map(_.get(0))
    val nLists = orderedIds.length
    val cbFlat = new Array[Double](nLists * m * codebookSize * dsub)
    val halfFlat = new Array[Double](nLists * m * codebookSize)
    for ((lid, li) <- orderedIds.zipWithIndex; seeds <- seedsByList.get(lid)) {
      for (ci <- 0 until codebookSize) {
        val rv = seeds(ci % seeds.size)
        for (j <- 0 until m) {
          var half = 0.0 // ascending-t left fold, the oracle convention
          for (t <- 0 until dsub) {
            val x = rv(j * dsub + t)
            cbFlat((((li * m + j) * codebookSize) + ci) * dsub + t) = x
            half += x * x
          }
          halfFlat((li * m + j) * codebookSize + ci) = half / 2.0
        }
      }
    }
    (cbFlat, halfFlat, idxDf)
  }

  /** (centroid_id, neighbor_id, codes): residuals encoded against their
    * OWN list's codebook slab — one map-side codegen expression behind
    * the broadcast slab-index join. */
  private[operators] def residualEncode(ar: DataFrame, idxDf: DataFrame,
      cbFlat: Array[Double], halfFlat: Array[Double], m: Int,
      codebookSize: Int, dsub: Int): DataFrame =
    ar.join(broadcast(idxDf), Seq("centroid_id"))
      .select(col("centroid_id"), col("neighbor_id"),
        PqCodec.encodeListCol(col("rv"), col("list_idx"), cbFlat, halfFlat,
          m, codebookSize, dsub).as("codes"))

  /** (query_id, centroid_id, qdotc, lut): per-(query, probed list) exact
    * coarse term + that list's LUT — all on the bounded
    * (nProbe·|queries|) broadcast side. */
  private[operators] def residualProbes(q: DataFrame, cents: DataFrame,
      idxDf: DataFrame, nProbe: Int, cbFlat: Array[Double], m: Int,
      codebookSize: Int, dsub: Int): DataFrame =
    probePairs(q, cents, nProbe)
      .join(q.select(col("query_id"), col("qv"), col("qn"), col("nq")),
        Seq("query_id"))
      .join(broadcast(cents), Seq("centroid_id"))
      .join(broadcast(idxDf), Seq("centroid_id"))
      .select(col("query_id"), col("centroid_id"),
        (Similarity.dot(col("qv"), col("centroid")) /
          (col("qn") * col("centroid_n"))).as("qdotc"),
        PqCodec.lutListCol(col("nq"), col("list_idx"), cbFlat, m,
          codebookSize, dsub).as("lut"))

  /** Residual ADC: exact coarse term + quantized residual LUT sum. */
  private[operators] def residualAdcScored(codes: DataFrame,
      probes: DataFrame, codebookSize: Int): DataFrame =
    codes.join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("qdotc") +
          PqCodec.adcCol(col("lut"), col("codes"), codebookSize), 6)
          .as("cosine"))

  // ---- scalar quantization (SQ8) ----------------------------------------

  /** Per-dimension [min, max] of the L2-NORMALIZED corpus — the SQ8
    * training artifact (2·dim doubles; one map-side-combinable aggregate
    * pass, bounded at any corpus size). */
  def sq8Bounds(corpus: DataFrame, idCol: String, vecCol: String,
                dim: Int): (Array[Double], Array[Double]) = {
    val c = corpus.select(asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .where(col("nrm") > 0)
      .withColumn("nv", normalize(col("v"), col("nrm")))
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("nv"), i + 1)).as(s"mn$i"),
      max(element_at(col("nv"), i + 1)).as(s"mx$i")))
    val r = c.agg(aggs.head, aggs.tail: _*).head()
    ((0 until dim).map(i => r.getDouble(2 * i)).toArray,
      (0 until dim).map(i => r.getDouble(2 * i + 1)).toArray)
  }

  /** Scalar-quantization ANN (the faiss SQ8 family): each normalized
    * coordinate becomes an 8-bit level on its dimension's [min, max]
    * grid — dim bytes per vector when persisted (4× under float32, 8×
    * under double), the memory/IO dial that needs NO codebook training
    * and, unlike PQ, keeps per-dimension resolution. Search is
    * asymmetric: the raw normalized query dots DEQUANTIZED corpus codes
    * (one codegen'd `VectorDot` per pair), `rerankDepth` candidates
    * re-rank by exact cosine.
    *
    * Quantize: level_i = floor((x_i − mn_i)/(mx_i − mn_i)·255 + 0.5)
    * (explicit floor, not an engine round — both engines replay it
    * bit-for-bit); a degenerate dimension (mx = mn) pins to level 0 and
    * dequantizes to mn exactly.
    *
    * Scale shape: bounds are ONE bounded aggregate; quantize/dequantize
    * are single map-side passes over the corpus; scoring broadcasts the
    * query batch and scans codes with no shuffle; top-k and re-rank are
    * the k-bounded `topKPerQuery`/`exactRerank` stages every other ANN
    * here uses. Like [[pqTopK]], this is the full-scan primitive —
    * compose with IVF probes to bound the scan at 100 TB.
    * Output: (query_id, neighbor_id, cosine, rank). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int = 64,
              rerankDepth: Int = 50): DataFrame = {
    require(rerankDepth >= k, "rerankDepth must be >= k")
    val (mn, mx) = sq8Bounds(corpus, idCol, vecCol, dim)
    val mnL = typedlit(mn.toSeq)
    val mxL = typedlit(mx.toSeq)
    val c0 = Similarity.corpusVectors(corpus, idCol, vecCol)
      .withColumn("nv", normalize(col("cv"), col("cn")))
    val codes = c0.select(col("neighbor_id"),
      transform(col("nv"), (x, i) => {
        val mnI = element_at(mnL, i + 1)
        val mxI = element_at(mxL, i + 1)
        when(mxI > mnI,
          floor((x - mnI) / (mxI - mnI) * lit(255.0) + lit(0.5)).cast("int"))
          .otherwise(lit(0))
      }).as("codes"))
    val dq = codes.select(col("neighbor_id"),
      transform(col("codes"), (cd, i) => {
        val mnI = element_at(mnL, i + 1)
        val mxI = element_at(mxL, i + 1)
        mnI + cd.cast("double") * ((mxI - mnI) / lit(255.0))
      }).as("dq"))
    val q = prepQueriesBase(queries, idCol, vecCol)
    val scored = Widen.widen(dq).crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("nq"), col("dq")), 6).as("cosine"))
    val cands = Similarity.topKPerQuery(scored, rerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cands, corpus, idCol, vecCol, q, k)
  }

  /** 1-bit sign quantization + Hamming candidate scan (the binary-hash
    * ANN family: LSH sign sketches / "binary embeddings") — the extreme
    * end of the compression dial: a 64-dim vector becomes ONE 64-bit
    * word (32× under float32, 8 B/vector), and candidate scoring is a
    * single `bit_count(xor)` — both codegen'd integer builtins, no
    * array traffic at all in the scan. Sign bits are preserved by
    * L2 normalization, so packing reads the RAW vector (bit i set iff
    * coordinate i ≥ 0; −0.0 ≥ 0 on both engines). Candidates are the
    * `rerankDepth` smallest-Hamming ids (tie: neighbor_id asc) per
    * query, re-ranked by exact cosine.
    *
    * The sign-bit word IS the 1-hyperplane-per-axis special case of
    * [[Similarity.signature]]'s random-hyperplane sketch — the version
    * with no plane matrix to broadcast and a purely integer scan; the
    * Hamming distance estimates angle via the hyperplane-LSH collision
    * bound P[bit differs] = θ/π.
    *
    * Scale shape: packing is one map-side pass (the interpreted HOF
    * runs once per corpus row at PACK time — the scan itself touches
    * only the packed longs); the scan broadcasts the packed query
    * batch, shuffles nothing, and keeps per-query state ∝ rerankDepth
    * via the k-bounded `topKPerQuery`; exact re-rank joins raw vectors
    * for rerankDepth·|queries| rows only. Like [[pqTopK]]/[[sq8TopK]]
    * this is the full-scan primitive — compose with IVF probes to
    * bound the scan. Output: (query_id, neighbor_id, cosine, rank). */
  def binarySignTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, dim: Int = 64,
                     rerankDepth: Int = 50): DataFrame = {
    require(rerankDepth >= k, "rerankDepth must be >= k")
    require(dim >= 1 && dim <= 64, s"dim must be in [1, 64]: $dim")
    // SQL-lambda shiftleft (the Scala DSL pins the shift to a literal);
    // evaluated once per row at pack time only
    val packSql = s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) -> " +
      "acc | CASE WHEN element_at(_pv, i + 1) >= 0D " +
      "THEN shiftleft(1L, i) ELSE 0L END)"
    val c = Widen.widen(
      corpus.select(col(idCol).as("neighbor_id"),
          asDouble(col(vecCol)).as("_pv"))
        .where(Similarity.norm(col("_pv")) > 0)
        .select(col("neighbor_id"), expr(packSql).as("_cw")))
    val q = prepQueriesBase(queries, idCol, vecCol)
    val qw = q.select(col("query_id"), col("qv").as("_pv"))
      .select(col("query_id"), expr(packSql).as("_qw"))
    val scored = c.crossJoin(broadcast(qw))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        // negated Hamming as the "cosine" ranking key: topKPerQuery
        // keeps the largest, i.e. the SMALLEST distances, tie id asc
        (-expr("bit_count(_qw ^ _cw)").cast("double")).as("cosine"))
    val cands = Similarity.topKPerQuery(scored, rerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(cands, corpus, idCol, vecCol, q, k)
  }
}
