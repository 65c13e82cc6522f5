package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Store}
import graft.functions.PqCodec

/** Persisted IVF-PQ index — the build-once / query-many serving shape of
  * `Pq.ivfPqTopK`. That operator trains, encodes, and searches in one
  * plan; at 100 TB the index is built ONCE (one shuffle write) and every
  * later query batch must touch only its probed inverted lists. This
  * object persists exactly the artifacts the search needs, as the
  * tables of a [[graft.Store]] (every mutation is one store commit, so a
  * crash leaves the previous version or the new one):
  *
  *   codes       (neighbor_id, codes) parquet PARTITIONED BY centroid_id
  *               — probing nProbe lists becomes parquet PARTITION
  *               PRUNING: the scan reads nProbe/nCentroids of the index
  *               files, nothing else
  *   centroids   the coarse quantizer (nCentroids slim rows)
  *   codebook    one row: flattened PQ codebook + dims
  *   tombstones  (neighbor_id) — optional; rows [[delete]]d but not yet
  *               physically dropped (search excludes them, compact drops
  *               them)
  *
  * Raw vectors are deliberately NOT duplicated into the index (the
  * m-byte codes are the point); exact re-rank refetches originals from
  * the caller-supplied corpus table, or is skipped (`rerank = None`) for
  * ADC-only scoring — the FAISS-style trade, stated plainly.
  *
  * Determinism: `build` reuses the same md5-sampled centroids, codebook,
  * and codegen encode as `Pq.ivfPqTopK`, so `search` over a built index
  * returns EXACTLY what the in-memory operator returns for the same
  * parameters (asserted in DedupSimilaritySpec). */
object IvfPqIndex {

  /** The frozen quantizer: the codebook table's one row. */
  private final case class Codebook(m: Int, k: Int, dim: Int,
                                    cbFlat: Array[Double],
                                    halfFlat: Array[Double],
                                    residual: Boolean)

  // Every [[search]]/[[append]] would re-run a `head()` job over the
  // one-row codebook and re-list the centroids table, so the codebook
  // sits in graft.Memo's path scope and the centroids plan in its session
  // scope, each under the directory of the artifact it mirrors: an append
  // (new codes artifacts only) keeps both, a rebuild or compaction moves
  // them on.
  private def readCodebook(spark: SparkSession, ix: Store.Manifest): Codebook =
    Memo.path(ix.root, "codebook", ix.versionOf("codebook")) {
      val r = ix.read(spark, "codebook").head()
      Codebook(r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("dim"),
        r.getSeq[Double](r.fieldIndex("cb_flat")).toArray,
        r.getSeq[Double](r.fieldIndex("half_flat")).toArray,
        r.getAs[Boolean]("residual"))
    }
  private def readCents(spark: SparkSession, ix: Store.Manifest): DataFrame =
    Memo.session(spark, ix.root, "centroids", ix.versionOf("centroids"))(
      ix.read(spark, "centroids"))

  /** (neighbor_id, cv, cn): the rows' vectors as doubles with their
    * norms; zero vectors have no direction and are skipped. */
  private def normed(rows: DataFrame, idCol: String, vecCol: String): DataFrame =
    rows.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
      .where(col("cn") > 0)

  /** Assign + PQ-encode `rows` against a FIXED quantizer (centroids +
    * codebook) — the one encode stage `build` and `append` share, so the
    * incremental path cannot drift from the full build. Map-side behind
    * one broadcast of the centroids. Assignment can only land on the
    * STORED centroid ids, so an append never mints a partition the probe
    * pruning doesn't know. The residual variant's codes layout is
    * IDENTICAL (the slab mapping is a pure function of the centroid
    * table — `Pq.listIndexFrame`). */
  private def encode(rows: DataFrame, idCol: String, vecCol: String,
                     cents: DataFrame, cb: Codebook,
                     hierarchicalAssign: Boolean = false): DataFrame = {
    val v = normed(rows, idCol, vecCol)
    if (cb.residual)
      Pq.residualEncode(Pq.assignedResiduals(v, cents), Pq.listIndexFrame(cents),
        cb.cbFlat, cb.halfFlat, cb.m, cb.k, cb.dim / cb.m)
    else
      (if (hierarchicalAssign) Similarity.assignToHierarchical(v, cents)
        else Similarity.assignTo(v, cents))
        .select(col("centroid_id"), col("neighbor_id"),
          PqCodec.encodeCol(transform(col("cv"), x => x / col("cn")),
            cb.cbFlat, cb.halfFlat, cb.m, cb.k, cb.dim / cb.m).as("codes"))
  }

  /** Partitioned codes write with the small-files problem designed out:
    * `partitionBy` from a wide upstream writes ~tasks×lists files (the
    * 10× smoke measured 4,213 files for 142 lists), so the slim code
    * rows (id + m bytes) are first repartitioned BY LIST — each task
    * then writes only the lists it holds, capping the layout at ~one
    * file per list regardless of upstream parallelism. The extra
    * shuffle moves only the codes, a ~16× reduction of the corpus; a
    * hot list becomes one large file, which the parquet reader splits
    * by maxPartitionBytes anyway. */
  private def writeCodes(c: Store.Commit, codes: DataFrame,
                         replace: Boolean): Unit = {
    val byList = codes.repartition(col("centroid_id"))
    if (replace) c.replace("codes", byList, Seq("centroid_id"))
    else c.add("codes", byList, partitionBy = Seq("centroid_id"))
  }

  /** Train + encode + write the index under `path`. One pass over the
    * corpus (assignment + encode are map-side behind one broadcast of
    * the centroids); the partitioned write is the only shuffle-free
    * fan-out to one directory per inverted list.
    *
    * `residual = true` persists the per-list-residual-codebook variant
    * (`Pq.ivfPqResidualTopK`): only the codebook table carries the
    * stacked per-list arrays and the flag `search`/`append` branch on. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            nCentroids: Int = 16, m: Int = 16, dim: Int = 64,
            codebookSize: Int = 16, residual: Boolean = false,
            hierarchicalAssign: Boolean = false): Unit = {
    require(nCentroids > 0, "nCentroids must be positive")
    require(!(residual && hierarchicalAssign),
      "residual codebooks train on exact-assignment residuals; combine " +
        "is unsupported (approximate residuals would poison the per-list " +
        "codebooks silently)")
    val spark = corpus.sparkSession
    // materialize the trained centroids ONCE: they are consumed by the
    // encode (broadcast) AND written as a table — un-materialized, the
    // corpus-scanning sampling subtree executed twice (round-15)
    val cents = Similarity.sampleCentroids(corpus, idCol, vecCol, nCentroids)
      .localCheckpoint(true)
    val (cbFlat, halfFlat) =
      if (!residual) {
        Pq.flatten(Pq.codebook(corpus, idCol, vecCol, m, dim, codebookSize))
      } else {
        val (cf, hf, _) = Pq.residualTrain(
          Pq.assignedResiduals(normed(corpus, idCol, vecCol), cents), cents, m,
          codebookSize, dim / m)
        (cf, hf)
      }
    val cb = Codebook(m, codebookSize, dim, cbFlat, halfFlat, residual)
    import spark.implicits._
    Store.commit(spark, path, fresh = true) { c =>
      // the codes write, the centroids table and the codebook table are
      // independent jobs over materialized/driver-local inputs — overlap
      // them on a driver pool (round-15, guide §2.6); the s-family
      // lifecycles were many such writes back to back
      ParallelJobs.run(Seq(
        () => writeCodes(c, encode(corpus, idCol, vecCol, cents, cb,
          hierarchicalAssign), replace = true),
        () => c.replace("centroids", cents),
        () => c.replace("codebook",
          Seq((m, codebookSize, dim, cbFlat.toSeq, halfFlat.toSeq, residual))
            .toDF("m", "k", "dim", "cb_flat", "half_flat", "residual"))))
      c.prime("codebook", cb)
    }
  }

  /** Append a new batch into an existing index — the incremental-arrival
    * path a daily 100 TB pipeline needs (build once, append per batch,
    * never re-encode the corpus). The batch is assigned + encoded with
    * the STORED centroids and codebook (never retrained — retraining
    * would silently re-key every existing list) and lands as one more
    * codes artifact, partitioned by centroid_id like the others, so
    * probe-time partition pruning covers old and new rows alike.
    *
    * Semantics: if the batch lies outside the seed-selection sets,
    * `build(corpus); append(batch)` is row-identical to
    * `build(corpus ∪ batch)` (asserted in DedupSimilaritySpec) — the
    * quantizer is frozen, only rows accrue. Caller owns id uniqueness
    * across batches (a re-appended id simply appears twice, like any
    * append-only table) and schema stability (the batch's idCol type
    * must match the built index's). Quantizer drift — a batch far from
    * every stored centroid still lands in its nearest list, just with
    * coarser codes — is the standard IVF trade; rebuild when recall
    * decays. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
             path: String): Unit =
    Store.commit(batch.sparkSession, path) { c =>
      val spark = batch.sparkSession
      writeCodes(c, encode(batch, idCol, vecCol, readCents(spark, c.existing),
        readCodebook(spark, c.existing)), replace = false)
    }

  /** Mark index entries deleted (takedowns, re-curation — the daily
    * 100 TB pipeline's legal reality). Logical and cheap: the ids land
    * in the tombstones table, every subsequent [[search]] excludes them
    * before scoring, and [[compact]] physically drops their code rows
    * (and clears the tombstones). `ids` is any frame carrying `idCol`
    * with the indexed id type. */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    Store.add(path, "tombstones")(
      ids.select(col(idCol).as("neighbor_id")).distinct())

  /** Drops the tombstoned entries of index `ix` from `codes` (a
    * broadcast anti-join — the codes scan is never shuffled for it). */
  private def live(spark: SparkSession, ix: Store.Manifest,
                   codes: DataFrame): DataFrame =
    ix.readIfAny(spark, "tombstones").fold(codes)(t => codes.join(
      broadcast(t.select("neighbor_id").distinct()), Seq("neighbor_id"), "left_anti"))

  /** Rewrite the codes table through [[writeCodes]] — the maintenance
    * pass a long-lived index needs after many appends (each append adds
    * ≥ 1 file per touched list; compaction folds them back to ~one file
    * per list), MINUS any tombstoned rows (physically dropped here; the
    * tombstones are then cleared). For an index with no pending deletes
    * the codes rows are the same rows — only the file layout changes. */
  def compact(spark: SparkSession, path: String): Unit =
    Store.commit(spark, path) { c =>
      writeCodes(c, live(spark, c.existing, c.existing.read(spark, "codes")),
        replace = true)
      c.drop("tombstones")
    }

  /** Search a built index. Per query: probe the `nProbe` nearest
    * inverted lists (broadcast centroid table), ADC-score ONLY those
    * lists' code rows, then exact-cosine re-rank the `rerankDepth`
    * survivors against `rerank`'s raw vectors (usually the original
    * corpus table). `rerank = None` returns ADC-approximate cosines
    * directly. Output: (query_id, neighbor_id, cosine, rank), like the
    * in-memory operator — the probe/ADC/re-rank stages ARE
    * `Pq`'s own (shared `private[operators]` helpers), so the two
    * cannot drift.
    *
    * The probe table (query_id, centroid_id, lut — ≤ nProbe·|queries|
    * rows, bounded like every broadcast query side in this package) is
    * computed ONCE and collected: its list ids become the IN filter the
    * codes scan prunes partitions with, and its rows come back as a
    * local relation so the returned plan never re-runs the probe
    * subtree.
    *
    * Drift contract for `rerank`: the re-rank is an inner join on the
    * candidate ids, so an index entry missing from the rerank table
    * (corpus changed since `build`) silently drops out of the results —
    * a query can then return fewer than k rows. That is the honest
    * semantics of re-ranking against a drifted corpus; rebuild the index
    * (or pass `rerank = None`) when the corpus moves. */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
             rerankDepth: Int = 50,
             rerank: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && nProbe > 0, "k and nProbe must be positive")
    require(rerankDepth >= k, "rerankDepth must be >= k")
    val index = Store.latest(spark, path)
    val Codebook(m, cbSize, dim, cbFlat, _, residual) = readCodebook(spark, index)
    val cents = readCents(spark, index)
    val q =
      if (residual) Pq.prepQueriesBase(queries, idCol, vecCol)
      else Pq.prepQueries(queries, idCol, vecCol, cbFlat, m, cbSize, dim / m)
    val probes0 =
      if (residual) Pq.residualProbes(q, cents, Pq.listIndexFrame(cents),
        nProbe, cbFlat, m, cbSize, dim / m)
      else Pq.probeTable(q, cents, nProbe)
    // one execution of the probe subtree: manifest + local probe relation
    val probeRows = probes0.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes0.schema)
    val listIdx = probes0.schema.fieldIndex("centroid_id")
    // untyped manifest values: centroid_id inherits idCol's type (long,
    // int, string…) — isin resolves the comparison for any of them
    val probedLists = probeRows.map(_.get(listIdx)).distinct.toSeq
    // centroid_id comes back from partition DIRECTORY NAMES, and Spark's
    // partition type inference doesn't round-trip every id type (a
    // zero-padded string "0012" infers as int 12) — which would silently
    // break both the isin filter and the adcScored join. The codes table
    // is read with the schema its write recorded, where centroid_id keeps
    // the centroids table's type.
    val pruned = index.read(spark, "codes")
      .where(col("centroid_id").isin(probedLists: _*))
    // tombstoned entries drop BEFORE scoring/top-k, so a delete can
    // never occupy a result slot
    val codes = live(spark, index, pruned)
    val scored =
      if (residual) Pq.residualAdcScored(codes, probes, cbSize)
      else Pq.adcScored(codes, probes, cbSize)
    rerank match {
      case None => Similarity.topKPerQuery(scored, k)
      case Some(corpus) =>
        val cands = Similarity.topKPerQuery(scored, rerankDepth)
          .select(col("query_id"), col("neighbor_id"))
        Pq.exactRerank(cands, corpus, idCol, vecCol, q, k)
    }
  }
}
