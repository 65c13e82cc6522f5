package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PqCodec

/** Persisted IVF-PQ index — the build-once / query-many serving shape of
  * `Pq.ivfPqTopK`. That operator trains, encodes, and searches in one
  * plan; at 100 TB the index is built ONCE (one shuffle write) and every
  * later query batch must touch only its probed inverted lists. This
  * object persists exactly the artifacts the search needs:
  *
  *   path/codes/      (neighbor_id, codes) parquet PARTITIONED BY
  *                    centroid_id — probing nProbe lists becomes parquet
  *                    PARTITION PRUNING: the scan reads nProbe/nCentroids
  *                    of the index files, nothing else
  *   path/centroids/  the coarse quantizer (nCentroids slim rows)
  *   path/codebook/   one row: flattened PQ codebook + dims
  *   path/tombstones/ (neighbor_id) — optional; rows [[delete]]d but not
  *                    yet physically dropped (search excludes them,
  *                    compact drops them)
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

  private def asDouble(c: org.apache.spark.sql.Column) = c.cast("array<double>")

  // Every [[search]]/[[append]] would re-run a `head()` job over the
  // one-row codebook and re-list the centroids and codes tables, so the
  // codebook row and codes schema sit in graft.Memo's path scope and the
  // centroids plan in its session scope. All three change only at
  // [[build]], which invalidates them; codes FILES change on append, so
  // only their schema (fixed at build) is memoized, never a plan.
  private def readCodebook(spark: SparkSession, path: String): org.apache.spark.sql.Row =
    graft.Memo.path(path, "codebook")(
      spark.read.parquet(s"$path/codebook").head())
  private def readCents(spark: SparkSession, path: String): DataFrame =
    graft.Memo.session(spark, path, "centroids")(
      spark.read.parquet(s"$path/centroids"))
  /** The codes read schema with `centroid_id` pinned to the centroids
    * sidecar's type (partition-directory inference doesn't round-trip
    * every id type — see [[search]]); column set is fixed at build, so
    * the schema memoizes even though the FILES change on append. */
  private def codesSchema(spark: SparkSession, path: String,
                          centType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType =
    graft.Memo.path(path, "codes.schema")(
      org.apache.spark.sql.types.StructType(
        spark.read.parquet(s"$path/codes").schema.map(f =>
          if (f.name == "centroid_id") f.copy(dataType = centType) else f)))

  /** Assign + PQ-encode `rows` against a FIXED quantizer (centroids +
    * flattened codebook) and write them into `path/codes` partitioned by
    * inverted list — the one encode stage `build` and `append` share, so
    * the incremental path cannot drift from the full build. Map-side
    * behind one broadcast of the centroids; the partitioned write is the
    * only fan-out, one directory per list. Assignment can only land on
    * the STORED centroid ids, so an append never mints a partition the
    * probe pruning doesn't know. */
  private def encodeInto(rows: DataFrame, idCol: String, vecCol: String,
                         cents: DataFrame, cbFlat: Array[Double],
                         halfFlat: Array[Double], m: Int, codebookSize: Int,
                         dsub: Int, path: String, mode: String,
                         hierarchicalAssign: Boolean = false): Unit = {
    val c = rows.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
      .where(col("cn") > 0)
    writeCodes((if (hierarchicalAssign) Similarity.assignToHierarchical(c, cents)
      else Similarity.assignTo(c, cents))
      .select(col("centroid_id"), col("neighbor_id"),
        PqCodec.encodeCol(transform(col("cv"), x => x / col("cn")),
          cbFlat, halfFlat, m, codebookSize, dsub).as("codes")),
      path, mode)
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
  private def writeCodes(codes: DataFrame, path: String,
                         mode: String): Unit =
    codes.repartition(col("centroid_id"))
      .write.mode(mode).partitionBy("centroid_id")
      .parquet(s"$path/codes")

  /** Train + encode + write the index under `path`. One pass over the
    * corpus (assignment + encode are map-side behind one broadcast of
    * the centroids); the partitioned write is the only shuffle-free
    * fan-out to one directory per inverted list.
    *
    * `residual = true` persists the per-list-residual-codebook variant
    * (`Pq.ivfPqResidualTopK`): the codes layout is IDENTICAL (the slab
    * mapping is a pure function of the centroid table —
    * `Pq.listIndexFrame`), only the codebook sidecar carries the stacked
    * per-list arrays and the flag `search`/`append` branch on. */
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
    graft.Memo.invalidate(path) // a rebuild replaces every memoized sidecar
    // materialize the trained centroids ONCE: they are consumed by the
    // encode (broadcast) AND written as a sidecar — un-materialized, the
    // corpus-scanning sampling subtree executed twice (round-15)
    val cents = Similarity.sampleCentroids(corpus, idCol, vecCol, nCentroids)
      .localCheckpoint(true)
    val (cbFlat, halfFlat) =
      if (!residual) {
        Pq.flatten(Pq.codebook(corpus, idCol, vecCol, m, dim, codebookSize))
      } else {
        val c = corpus.select(col(idCol).as("neighbor_id"),
            asDouble(col(vecCol)).as("cv"))
          .withColumn("cn", Similarity.norm(col("cv")))
          .where(col("cn") > 0)
        val ar = Pq.assignedResiduals(c, cents)
        val (cf, hf, _) = Pq.residualTrain(ar, cents, m, codebookSize, dim / m)
        (cf, hf)
      }
    import spark.implicits._
    // the codes write, the centroids sidecar and the codebook sidecar
    // are independent jobs over materialized/driver-local inputs —
    // overlap them on a driver pool (round-15, guide §2.6); the s-family
    // lifecycles were many such writes back to back
    ParallelJobs.run(Seq(
      () =>
        if (!residual)
          encodeInto(corpus, idCol, vecCol, cents, cbFlat, halfFlat, m,
            codebookSize, dim / m, path, "overwrite", hierarchicalAssign)
        else {
          val c = corpus.select(col(idCol).as("neighbor_id"),
              asDouble(col(vecCol)).as("cv"))
            .withColumn("cn", Similarity.norm(col("cv")))
            .where(col("cn") > 0)
          writeCodes(
            Pq.residualEncode(Pq.assignedResiduals(c, cents),
              Pq.listIndexFrame(cents), cbFlat, halfFlat, m, codebookSize,
              dim / m),
            path, "overwrite")
        },
      () => cents.write.mode("overwrite").parquet(s"$path/centroids"),
      () => {
        Seq((m, codebookSize, dim, cbFlat.toSeq, halfFlat.toSeq, residual))
          .toDF("m", "k", "dim", "cb_flat", "half_flat", "residual")
          .write.mode("overwrite").parquet(s"$path/codebook"); ()
      }))
  }

  /** Append a new batch into an existing index — the incremental-arrival
    * path a daily 100 TB pipeline needs (build once, append per batch,
    * never re-encode the corpus). The batch is assigned + encoded with
    * the STORED centroids and codebook (read from the sidecars, never
    * retrained — retraining would silently re-key every existing list)
    * and lands as new files inside the existing centroid_id partition
    * directories, so probe-time partition pruning covers old and new
    * rows alike.
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
             path: String): Unit = {
    val spark = batch.sparkSession
    val meta = readCodebook(spark, path)
    val m = meta.getAs[Int]("m")
    val cbSize = meta.getAs[Int]("k")
    val dim = meta.getAs[Int]("dim")
    val cbFlat = meta.getSeq[Double](meta.fieldIndex("cb_flat")).toArray
    val halfFlat = meta.getSeq[Double](meta.fieldIndex("half_flat")).toArray
    val cents = readCents(spark, path)
    if (!meta.getAs[Boolean]("residual"))
      encodeInto(batch, idCol, vecCol, cents, cbFlat, halfFlat, m, cbSize,
        dim / m, path, "append")
    else {
      val c = batch.select(col(idCol).as("neighbor_id"),
          asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", Similarity.norm(col("cv")))
        .where(col("cn") > 0)
      writeCodes(Pq.residualEncode(Pq.assignedResiduals(c, cents),
          Pq.listIndexFrame(cents), cbFlat, halfFlat, m, cbSize, dim / m),
        path, "append")
    }
  }

  /** Mark index entries deleted (takedowns, re-curation — the daily
    * 100 TB pipeline's legal reality). Logical and cheap: the ids land
    * in a tombstones sidecar, every subsequent [[search]] excludes them
    * before scoring, and [[compact]] physically drops their code rows
    * (and clears the tombstones). `ids` is any frame carrying `idCol`
    * with the indexed id type. */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    IndexFiles.readIfExists(spark, s"$path/tombstones")
      .map(t => broadcast(t.select("neighbor_id").distinct()))

  /** Rewrite the codes table through [[writeCodes]] — the maintenance
    * pass a long-lived index needs after many appends (each append adds
    * ≥ 1 file per touched list; compaction folds them back to ~one file
    * per list), MINUS any tombstoned rows (physically dropped here; the
    * tombstones sidecar is then cleared). For an index with no pending
    * deletes the codes rows are the same rows — only the file layout
    * changes. The rewrite stages through a sibling directory and swaps
    * by rename through the Hadoop FileSystem of the index's path (works
    * on any Hadoop-compatible store, not just local disk; a stale
    * `codes_compacting_root` leftover is overwritten by the next
    * attempt). Not safe against a CONCURRENT reader of the same path
    * across the swap instant — run it in the index's write lane, like
    * the appends themselves. */
  def compact(spark: SparkSession, path: String): Unit = {
    val cents = readCents(spark, path)
    val centType = cents.schema("centroid_id").dataType
    val cs = codesSchema(spark, path, centType)
    val tombs = tombstones(spark, path)
    val survivors = tombs.fold(
        spark.read.schema(cs).parquet(s"$path/codes"))(t =>
      spark.read.schema(cs).parquet(s"$path/codes")
        .join(t, Seq("neighbor_id"), "left_anti"))
    // writeCodes appends "/codes" itself — stage under a sibling root
    writeCodes(survivors, s"$path/codes_compacting_root", "overwrite")
    IndexFiles.swapIn(spark, s"$path/codes",
      s"$path/codes_compacting_root/codes")
    IndexFiles.remove(spark, s"$path/codes_compacting_root")
    IndexFiles.remove(spark, s"$path/tombstones")
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
    val meta = readCodebook(spark, path)
    val m = meta.getAs[Int]("m")
    val cbSize = meta.getAs[Int]("k")
    val dim = meta.getAs[Int]("dim")
    val residual = meta.getAs[Boolean]("residual")
    val cbFlat = meta.getSeq[Double](meta.fieldIndex("cb_flat")).toArray
    val cents = readCents(spark, path)
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
    // break both the isin filter and the adcScored join. The centroids
    // sidecar holds the authoritative type, so pin the partition column
    // to it with an explicit read schema (the first read is a
    // footer-metadata peek for the data columns, no data scan).
    val centType = cents.schema("centroid_id").dataType
    val pruned = spark.read.schema(codesSchema(spark, path, centType))
      .parquet(s"$path/codes")
      .where(col("centroid_id").isin(probedLists: _*))
    // tombstoned entries drop BEFORE scoring/top-k, so a delete can
    // never occupy a result slot; broadcast anti-join — the pruned codes
    // scan is never shuffled for it
    val codes = tombstones(spark, path).fold(pruned)(t =>
      pruned.join(t, Seq("neighbor_id"), "left_anti"))
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
