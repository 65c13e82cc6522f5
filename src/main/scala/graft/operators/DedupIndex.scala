package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Store}
import graft.functions.Bloom

/** Persisted incremental-dedup index — the build-once / check-many shape
  * of `Dedup.dedupAgainstCorpus` (the batch-vs-corpus check a daily
  * ingest pipeline runs; reference shape: the incremental-arrival test
  * behind q_d7). That operator re-tokenizes and re-hashes the CORPUS on
  * every call; at 100 TB the corpus-side artifacts must be computed once
  * at build time and only scanned afterwards. The index is a
  * [[graft.Store]] holding exactly what the check needs:
  *
  *   shingles    (id, h) distinct shingle hashes per corpus doc — the
  *               inverted-index side of the candidate join
  *   counts      (id, n_sh) distinct-shingle count per corpus doc (the
  *               |B| term of Jaccard — stored so the check never
  *               re-aggregates the corpus-sized shingle table)
  *   fps         (id, fp) normalized-text fingerprint PER DOC (the id
  *               makes the row deletable; the exact-dup join reads only
  *               fp)
  *   bloom       one row: Bloom filter words over every stored fp + its
  *               hash count — the serving fast path that lets
  *               `checkBatch` skip the exact-dup join for wholly-novel
  *               batches
  *   tombstones  (id) — optional; rows [[delete]]d but not yet
  *               physically dropped. Consulted by every check, folded in
  *               (and cleared) by [[compact]].
  *
  * The manifest meta holds the shingle width `n` and the `portable` hash
  * flag (appends and checks MUST hash identically to the build, so both
  * are frozen there, never re-passed), and the manifest's applied epoch
  * is the streaming replay guard ([[lastAppliedEpoch]]). Every mutation
  * is one store commit, so a crash leaves the previous version or the
  * new one. [[appendEpoch]] tags its artifacts with the stream epoch,
  * which is what [[checkBatch]]'s `excludeEpoch` masks.
  *
  * Check-time scale shape (`broadcastBatch = true`, the default): the
  * daily batch is small next to the corpus, so its shingle rows and
  * fingerprints ride BROADCAST sides of the two joins — the stored
  * corpus tables are scanned in place, never shuffled, and the only
  * exchanges carry matching-pair rows. Tombstones ride broadcast
  * anti-joins for the same reason (takedown sets are small; a large
  * accumulated set is what compact is for). With
  * `broadcastBatch = false` (batch too big for one executor's memory)
  * both joins fall back to plain shuffles.
  *
  * Raw text is deliberately NOT duplicated into the index: the check
  * needs only hashes and counts, so the index stays a small fraction of
  * corpus bytes (~8 B per distinct shingle).
  *
  * Determinism: build/append/check all tokenize through
  * `Dedup.shingleHashRows` and score through `Dedup.bestJaccardAgainst` /
  * `assembleCheck` — the same `private[operators]` cores the in-memory
  * operator uses — so `checkBatch` over a built index returns EXACTLY
  * what `dedupAgainstCorpus` returns for the same inputs (asserted in
  * DedupIndexSpec; q_d10 serves q_d7's oracle verbatim). */
object DedupIndex {

  /** Default Bloom sizing: 2^20 bits (128 KiB) / 5 hashes ≈ 3% false
    * positives at 1 M stored fingerprints — a false positive only costs
    * running the fps join that a bloom-less index always runs. */
  val DefaultBloomBits: Int = 1 << 20
  val DefaultBloomHashes: Int = 5

  /** Target shingle rows per written parquet file (see the sizing note
    * inside [[writeParts]]). */
  private val RowsPerFile: Long = 1L << 20

  /** Tokenize + hash + fingerprint `docs` once and write the three
    * artifact tables as new artifacts of commit `c`, tagged `epoch` —
    * shared verbatim by `build`, `append` and `appendEpoch`, so the
    * incremental path cannot drift. `extraJobs` run in the SAME driver
    * thread pool as the three artifact writes (round-15, guide §2.6) —
    * callers pass only work that is independent of those writes (e.g.
    * [[mergeBloom]], whose inputs are the batch and the memoized stored
    * filter, and whose output directory is disjoint). */
  private def writeParts(c: Store.Commit, docs: DataFrame, idCol: String,
                         textCol: String, n: Int, portable: Boolean,
                         epoch: Option[Long],
                         precomputedRows: Option[DataFrame] = None,
                         extraJobs: Seq[() => Unit] = Nil): Unit = {
    val rows = precomputedRows.getOrElse(
      Dedup.shingleHashRows(docs, idCol, textCol, n, portable))
    // three consumers (row write + count aggregate + the file-count
    // probe): persist so the tokenize stage runs once — write-side only,
    // released here. The count ALSO materializes the cache before the
    // concurrent writes below, so they read blocks instead of racing to
    // compute the tokenize (the round-14 lazy-cache lesson).
    rows.persist()
    try {
      // writes are sized to the BATCH, not to the session's shuffle
      // partitions: a micro-batch epoch lands as ONE file per table
      // instead of one near-empty file per partition (10k stream epochs
      // × 3 tables × 32 partitions is a small-files index — the same
      // design-out rule as IvfPqIndex's by-list code compaction), while
      // a full corpus build still fans out (26 M rows → 25 files)
      val files = math.max(1L,
        (rows.count() + RowsPerFile - 1L) / RowsPerFile).toInt
      // the three artifact writes land in DISJOINT directories from
      // independent inputs — overlap them (guide §2.6): the serialized
      // form paid three full job round-trips back to back per
      // build/append/epoch
      ParallelJobs.run(Seq[() => Unit](
        () => c.add("shingles", rows.coalesce(files), epoch),
        () => c.add("counts", rows.groupBy("id").agg(count(lit(1)).as("n_sh"))
          .coalesce(files), epoch),
        () => c.add("fps", docs.select(col(idCol).as("id"),
          TextStats.fingerprint(col(textCol)).as("fp")).coalesce(files), epoch)
      ) ++ extraJobs)
    } finally { rows.unpersist(); () }
  }

  /** The frozen shingle width and hash flavor of the index. */
  private def meta(m: Store.Manifest): (Int, Boolean) =
    (m.meta("n").toInt, m.meta("portable").toBoolean)

  // The Bloom words are read with a Spark job (`head()` over a one-row
  // parquet) that a streaming ingest loop would pay per epoch, so they
  // sit in graft.Memo under the bloom artifact's directory; the commit
  // that writes a filter primes its entry.

  private def writeBloom(spark: SparkSession, c: Store.Commit,
                         f: Bloom.Filter): Unit = {
    import spark.implicits._
    c.replace("bloom", Seq((f.words.toSeq, f.numHashes)).toDF("words", "num_hashes"))
    c.prime("bloom", f)
  }

  private def readBloom(spark: SparkSession, m: Store.Manifest): Bloom.Filter =
    Memo.path(m.root, "bloom", m.versionOf("bloom")) {
      val r = m.read(spark, "bloom").head()
      Bloom.Filter(r.getSeq[Long](r.fieldIndex("words")).toArray,
        r.getAs[Int]("num_hashes"))
    }

  /** Build the index under `path`: one tokenize pass over the corpus,
    * three artifact writes, the fps Bloom filter. A rebuild replaces the
    * previous index wholly (tombstones and applied epoch included).
    *
    * `precomputedRows`: optional (id, h) distinct shingle-hash rows for
    * EXACTLY this corpus, width `n`, flavor `portable` — the tokenize-
    * once reuse hook for pipelines that already materialized the corpus
    * shingle table (the bench session's shared tokenize; at 100 TB,
    * skipping a second full-corpus regex pass). Caller owns the
    * equivalence — rows that disagree with `Dedup.shingleHashRows(corpus,
    * n, portable)` poison every future check silently. */
  def build(corpus: DataFrame, idCol: String, textCol: String, path: String,
            n: Int = 3, portable: Boolean = true,
            bloomBits: Int = DefaultBloomBits,
            bloomHashes: Int = DefaultBloomHashes,
            precomputedRows: Option[DataFrame] = None): Unit = {
    require(n > 0, s"shingle width must be positive: $n")
    val spark = corpus.sparkSession
    Store.commit(spark, path, fresh = true) { c =>
      c.setMeta("n", n)
      c.setMeta("portable", portable)
      writeParts(c, corpus, idCol, textCol, n, portable, None, precomputedRows)
      // the Bloom build reads the JUST-WRITTEN fps table — sequenced after
      // the parallel batch by construction
      writeBloom(spark, c, Bloom.build(c.state.read(spark, "fps"), "fp",
        bloomBits, bloomHashes))
    }
  }

  /** Fold a new batch into the index — tokenized with the STORED shingle
    * width and hash flavor (never re-passed: a mismatched width would
    * silently zero every future cross-batch intersection), with the
    * batch's fingerprints OR-merged into the stored Bloom filter (one
    * pass over the batch; the filter words are a bounded driver
    * artifact).
    *
    * Caller owns id uniqueness across batches — and NOT just for
    * hygiene: re-appending an ALREADY-INDEXED id duplicates its (id, h)
    * shingle rows and its (id, n_sh) count row, which INFLATES every
    * future best_jaccard against that doc (j = 2I/(na+nb−2I) > true,
    * up to Infinity for an identical pair) and permanently over-drops
    * later batches. Duplicated fps are the only harmless duplicates (the
    * check collapses hits per batch id). If a caller may have
    * double-appended, run [[compact]] — it restores exactly the
    * single-append state. `build(a); append(b)` ≡ `build(a ∪ b)`
    * row-identically for DISJOINT ids (asserted in DedupIndexSpec). */
  def append(batch: DataFrame, idCol: String, textCol: String,
             path: String): Unit =
    Store.commit(batch.sparkSession, path)(appendParts(batch, idCol, textCol, None))

  /** [[append]] for the streaming ingest loop: the batch's artifacts are
    * tagged `epoch` and publish together with the applied epoch, so a
    * replay of an epoch the index already applied is a no-op wherever a
    * crash landed — no [[compact]] needed to restore the single-append
    * state. Pair with `checkBatch(…, excludeEpoch = Some(epoch))` so the
    * replayed check never sees the epoch's own rows
    * ([[graft.streaming.StreamIndexDedup.processEpoch]] wires both). */
  def appendEpoch(batch: DataFrame, idCol: String, textCol: String,
                  path: String, epoch: Long): Unit = {
    Store.appendEpoch(batch.sparkSession, path, epoch)(
      appendParts(batch, idCol, textCol, Some(epoch)))
    ()
  }

  /** The artifact writes of one append, with the Bloom merge riding the
    * same driver pool (it reads only the batch + the memoized stored
    * filter and writes its own directory). */
  private def appendParts(batch: DataFrame, idCol: String, textCol: String,
                          epoch: Option[Long])(c: Store.Commit): Unit = {
    val spark = batch.sparkSession
    val (n, portable) = meta(c.existing)
    writeParts(c, batch, idCol, textCol, n, portable, epoch,
      extraJobs = Seq(() => writeBloom(spark, c,
        mergeBloom(batch, textCol, readBloom(spark, c.existing)))))
  }

  /** OR the batch's fingerprints into a copy of the stored Bloom filter
    * (one pass over the batch; the filter words are a bounded driver
    * artifact). The memoized filter stays immutable, so concurrent
    * in-process readers never observe a half-mutated filter (ADVICE
    * r14). */
  private def mergeBloom(batch: DataFrame, textCol: String,
                         stored: Bloom.Filter): Bloom.Filter = {
    val add = Bloom.build(
      batch.select(TextStats.fingerprint(col(textCol)).as("fp")), "fp",
      stored.numBits, stored.numHashes)
    val merged = stored.words.clone()
    var i = 0
    while (i < merged.length) { merged(i) |= add.words(i); i += 1 }
    Bloom.Filter(merged, stored.numHashes)
  }

  /** Mark docs deleted (takedowns, re-curation — the daily 100 TB
    * pipeline's legal reality). Logical and cheap: the ids land in the
    * tombstones table, every subsequent [[checkBatch]] excludes them
    * from all three stored tables, and [[compact]] physically drops the
    * rows (and clears the tombstones). `ids` is any frame carrying
    * `idCol` with the indexed id type. */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    Store.add(path, "tombstones")(ids.select(col(idCol).as("id")).distinct())

  /** Drops the tombstoned docs of index `m` from `df` (a broadcast
    * anti-join). */
  private def live(spark: SparkSession, m: Store.Manifest)
                  (df: DataFrame): DataFrame =
    m.readIfAny(spark, "tombstones").fold(df)(t =>
      df.join(broadcast(t.select("id").distinct()), Seq("id"), "left_anti"))

  /** Rewrite the artifact tables compact AND correct — the maintenance
    * pass a long-lived index needs. Beyond folding the per-append file
    * fan-out back to ~one file per shuffle partition, compact is the
    * index's REPAIR point:
    *
    *   - shingles collapse to DISTINCT (id, h): a double-appended id
    *     otherwise inflates every future best_jaccard against it — see
    *     [[append]]'s warning
    *   - counts are RECOMPUTED from the compacted shingle table, never
    *     carried over (a duplicated count row is exactly as poisonous)
    *   - fps collapse to DISTINCT (id, fp)
    *   - tombstoned rows are physically dropped from all three tables,
    *     the Bloom filter is REBUILT over the surviving fps (deletion
    *     can only clear bits at rebuild — a Bloom filter cannot unset
    *     incrementally), and the tombstones are cleared
    *
    * The rewritten tables carry no epoch tag, so a later `excludeEpoch`
    * no longer masks a folded epoch's rows. For an index whose appends
    * never reused an id and that has no pending deletes, the rewrite is
    * a pure layout change — same rows, same verdicts (asserted in
    * DedupIndexSpec); after a double-append it restores the
    * single-append state (also asserted). */
  def compact(spark: SparkSession, path: String): Unit =
    Store.commit(spark, path) { c =>
      val old = c.existing
      val live = DedupIndex.live(spark, old) _
      // the compacted layout is sized to the SURVIVING rows (the whole
      // point of compaction is few big files), not to the session's
      // shuffle partitions
      val deduped = live(old.read(spark, "shingles").select("id", "h"))
        .distinct().persist()
      try {
        val files = math.max(1L,
          (deduped.count() + RowsPerFile - 1L) / RowsPerFile).toInt
        c.replace("shingles", deduped.repartition(files))
        // counts derive from the JUST-COMPACTED shingles — one aggregate
        // over the deduplicated table, so a duplicated or tombstoned count
        // row cannot survive
        c.replace("counts", c.state.read(spark, "shingles").groupBy("id")
          .agg(count(lit(1)).as("n_sh")).coalesce(files))
        c.replace("fps",
          live(old.read(spark, "fps").select("id", "fp")).distinct().coalesce(files))
      } finally { deduped.unpersist(); () }
      val stored = readBloom(spark, old)
      writeBloom(spark, c, Bloom.build(c.state.read(spark, "fps"), "fp",
        stored.numBits, stored.numHashes))
      c.drop("tombstones")
    }

  /** Highest streaming epoch already applied to the index (None before
    * the first) — the replay guard [[graft.streaming.StreamIndexDedup]]
    * reads. */
  private[graft] def lastAppliedEpoch(spark: SparkSession,
                                      path: String): Option[Long] =
    Store.current(spark, path).flatMap(_.epoch)

  /** Check a batch against the indexed corpus. Output per batch doc
    * (same frame as `Dedup.dedupAgainstCorpus`): `id`,
    * `dropped_exact` (normalized-text fingerprint already in corpus),
    * `best_jaccard` (max exact n-gram Jaccard against any corpus doc
    * sharing ≥ 1 shingle, null when none), and the composite `keep`.
    * Tombstoned corpus docs are excluded from both checks.
    *
    * `useBloom = true` (default) first probes the batch fingerprints
    * against the stored Bloom filter (map-side codegen'd builtins) and
    * SKIPS the exact-dup join entirely when no fingerprint can match —
    * the standard serving optimization for wholly-novel daily batches
    * (the common case): one tiny batch-sided job replaces a scan of the
    * stored fps table. When some fingerprints pass, only THOSE ride the
    * join's broadcast side. No false negatives by Bloom's contract, so
    * verdicts are identical either way (spec-asserted).
    *
    * `excludeEpoch` leaves out the artifacts that epoch's [[appendEpoch]]
    * wrote, in all three stored tables (a filter over the manifest, not
    * over rows) — the streaming replay discipline: a re-delivered epoch
    * the index already applied must check against the PRE-epoch state,
    * or every doc would exact-match its own earlier copy. The Bloom gate
    * stays safe under the mask: a masked fp in the filter is only ever a
    * false POSITIVE (the fps join then misses, correctly). */
  def checkBatch(batch: DataFrame, idCol: String, textCol: String,
                 path: String, minJaccard: Double,
                 broadcastBatch: Boolean = true,
                 useBloom: Boolean = true,
                 excludeEpoch: Option[Long] = None,
                 precomputedBatchRows: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val m = Store.latest(spark, path)
    val (n, portable) = meta(m)
    val live = DedupIndex.live(spark, m) _
    // tokenize-once hook (see [[build]]): rows must be EXACTLY
    // shingleHashRows(batch, n=stored, portable=stored) or verdicts
    // silently drift — callers pass it only when they know the built
    // index's frozen width/flavor
    val bRows = precomputedBatchRows.getOrElse(
      Dedup.shingleHashRows(batch, idCol, textCol, n, portable))
    val cRows = live(m.read(spark, "shingles", excludeEpoch)
      .select("id", "h"))
    val nb = live(m.read(spark, "counts", excludeEpoch))
      .select(col("id").as("cid"), col("n_sh").as("nb"))
    val bfp = batch.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("fp"))
    // bloom gate: restrict the exact-dup join's batch side to
    // fingerprints that MIGHT be stored; a wholly-novel batch skips the
    // join (and the stored-fps scan) entirely
    val bloomed = if (useBloom) Some(readBloom(spark, m)) else None
    val candFps = bloomed match {
      case Some(f) => bfp.where(Bloom.mightContain(col("fp"), f))
      case None => bfp
    }
    // keep the limit at the plan root: below it (`limit(1).count()`) the
    // generated code carries a per-plan limit counter, so the probe's
    // stage would be compiled again on every call
    val anyCandidate = bloomed.isEmpty || !candFps.isEmpty
    val exactHits =
      if (!anyCandidate)
        // optimizes to an empty LocalRelation — no fps scan in the plan
        bfp.where(lit(false)).select(col("id"), lit(1).as("_hit"))
      else {
        // stored-fps ⋈ broadcast(bloom-passing batch fps), collapsed to
        // distinct hit ids: scans the fp table in place and cannot
        // multiply batch rows. Stored ids are dropped (only needed for
        // deletes); `id` below is the BATCH id.
        val side = if (broadcastBatch) broadcast(candFps) else candFps
        live(m.read(spark, "fps", excludeEpoch).select("id", "fp"))
          .select("fp")
          .join(side, Seq("fp"))
          .select("id").distinct().withColumn("_hit", lit(1))
      }
    Dedup.assembleCheck(bfp.select("id"), exactHits,
      Dedup.bestJaccardAgainst(bRows, cRows, nb, broadcastBatch), minJaccard)
  }
}
