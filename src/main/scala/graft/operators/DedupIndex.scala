package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Bloom

/** Persisted incremental-dedup index — the build-once / check-many shape
  * of `Dedup.dedupAgainstCorpus` (the batch-vs-corpus check a daily
  * ingest pipeline runs; reference shape: the incremental-arrival test
  * behind q_d7). That operator re-tokenizes and re-hashes the CORPUS on
  * every call; at 100 TB the corpus-side artifacts must be computed once
  * at build time and only scanned afterwards. This object persists
  * exactly what the check needs:
  *
  *   path/shingles/   (id, h) distinct shingle hashes per corpus doc —
  *                    the inverted-index side of the candidate join
  *   path/counts/     (id, n_sh) distinct-shingle count per corpus doc
  *                    (the |B| term of Jaccard — stored so the check
  *                    never re-aggregates the corpus-sized shingle table)
  *   path/fps/        (id, fp) normalized-text fingerprint PER DOC (the
  *                    id makes the row deletable; the exact-dup join
  *                    reads only fp)
  *   path/bloom/      one row: Bloom filter words over every stored fp +
  *                    its hash count — the serving fast path that lets
  *                    `checkBatch` skip the exact-dup join for
  *                    wholly-novel batches
  *   path/meta/       one row: shingle width `n` + `portable` hash flag
  *                    (appends/checks MUST hash identically to the build,
  *                    so both are frozen here, never re-passed)
  *   path/tombstones/ (id) — optional; rows [[delete]]d but not yet
  *                    physically dropped. Consulted by every check,
  *                    folded in (and cleared) by [[compact]].
  *   path/applied_epochs/ (epoch) — optional; the streaming replay guard
  *                    (see [[lastAppliedEpoch]])
  *
  * Every artifact table is PARTITIONED BY an `epoch` stamp (hive-style
  * `epoch=<e>` directories): [[BaseEpoch]] (-1) for [[build]] and plain
  * [[append]] rows, the foreachBatch epoch id for [[appendEpoch]] rows.
  * The stamp is what makes the streaming ingest loop idempotent
  * WHEREVER a crash lands (the StreamMetrics X112 discipline, lifted to
  * the multi-table case): a replayed [[appendEpoch]] OVERWRITES its own
  * epoch directories instead of appending next to the crashed attempt,
  * and
  * [[checkBatch]]'s `excludeEpoch` masks the in-flight epoch so the
  * replay recomputes the SAME kept set the first attempt saw. Indexes
  * written before the stamp existed keep reading fine (the readers
  * select named columns); run [[compact]] once to migrate their layout
  * before appending to them.
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

  /** The epoch stamp on rows written by [[build]], plain [[append]] and
    * [[compact]] — never a real foreachBatch epoch (those are ≥ 0). */
  val BaseEpoch: Long = -1L

  /** Tokenize + hash + fingerprint the corpus once and write all three
    * artifacts under `path`, each into its epoch's own hive-style
    * partition directory (`<part>/epoch=<e>/`) — shared verbatim by
    * `build` (overwrite), `append` (append into the base partition) and
    * `appendEpoch` (overwrite of the epoch's own directory), so the
    * incremental path cannot drift. The directory IS the stamp: it
    * surfaces as an `epoch` partition column on every parent-directory
    * read, and writing each epoch's directory directly (rather than
    * `partitionBy`) keeps an EMPTY corpus readable — a plain parquet
    * write of an empty frame still records the schema, where a
    * partitioned one writes nothing. */
  /** Target shingle rows per written parquet file (see the sizing note
    * inside [[writeParts]]). */
  private val RowsPerFile: Long = 1L << 20

  /** `extraJobs` run in the SAME driver thread pool as the three
    * artifact writes (round-15, guide §2.6) — callers pass only work
    * that is independent of those writes (e.g. [[mergeBloom]], whose
    * inputs are the batch and the memoized stored filter, and whose
    * output directory is disjoint). */
  private def writeParts(docs: DataFrame, idCol: String, textCol: String,
                         path: String, n: Int, portable: Boolean,
                         mode: String, epoch: Long,
                         precomputedRows: Option[DataFrame] = None,
                         extraJobs: Seq[() => Unit] = Nil): Unit = {
    def write(df: DataFrame, part: String, files: Int): Unit =
      df.coalesce(files).write.mode(mode).parquet(s"$path/$part/epoch=$epoch")
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
        () => write(rows, "shingles", files),
        () => write(rows.groupBy("id").agg(count(lit(1)).as("n_sh")),
          "counts", files),
        () => write(docs.select(col(idCol).as("id"),
          TextStats.fingerprint(col(textCol)).as("fp")), "fps", files)
      ) ++ extraJobs)
    } finally { rows.unpersist(); () }
  }

  /** Artifact-table read with the streaming replay mask: `excludeEpoch`
    * filters out that epoch's partitions (partition pruning — the mask
    * is a directory skip, not a scan-and-filter), so a replayed epoch
    * checks against exactly the pre-epoch state. Pre-stamp indexes have
    * no epoch column and read unmasked. */
  private def readPart(spark: SparkSession, path: String, part: String,
                       excludeEpoch: Option[Long]): DataFrame = {
    val df = spark.read.parquet(s"$path/$part")
    excludeEpoch match {
      case Some(e) if df.columns.contains("epoch") =>
        df.where(col("epoch") =!= e)
      case _ => df
    }
  }

  /** Write-through session memos for the three tiny sidecars (meta,
    * bloom, applied-epochs high-water mark). Every sidecar READ is a
    * Spark job (`head()` over a one-row parquet); a streaming ingest
    * loop pays meta+bloom+marker reads PER EPOCH — pure driver
    * round-trip overhead at any scale, since the values are bounded
    * driver artifacts to begin with. All sidecar mutations go through
    * this object (the index's documented single-writer lane), so each
    * write also updates the memo and the values cannot go stale for
    * in-process readers; the first read of an index built by another
    * process still comes from disk. Keyed by PATH alone, not by session:
    * the values are plain driver data (no session tie), and streaming
    * foreachBatch bodies run under CLONED sessions — a session-keyed
    * memo would go stale for the parent session the moment a stream
    * epoch appended (caught by DedupIndexSpec's stream-face test).
    * Entry count is bounded by the number of index paths the process
    * touches. Results are unchanged — the memo holds exactly what the
    * sidecar file holds. */
  private val sidecarMemo = scala.collection.concurrent.TrieMap
    .empty[String, AnyRef]
  private def memoGet[T <: AnyRef](spark: SparkSession, key: String)
                                  (read: => T): T =
    sidecarMemo.getOrElseUpdate(key, read).asInstanceOf[T]
  private def memoPut(spark: SparkSession, key: String, v: AnyRef): Unit =
    sidecarMemo.put(key, v)

  private def writeBloom(spark: SparkSession, path: String,
                         f: Bloom.Filter): Unit = {
    import spark.implicits._
    Seq((f.words.toSeq, f.numHashes)).toDF("words", "num_hashes")
      .write.mode("overwrite").parquet(s"$path/bloom")
    memoPut(spark, s"bloom|$path", Some(f))
  }

  private def readBloom(spark: SparkSession, path: String): Option[Bloom.Filter] =
    memoGet[Option[Bloom.Filter]](spark, s"bloom|$path") {
      IndexFiles.readIfExists(spark, s"$path/bloom").map { df =>
        val r = df.head()
        Bloom.Filter(r.getSeq[Long](r.fieldIndex("words")).toArray,
          r.getAs[Int]("num_hashes"))
      }
    }

  /** Build the index under `path`: one tokenize pass over the corpus,
    * three artifact writes, the fps Bloom filter, one meta sidecar.
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
    // a fresh build invalidates any previous index's optional sidecars
    IndexFiles.remove(spark, s"$path/tombstones")
    IndexFiles.remove(spark, s"$path/applied_epochs")
    // a rebuild must clear EVERY epoch directory, not just the base one
    Seq("shingles", "counts", "fps")
      .foreach(p => IndexFiles.remove(spark, s"$path/$p"))
    import spark.implicits._
    // the meta sidecar is independent of the three artifact writes —
    // ride the same driver pool (round-15, guide §2.6)
    writeParts(corpus, idCol, textCol, path, n, portable, "overwrite",
      BaseEpoch, precomputedRows,
      extraJobs = Seq(() => {
        Seq((n, portable)).toDF("n", "portable")
          .write.mode("overwrite").parquet(s"$path/meta"); ()
      }))
    // the Bloom build reads the JUST-WRITTEN fps table — sequenced after
    // the parallel batch by construction
    writeBloom(spark, path, Bloom.build(
      spark.read.parquet(s"$path/fps"), "fp", bloomBits, bloomHashes))
    memoPut(spark, s"meta|$path", (n, portable))
    // build reset applied_epochs above; reflect that in the memo
    memoPut(spark, s"hwm|$path", None)
  }

  private def readMeta(spark: SparkSession, path: String): (Int, Boolean) =
    memoGet[(Integer, java.lang.Boolean)](spark, s"meta|$path") {
      val m = spark.read.parquet(s"$path/meta").head()
      (Integer.valueOf(m.getAs[Int]("n")),
        java.lang.Boolean.valueOf(m.getAs[Boolean]("portable")))
    } match { case (n, p) => (n.intValue(), p.booleanValue()) }

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
    * check collapses hits per batch id). If a replay may have
    * double-appended (the [[graft.streaming.StreamIndexDedup]] crash
    * window), run [[compact]] — it restores exactly the single-append
    * state. `build(a); append(b)` ≡ `build(a ∪ b)` row-identically for
    * DISJOINT ids (asserted in DedupIndexSpec). */
  def append(batch: DataFrame, idCol: String, textCol: String,
             path: String): Unit = {
    val spark = batch.sparkSession
    val (n, portable) = readMeta(spark, path)
    // the Bloom merge reads only the batch + the memoized stored filter
    // and writes its own directory — independent of the artifact writes,
    // so it rides the same driver pool (round-15, guide §2.6)
    writeParts(batch, idCol, textCol, path, n, portable, "append", BaseEpoch,
      extraJobs = Seq(() => mergeBloom(batch, textCol, path)))
  }

  /** [[append]] for the streaming ingest loop — IDEMPOTENT per epoch
    * wherever a crash lands: the batch's rows land in the epoch's OWN
    * partition directories, written with overwrite, so a foreachBatch
    * replay (crash anywhere between this append and its
    * `applied_epochs` marker) REWRITES the crashed attempt's rows
    * instead of duplicating them — no [[compact]] needed to restore the
    * single-append state. The Bloom merge is naturally idempotent
    * (OR-ing the same bits twice is a no-op). Pair with
    * `checkBatch(…, excludeEpoch = Some(epoch))` so the replayed check
    * never sees the crashed attempt's own rows
    * ([[graft.streaming.StreamIndexDedup.processEpoch]] wires both). */
  def appendEpoch(batch: DataFrame, idCol: String, textCol: String,
                  path: String, epoch: Long): Unit = {
    require(epoch >= 0, s"stream epochs are >= 0 (got $epoch); " +
      s"$BaseEpoch is reserved for batch rows")
    val spark = batch.sparkSession
    val (n, portable) = readMeta(spark, path)
    // see append: the Bloom merge overlaps the epoch's artifact writes
    writeParts(batch, idCol, textCol, path, n, portable, "overwrite", epoch,
      extraJobs = Seq(() => mergeBloom(batch, textCol, path)))
  }

  /** OR the batch's fingerprints into the stored Bloom filter (one pass
    * over the batch; the filter words are a bounded driver artifact). */
  private def mergeBloom(batch: DataFrame, textCol: String,
                         path: String): Unit = {
    val spark = batch.sparkSession
    readBloom(spark, path).foreach { stored =>
      val add = Bloom.build(
        batch.select(TextStats.fingerprint(col(textCol)).as("fp")), "fp",
        stored.numBits, stored.numHashes)
      // merge into a COPY: the memoized filter stays immutable, so a
      // failed write cannot leave the memo diverged from disk and
      // concurrent in-process readers never observe a half-mutated
      // filter (ADVICE r14); memoPut happens inside writeBloom, after
      // the parquet write succeeded
      val merged = stored.words.clone()
      var i = 0
      while (i < merged.length) { merged(i) |= add.words(i); i += 1 }
      writeBloom(spark, path, Bloom.Filter(merged, stored.numHashes))
    }
  }

  /** Mark docs deleted (takedowns, re-curation — the daily 100 TB
    * pipeline's legal reality). Logical and cheap: the ids land in the
    * tombstones sidecar, every subsequent [[checkBatch]] excludes them
    * from all three stored tables, and [[compact]] physically drops the
    * rows (and clears the tombstones). `ids` is any frame carrying
    * `idCol` with the indexed id type. */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    IndexFiles.readIfExists(spark, s"$path/tombstones")
      .map(t => broadcast(t.select("id").distinct()))

  /** Rewrite the artifact tables compact AND correct — the maintenance
    * pass a long-lived index needs. Beyond folding the per-append file
    * fan-out back to ~one file per shuffle partition, compact is the
    * index's REPAIR point:
    *
    *   - shingles collapse to DISTINCT (id, h): a double-appended id
    *     (streaming replay) otherwise inflates every future
    *     best_jaccard against it — see [[append]]'s warning
    *   - counts are RECOMPUTED from the compacted shingle table, never
    *     carried over (a duplicated count row is exactly as poisonous)
    *   - fps collapse to DISTINCT (id, fp)
    *   - tombstoned rows are physically dropped from all three tables,
    *     the Bloom filter is REBUILT over the surviving fps (deletion
    *     can only clear bits at rebuild — a Bloom filter cannot unset
    *     incrementally), and the tombstones sidecar is cleared
    *
    * For an index whose appends never reused an id and that has no
    * pending deletes, the rewrite is a pure layout change — same rows,
    * same verdicts (asserted byte-identical in DedupIndexSpec); after a
    * double-append it restores the single-append state (also asserted).
    * Compacting also MIGRATES a pre-stamp index to the epoch-partitioned
    * layout (all rows fold to [[BaseEpoch]]) — required before appending
    * to one.
    *
    * Pending-epoch guard: compact REFUSES when a stamped epoch above the
    * `applied_epochs` high-water mark is present — that epoch's append
    * may be PARTIAL (crash mid-[[appendEpoch]]: shingles landed, fps did
    * not) and folding it to [[BaseEpoch]] would strand the partial state
    * where the replay's partition overwrite can no longer repair it. Let
    * the stream replay the epoch (or record it manually if the stream is
    * retired) and compact after — the refusal names both epochs.
    *
    * Crash-safety: each table stages into a sibling directory and swaps
    * by rename through the Hadoop FileSystem of the index's path — works
    * on any Hadoop-compatible store, not just local disk. Not safe
    * against a CONCURRENT reader across the swap instant — run in the
    * index's write lane, like the appends themselves. */
  def compact(spark: SparkSession, path: String): Unit = {
    val shingles = spark.read.parquet(s"$path/shingles")
    if (shingles.columns.contains("epoch")) {
      // partition-directory inference types epoch as int; widen to long
      val pending = Option(
          shingles.agg(max(col("epoch").cast("long"))).head().get(0))
        .map(_.asInstanceOf[Long]).filter(_ > BaseEpoch)
      val marker = lastAppliedEpoch(spark, path)
      pending.filterNot(p => marker.exists(_ >= p)).foreach { p =>
        throw new IllegalStateException(
          s"compact refused: epoch $p is stamped in the index but the " +
          s"applied_epochs marker is at ${marker.getOrElse("none")} — its " +
          "append may be partial (crash mid-appendEpoch). Replay the epoch " +
          "(or recordAppliedEpoch manually) before compacting.")
      }
    }
    def swapIn(part: String, df: DataFrame): Unit = {
      val staged = s"$path/${part}_compacting"
      // everything folds into the base partition directory (this also
      // migrates a pre-stamp flat-file index to the epoch layout)
      df.write.mode("overwrite").parquet(s"$staged/epoch=$BaseEpoch")
      IndexFiles.swapIn(spark, s"$path/$part", staged)
    }
    val tombs = tombstones(spark, path)
    def live(df: DataFrame): DataFrame =
      tombs.fold(df)(t => df.join(t, Seq("id"), "left_anti"))
    // the compacted layout is sized to the SURVIVING rows (the whole
    // point of compaction is few big files), not to the session's
    // shuffle partitions
    val deduped = live(shingles.select("id", "h")).distinct().persist()
    try {
      val files = math.max(1L,
        (deduped.count() + RowsPerFile - 1L) / RowsPerFile).toInt
      swapIn("shingles", deduped.repartition(files))
      // counts derive from the JUST-COMPACTED shingles — one aggregate
      // over the deduplicated table, so a duplicated or tombstoned count
      // row cannot survive
      swapIn("counts", spark.read.parquet(s"$path/shingles")
        .groupBy("id").agg(count(lit(1)).as("n_sh")).coalesce(files))
      swapIn("fps", live(spark.read.parquet(s"$path/fps").select("id", "fp"))
        .distinct().coalesce(files))
    } finally { deduped.unpersist(); () }
    readBloom(spark, path).foreach { stored =>
      writeBloom(spark, path, Bloom.build(
        spark.read.parquet(s"$path/fps"), "fp",
        stored.numBits, stored.numHashes))
    }
    IndexFiles.remove(spark, s"$path/tombstones")
  }

  /** Highest streaming epoch already folded into the index (None before
    * the first), and its recorder — the replay guard
    * [[graft.streaming.StreamIndexDedup]] uses to make `appendKept`
    * idempotent per epoch. Kept on the index (a parquet sidecar of
    * applied epoch ids) so the guard survives driver restarts with the
    * artifacts it protects. */
  private[graft] def lastAppliedEpoch(spark: SparkSession,
                                      path: String): Option[Long] =
    memoGet[Option[Long]](spark, s"hwm|$path") {
      IndexFiles.readIfExists(spark, s"$path/applied_epochs")
        .flatMap(df => Option(df.agg(max("epoch")).head().get(0))
          .map(_.asInstanceOf[Long]))
    }

  private[graft] def recordAppliedEpoch(spark: SparkSession, path: String,
                                        epoch: Long): Unit = {
    import spark.implicits._
    Seq(epoch).toDF("epoch").write.mode("append")
      .parquet(s"$path/applied_epochs")
    // high-water semantics: the marker read is max(epoch), so the memo
    // folds the new stamp into whatever was known (disk state included —
    // read through first so an older on-disk high water can't be lost)
    val prev = lastAppliedEpoch(spark, path)
    memoPut(spark, s"hwm|$path", Some(prev.fold(epoch)(math.max(_, epoch))))
  }

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
    * `excludeEpoch` masks that epoch's partitions from all three stored
    * tables (a partition-pruned directory skip) — the streaming replay
    * discipline: a re-delivered epoch whose crashed first attempt already
    * appended must check against the PRE-epoch state, or every doc would
    * exact-match its own crashed copy. The Bloom gate stays safe under
    * the mask: a masked fp in the filter is only ever a false POSITIVE
    * (the fps join then misses, correctly). */
  def checkBatch(batch: DataFrame, idCol: String, textCol: String,
                 path: String, minJaccard: Double,
                 broadcastBatch: Boolean = true,
                 useBloom: Boolean = true,
                 excludeEpoch: Option[Long] = None,
                 precomputedBatchRows: Option[DataFrame] = None): DataFrame = {
    val spark = batch.sparkSession
    val (n, portable) = readMeta(spark, path)
    val tombs = tombstones(spark, path)
    def live(df: DataFrame): DataFrame =
      tombs.fold(df)(t => df.join(t, Seq("id"), "left_anti"))
    // tokenize-once hook (see [[build]]): rows must be EXACTLY
    // shingleHashRows(batch, n=stored, portable=stored) or verdicts
    // silently drift — callers pass it only when they know the built
    // index's frozen width/flavor
    val bRows = precomputedBatchRows.getOrElse(
      Dedup.shingleHashRows(batch, idCol, textCol, n, portable))
    val cRows = live(readPart(spark, path, "shingles", excludeEpoch)
      .select("id", "h"))
    val nb = live(readPart(spark, path, "counts", excludeEpoch))
      .select(col("id").as("cid"), col("n_sh").as("nb"))
    val bfp = batch.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("fp"))
    // bloom gate: restrict the exact-dup join's batch side to
    // fingerprints that MIGHT be stored; a wholly-novel batch skips the
    // join (and the stored-fps scan) entirely
    val bloomed = if (useBloom) readBloom(spark, path) else None
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
        live(readPart(spark, path, "fps", excludeEpoch).select("id", "fp"))
          .select("fp")
          .join(side, Seq("fp"))
          .select("id").distinct().withColumn("_hit", lit(1))
      }
    Dedup.assembleCheck(bfp.select("id"), exactHits,
      Dedup.bestJaccardAgainst(bRows, cRows, nb, broadcastBatch), minJaccard)
  }
}
