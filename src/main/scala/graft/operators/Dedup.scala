package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Md5Prefix, NGrams}

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: nothing here ever materializes the O(n²) pair matrix.
  * Candidate pairs always come from an equi-join on a bucket key
  * (shared shingle, LSH band hash, SimHash chunk) — a plain shuffle
  * hash join Catalyst handles at any scale — and only candidates get the
  * exact verification math. Skewed buckets (a shingle shared by millions
  * of docs) are the classic hazard: `maxBucketSize` drops
  * pathological buckets, the standard practice.
  */
object Dedup {

  /** Codepoint ranges tokenized per-CODEPOINT (scripts without word
    * boundaries): Han + extension A, the CJK iteration mark,
    * Hiragana/Katakana (+ phonetic extensions), Hangul syllables.
    * Explicit BMP ranges rather than \p{script} so the Java and RE2
    * (DuckDB oracle) engines agree byte-for-byte regardless of their
    * Unicode table versions. */
  val CjkClass: String =
    "\u3005\u3040-\u30ff\u31f0-\u31ff\u3400-\u4dbf\u4e00-\u9fff\uac00-\ud7a3"

  /** The ONE-pass splitter feeding [[words]]: a separator run (anything
    * that is not a Unicode letter/number) or an individual CJK codepoint
    * both become boundaries — replacement ' $1 ' wraps a CJK char in
    * spaces and turns a separator run into spaces (an unmatched group
    * substitutes the empty string in BOTH Java and RE2). Consumers split
    * on ' +'. */
  val SepOrCjkRe: String = s"[^\\p{L}\\p{M}\\p{N}]+|([$CjkClass])"

  /** Normalize + word-split (shared by all text dedup ops):
    * Unicode-aware — letters/numbers of ANY script are token characters
    * ([\p{L}\p{M}\p{N}] — marks ride with their base letters, so Devanagari/Arabic diacritics never split a word), and CJK tokenizes per codepoint (the
    * standard no-word-boundary fallback; n-gram shingling downstream
    * then composes character n-grams). Same cost shape as the old ASCII
    * form: ONE regex pass + one split. Engine parity: \p{L}/\p{N} and
    * the explicit [[CjkClass]] ranges mean the same thing to Java and
    * RE2, and `lower` runs AFTER the boundary pass in both engines
    * (locale-dependent case mappings that change string length —
    * Turkish İ — are outside the portability contract, like the md5
    * hash-value discipline this mirrors). */
  def words(c: Column): Column =
    split(trim(lower(regexp_replace(c, SepOrCjkRe, " $1 "))), " +")

  /** Append a MATERIALIZED words-array column behind a Generate boundary
    * (explode of a one-element array): CollapseProject cannot inline the
    * tokenizer past a Generate, so downstream per-segment lambdas, and
    * several consumers of the same words, read a computed array instead
    * of re-running the tokenizer once per element or per consumer. */
  def withWords(df: DataFrame, textCol: String, out: String = "_ws"): DataFrame = {
    require(!df.columns.contains(out),
      s"input column '$out' collides with the words output — pass another name")
    df.select(col("*"), explode(array(words(col(textCol)))).as(out))
  }

  /** The distinct n-word shingle strings of a words array, in first-
    * occurrence order: [[graft.functions.NGrams]] then `array_distinct`.
    * The kernel reads `w` once per row, so `w` may be the raw
    * [[words]] expression; a null `w` gives an empty array. */
  def shinglesFromWords(w: Column, n: Int): Column =
    coalesce(array_distinct(NGrams(w, n)), typedLit(Seq.empty[String]))

  /** Long-form DISTINCT (id, shingle-string) rows (consumed by
    * `TextStats.heavyShingles` and other string-facing passes). Pipelines
    * running several HASH-consuming shingle operators (Jaccard + MinHash
    * over the same corpus) should tokenize once with `shingleHashRows`,
    * persist, and feed `jaccardPairsFromHashes` / `minhashFromHashes`.
    *
    * Built entirely from codegen'd operators: explode the
    * [[graft.functions.NGrams]] of each doc's words, then groupBy-
    * distinct. No window and no sort: each row's shingles come from its
    * own words array. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    distinctShingleRows(df, idCol, textCol, n)

  /** DISTINCT (id, hash(shingle)) rows — the tokenize-once form both
    * `jaccardPairsFromHashes` and `minhashFromHashes` consume. Hashing
    * BEFORE the distinct keeps the aggregate and any persist() 8 bytes per
    * shingle instead of a ~20-char string (measured: persisting string
    * shingles costs more than recomputing them; hashed rows cache cheaply).
    * Collision odds over |distinct shingles|² are negligible — below any
    * other nondeterminism in the pipeline.
    *
    * `portable = true` (default) derives the hash from md5
    * (`Sampling.hash60`), so a DuckDB oracle can replay the VALUES —
    * required for MinHash signatures built downstream. `portable = false`
    * uses xxhash64 (cheaper per byte; join-key-only pipelines that never
    * surface the hash can opt in). */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                      n: Int, portable: Boolean = true): DataFrame =
    rawShingleRows(df, idCol, textCol, n)
      .select(col("id"),
        (if (portable) Sampling.hash60(col("s")) else xxhash64(col("s"))).as("h"))
      .distinct()

  /** Shared tokenization: NON-distinct (id, shingle-string) rows, the
    * one source both the string and hashed shingle forms derive from. A
    * narrow source is widened BY DOC ID before the explode
    * ([[Widen.widen]]), so the word regex runs parallel and the
    * distinct that follows reuses the id partitioning. */
  private def rawShingleRows(df: DataFrame, idCol: String, textCol: String,
                             n: Int): DataFrame =
    Widen.widen(df, col(idCol)).select(col(idCol).as("id"),
      explode(NGrams(words(col(textCol)), n)).as("s"))

  private[operators] def distinctShingleRows(df: DataFrame, idCol: String,
                                             textCol: String, n: Int): DataFrame =
    rawShingleRows(df, idCol, textCol, n).distinct()

  /** The distinct n-word shingle strings of a text column (see
    * [[shinglesFromWords]]). */
  def shingleStrings(c: Column, n: Int): Column =
    shinglesFromWords(words(c), n)

  // ---- exact -------------------------------------------------------------

  /** Exact dedup groups: one row per duplicate-key group with the keeper
    * (min id), the group size, and member ids. A single hash groupBy —
    * the 100 TB path (key is a short hash, shuffle is tiny vs input). */
  def exactGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).as("group_size"),
        array_sort(collect_list(col(idCol))).as("members"))

  /** Exact dedup that keeps the BEST copy, not the first: per
    * (scope, key) group the keeper is the row maximizing (score, then
    * smallest id) — the production refinement of [[exactGroups]] when
    * copies differ in quality (a clean mirror vs an ad-wrapped scrape of
    * the same article: drop-by-min-id keeps whichever crawled first;
    * this keeps the highest-scoring one). `scopeCols` restricts dedup to
    * WITHIN each scope (e.g. per crawl snapshot, the FineWeb finding
    * that per-dump dedup preserves more diverse data than one global
    * pass) — empty means global.
    *
    * Output: scopeCols ++ (dup_key, keeper_id, keeper_score, n_copies).
    * Scale shape: identical to [[exactGroups]] — ONE hash groupBy on the
    * short key whose state is a single max struct per group (map-side
    * combinable, no member list, no window); ids ≤ ~2^62 (the −id
    * tiebreak needs the negation exact). */
  def exactDedupKeepBest(df: DataFrame, idCol: String, key: Column,
                         scoreCol: Column,
                         scopeCols: Seq[String] = Nil): DataFrame = {
    val gcols = scopeCols.map(col) :+ key.as("dup_key")
    df.withColumn("_score", scoreCol)
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_copies"),
        max(struct(col("_score").as("s"),
          (-col(idCol).cast("long")).as("negid"))).as("_best"))
      .select(scopeCols.map(col) ++ Seq(col("dup_key"),
        (-col("_best.negid")).as("keeper_id"),
        col("_best.s").as("keeper_score"), col("n_copies")): _*)
  }

  /** Corpus snapshot diff — what changed between two versions of a
    * dataset, by content fingerprint: status per id ∈ added (new only),
    * removed (old only), changed (both, fingerprints differ), unchanged.
    * The audit step every incremental curation run wants before
    * reprocessing ("which docs does v2 actually touch"), and the input
    * to targeted re-dedup/re-index (feed `changed ∪ added` into
    * [[DedupIndex]]'s incremental path).
    *
    * Scale shape: ONE full-outer equi-join on the id over (id, fp)
    * projections — the fingerprint reduces each side to two short
    * columns before the shuffle, so the join carries no text. Output:
    * (id, old_fp, new_fp, status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   fp: Column): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), fp.as("_ofp"))
    val n = newDf.select(col(idCol).as("id"), fp.as("_nfp"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"), col("_ofp").as("old_fp"), col("_nfp").as("new_fp"),
        when(col("_ofp").isNull, lit("added"))
          .when(col("_nfp").isNull, lit("removed"))
          .when(col("_ofp") === col("_nfp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Exact Jaccard similarity over n-word shingles for every pair of docs
    * sharing at least one shingle (inverted-index candidate join — for
    * threshold > 0 this is exhaustive, because J(a,b) > 0 ⇔ a,b share a
    * shingle). `maxBucketSize` guards stop-shingle skew. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   minJaccard: Double, maxBucketSize: Int = 1000): DataFrame =
    jaccardPairsFromHashes(shingleHashRows(df, idCol, textCol, n),
      minJaccard, maxBucketSize)

  /** Jaccard pairs from precomputed `shingleHashRows` output (persist the
    * hashed rows to share the tokenization with `minhashFromHashes`). */
  def jaccardPairsFromHashes(rows: DataFrame, minJaccard: Double,
                             maxBucketSize: Int = 1000): DataFrame = {
    // join key = the 8-byte shingle hash. n_sh rides along via an
    // orderless window over the doc id. repartition(s): the self-join's
    // two sides then share ONE exchange (shingle construction runs once,
    // not once per side) and the join needs no further shuffle.
    val inv = rows
      .withColumn("n_sh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .select(col("id"), col("n_sh"), col("h").as("s"))
      .repartition(col("s"))
    // the guard against skew must not itself be skewed: a window over the
    // bucket key would funnel the entire pathological bucket into ONE task
    // before dropping it. A groupBy.count (map-side-combinable, reuses the
    // repartition(s) exchange) finds the FEW oversized keys, and a
    // broadcast anti-join drops their rows without any further shuffle.
    val pruned =
      if (maxBucketSize == Int.MaxValue) inv // no prune → skip the count pass
      else {
        val oversized = inv.groupBy("s").agg(count(lit(1)).as("bucket_n"))
          .where(col("bucket_n") > maxBucketSize)
          .select("s")
        inv.join(broadcast(oversized), Seq("s"), "left_anti")
      }
    val inter = pruned.as("a").join(pruned.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
    inter.select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Benchmark-contamination fraction: for every `eval` document, the
    * share of its distinct n-word shingles that also occur anywhere in
    * `benchmark` (the standard train-set decontamination metric — docs
    * above a threshold get dropped before training). Output:
    * (id, n_sh, n_hit, frac); docs with no shingles report (0, 0, 0.0).
    *
    * Scale shape: both sides tokenize to hashed shingle rows; the overlap
    * is ONE equi-join on the 8-byte hash against the benchmark's distinct
    * shingle set (benchmarks are orders of magnitude smaller than the
    * corpus, so the join's build side is small) plus two map-side-
    * combinable count aggregates. Nothing pairs documents — cost is
    * ∝ shingle rows, not docs². */
  def contamination(eval: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    contaminationFromHashes(eval.select(col(idCol).as("id")),
      shingleHashRows(eval, idCol, textCol, n),
      shingleHashRows(benchmark, idCol, textCol, n))

  /** `contamination` from precomputed `shingleHashRows` outputs
    * (tokenize-once: a pipeline running several shingle consumers over
    * the same corpus persists the rows and slices them per operator).
    * `evalIds` is one `id` row per eval doc (keeps zero-shingle docs in
    * the output). */
  def contaminationFromHashes(evalIds: DataFrame, evalRows: DataFrame,
                              benchmarkRows: DataFrame): DataFrame = {
    val bmSet = benchmarkRows.select(col("h")).distinct()
    val nSh = evalRows.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val nHit = evalRows.join(bmSet, "h")
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    evalIds
      .join(nSh, Seq("id"), "left")
      .join(nHit, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("frac", round(col("n_hit").cast("double") /
        greatest(col("n_sh"), lit(1L)).cast("double"), 6))
  }

  /** Incremental dedup: new `batch` documents checked AGAINST an existing
    * `corpus` (never batch-vs-batch — that's `jaccardPairs`). Per batch
    * doc: `dropped_exact` (normalized fingerprint already in the corpus),
    * `best_jaccard` (max n-gram Jaccard vs any corpus doc sharing a
    * shingle; null when none), and `keep` (neither exact nor
    * ≥ `minJaccard` near-dup). The realistic pipeline step for a corpus
    * that grows batch-by-batch: only the NEW side is tokenized fresh; at
    * scale the corpus side's fingerprints/shingle rows come precomputed
    * from the previous increment (pass them through `corpus` as a view).
    *
    * Scale shape: fingerprint check is an equi-join on a 32-char hash;
    * the near-dup check is the same inverted-index equi-join as
    * `jaccardPairsFromHashes`, restricted to batch×corpus candidates
    * (strictly cheaper than the self-join). */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         minJaccard: Double): DataFrame =
    dedupAgainstCorpusFromHashes(batch, corpus, idCol, textCol,
      shingleHashRows(batch, idCol, textCol, n),
      shingleHashRows(corpus, idCol, textCol, n), minJaccard)

  /** `dedupAgainstCorpus` from precomputed `shingleHashRows` outputs
    * (tokenize-once; fingerprints are a cheap map-side md5, only the
    * shingle tokenization is worth sharing). */
  def dedupAgainstCorpusFromHashes(batch: DataFrame, corpus: DataFrame,
                                   idCol: String, textCol: String,
                                   bRows: DataFrame, cRows: DataFrame,
                                   minJaccard: Double): DataFrame = {
    val fp = TextStats.fingerprint(col(textCol))
    val corpusFps = corpus.select(fp.as("fp")).distinct()
      .withColumn("_hit", lit(1))
    val bfp = batch.select(col(idCol).as("id"), fp.as("fp"))
    // fp is 1:≤1 against the DISTINCT corpus fps, so this left join keeps
    // exactly one row per batch id
    val exactHits = bfp.join(corpusFps, Seq("fp"), "left").select("id", "_hit")
    val nb = cRows.groupBy("id").agg(count(lit(1)).as("nb"))
      .withColumnRenamed("id", "cid")
    assembleCheck(bfp.select("id"), exactHits,
      bestJaccardAgainst(bRows, cRows, nb, broadcastBatch = false), minJaccard)
  }

  /** Best exact n-gram Jaccard of each batch doc against any corpus doc
    * sharing ≥ 1 shingle hash — the candidate-bounded core both
    * `dedupAgainstCorpusFromHashes` and the persisted [[DedupIndex]]
    * share, so the in-memory and served paths cannot drift. `nb` is the
    * corpus-side distinct-shingle count per doc as (cid, nb) — computed
    * here by the in-memory path, read from the stored sidecar by the
    * index (saving a second pass over the corpus-sized shingle table).
    * `broadcastBatch = true` broadcasts the batch side of the h-join:
    * the corpus shingle table is then SCANNED IN PLACE, never shuffled —
    * the shape a daily batch against a 100 TB corpus needs (the
    * post-join (id, cid) aggregate exchanges only matching-pair rows). */
  private[operators] def bestJaccardAgainst(bRows: DataFrame, cRows: DataFrame,
                                            nb: DataFrame,
                                            broadcastBatch: Boolean): DataFrame = {
    val na = bRows.groupBy("id").agg(count(lit(1)).as("na"))
    val b = if (broadcastBatch) broadcast(bRows) else bRows
    val inter = cRows.withColumnRenamed("id", "cid").join(b, "h")
      .groupBy("id", "cid").agg(count(lit(1)).as("inter"))
    inter.join(na, "id").join(nb, "cid")
      .select(col("id"), (col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")).as("j"))
      .groupBy("id").agg(max("j").as("best_jaccard"))
  }

  /** Assemble the per-batch-doc verdict frame from the exact-hit flags
    * ((id, _hit), one row per hit id) and the best-Jaccard table —
    * shared by the in-memory and persisted-index incremental paths. */
  private[operators] def assembleCheck(batchIds: DataFrame, exactHits: DataFrame,
                                       best: DataFrame,
                                       minJaccard: Double): DataFrame =
    batchIds.join(exactHits, Seq("id"), "left")
      .join(best, Seq("id"), "left")
      .select(col("id"),
        col("_hit").isNotNull.as("dropped_exact"),
        round(col("best_jaccard"), 6).as("best_jaccard"))
      .withColumn("keep", !col("dropped_exact") &&
        (col("best_jaccard").isNull || col("best_jaccard") < minJaccard))

  // ---- exact substring dedup (Lee et al. 2021) ---------------------------

  /** Merged repeated-token-span table for [[exactSubstringDedup]]:
    * (id, start, end) half-open 0-based token ranges covered by some
    * `gramLen`-token window whose exact token sequence occurs elsewhere
    * in the corpus (or earlier in the same doc), EXCLUDING each
    * sequence's single global first occurrence (min (id, pos) — the
    * copy that survives).
    *
    * Scale shape: gram hashes are per-doc array arithmetic (one
    * ~8 B hash per token position — never the gram STRINGS into a
    * shuffle); the first-occurrence table is ONE hash aggregate over
    * (gh) keeping only repeated grams (the dup fraction of the corpus),
    * and the join back is an equi-join against that reduced table. The
    * span-merge window partitions by doc over REPEATED-span rows only —
    * rows proportional to duplicated text, not corpus size. */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                          gramLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gramLen > 0, s"gramLen must be positive: $gramLen")
    val ws = filter(words(col(textCol)), w => w =!= lit(""))
    val grams = docs
      .select(col(idCol).as("id"), posexplode(NGrams(ws, gramLen)).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), Sampling.hash60(col("g")).as("gh"))
      // ONE shared exchange on gh: the tokenize + per-position hashing
      // subtree above feeds both the first-occurrence aggregate and the
      // join back, and without this Catalyst would run it twice —
      // a second full pass over the corpus at 100 TB. Partitioned on gh
      // it satisfies both consumers' distributions, so ReuseExchange
      // computes it once (plan-asserted: exactly one regexp tokenizer in
      // PipelineOpsSpec) — the same trick q_d2's jaccardPairs uses.
      .repartition(col("gh"))
    val firstOcc = grams.groupBy("gh")
      .agg(min(struct(col("id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("gh"), col("first.id").as("fid"), col("first.pos").as("fpos"))
    val repeats = grams.join(firstOcc, "gh")
      .where(!(col("id") === col("fid") && col("pos") === col("fpos")))
      .select(col("id"), col("pos").as("start"),
        (col("pos") + gramLen).as("end"))
    // classic interval merge: a span starting past the running max end of
    // everything before it opens a new group
    val w = Window.partitionBy("id").orderBy("start", "end")
    val prevMax = max(col("end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    repeats
      .withColumn("brk",
        when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "grp")
      .agg(min("start").as("start"), max("end").as("end"))
      .drop("grp")
  }

  /** Exact substring deduplication (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): any `gramLen`-token
    * window whose exact token sequence appears more than once in the
    * corpus is removed everywhere EXCEPT its first occurrence;
    * overlapping removals chain, so a wholesale copied passage of any
    * length ≥ gramLen disappears as one span. The reference
    * implementation builds a corpus suffix array — inherently
    * single-machine; the standard distributed equivalent used here is
    * fixed-width gram fingerprints + first-occurrence wins, which finds
    * exactly the duplicated substrings of length ≥ gramLen (a suffix
    * array additionally finds no shorter ones — same detection set).
    *
    * Operates on (and returns) the package's normalized token stream —
    * `text_clean` is the kept tokens re-joined; a production pipeline
    * carrying raw text would map spans back through char offsets, which
    * the (id, start, end) frame from [[exactSubstringSpans]] supports.
    * Output: id, n_tokens, n_removed, text_clean.
    *
    * Inherently TWO passes over `docs` (find spans, then rebuild) — the
    * span pass itself is single-scan via its shared gh exchange, but a
    * caller whose `docs` is an expensive upstream chain (e.g.
    * `Pipeline.curateStrict`'s dedup→gate→scrub front) should persist
    * it first; lazy by default for the same lifetime reasons as
    * `semanticDedup(materialize = false)`. */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                          gramLen: Int = 50): DataFrame = {
    val spanArr = exactSubstringSpans(docs, idCol, textCol, gramLen)
      .groupBy("id")
      .agg(collect_list(struct(col("start"), col("end"))).as("spans"))
    val ws = filter(words(col(textCol)), w => w =!= lit(""))
    // Linear rebuild from the SPAN COMPLEMENT. The obvious formulation —
    // filter(ws, (x, i) => !exists(spans, …)) — is O(tokens × spans) per
    // doc AND interpreted (HOF lambdas are CodegenFallback, the ~100×
    // pattern the MinHash scaladoc below measures), so an adversarial
    // boilerplate-heavy doc degrades quadratically. The merged spans are
    // disjoint, so the kept text is exactly the gap ranges between them:
    // sort the spans, pair (0 ++ ends) with (starts ++ n) into gaps, and
    // `slice` each gap out of ws — O(#spans) lambda invocations plus
    // O(tokens) native array copying, the same result in linear time.
    val sorted = array_sort(col("spans"))
    val gapStarts = concat(array(lit(0)),
      transform(sorted, s => s.getField("end")))
    val gapEnds = concat(transform(sorted, s => s.getField("start")),
      array(size(col("ws"))))
    docs.select(col(idCol).as("id"), ws.as("ws"))
      .join(spanArr, Seq("id"), "left")
      .select(col("id"), col("ws"),
        coalesce(col("spans"),
          typedLit(Seq.empty[(Int, Int)])
            .cast("array<struct<start:int,end:int>>")).as("spans"))
      .withColumn("kept", flatten(zip_with(gapStarts, gapEnds,
        (a, b) => slice(col("ws"), a + 1, greatest(b - a, lit(0))))))
      .select(col("id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("text_clean"))
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** k-permutation MinHash signature per doc: sig[i] = min over shingles
    * of hash(i, shingle-hash).
    *
    * Implementation: explode shingles, then ONE hash aggregate with k
    * `min(hash_i)` columns. A nested higher-order-function formulation
    * (transform ∘ array_min ∘ transform) looks natural but HOF lambdas
    * are CodegenFallback — interpreted per row — and measured ~100×
    * slower; k independent min-aggregates stay inside whole-stage codegen
    * with map-side partial aggregation, so the shuffle carries one k-long
    * row per doc. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, portable: Boolean = true): DataFrame =
    minhashFromHashes(shingleHashRows(df, idCol, textCol, n, portable), k,
      portable)

  /** Modulus for the portable double-hash permutations: 2^57. With
    * h1 < 2^60 and h2 < 2^56, `h1 + i·h2` stays below
    * 2^60 + 64·2^56 = 5·2^60 < 2^63 for any k ≤ 64 — no ANSI overflow. */
  private[operators] val PermMod = 1L << 57
  private val MaxDoubleHashK = 64
  /** The two per-shingle seeds the portable permutations derive from:
    * h1 = 60-bit, h2 = 56-bit, each one md5 of the (decimal) shingle hash
    * plus a distinct salt. */
  private[operators] def permSeeds(h: Column): (Column, Column) = (
    Sampling.hash60(concat(h.cast("string"), lit("|p1"))),
    Md5Prefix(concat(h.cast("string"), lit("|p2")), 14))

  /** MinHash signatures from precomputed `shingleHashRows` output (match
    * the `portable` flag the rows were built with).
    *
    * The shingle STRING was hashed once upstream; the k permutations
    * derive from the fixed-width digest — k string hashes per shingle
    * would dominate the stage. `portable = true` uses textbook double
    * hashing, perm_i = (h1 + i·h2) mod 2^57, from TWO md5-derived seeds
    * per shingle row (h1 60-bit, h2 56-bit — sized so the arithmetic
    * never overflows int64 under ANSI; see `PermMod`). Every value
    * replays exactly in the DuckDB oracle, and the md5 volume is 2 calls
    * per shingle row instead of the k per row a hash-per-permutation
    * scheme costs. `portable = false` uses seeded xxhash64 per
    * permutation (cheap per call; no SQL analog). */
  def minhashFromHashes(rows: DataFrame, k: Int,
                        portable: Boolean = true): DataFrame = {
    require(!portable || k <= MaxDoubleHashK,
      s"portable minhash supports k <= $MaxDoubleHashK (overflow headroom); got $k")
    val ex =
      if (portable) {
        // h1/h2 are a separate projection consumed by k aggregates each:
        // CollapseProject refuses to inline a non-cheap expression into
        // multiple consumers, so the two md5 calls run ONCE per row
        val (h1, h2) = permSeeds(col("h"))
        rows.select(col("id"), h1.as("h1"), h2.as("h2"))
      } else rows.select(col("id"), col("h").as("h1"))
    val aggs = (0 until k).map { i =>
      val perm =
        if (portable) (col("h1") + lit(i.toLong) * col("h2")) % lit(PermMod)
        else xxhash64(lit(i), col("h1"))
      min(perm).as(s"_h$i")
    }
    ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"_h$i")): _*).as("sig"))
  }

  /** LSH banding: docs whose signature agrees on ALL rows of ≥1 band
    * become candidate pairs, with the signature-estimated Jaccard
    * (fraction of agreeing positions). bands×rowsPerBand must equal the
    * signature length k.
    *
    * Shuffle shape: band rows carry ONLY (id, band, bhash) — 24 bytes.
    * The k-long signature (k×8 B, by far the widest column) never enters
    * the posexplode, so the band exchange is not `bands`-times-duplicated
    * signature bytes; candidates dedup to distinct (id_a, id_b) and the
    * (id → sig) table joins back twice to score just that tiny set. At
    * 64 longs × 16 bands that is a ~21× cut in band-shuffle bytes per
    * row. PERSIST `sig` before calling: `sig` feeds three consumer
    * subtrees (banding + two signature joins), and while ReuseExchange
    * deduplicates the scan + partial-agg + shuffle WRITE of the
    * groupBy(id) underneath, the post-shuffle final min-aggregates
    * re-evaluate in each consumer — up to 3× the k min() work when the
    * signatures are not cached (the oracled q_d3 caller persists). */
  def lshCandidatePairs(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      "bands and rowsPerBand must be positive")
    val k = bands * rowsPerBand
    // enforce bands·rowsPerBand == |sig| at runtime: a short slice in the
    // upper bands would hash identically for every doc and silently make
    // all pairs candidates — fail loudly instead
    val banded = sig
      .select(col("id"),
        posexplode(expr(
          s"""transform(sequence(0, ${bands - 1}),
             |  b -> IF(size(sig) = $k,
             |          xxhash64(b, slice(sig, b * $rowsPerBand + 1, $rowsPerBand)),
             |          raise_error(concat('signature length ', size(sig),
             |            ' != bands*rowsPerBand = $k'))))""".stripMargin))
          .as(Seq("band", "bhash")))
      // one shared exchange for the self-join: without this, Catalyst
      // broadcasts one side and the EXPENSIVE minhash aggregate subtree
      // underneath runs twice (same trick as jaccardPairs' repartition(s))
      .repartition(col("band"), col("bhash"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sigs = sig.select(col("id"), col("sig"))
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("siga")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sigb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), p -> p))")
          .cast("double") / size(col("siga"))).as("est_jaccard"))
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash per doc from word tokens: bit i of the fingerprint is
    * the sign of Σ_tokens (±1 by bit i of hash(token)).
    *
    * Implementation: explode tokens, one hash aggregate with 64 signed
    * bit-sum columns (codegen + map-side combine — see minhashSignatures
    * for why not nested HOFs), then assemble the fingerprint with bitwise
    * ORs of the 64 sign tests.
    *
    * `portable = true` (default) sources bits 0–59 from the md5-derived
    * `Sampling.hash60(token)` and bits 60–63 from a second salted
    * `hash60(token || "|b")`, so the DuckDB oracle replays every bit;
    * `portable = false` uses all 64 bits of xxhash64 (no SQL analog). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              portable: Boolean = true): DataFrame = {
    // keyed widen: the token regex + the 64-column partial aggregate
    // run above the scan; a narrow source serializes both, and the
    // groupBy(id) below reuses the id partitioning
    val ex0 = Widen.widen(df, col(idCol))
      .select(col(idCol).as("id"), explode(words(col(textCol))).as("t"))
    val ex =
      if (portable)
        ex0.withColumn("h", Sampling.hash60(col("t")))
          .withColumn("h2", Sampling.hash60(concat(col("t"), lit("|b"))))
      else ex0.withColumn("h", xxhash64(col("t")))
    def bitOf(i: Int): Column =
      if (!portable || i < 60) shiftright(col("h"), i).bitwiseAND(lit(1L))
      else shiftright(col("h2"), i - 60).bitwiseAND(lit(1L))
    val aggs = (0 until 64).map { i =>
      sum(when(bitOf(i) === 1L, 1L).otherwise(-1L)).as(s"_b$i")
    }
    val counts = ex.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"_b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    counts.select(col("id"), fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash: bucket on 4×16-bit chunks (a pair within
    * Hamming distance 3 must agree on ≥1 chunk — pigeonhole), then exact
    * `bit_count(xor)` filter. */
  def simhashPairs(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunked = sh.select(col("id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), " +
        "c -> shiftright(simhash, c * 16) & 65535)")).as(Seq("chunk", "cval")))
      // shared exchange: the simhash 64-bit-sum aggregate underneath must
      // not run once per join side (see lshCandidatePairs)
      .repartition(col("chunk"), col("cval"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ---- embedding near-dup ------------------------------------------------

  /** Per-band sign-bit values of a vector under `hp` (banded hyperplane
    * LSH): band b's value packs the signs of planes [b·r, (b+1)·r) into an
    * integer, r = hp.length / bands. Unlike a single packed long this
    * supports arbitrarily many planes (128-plane signatures at scale).
    * One codegen'd expression holding `hp` as a reference object
    * ([[graft.functions.BandBits]]) — the original per-plane
    * `when(dot(vec, typedlit(plane)) ≥ 0, …)` reduce blew the 64 KB
    * generated-method limit (silent interpreted fallback) past ~100
    * planes, exactly where the S-curve configs live. Fails loudly on an
    * embedding/hyperplane dimension mismatch: silently bucketing every
    * vector at 0 would degrade to all-pairs or, above maxBucketSize,
    * return zero pairs with no error. */
  private[operators] def bandValues(vec: Column, hp: Array[Array[Double]],
                                    bands: Int): Column =
    graft.functions.BandBits(vec, hp, bands)

  /** Scale rule for `embeddingNearDups` banding: the (planes, bands) pair
    * that maximizes random-pair pruning subject to an S-curve recall
    * floor. For a pair at angle θ, one plane agrees with probability
    * p = 1 − θ/π, a whole r-plane band with p^r, and ≥ 1 of b bands with
    * 1 − (1 − p^r)^b. The rule takes the LARGEST bits-per-band r whose
    * required band count b = ⌈ln(1 − targetRecall) / ln(1 − p^r)⌉ stays
    * within `maxBands`, because the random-pair candidate rate
    * ~ b · 2^−r falls exponentially in r while signature cost grows only
    * linearly (r·b plane dots per vector, map-side).
    *
    * Honest scale limits (measured in the 10× scale smoke, COVERAGE.md):
    * amplification separates threshold pairs from random pairs by
    * (p_t / ½)^r, so the rule is effective in the true near-dup regime
    * (minCosine ≥ ~0.8, where r = 12–17 makes candidates ~linear in n)
    * and CANNOT rescue low thresholds — at minCosine 0.4, p_t ≈ 0.63 and
    * even the 32-band optimum only reaches rate ≈ 0.7; sub-0.5
    * thresholds on high-dim data are ANN/top-k territory, not banding. */
  def suggestedHyperplaneConfig(minCosine: Double,
                                targetRecall: Double = 0.9,
                                maxBands: Int = 16): (Int, Int) = {
    require(minCosine > -1 && minCosine < 1,
      s"minCosine must be in (-1, 1); got $minCosine")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0, 1); got $targetRecall")
    require(maxBands >= 1, s"maxBands must be >= 1; got $maxBands")
    val p = 1.0 - math.acos(minCosine) / math.Pi
    def bandsFor(r: Int): Long =
      math.ceil(math.log1p(-targetRecall) / math.log1p(-math.pow(p, r))).toLong
    // loud, not clamped: if even 1-plane bands need more than maxBands,
    // the recall target is UNATTAINABLE inside the caller's band budget —
    // silently exceeding the cap would blow the shuffle/memory bound the
    // caller set it for
    require(bandsFor(1) <= maxBands,
      f"targetRecall $targetRecall%.2f at minCosine $minCosine%.2f needs " +
        s"${bandsFor(1)} bands even at 1 plane/band > maxBands $maxBands — " +
        "raise maxBands or lower targetRecall (sub-0.5 thresholds are " +
        "ANN/top-k territory, not banding)")
    val r = (1 to 62).takeWhile(bandsFor(_) <= maxBands).last
    (r * bandsFor(r).toInt, bandsFor(r).toInt)
  }

  /** Embedding-cosine near-duplicates above `minCosine` — the DEFAULT,
    * scale path: banded random-hyperplane LSH generates candidates from an
    * equi-join on (band, band-bits), then the exact codegen'd cosine
    * verifies each candidate. A pair is a candidate iff its signatures
    * agree on ALL planes of ≥ 1 band, so precision is exact (every emitted
    * pair truly clears `minCosine`) and recall follows the LSH S-curve:
    * P[candidate] = 1 − (1 − (1 − θ/π)^r)^bands for angle θ. Longer bands
    * (r = planes/bands) cut the random-pair candidate rate ~2^−r per band;
    * derive (planes, bands) from `suggestedHyperplaneConfig` — at true
    * near-dup thresholds (≥ ~0.8) the rule's r = 12+ keeps candidates
    * near-linear in n, while short bands (r=4) degrade toward all-pairs
    * as n grows (measured: the 10× scale smoke in COVERAGE.md).
    *
    * Shape at 100 TB: band rows are one shared hash exchange on
    * (band, bval); the self-join is an equi-join; the verify joins are
    * shuffle joins on id. Nothing materializes O(n²). `maxBucketSize`
    * drops pathological buckets (a band value shared by millions of
    * vectors — e.g. heavily clustered data), mirroring `jaccardPairs`. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, planes: Int = 64, bands: Int = 16,
                        dim: Int = 64, seed: Long = 42L,
                        maxBucketSize: Int = 100000): DataFrame = {
    require(planes % bands == 0, s"planes ($planes) must divide into bands ($bands)")
    val hp = Similarity.hyperplanes(planes, dim, seed)
    // zero-norm exclusion (mirrors every Similarity path): a zero vector
    // has no cosine direction — its cosine is 0/0 = NaN, which Spark
    // orders ABOVE any double, so `cosine >= minCosine` would pass and
    // wrongly merge clusters downstream; its sign bits also collide with
    // every bucket-mate (dot = 0 ⇒ "≥ 0" on every plane)
    val e = emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .where(col("nrm") > 0)
    val banded = e
      .select(col("id"), posexplode(bandValues(col("v"), hp, bands)).as(Seq("band", "bval")))
      .repartition(col("band"), col("bval")) // self-join shares ONE exchange
    // groupBy.count + broadcast anti-join of oversized keys, NOT a window
    // over the bucket key (which would funnel the pathological bucket into
    // one task before it could be dropped — see jaccardPairsFromHashes)
    val pruned =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        val oversized = banded.groupBy("band", "bval")
          .agg(count(lit(1)).as("bucket_n"))
          .where(col("bucket_n") > maxBucketSize)
          .select("band", "bval")
        banded.join(broadcast(oversized), Seq("band", "bval"), "left_anti")
      }
    val cand = pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** SemDeDup-style SEMANTIC dedup: partition the embedding space into
    * `nClusters` spherical clusters (the IVF machinery — deterministic
    * hash-seeded centroids, optional spherical-Lloyd refinement), compare
    * vectors only WITHIN their cluster, and drop every vector that has a
    * lower-id cluster-mate with cosine ≥ `minCosine` — the same
    * deterministic keep-min-id rule as the rest of the dedup family.
    * Returns one row per (norm > 0) vector: `id`, `cluster_id`,
    * `best_lower_cosine` (max cosine to any lower-id cluster-mate, null
    * when alone/first), `dropped`.
    *
    * This is the dedup that CATCHES paraphrases exact/MinHash dedup
    * cannot (same meaning, different words) — the standard semantic-
    * curation step for LLM corpora, run after exact+near dedup.
    *
    * Scale shape: clustering bounds the pairwise work at Σ|cluster|²
    * (pick nClusters by the √n rule — `Similarity.suggestedCentroids` —
    * to hold E|cluster| ≈ √n); assignment is the min-struct aggregate
    * (one row per vector crosses the exchange, never a corpus×centroids
    * window); the within-cluster self-join is an equi-join on
    * cluster_id; a runaway cluster (collapsed embedding space) is the
    * same failure mode as a hot LSH bucket and `maxClusterSize` guards
    * it the same window-free way (groupBy.count + broadcast anti-join;
    * guarded-out vectors keep their row with null best / dropped=false,
    * like `jaccardPairs` keeps unpaired docs).
    *
    * Caching lifetime — `materialize` picks the trade explicitly:
    *  - `false` (default): stay LAZY — the universal DataFrame contract
    *    (compose into a larger plan, pay nothing until an action), so an
    *    existing caller never gets a surprise eager job at call time;
    *    the internal assignment persist then outlives the first action
    *    until the ContextCleaner collects the unreferenced plan — the
    *    caller owns that window.
    *  - `true`: compute NOW, localCheckpoint the slim decision table
    *    (cuts lineage), and unpersist the internal assignment cache
    *    immediately — nothing lingers but the result blocks, which the
    *    ContextCleaner reclaims when the returned frame is dropped.
    *    NOTE the result blocks are EXECUTOR-LOCAL: on dynamic-allocation
    *    / executor-loss clusters the returned frame becomes
    *    unrecomputable, so there set a reliable checkpoint dir and
    *    checkpoint the result yourself instead of opting in here. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    minCosine: Double, nClusters: Int, kmeansIters: Int = 0,
                    maxClusterSize: Int = 100000,
                    materialize: Boolean = false,
                    hierarchicalAssign: Boolean = false): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive: $nClusters")
    val c = emb.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
      .where(col("cn") > 0)
    val seed = Similarity.sampleCentroids(emb, idCol, vecCol, nClusters)
    val cents =
      if (kmeansIters == 0) seed
      else Similarity.kmeansCentroids(emb, idCol, vecCol, seed, kmeansIters)
    // persisted: four consumers (guard count, both self-join sides, the
    // final select) would otherwise each re-evaluate the post-shuffle
    // assignment aggregate — ReuseExchange dedupes only the shuffle
    // write, the same re-evaluation lshCandidatePairs documents. The
    // block is one slim row per vector and is explicitly unpersisted
    // below once the result is materialized.
    // hierarchicalAssign: the two-level approximate assignment
    // (Similarity.assignToHierarchical) — at √n-rule clusters the exact
    // assignment is this operator's O(n^1.5·d) seam, and dedup only
    // needs DUPLICATES to co-locate, which they do under ANY
    // deterministic assignment (identical vectors take identical
    // paths). Clustered corpora only; default stays exact.
    val assigned = (if (hierarchicalAssign)
        Similarity.assignToHierarchical(c, cents)
      else Similarity.assignTo(c, cents))
      .select(col("centroid_id").as("cluster_id"), col("neighbor_id").as("id"),
        col("cv"), col("cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned =
      if (maxClusterSize == Int.MaxValue) assigned
      else {
        val oversized = assigned.groupBy("cluster_id")
          .agg(count(lit(1)).as("n")).where(col("n") > maxClusterSize)
          .select("cluster_id")
        assigned.join(broadcast(oversized), Seq("cluster_id"), "left_anti")
      }
    val best = pruned.as("a").join(pruned.as("b"),
        col("a.cluster_id") === col("b.cluster_id") && col("a.id") < col("b.id"))
      .select(col("b.id").as("id"),
        (Similarity.dot(col("a.cv"), col("b.cv")) /
          (col("a.cn") * col("b.cn"))).as("cos"))
      .groupBy("id").agg(max(col("cos")).as("best_lower_cosine"))
    val out = assigned.select(col("id"), col("cluster_id"))
      .join(best, Seq("id"), "left")
      .withColumn("dropped",
        coalesce(col("best_lower_cosine") >= minCosine, lit(false)))
    if (!materialize) out
    else {
      // Materialize now (cuts lineage, one slim decision row per vector)
      // so the MEMORY_AND_DISK assignment cache can be released
      // immediately instead of lingering until ContextCleaner GC in
      // long-lived sessions. Executor-local blocks, like componentLabels'
      // default (non-`reliable`) output: on dynamic-allocation clusters
      // checkpoint the result reliably before executors can go away.
      val result = out.localCheckpoint(true)
      assigned.unpersist(false)
      result
    }
  }

  /** D4-style prototypicality pruning (Tirumala et al. 2023, "D4:
    * Improving LLM Pretraining via Document De-Duplication and
    * Diversification" — the SSL-prototypes half): cluster the embedding
    * space, rank each vector by its cosine to its OWN centroid (the
    * prototypicality signal — closest-to-centroid means most redundant
    * with the cluster's mass), and drop the most prototypical
    * `pruneFraction` of every cluster. The diversity COMPLEMENT of
    * [[semanticDedup]]: SemDeDup removes near-copies of each other,
    * prototype pruning removes near-copies of the cluster CENTER, biasing
    * the kept corpus toward cluster edges (diverse/rare examples).
    *
    * Returns one row per (norm > 0) vector: `id`, `cluster_id`,
    * `cent_cosine` (cosine to own centroid, rounded 6 dp), `proto_rank`
    * (1 = most prototypical in its cluster; null when the cluster was
    * guard-skipped), `dropped`. Per cluster of n ranked members exactly
    * `ceil(pruneFraction·n)` rows have dropped=true.
    *
    * Determinism: centroids are the hash-seeded sample ([[Similarity
    * .sampleCentroids]] — replayable in SQL), assignment is the min-struct
    * argmax, and the rank orders by ROUNDED cosine desc then id asc (with
    * -0.0 canonicalized), so ranks reproduce across engines and runs.
    *
    * Scale shape: assignment is the aggregate (one row per vector crosses
    * the exchange); ranking is a window KEYED BY cluster_id — work per
    * task ∝ cluster size, which the √n rule holds at ≈ √n and
    * `maxClusterSize` hard-bounds (oversized clusters keep their rows
    * with null rank / dropped=false, the same window-free
    * groupBy+broadcast-anti guard as [[semanticDedup]] — a collapsed
    * embedding space must not funnel the corpus into one window task). */
  def prototypicalityPrune(emb: DataFrame, idCol: String, vecCol: String,
                           nClusters: Int, pruneFraction: Double,
                           kmeansIters: Int = 0,
                           maxClusterSize: Int = 100000): DataFrame = {
    require(nClusters > 0, s"nClusters must be positive: $nClusters")
    require(pruneFraction >= 0 && pruneFraction <= 1,
      s"pruneFraction must be in [0, 1]: $pruneFraction")
    val c = emb.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
      .where(col("cn") > 0)
    val seed = Similarity.sampleCentroids(emb, idCol, vecCol, nClusters)
    val cents =
      if (kmeansIters == 0) seed
      else Similarity.kmeansCentroids(emb, idCol, vecCol, seed, kmeansIters)
    val assigned = Similarity.assignToWithSim(c, cents)
      .select(col("centroid_id").as("cluster_id"),
        col("neighbor_id").as("id"), col("cent_cosine"))
    val ranked =
      (if (maxClusterSize == Int.MaxValue) assigned
       else {
         val oversized = assigned.groupBy("cluster_id")
           .agg(count(lit(1)).as("n")).where(col("n") > maxClusterSize)
           .select("cluster_id")
         assigned.join(broadcast(oversized), Seq("cluster_id"), "left_anti")
       })
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          // + 0.0 after round: a rounded cosine of -0.0 must order with
          // +0.0 (Double.compare puts -0.0 first; SQL engines tie them)
          .orderBy((round(col("cent_cosine"), 6) + lit(0.0)).desc,
            col("id").asc)))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .select(col("id"), col("_rk"), col("_n"))
    assigned
      .join(ranked, Seq("id"), "left")
      .select(col("id"), col("cluster_id"),
        round(col("cent_cosine"), 6).as("cent_cosine"),
        col("_rk").cast("bigint").as("proto_rank"),
        coalesce(
          col("_rk") <= ceil(lit(pruneFraction) * col("_n")),
          lit(false)).as("dropped"))
  }

  // ---- pair graph → clusters ----------------------------------------------

  /** Connected components over a near-dup pair graph by MIN-LABEL
    * propagation: every vertex starts labeled with its own id; each pass
    * lowers a vertex's label to the minimum among itself and its
    * neighbors; converged labels identify components (label = component's
    * minimum id = the canonical keeper). Output: (id, label) for every id
    * in a pair, both in the type of `pairs.id_a`.
    *
    * Id types: `tinyint`, `smallint`, `int` and `bigint` travel as `Long`
    * (whose order is the engine's); `string` travels as `UTF8String`, so
    * `min` is the engine's UTF-8 binary collation. Any other type is an
    * `IllegalArgumentException` naming it, thrown before any Spark job.
    *
    * Scale shape: the symmetric edge set is hash-partitioned once and
    * cached ([[Graph.symmetricEdges]]); labels stay co-partitioned with
    * it, so a pass is one narrow join, one map-side-combinable min
    * shuffle and one narrow label merge. The labels' lineage is cut every
    * pass: a pass reads the labels twice, so uncut lineage regrows from
    * the source each pass (measured exponential per-pass cost, 43 s by
    * pass 5 on 590 pairs). The changed-label count rides the cut's job.
    * Convergence takes O(component diameter) passes; near-dup clusters
    * are shallow, so the default cap is generous, and the loop FAILS
    * LOUDLY at the cap rather than returning half-propagated labels.
    *
    * `reliable = true` makes every cut AND the returned frame reliable
    * checkpoints (requires `spark.sparkContext.setCheckpointDir`):
    * executor-local blocks die with their executor, so clusters running
    * dynamic allocation (or any long job that must survive executor loss)
    * should pay the distributed-FS write. Default stays `localCheckpoint`
    * — cheaper, and fine on static allocations. */
  def componentLabels(pairs: DataFrame, maxIters: Int = 20,
                      reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val idType = pairs.schema("id_a").dataType
    def frame(rows: RDD[Row], t: DataType): DataFrame =
      pairs.sparkSession.createDataFrame(rows,
        StructType(Seq(StructField("id", t), StructField("label", t))))
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val longs = pairs.select(col("id_a").cast(LongType).as("id_a"),
          col("id_b").cast(LongType).as("id_b"))
        minLabels(longs, _.getLong(_), Ordering.Long, maxIters, reliable) { l =>
          frame(l.map { case (id, lab) => Row(id, lab) }, LongType)
            .select(col("id").cast(idType), col("label").cast(idType))
        }
      case StringType =>
        // UTF8String's compareTo is over the UTF-8 bytes; Java String's
        // UTF-16 compareTo orders supplementary-plane code points below
        // U+E000..U+FFFF, the opposite of UTF-8 (pinned by spec)
        val utf8 = Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)
        minLabels(pairs, (r, i) => UTF8String.fromString(r.getString(i)),
            utf8, maxIters, reliable) { l =>
          frame(l.map { case (id, lab) => Row(id.toString, lab.toString) },
            StringType)
        }
      case t => throw new IllegalArgumentException(
        s"componentLabels: unsupported id type ${t.simpleString}; ids must " +
          "be tinyint, smallint, int, bigint or string")
    }
  }

  /** [[componentLabels]]' loop over keys `K` read by `key` and ordered by
    * `ord`; `out` turns the converged (id, label) pairs into the result
    * frame. */
  private def minLabels[K: ClassTag](pairs: DataFrame, key: (Row, Int) => K,
      ord: Ordering[K], maxIters: Int, reliable: Boolean)(
      out: RDD[(K, K)] => DataFrame): DataFrame = {
    if (reliable)
      require(pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable componentLabels needs spark.sparkContext.setCheckpointDir")
    Graph.loop(reliable) { blocks =>
      val edges = blocks.pin(Graph.symmetricEdges(pairs, key))
      val part = edges.partitioner.get
      // the edges are symmetric and partitioned by src, so a partition's
      // distinct srcs are exactly its vertices
      var labels = edges.mapPartitions(_.map(_._1).distinct.map(id => (id, id)),
        preservesPartitioning = true)
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val nbrMin = edges.join(labels, part)
          .map { case (_, (dst, lab)) => (dst, lab) }
          .reduceByKey(part, ord.min(_, _))
        val staged = labels.leftOuterJoin(nbrMin, part).mapValues {
          case (l, Some(n)) => (ord.min(l, n), ord.lt(n, l))
          case (l, None) => (l, false)
        }
        changed = blocks.cut(staged)(
          _.aggregate(0L)((acc, kv) => acc + (if (kv._2._2) 1L else 0L), _ + _))
        labels = staged.mapValues(_._1)
        it += 1
      }
      require(changed == 0,
        s"componentLabels did not converge within $maxIters passes")
      blocks.output(out(labels))
    }
  }

  /** Near-dup CLUSTERS from candidate pairs: transitive closure, one row
    * per component with the keeper (= min id), size, and members. The
    * end-to-end dedup step: pairs from any generator (Jaccard, SimHash,
    * embedding LSH) in, drop-list out (every member except the keeper).
    * Ids may be `tinyint`, `smallint`, `int`, `bigint` or `string`, as
    * for [[componentLabels]]; any other type is an
    * `IllegalArgumentException`. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20,
                      reliable: Boolean = false): DataFrame =
    clustersFromLabels(componentLabels(pairs, maxIters, reliable = reliable))

  /** Cluster roll-up of a `componentLabels` frame: one row per cluster
    * with keeper (= min id = the label), size, and sorted members —
    * shared so callers that reuse a labels frame (q_d6/q_x7) stay
    * definitionally identical to this operator. */
  def clustersFromLabels(labels: DataFrame): DataFrame =
    labels.groupBy(col("label").as("keeper"))
      .agg(count(lit(1)).as("cluster_size"),
        array_sort(collect_list(col("id"))).as("members"))

  /** Exact all-pairs cosine near-dups — the VERIFICATION PRIMITIVE
    * (O(n²) nested-loop): use to re-rank bounded candidate sets or to
    * measure `embeddingNearDups` recall on samples; never the default at
    * scale. */
  def allPairsNearDups(emb: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double): DataFrame = {
    // Norms once per vector; widen spreads the pair loop across all
    // cores when the source is narrow (a single-file source would
    // otherwise make the nested-loop join one task).
    val e = emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .where(col("nrm") > 0) // zero-norm: cosine = NaN sorts above minCosine
    Widen.widen(e).as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (Similarity.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
