package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Anomaly, AsOf, Dedup, Sampling, Sessions, TextStats}
import graft.sources.Tables

/** Round-3 query pack: temporal joins (as-of, range), benchmark
  * contamination, Gopher-style repetition metrics, token-budget shard
  * packing, incremental corpus dedup. Same oracle conventions as
  * SparkEntry (see its scaladoc). Timestamps cross the oracle boundary
  * as epoch MICROSECOND longs: both engines floor the parquet
  * TIMESTAMP(NANOS) to µs identically (verified: Spark `ts div 1000` ==
  * DuckDB's parquet read on every sf0.01 row), and longs dodge
  * timestamp-rendering differences entirely. Boolean flags cross as 0/1
  * BIGINT for the same reason. */
object PipelineQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def events(s: SparkSession, d: String) = Tables.events(s, d)

  // ---- as-of join --------------------------------------------------------

  /** Every event joined to the latest "mark" (a sparse reference series,
    * ~5% of events) at or before it, per event_type — the canonical
    * point-in-time enrichment (sensor readings vs calibration marks,
    * trades vs quotes). Marks are pre-aggregated to one row per
    * (event_type, ts) as `asofJoinBackward` requires. */
  private def qAs1asof(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val left = ev.select(col("event_id"), col("event_type"), col("ts"))
    val marks = ev.where(col("event_id") % 100 < 5)
      .groupBy("event_type", "ts").agg(max("value").as("m_value"))
    AsOf.asofJoinBackward(left, marks, Seq("event_type"), "ts", "ts",
        Seq("m_value"), matchedTsName = "m_ts")
      .select(col("event_id"), col("event_type"),
        Sessions.epochUs(col("ts")).as("ts_us"),
        Sessions.epochUs(col("m_ts")).as("m_ts_us"), col("m_value"))
      .orderBy("event_id")
  }
  private val oAs1 =
    """WITH l AS (SELECT event_id, event_type, ts FROM events),
      |m AS (SELECT event_type, ts, max(value) AS m_value FROM events
      |      WHERE event_id % 100 < 5 GROUP BY 1, 2)
      |SELECT l.event_id, l.event_type, epoch_us(l.ts) AS ts_us,
      |  epoch_us(m.ts) AS m_ts_us, m.m_value
      |FROM l ASOF LEFT JOIN m
      |  ON l.event_type = m.event_type AND l.ts >= m.ts
      |ORDER BY event_id""".stripMargin

  /** Same enrichment through `asofJoinBackwardBucketed` — the
    * skew-resilient path for LOW-cardinality keys (here ~5 event types:
    * the plain keyed window would sort each type's full timeline in ONE
    * task; daily buckets make parallelism keys × days). Semantics are
    * identical by construction (each bucket is seeded with its
    * predecessor's final mark), so the oracle is the SAME ASOF LEFT JOIN
    * as q_as1 — the driver's hash compare proves the bucketed
    * decomposition, per-(key,bucket) seed injection included, equals the
    * global as-of. */
  private def qAs2asofBucketed(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val left = ev.select(col("event_id"), col("event_type"), col("ts"))
    val marks = ev.where(col("event_id") % 100 < 5)
      .groupBy("event_type", "ts").agg(max("value").as("m_value"))
    AsOf.asofJoinBackwardBucketed(left, marks, Seq("event_type"), "ts", "ts",
        Seq("m_value"), bucketSeconds = 86400L, matchedTsName = "m_ts")
      .select(col("event_id"), col("event_type"),
        Sessions.epochUs(col("ts")).as("ts_us"),
        Sessions.epochUs(col("m_ts")).as("m_ts_us"), col("m_value"))
      .orderBy("event_id")
  }

  // ---- range join --------------------------------------------------------

  /** Events aggregated into enclosing 2-hour maintenance windows (one
    * window per ~0.5% of events), keyed by event_type — the canonical
    * point-in-interval join. The Spark side is the binned equi-join
    * (`AsOf.rangeJoin`, 1 h bins); the oracle is the plain BETWEEN
    * join. Inner semantics: windows always contain ≥ 1 event (their own
    * anchor), so no interval drops out. */
  private def qR1range(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val points = ev.select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val iv = ev.where(col("event_id") % 200 < 3)
      .select(col("event_id").as("iv_id"), col("event_type"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    AsOf.rangeJoin(points, iv, Seq("event_type"), "ts", "start_ts", "end_ts",
        Seq("iv_id"), binSeconds = 3600L)
      .groupBy("iv_id")
      .agg(count(lit(1)).as("n_pts"), min(col("event_id")).as("min_pt"),
        round(graft.operators.Parity.moneySum(col("value")), 2).as("sum_value"))
      .orderBy("iv_id")
  }
  private val oR1 =
    s"""WITH iv AS (SELECT event_id AS iv_id, event_type, ts AS start_ts,
      |    ts + INTERVAL 2 HOUR AS end_ts
      |  FROM events WHERE event_id % 200 < 3)
      |SELECT iv.iv_id, CAST(count(*) AS BIGINT) AS n_pts,
      |  min(e.event_id) AS min_pt,
      |  round(${graft.operators.Parity.moneySumSql("e.value")}, 2) AS sum_value
      |FROM iv JOIN events e
      |  ON e.event_type = iv.event_type
      |  AND e.ts BETWEEN iv.start_ts AND iv.end_ts
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- benchmark contamination -------------------------------------------

  /** Train-set decontamination metric: share of each candidate doc's
    * distinct 3-shingles that appear anywhere in the "benchmark" slice
    * (here: every 50th doc). */
  private def qT7contam(s: SparkSession, d: String): DataFrame = {
    // tokenize-once: slice the bench session's persisted full-corpus
    // shingle rows instead of re-tokenizing each side
    val rows = TextSimQueries.sharedShingles(s, d)
    Dedup.contaminationFromHashes(
        docs(s, d).where(col("doc_id") % 50 =!= 0).select(col("doc_id").as("id")),
        rows.where(col("id") % 50 =!= 0),
        rows.where(col("id") % 50 === 0))
      .orderBy("id")
  }
  private val oT7 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
      |bm AS (SELECT DISTINCT sg FROM e WHERE doc_id % 50 = 0),
      |ev AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
      |    CAST(count(bm.sg) AS BIGINT) AS n_hit
      |  FROM e LEFT JOIN bm ON e.sg = bm.sg
      |  WHERE e.doc_id % 50 != 0 GROUP BY 1)
      |SELECT d.doc_id AS id,
      |  CAST(coalesce(ev.n_sh, 0) AS BIGINT) AS n_sh,
      |  CAST(coalesce(ev.n_hit, 0) AS BIGINT) AS n_hit,
      |  round(CAST(coalesce(ev.n_hit, 0) AS DOUBLE) /
      |    CAST(greatest(coalesce(ev.n_sh, 0), 1) AS DOUBLE), 6) AS frac
      |FROM documents d LEFT JOIN ev ON ev.doc_id = d.doc_id
      |WHERE d.doc_id % 50 != 0 ORDER BY id""".stripMargin

  // ---- repetition metrics ------------------------------------------------

  private def qT8repetition(s: SparkSession, d: String): DataFrame =
    TextStats.repetitionStats(docs(s, d), "doc_id", "text").orderBy("id")
  private val oT8 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS w FROM w),
      |wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |wa AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |    CAST(count(*) AS BIGINT) AS n_uniq_words, max(c) AS top_word_n
      |  FROM wc GROUP BY 1),
      |b AS (SELECT doc_id, unnest(list_transform(
      |  range(1, greatest(len(ws) - 1, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1])) AS bg FROM w),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
      |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |    max(c) AS top_bigram_n FROM bc GROUP BY 1)
      |SELECT wa.doc_id AS id, n_words, n_uniq_words,
      |  round(CAST(1.0 AS DOUBLE) - CAST(n_uniq_words AS DOUBLE) /
      |    CAST(greatest(n_words, 1) AS DOUBLE), 6) AS dup_word_frac,
      |  round(CAST(top_word_n AS DOUBLE) /
      |    CAST(greatest(n_words, 1) AS DOUBLE), 6) AS top_word_frac,
      |  round(CAST(coalesce(top_bigram_n, 0) AS DOUBLE) /
      |    CAST(greatest(coalesce(n_bigrams, 0), 1) AS DOUBLE), 6) AS top_bigram_frac
      |FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
      |ORDER BY id""".stripMargin

  // ---- token-budget shard packing ----------------------------------------

  /** Documents packed into ~4000-char shards per language in
    * deterministic (hash, id) order; output is the per-shard manifest.
    * Integer-only arithmetic (cumsum, floor-div on exact doubles) — the
    * oracle replays the identical window. */
  private def qX4pack(s: SparkSession, d: String): DataFrame =
    Sampling.packIntoShards(docs(s, d), "lang", "doc_id", "n_chars",
        budget = 4000L)
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_total"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang", "shard")
  private val oX4 =
    """WITH h AS (SELECT lang, doc_id, n_chars,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM documents),
      |c AS (SELECT lang, doc_id, n_chars,
      |  sum(n_chars) OVER (PARTITION BY lang ORDER BY hh, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM h),
      |s AS (SELECT lang, doc_id, n_chars,
      |  CAST(floor(CAST(cum - n_chars AS DOUBLE) /
      |    CAST(4000 AS DOUBLE)) AS BIGINT) AS shard FROM c)
      |SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** GPT-style concat-and-chunk sequence packing, fully oracled: per
    * language, docs concatenate in the deterministic (hash, id) order
    * and cut into exact 512-char sequences with cross-boundary document
    * SPANS. Integer-only span arithmetic (cumsum + floor-div + min/max)
    * replays exactly in DuckDB's window + range(). */
  private def qX8seqpack(s: SparkSession, d: String): DataFrame =
    Sampling.packSequences(docs(s, d), "lang", "doc_id", "n_chars",
        seqLen = 512L)
      .select("lang", "doc_id", "seq_no", "tok_start", "tok_end", "seq_offset")
      .orderBy("lang", "seq_no", "seq_offset", "doc_id")
  private val oX8 =
    """WITH h AS (SELECT lang, doc_id, n_chars,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM documents),
      |c AS (SELECT lang, doc_id, n_chars,
      |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY hh, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM h),
      |s AS (SELECT lang, doc_id, cum, cum - n_chars AS st FROM c
      |  WHERE n_chars > 0),
      |sp AS (SELECT lang, doc_id, cum, st,
      |    unnest(range(st // 512, (cum - 1) // 512 + 1)) AS seq_no
      |  FROM s)
      |SELECT lang, doc_id, CAST(seq_no AS BIGINT) AS seq_no,
      |  CAST(greatest(st, seq_no * 512) - st AS BIGINT) AS tok_start,
      |  CAST(least(cum, (seq_no + 1) * 512) - st AS BIGINT) AS tok_end,
      |  CAST(greatest(st, seq_no * 512) - seq_no * 512 AS BIGINT) AS seq_offset
      |FROM sp ORDER BY lang, seq_no, seq_offset, doc_id""".stripMargin

  // ---- corpus profile ----------------------------------------------------

  /** Per-(source, lang) corpus profile: doc counts, total words, exact
    * char-length percentiles, distinct fingerprints — the ingest-audit
    * dashboard query. One hash aggregate (percentile/count-distinct are
    * Spark's built-in exact aggregates; at 100 TB swap in
    * approx_percentile/approx_count_distinct, same plan shape). */
  private def qT9profile(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(TextStats.wordCount(col("text"))).as("total_words"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("chars_p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("chars_p90"),
        countDistinct(TextStats.fingerprint(col("text"))).as("uniq_fp"))
      .orderBy("source", "lang")
  private val oT9 =
    """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+'))) AS BIGINT)
      |    AS total_words,
      |  round(quantile_cont(n_chars, 0.5), 6) AS chars_p50,
      |  round(quantile_cont(n_chars, 0.9), 6) AS chars_p90,
      |  CAST(count(DISTINCT md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+',
      |    '', 'g')))) AS BIGINT) AS uniq_fp
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- chunking ------------------------------------------------------------

  /** Long docs split into 40-word chunks with 8-word overlap — the
    * context-window packing step. The oracle replays the slicing with
    * DuckDB list arithmetic over the identical word arrays. */
  private def qT10chunks(s: SparkSession, d: String): DataFrame =
    TextStats.chunkWords(docs(s, d), "doc_id", "text",
        chunkWords = 40, overlapWords = 8)
      .orderBy("id", "chunk_idx")
  private val oT10 = {
    val chunk = 40; val step = 32
    s"""WITH w AS (SELECT doc_id,
       |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
       |FROM documents),
       |c AS (SELECT doc_id, ws, unnest(range(0,
       |    greatest((len(ws) - 1 - ${chunk - step}) // $step, 0) + 1)) AS ci
       |  FROM w)
       |SELECT doc_id AS id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(len(list_slice(ws, ci * $step + 1, ci * $step + $chunk)) AS BIGINT)
       |    AS n_words,
       |  array_to_string(list_slice(ws, ci * $step + 1, ci * $step + $chunk), ' ')
       |    AS chunk
       |FROM c ORDER BY id, chunk_idx""".stripMargin
  }

  // ---- stratified sampling -----------------------------------------------

  /** Corpus rebalancing: en (the over-represented language) keeps 25%,
    * zh keeps 100%, everything else the 50% default — all membership a
    * pure function of doc_id. Thresholds are floor(f·2^24), embedded in
    * the oracle as integer literals. */
  private def qX5stratified(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(docs(s, d), "lang",
        Map("en" -> 0.25, "zh" -> 1.0), defaultFraction = 0.5, idCol = "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  private val oX5 =
    """WITH h AS (SELECT lang, doc_id,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id,
      |  max(doc_id) AS max_id
      |FROM h
      |WHERE hh < (CASE lang WHEN 'en' THEN 4194304 WHEN 'zh' THEN 16777216
      |            ELSE 8388608 END)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- incremental dedup vs corpus ---------------------------------------

  /** Odd-id docs treated as the NEW batch, even-id docs as the existing
    * corpus: exact fingerprint hits and best n-gram Jaccard vs the corpus
    * decide each batch doc's keep flag. Flags cross the oracle boundary
    * as 0/1 BIGINT. */
  private def qD7incremental(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val rows = TextSimQueries.sharedShingles(s, d) // tokenize-once
    Dedup.dedupAgainstCorpusFromHashes(all.where(col("doc_id") % 2 === 1),
        all.where(col("doc_id") % 2 === 0), "doc_id", "text",
        rows.where(col("id") % 2 === 1), rows.where(col("id") % 2 === 0),
        minJaccard = 0.5)
      .select(col("id"), col("dropped_exact").cast("long").as("dropped_exact"),
        col("best_jaccard"), col("keep").cast("long").as("keep"))
      .orderBy("id")
  }
  /** The PERSISTED dedup index under the same hash gate as q_d7: build
    * the index from the even-id corpus (shingle/count/fp parquet +
    * frozen meta), then answer the odd-id batch check from the index
    * files alone with the batch sides broadcast. Same split and
    * threshold as q_d7, so the oracle is oD7 VERBATIM — the round trip
    * through the persisted layout (and the broadcast join orientation)
    * must be invisible to the results. A single drifted hash, count, or
    * fingerprint in the stored artifacts is a hash mismatch. */
  private def qD10dedupIndex(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val dir = TextSimQueries.indexDir("dedup", d)
    // tokenize-once (the q_d7 discipline): both the corpus build and the
    // batch check consume id-filtered slices of the session's shared
    // distinct (id, h) shingle rows — same width/flavor as the build's
    // frozen meta (n=3, portable), so the artifacts and verdicts are
    // row-identical to the self-tokenizing path (same oracle, oD7)
    val rows = TextSimQueries.sharedShingles(s, d)
    graft.operators.DedupIndex.build(all.where(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, n = 3,
      precomputedRows = Some(rows.where(col("id") % 2 === 0)))
    graft.operators.DedupIndex.checkBatch(all.where(col("doc_id") % 2 === 1),
        "doc_id", "text", dir, minJaccard = 0.5,
        precomputedBatchRows = Some(rows.where(col("id") % 2 === 1)))
      .select(col("id"), col("dropped_exact").cast("long").as("dropped_exact"),
        col("best_jaccard"), col("keep").cast("long").as("keep"))
      .orderBy("id")
  }

  /** The index DELETE lifecycle under the hash gate: build from the
    * even-id corpus exactly as q_d10, tombstone every doc_id % 10 == 0
    * (takedown set), then serve the odd-id batch check from the
    * TOMBSTONE-MASKED index — the live serving path, where the stored
    * Bloom filter still carries the deleted fingerprints (it cannot
    * unset bits) and correctness rests on the left-anti exclusions in
    * all three stored tables. Oracle: oD7's CTE chain over the corpus
    * minus the deleted ids — a single verdict still influenced by a
    * tombstoned doc (a stale fingerprint hit, a Jaccard pair against a
    * deleted doc's shingles) is a hash mismatch. The compact-equivalence
    * half (physical drop serves byte-identically) is spec-gated in
    * DedupIndexSpec. */
  private def qD12indexDelete(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val dir = TextSimQueries.indexDir("deldedup", d)
    // tokenize-once slices, as in q_d10 (q_d12's build is the SAME even
    // corpus at a different path — previously a second full regex pass)
    val rows = TextSimQueries.sharedShingles(s, d)
    graft.operators.DedupIndex.build(all.where(col("doc_id") % 2 === 0),
      "doc_id", "text", dir, n = 3,
      precomputedRows = Some(rows.where(col("id") % 2 === 0)))
    graft.operators.DedupIndex.delete(
      all.where(col("doc_id") % 10 === 0), "doc_id", dir)
    graft.operators.DedupIndex.checkBatch(all.where(col("doc_id") % 2 === 1),
        "doc_id", "text", dir, minJaccard = 0.5,
        precomputedBatchRows = Some(rows.where(col("id") % 2 === 1)))
      .select(col("id"), col("dropped_exact").cast("long").as("dropped_exact"),
        col("best_jaccard"), col("keep").cast("long").as("keep"))
      .orderBy("id")
  }

  /** Exact substring dedup (Lee et al.) under the hash gate: every
    * 10-gram span removal — gram hashing, global first-occurrence
    * tie-break, interval merge, and the index-lambda rebuild — replayed
    * in DuckDB row by row (24 affected docs / 1 254 removed tokens at
    * sf0.01; one drifted span boundary anywhere is a hash mismatch). */
  private def qD11substring(s: SparkSession, d: String): DataFrame =
    Dedup.exactSubstringDedup(docs(s, d), "doc_id", "text", gramLen = 10)
      .orderBy("id")
  private val oD11 =
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(
      |    regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |    x -> x <> '') AS ws FROM documents),
      |g0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(ws) - 10 + 1, 0) + 1),
      |    i -> {'pos': i - 1, 's': array_to_string(ws[i:i+9], ' ')})) AS u
      |  FROM w),
      |g AS (SELECT doc_id, u.pos AS pos,
      |    CAST(concat('0x', substr(md5(u.s), 1, 15)) AS BIGINT) AS gh
      |  FROM g0),
      |r AS (SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
      |    count(*) OVER (PARTITION BY gh) AS cnt
      |  FROM g),
      |rep AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM r
      |  WHERE cnt > 1 AND rn > 1),
      |m AS (SELECT doc_id, s, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM rep),
      |b AS (SELECT doc_id, s, e,
      |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM m),
      |sg AS (SELECT doc_id, s, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM b),
      |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM sg
      |  GROUP BY doc_id, grp),
      |spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp
      |  GROUP BY doc_id),
      |k AS (SELECT w.doc_id, len(w.ws) AS n_tokens,
      |    list_filter(w.ws, (x, i) -> len(list_filter(
      |      coalesce(spl.spans, []),
      |      sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0) AS kept
      |  FROM w LEFT JOIN spl ON w.doc_id = spl.doc_id)
      |SELECT doc_id AS id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
      |  coalesce(array_to_string(kept, ' '), '') AS text_clean
      |FROM k ORDER BY id""".stripMargin

  /** oD7's CTE chain with the CORPUS membership predicate injected at
    * both of its appearances (the exact-fingerprint side and the
    * shingle-pair side). `corpus("")` renders the bare-column form,
    * `corpus("ce.")` the aliased form — so oD12 (the delete-lifecycle
    * oracle) is oD7 with the tombstoned ids carved out of the corpus and
    * NOTHING else changed. */
  private def oD7sql(corpus: String => String): String =
    s"""WITH fp AS (SELECT doc_id,
      |  md5(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+', '', 'g'))) AS fp
      |FROM documents),
      |cfp AS (SELECT DISTINCT fp FROM fp WHERE ${corpus("")}),
      |w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
      |p AS (SELECT be.doc_id AS bid, ce.doc_id AS cid, be.n_sh AS na,
      |    ce.n_sh AS nb, count(*) AS inter
      |  FROM e be JOIN e ce ON be.sg = ce.sg
      |  WHERE be.doc_id % 2 = 1 AND ${corpus("ce.")}
      |  GROUP BY 1, 2, 3, 4),
      |bj AS (SELECT bid, round(max(CAST(inter AS DOUBLE) /
      |    CAST(na + nb - inter AS DOUBLE)), 6) AS best_jaccard
      |  FROM p GROUP BY 1),
      |b AS (SELECT f.doc_id AS id,
      |    CAST(cfp.fp IS NOT NULL AS BIGINT) AS dropped_exact,
      |    bj.best_jaccard
      |  FROM fp f LEFT JOIN cfp ON f.fp = cfp.fp
      |  LEFT JOIN bj ON bj.bid = f.doc_id
      |  WHERE f.doc_id % 2 = 1)
      |SELECT id, dropped_exact, best_jaccard,
      |  CAST(dropped_exact = 0 AND (best_jaccard IS NULL OR
      |    best_jaccard < CAST(0.5 AS DOUBLE)) AS BIGINT) AS keep
      |FROM b ORDER BY id""".stripMargin

  private val oD7 = oD7sql(p => s"${p}doc_id % 2 = 0")
  /** q_d12's oracle: the corpus minus the tombstoned ids (doc_id % 10 =
    * 0), via the same CTE chain as oD7 — the only difference a delete
    * may make is which corpus docs exist. */
  private val oD12 =
    oD7sql(p => s"${p}doc_id % 2 = 0 AND ${p}doc_id % 10 <> 0")

  // ---- end-to-end curation -----------------------------------------------

  /** Incremental curation — the "reprocess only what changed" flow a
    * 100 TB corpus demands: snapshot-diff v1→v2 (X88), then run ONLY
    * the `added ∪ changed` delta through the incremental dedup check
    * (X13) against the unchanged corpus. The composition goes through
    * the real operators (`snapshotDiff` feeding `dedupAgainstCorpus`),
    * and the oracle replays diff + check as one CTE chain — proving the
    * two oracled stages compose without parity drift. Output: one row
    * per delta doc (status, exact-hit, best Jaccard, keep). */
  private def qE4incremental(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val v1 = base.where(col("doc_id") % 13 =!= 0)
    val v2 = base.where(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" revised"))).otherwise(col("text")))
    val diff = graft.operators.Dedup.snapshotDiff(v1, v2, "doc_id",
      graft.operators.TextStats.fingerprint(col("text")))
    val delta = v2.join(diff.where(col("status").isin("added", "changed"))
      .select(col("id").as("doc_id"), col("status")), Seq("doc_id"))
    val corpus = v2.join(diff.where(col("status") === "unchanged")
      .select(col("id").as("doc_id")), Seq("doc_id"))
    graft.operators.Dedup.dedupAgainstCorpus(delta.drop("status"), corpus,
        "doc_id", "text", n = 3, minJaccard = 0.5)
      .join(delta.select(col("doc_id").as("id"), col("status")), Seq("id"))
      .select(col("id"), col("status"),
        col("dropped_exact").cast("long").as("dropped_exact"),
        col("best_jaccard"), col("keep").cast("long").as("keep"))
      .orderBy("id")
  }
  private val oE4 =
    """WITH v2 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' revised' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 0),
      |v1f AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 13 <> 0),
      |f2 AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS fp
      |  FROM v2),
      |st AS (SELECT f2.doc_id,
      |    CASE WHEN v1f.fp IS NULL THEN 'added'
      |      WHEN v1f.fp = f2.fp THEN 'unchanged'
      |      ELSE 'changed' END AS status
      |  FROM f2 LEFT JOIN v1f ON v1f.doc_id = f2.doc_id),
      |delta AS (SELECT doc_id, status FROM st
      |  WHERE status IN ('added', 'changed')),
      |corp AS (SELECT doc_id FROM st WHERE status = 'unchanged'),
      |cfp AS (SELECT DISTINCT f2.fp FROM f2 JOIN corp USING (doc_id)),
      |w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM v2),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
      |p AS (SELECT be.doc_id AS bid, ce.doc_id AS cid, be.n_sh AS na,
      |    ce.n_sh AS nb, count(*) AS inter
      |  FROM e be JOIN delta ON delta.doc_id = be.doc_id
      |  JOIN e ce ON be.sg = ce.sg
      |  JOIN corp ON corp.doc_id = ce.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |bj AS (SELECT bid, round(max(CAST(inter AS DOUBLE) /
      |    CAST(na + nb - inter AS DOUBLE)), 6) AS best_jaccard
      |  FROM p GROUP BY 1),
      |b AS (SELECT f2.doc_id AS id, delta.status,
      |    CAST(cfp.fp IS NOT NULL AS BIGINT) AS dropped_exact,
      |    bj.best_jaccard
      |  FROM f2 JOIN delta ON delta.doc_id = f2.doc_id
      |  LEFT JOIN cfp ON f2.fp = cfp.fp
      |  LEFT JOIN bj ON bj.bid = f2.doc_id)
      |SELECT id, status, dropped_exact, best_jaccard,
      |  CAST(dropped_exact = 0 AND (best_jaccard IS NULL OR
      |    best_jaccard < CAST(0.5 AS DOUBLE)) AS BIGINT) AS keep
      |FROM b ORDER BY id""".stripMargin

  /** The full curation chain (exact dedup → quality gate → scrub →
    * split → shard packing) through the `api.Pipeline` facade, verified
    * as ONE oracle — proving the oracled stages compose without parity
    * drift. Output: the shard manifest. */
  private def qE2Ecurate(s: SparkSession, d: String): DataFrame =
    // tokenize-once discipline, extended to the quality battery: the
    // session's shared per-doc score feeds the gate (round-15; oracle
    // replays the inline formula and still hash-matches)
    graft.api.Pipeline.curationManifest(docs(s, d), "doc_id", "text",
        "lang", "n_chars",
        precomputedQuality = Some(TextSimQueries.sharedDocQuality(s, d)))
      .orderBy("split", "lang", "shard")
  /** `Pipeline.curateStrict` end to end under the hash gate: exact
    * dedup → Gopher rules (raw text, minStopwordHits=1 as q_t17) → PII
    * scrub → corpus-wide substring dedup (gramLen=10 as q_d11) → split →
    * shard packing, composed from the SAME oracle fragments those
    * queries prove individually (oE2E's dedup/split/pack, oT17's
    * metrics, oX2's scrub patterns, oD11's span chain). The output
    * carries the CLEANED TEXT and the rewritten kept-token cost, so a
    * single mis-ordered stage, wrong span boundary, or stale cost
    * anywhere in the composition is a hash mismatch. */
  private def qE2Estrict(s: SparkSession, d: String): DataFrame =
    graft.api.Pipeline.curateStrict(docs(s, d), "doc_id", "text", "lang",
        "n_chars", gramLen = 10,
        gopher = graft.operators.TextStats.GopherParams(minStopwordHits = 1),
        precomputedGopherMetrics =
          Some(TextSimQueries.sharedGopherMetrics(s, d)))
      .select(col("doc_id"), col("lang"), col("split"), col("shard"),
        col("n_chars"), col("text"))
      .orderBy("doc_id")
  private val oE2Estrict = {
    val stop = graft.operators.TextStats.GopherStopwords.map { w =>
      s"""CASE WHEN (length(' '||lower(text)||' ') -
         |  length(regexp_replace(' '||lower(text)||' ', ' $w ', ' ', 'g')))
         |  / ${w.length + 1} > 0 THEN 1 ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")
    val email = graft.operators.TextStats.EmailRe
    val phone = graft.operators.TextStats.PhoneRe
    s"""WITH fp AS (SELECT doc_id, lang, text,
      |  md5(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+', '', 'g'))) AS f
      |FROM documents),
      |keep AS (SELECT f, min(doc_id) AS kid FROM fp GROUP BY 1),
      |dd AS (SELECT fp.doc_id, fp.lang, fp.text FROM fp
      |  JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.kid),
      |gm AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS n_words,
      |  greatest(CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS DOUBLE),
      |    1.0) AS nw,
      |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}\\p{N}]')) AS DOUBLE) AS alnum,
      |  CAST(len(list_filter(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+'),
      |    w -> regexp_matches(w, '\\p{L}'))) AS DOUBLE) AS alpha_words,
      |  CAST(len(regexp_extract_all(text, '#')) +
      |    len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) AS symbols,
      |  greatest(CAST(len(string_split(text, chr(10))) AS DOUBLE), 1.0) AS nl,
      |  CAST(len(list_filter(string_split(text, chr(10)),
      |    l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE) AS bullets,
      |  CAST(len(list_filter(string_split(text, chr(10)),
      |    l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}'))) AS DOUBLE) AS ellipses,
      |  CAST($stop AS BIGINT) AS stop_hits
      |FROM dd),
      |gk AS (SELECT doc_id FROM (SELECT doc_id, n_words,
      |    round(alnum / nw, 6) AS mean_word_len,
      |    round(alpha_words / nw, 6) AS alpha_word_frac,
      |    round(symbols / nw, 6) AS symbol_ratio,
      |    round(bullets / nl, 6) AS bullet_line_frac,
      |    round(ellipses / nl, 6) AS ellipsis_line_frac, stop_hits FROM gm)
      |  WHERE n_words BETWEEN 50 AND 100000
      |    AND mean_word_len BETWEEN 3.0 AND 10.0
      |    AND alpha_word_frac >= 0.8 AND symbol_ratio < 0.1
      |    AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
      |    AND stop_hits >= 1),
      |sc AS (SELECT dd.doc_id, dd.lang,
      |    regexp_replace(regexp_replace(dd.text, '$email', '<EMAIL>', 'g'),
      |      '$phone', '<PHONE>', 'g') AS text
      |  FROM dd JOIN gk USING (doc_id)),
      |w AS (SELECT doc_id, lang, list_filter(string_split_regex(trim(lower(
      |    regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +'),
      |    x -> x <> '') AS ws FROM sc),
      |g0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(ws) - 10 + 1, 0) + 1),
      |    i -> {'pos': i - 1, 's': array_to_string(ws[i:i+9], ' ')})) AS u
      |  FROM w),
      |g AS (SELECT doc_id, u.pos AS pos,
      |    CAST(concat('0x', substr(md5(u.s), 1, 15)) AS BIGINT) AS gh
      |  FROM g0),
      |r AS (SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
      |    count(*) OVER (PARTITION BY gh) AS cnt
      |  FROM g),
      |rep AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM r
      |  WHERE cnt > 1 AND rn > 1),
      |m AS (SELECT doc_id, s, e,
      |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM rep),
      |b AS (SELECT doc_id, s, e,
      |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS brk FROM m),
      |sg AS (SELECT doc_id, s, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM b),
      |sp0 AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM sg
      |  GROUP BY doc_id, grp),
      |spl AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans FROM sp0
      |  GROUP BY doc_id),
      |k AS (SELECT w.doc_id, w.lang,
      |    list_filter(w.ws, (x, i) -> len(list_filter(
      |      coalesce(spl.spans, []),
      |      sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0) AS kept
      |  FROM w LEFT JOIN spl ON w.doc_id = spl.doc_id),
      |res AS (SELECT doc_id, lang, CAST(len(kept) AS BIGINT) AS n_chars,
      |    coalesce(array_to_string(kept, ' '), '') AS text
      |  FROM k WHERE len(kept) > 0),
      |h AS (SELECT doc_id, lang, n_chars, text,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM res),
      |sp AS (SELECT doc_id, lang, n_chars, text, hh,
      |  CASE WHEN hh < 3355443 THEN 'test' ELSE 'train' END AS split FROM h),
      |c AS (SELECT doc_id, lang, split, n_chars, text,
      |  sum(n_chars) OVER (PARTITION BY split, lang ORDER BY hh, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM sp),
      |s AS (SELECT doc_id, lang, split,
      |  CAST(floor(CAST(cum - n_chars AS DOUBLE) /
      |    CAST(4000 AS DOUBLE)) AS BIGINT) AS shard, n_chars, text FROM c)
      |SELECT doc_id, lang, split, shard, n_chars, text
      |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The STREAMING ingest loop end-to-end under the FULL hash gate (the
    * q_st3 in-query-lifecycle discipline over the round-12 idempotent
    * index lane): the corpus eighth (doc_id % 8 = 0) flows through the
    * stateless curation front door ([[graft.streaming.StreamCurate]]:
    * Gopher raw-text gate at minStopwordHits=1 + PII scrub + token
    * cost) and is indexed; two stream epochs (eighths 1–2, curated
    * identically) run the EXACT foreachBatch epoch body
    * ([[graft.streaming.StreamIndexDedup.processEpoch]] with
    * appendKept), so each epoch's keepers join the corpus the next
    * epoch dedupes against; epoch 1 is then REPLAYED mid-stream (the
    * crash-window case) with its sink rows landing in the SAME parquet
    * sink — the final DISTINCT over the sink equals the clean 2-epoch
    * union precisely because the replay is byte-identical (the
    * excludeEpoch mask + partition-overwrite append closed the window).
    * Two epochs + the replay pin the whole contract (build → dedupe →
    * accrete → crash-replay); the 3-epoch form this query ran through
    * round 12 added bench cost, not coverage — it lives on in
    * DedupIndexSpec's MemoryStream drive and the 200-epoch accretion
    * smoke. The oracle replays the gate, the scrub, the fingerprints,
    * and the two SEQUENTIAL corpus states as batch CTEs — a
    * double-appended epoch, a drifted verdict, or a sink row that
    * changed across the replay is a hash mismatch. */
  private def qE7streamIngest(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.{StreamCurate, StreamIndexDedup}
    val gopher = graft.operators.TextStats.GopherParams(minStopwordHits = 1)
    // localCheckpoint = the foreachBatch contract: a real micro-batch
    // arrives MATERIALIZED, so the curation regex battery runs once per
    // slice here too (un-checkpointed, every reference to the batch
    // inside the epoch plan — fingerprints, shingles, kept output —
    // re-ran the full Gopher scan: 3-4 regex passes per epoch)
    // widen + checkpoint the RAW slice: the Gopher gate + scrub +
    // token count are scan-side regexes, and the one-row-group test
    // corpus hands each eighth to ONE task (measured 2.9 s for the
    // first slice, serial). The checkpoint after the widen is the
    // PUSHDOWN BARRIER that makes it stick — the gate is a
    // deterministic filter, so the optimizer pushes it back below the
    // widen exchange onto the single-task scan otherwise (probed) —
    // and it IS the foreachBatch contract: a real micro-batch arrives
    // MATERIALIZED with the source's partitioning. The operator under
    // test (curateStateless) is unchanged.
    def curated(m: Int): DataFrame = StreamCurate.curateStateless(
        graft.operators.Widen.widen(
          docs(s, d).where(col("doc_id") % 8 === m).select("doc_id", "text"))
          .localCheckpoint(),
        "text", gopher)
      .localCheckpoint()
    val idx = TextSimQueries.indexDir("e7idx", d)
    val sink = TextSimQueries.indexDir("e7sink", d)
    // fresh lifecycle per run: build overwrites the index and clears its
    // markers; the sink only ever receives byte-identical replays of the
    // same rows, so the closing DISTINCT also makes RE-running the query
    // in one JVM (bench warmup + timed) idempotent
    graft.operators.DedupIndex.build(curated(0), "doc_id", "text", idx, n = 3)
    def run(batch: DataFrame, epoch: Long): Unit =
      StreamIndexDedup.processEpoch(batch, epoch, "doc_id", "text",
        idx, minJaccard = 0.5, appendKept = true) { (kept, e) =>
        kept.select(col("doc_id"), lit(e).as("epoch"), col("n_tokens"),
            col("best_jaccard"), md5(col("text")).as("out_md5"))
          // one file per epoch batch — micro-batch sink writes sized to
          // the batch, not to the session's shuffle partitions
          .coalesce(1)
          .write.mode("append").parquet(sink)
      }
    // each epoch's batch is curated ONCE; the replay re-delivers the
    // SAME materialized micro-batch (exactly what a replayed foreachBatch
    // epoch is — the same rows, not a re-curation of the source), which
    // keeps the replay byte-identical by construction and drops one full
    // Gopher regex pass from the lifecycle
    val batch1 = curated(1)
    val batch2 = curated(2)
    run(batch1, 0L)
    run(batch2, 1L)
    run(batch2, 1L) // the at-least-once replay: index no-ops, sink rows repeat
    s.read.parquet(sink).distinct().orderBy("doc_id")
  }
  private val oE7 = {
    val stop = graft.operators.TextStats.GopherStopwords.map { w =>
      s"""CASE WHEN (length(' '||lower(text)||' ') -
         |  length(regexp_replace(' '||lower(text)||' ', ' $w ', ' ', 'g')))
         |  / ${w.length + 1} > 0 THEN 1 ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")
    val email = graft.operators.TextStats.EmailRe
    val phone = graft.operators.TextStats.PhoneRe
    val cjk = "([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}" +
      "\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])"
    // one dedup stage per epoch: batch quarter b<k> checked against the
    // accumulated corpus c<k>; keepers fold into c<k+1> — the batch-CTE
    // replay of the sequential stream state
    def stage(k: Int): String =
      s"""x$k AS (SELECT DISTINCT f.doc_id FROM fp f
         |  JOIN b$k ON b$k.doc_id = f.doc_id
         |  WHERE f.fp IN (SELECT f2.fp FROM fp f2
         |    JOIN c$k ON c$k.doc_id = f2.doc_id)),
         |p$k AS (SELECT be.doc_id AS bid, ce.doc_id AS cid, be.n_sh AS na,
         |    ce.n_sh AS nb, count(*) AS inter
         |  FROM e be JOIN b$k ON b$k.doc_id = be.doc_id
         |  JOIN e ce ON be.sg = ce.sg
         |  JOIN c$k ON c$k.doc_id = ce.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |bj$k AS (SELECT bid, round(max(CAST(inter AS DOUBLE) /
         |    CAST(na + nb - inter AS DOUBLE)), 6) AS best_jaccard
         |  FROM p$k GROUP BY 1),
         |k$k AS (SELECT b$k.doc_id, CAST($k AS BIGINT) AS epoch,
         |    bj$k.best_jaccard
         |  FROM b$k LEFT JOIN x$k ON x$k.doc_id = b$k.doc_id
         |  LEFT JOIN bj$k ON bj$k.bid = b$k.doc_id
         |  WHERE x$k.doc_id IS NULL AND (bj$k.best_jaccard IS NULL
         |    OR bj$k.best_jaccard < CAST(0.5 AS DOUBLE))),
         |c${k + 1} AS (SELECT doc_id FROM c$k
         |  UNION ALL SELECT doc_id FROM k$k)""".stripMargin
    s"""WITH gm AS (SELECT doc_id,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '$cjk', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS n_words,
      |  greatest(CAST(len(regexp_extract_all(regexp_replace(text, '$cjk', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS DOUBLE),
      |    1.0) AS nw,
      |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}\\p{N}]')) AS DOUBLE) AS alnum,
      |  CAST(len(list_filter(regexp_extract_all(regexp_replace(text, '$cjk', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+'),
      |    w -> regexp_matches(w, '\\p{L}'))) AS DOUBLE) AS alpha_words,
      |  CAST(len(regexp_extract_all(text, '#')) +
      |    len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) AS symbols,
      |  greatest(CAST(len(string_split(text, chr(10))) AS DOUBLE), 1.0) AS nl,
      |  CAST(len(list_filter(string_split(text, chr(10)),
      |    l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE) AS bullets,
      |  CAST(len(list_filter(string_split(text, chr(10)),
      |    l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}'))) AS DOUBLE) AS ellipses,
      |  CAST($stop AS BIGINT) AS stop_hits
      |FROM documents),
      |gk AS (SELECT doc_id FROM (SELECT doc_id, n_words,
      |    round(alnum / nw, 6) AS mean_word_len,
      |    round(alpha_words / nw, 6) AS alpha_word_frac,
      |    round(symbols / nw, 6) AS symbol_ratio,
      |    round(bullets / nl, 6) AS bullet_line_frac,
      |    round(ellipses / nl, 6) AS ellipsis_line_frac, stop_hits FROM gm)
      |  WHERE n_words BETWEEN 50 AND 100000
      |    AND mean_word_len BETWEEN 3.0 AND 10.0
      |    AND alpha_word_frac >= 0.8 AND symbol_ratio < 0.1
      |    AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
      |    AND stop_hits >= 1),
      |sc AS (SELECT d2.doc_id,
      |    regexp_replace(regexp_replace(d2.text, '$email', '<EMAIL>', 'g'),
      |      '$phone', '<PHONE>', 'g') AS text
      |  FROM documents d2 JOIN gk USING (doc_id)),
      |fp AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+', '', 'g'))) AS fp
      |  FROM sc),
      |tk AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(regexp_replace(text, '$cjk', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+|[^\\p{L}\\p{M}\\p{N}\\s]')) AS BIGINT) AS n_tokens,
      |    md5(text) AS out_md5
      |  FROM sc),
      |w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|$cjk', ' \\1 ', 'g'))), ' +') AS ws
      |FROM sc),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
      |c0 AS (SELECT doc_id FROM sc WHERE doc_id % 8 = 0),
      |b0 AS (SELECT doc_id FROM sc WHERE doc_id % 8 = 1),
      |b1 AS (SELECT doc_id FROM sc WHERE doc_id % 8 = 2),
      |${stage(0)},
      |${stage(1)}
      |SELECT k.doc_id, k.epoch, tk.n_tokens, k.best_jaccard, tk.out_md5
      |FROM (SELECT * FROM k0 UNION ALL SELECT * FROM k1) k
      |JOIN tk ON tk.doc_id = k.doc_id
      |ORDER BY k.doc_id""".stripMargin
  }

  private val oE2E =
    """WITH fp AS (SELECT doc_id, lang, n_chars, text,
      |  md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS f
      |FROM documents),
      |keep AS (SELECT f, min(doc_id) AS kid FROM fp GROUP BY 1),
      |dd AS (SELECT fp.doc_id, fp.lang, fp.n_chars, fp.text FROM fp
      |  JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.kid),
      |t AS (SELECT doc_id, lang, n_chars, text,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM dd),
      |g AS (SELECT doc_id, lang, n_chars FROM t
      |  WHERE round(
      |    (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |    + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |            BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |    + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |    6) >= CAST(0.3 AS DOUBLE)),
      |h AS (SELECT doc_id, lang, n_chars,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM g),
      |sp AS (SELECT doc_id, lang, n_chars, hh,
      |  CASE WHEN hh < 3355443 THEN 'test' ELSE 'train' END AS split FROM h),
      |c AS (SELECT split, lang, doc_id, n_chars,
      |  sum(n_chars) OVER (PARTITION BY split, lang ORDER BY hh, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum FROM sp),
      |s AS (SELECT split, lang, doc_id, n_chars,
      |  CAST(floor(CAST(cum - n_chars AS DOUBLE) /
      |    CAST(4000 AS DOUBLE)) AS BIGINT) AS shard FROM c)
      |SELECT split, lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS cost_total,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** `Pipeline.prepareSequences` end to end: the full curation chain,
    * its TRAIN split only, packed into exact-512 training sequences —
    * composing oE2E's curation CTEs with oX8's packing replay. Under
    * the hash gate this also pins the no-leak claim: every (doc_id,
    * span) row must come from a doc the oracle's own train filter kept,
    * so a test doc in any sequence is a hash mismatch. */
  private def qE2Epack(s: SparkSession, d: String): DataFrame =
    graft.api.Pipeline.prepareSequences(docs(s, d), "doc_id", "text",
        "lang", "n_chars", seqLen = 512L,
        precomputedQuality = Some(TextSimQueries.sharedDocQuality(s, d)))
      .select("lang", "doc_id", "seq_no", "tok_start", "tok_end", "seq_offset")
      .orderBy("lang", "seq_no", "seq_offset", "doc_id")
  private val oE2Epack =
    """WITH fp AS (SELECT doc_id, lang, n_chars, text,
      |  md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS f
      |FROM documents),
      |keep AS (SELECT f, min(doc_id) AS kid FROM fp GROUP BY 1),
      |dd AS (SELECT fp.doc_id, fp.lang, fp.n_chars, fp.text FROM fp
      |  JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.kid),
      |t AS (SELECT doc_id, lang, n_chars, text,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM dd),
      |g AS (SELECT doc_id, lang, n_chars FROM t
      |  WHERE round(
      |    (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |    + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |            BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |    + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |    6) >= CAST(0.3 AS DOUBLE)),
      |h AS (SELECT doc_id, lang, n_chars,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM g),
      |tr AS (SELECT doc_id, lang, n_chars, hh FROM h WHERE hh >= 3355443),
      |pc AS (SELECT lang, doc_id, n_chars,
      |  CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY hh, doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM tr),
      |ps AS (SELECT lang, doc_id, cum, cum - n_chars AS st FROM pc
      |  WHERE n_chars > 0),
      |pspan AS (SELECT lang, doc_id, cum, st,
      |    unnest(range(st // 512, (cum - 1) // 512 + 1)) AS seq_no
      |  FROM ps)
      |SELECT lang, doc_id, CAST(seq_no AS BIGINT) AS seq_no,
      |  CAST(greatest(st, seq_no * 512) - st AS BIGINT) AS tok_start,
      |  CAST(least(cum, (seq_no + 1) * 512) - st AS BIGINT) AS tok_end,
      |  CAST(greatest(st, seq_no * 512) - seq_no * 512 AS BIGINT) AS seq_offset
      |FROM pspan ORDER BY lang, seq_no, seq_offset, doc_id""".stripMargin

  // ---- batch sessionization ----------------------------------------------

  /** Gap-based sessionization of the event stream's history (4-hour
    * inactivity closes a session) — the batch half of the
    * `streaming/Sessionize` pair (SessionsSpec pins their equivalence).
    * One hash exchange end-to-end: the (user_id, session_idx) aggregate
    * reuses the window's HashPartitioning(user_id) (plan-asserted).
    * `event_id` tie-break makes equal-timestamp ordering, and with it
    * the session boundaries, engine-reproducible; the oracle replays the
    * same lag → break-flag → running-sum composition in µs arithmetic. */
  private def qW5sessionize(s: SparkSession, d: String): DataFrame =
    Sessions.sessionize(events(s, d), Seq("user_id"), "ts",
        gapSeconds = 4 * 3600, tieBreak = Seq("event_id"),
        extraAggs = Seq(
          round(graft.operators.Parity.moneySum(col("value")), 2).as("total_value")))
      .select(col("user_id"), col("session_idx"),
        Sessions.epochUs(col("session_start")).as("start_us"),
        Sessions.epochUs(col("session_end")).as("end_us"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_idx")
  private val oW5 =
    s"""WITH o AS (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
      |b AS (SELECT user_id, us, value,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      > ${4L * 3600 * 1000000} THEN 1 ELSE 0 END AS brk,
      |    event_id
      |  FROM o),
      |s AS (SELECT user_id, us, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM b)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  min(us) AS start_us, max(us) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(${graft.operators.Parity.moneySumSql("value")}, 2) AS total_value
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Rolling z-score anomaly detection per user — fully oracled: the
    * trailing window's mean/variance come from exact DECIMAL sums (value
    * sits on the 2-dp grid, Parity), so both engines land on the same
    * doubles before the one shared float formula; the frame, the
    * minPoints/zero-variance guards, and the |z| flag all replay.
    * `anomaly` crosses as 0/1 BIGINT. */
  private def qW6anomaly(s: SparkSession, d: String): DataFrame =
    Anomaly.rollingZScore(events(s, d), "user_id", "ts", "event_id",
        "value", lookback = 20, minPoints = 5, zThreshold = 3.0)
      .select(col("event_id"), col("user_id"), col("value"), col("n_prev"),
        col("mean_prev"), col("z"), col("anomaly").cast("bigint").as("anomaly"))
      .orderBy("event_id")
  private val oW6 =
    """WITH w AS (SELECT event_id, user_id, value,
      |    CAST(count(*) OVER fr AS BIGINT) AS n_prev,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) OVER fr AS DOUBLE) AS sv,
      |    CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
      |      OVER fr AS DOUBLE) AS sq
      |  FROM events
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |m AS (SELECT event_id, user_id, value, n_prev,
      |    CASE WHEN n_prev > 0 THEN sv / n_prev END AS mean,
      |    CASE WHEN n_prev > 0 THEN greatest(
      |      sq / n_prev - (sv / n_prev) * (sv / n_prev), 0.0) END AS varr
      |  FROM w),
      |z AS (SELECT event_id, user_id, value, n_prev, mean,
      |    CASE WHEN n_prev >= 5 AND varr > 0
      |      THEN (value - mean) / sqrt(varr) END AS zv
      |  FROM m)
      |SELECT event_id, user_id, value, n_prev,
      |  round(mean, 6) AS mean_prev, round(zv, 6) AS z,
      |  CAST(coalesce(abs(zv) > 3.0, false) AS BIGINT) AS anomaly
      |FROM z ORDER BY event_id""".stripMargin

  // ---- data-recipe mixture -----------------------------------------------

  /** Training-data mixture with epoch factors: src0 oversampled at 2.5
    * epochs (two whole copies + a half sample), src1 dropped, src2 kept
    * exactly once, everything else thinned to 0.4 — the standard data-
    * recipe realization step. Deterministic per (id, epoch): the oracle
    * replays the per-epoch md5 threshold and the same double threshold
    * arithmetic. Map-side only (no exchange in the plan — PipelineOpsSpec). */
  private def qX6mixture(s: SparkSession, d: String): DataFrame =
    Sampling.mixture(docs(s, d).select(col("doc_id"), col("source")),
        "source", Map("src0" -> 2.5, "src1" -> 0.0, "src2" -> 1.0),
        defaultWeight = 0.4, idCol = "doc_id")
      .select(col("doc_id").as("id"), col("source"),
        col("epoch").cast("long").as("epoch"))
      .orderBy("id", "epoch")
  private val oX6 =
    """WITH w AS (SELECT doc_id, source,
      |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.0
      |      WHEN 'src2' THEN 1.0 ELSE 0.4 END AS wt
      |  FROM documents),
      |e AS (SELECT doc_id, source, wt,
      |    unnest(range(0, GREATEST(CAST(ceil(wt) AS INT), 1))) AS epoch
      |  FROM w)
      |SELECT doc_id AS id, source, CAST(epoch AS BIGINT) AS epoch
      |FROM e
      |WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#',
      |    CAST(epoch AS VARCHAR), '|graft')), 1, 6)) AS BIGINT)
      |  < CAST(floor((wt - epoch) * 16777216) AS BIGINT)
      |ORDER BY 1, 3""".stripMargin

  /** Token-budget mixture solver — fully oracled: exact integer token
    * sums per source, the weight table as literals, and the
    * cap/deficit float formula replayed in the same op order. */
  private def qX10solve(s: SparkSession, d: String): DataFrame =
    Sampling.mixtureSolve(
        docs(s, d).select(col("source"),
          TextStats.tokenCount(col("text")).as("toks")),
        "source", col("toks"),
        Map("src0" -> 0.35, "src1" -> 0.25, "src2" -> 0.2, "src3" -> 0.2),
        budgetTokens = 2000000L, maxEpochs = 2.5)
      .orderBy("source")
  private val oX10 =
    """WITH toks AS (SELECT source, CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'),
      |    '[\p{L}\p{M}\p{N}]+|[^\p{L}\p{M}\p{N}\s]')) AS BIGINT) AS toks
      |  FROM documents),
      |avail AS (SELECT source, CAST(sum(toks) AS BIGINT) AS tokens_available
      |  FROM toks GROUP BY 1),
      |j AS (SELECT source, tokens_available,
      |    CAST(CASE source WHEN 'src0' THEN 0.35 WHEN 'src1' THEN 0.25
      |      WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.2 ELSE 0.0 END
      |      AS DOUBLE) AS weight
      |  FROM avail),
      |e AS (SELECT source, tokens_available, weight,
      |    CAST(weight * 2000000 AS DOUBLE) AS target,
      |    CASE WHEN tokens_available > 0
      |      THEN least(weight * 2000000 / tokens_available, 2.5)
      |      ELSE 0.0 END AS epochs
      |  FROM j)
      |SELECT source, tokens_available, weight,
      |  round(target, 6) AS target_tokens, round(epochs, 6) AS epochs,
      |  round(epochs * tokens_available, 6) AS achieved_tokens,
      |  round(greatest(target - epochs * tokens_available, 0.0), 6) AS deficit
      |FROM e ORDER BY source""".stripMargin

  /** Ordered view→click→purchase funnel — per-step reach with strict
    * event-time ordering (a click only counts after the user's first
    * view; a purchase only after that click). Fully oracled: the
    * per-step min-after-previous times, counts, and both conversion
    * ratios replay as sequential join CTEs. */
  private def qW7funnel(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.funnel(events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step")
  private val oW7 =
    """WITH s0 AS (SELECT user_id u, min(ts) t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |s2 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT 0 AS step, 'view' AS event_type,
      |    (SELECT count(*) FROM s0) AS users
      |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
      |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2))
      |SELECT CAST(step AS BIGINT) AS step, event_type,
      |  CAST(users AS BIGINT) AS users,
      |  CASE WHEN lag(users) OVER (ORDER BY step) IS NULL
      |    THEN CAST(1.0 AS DOUBLE)
      |    WHEN lag(users) OVER (ORDER BY step) > 0
      |    THEN round(CAST(users AS DOUBLE)
      |      / CAST(lag(users) OVER (ORDER BY step) AS DOUBLE), 6)
      |    END AS conv_prev,
      |  CASE WHEN first_value(users) OVER (ORDER BY step) > 0
      |    THEN round(CAST(users AS DOUBLE)
      |      / CAST(first_value(users) OVER (ORDER BY step) AS DOUBLE), 6)
      |    END AS conv_first
      |FROM n ORDER BY step""".stripMargin

  /** Windowed funnel — X72 plus per-transition time constraints ("click
    * within 24 h of the view; purchase within 48 h of the click"). Same
    * k−1 keyed-join shape, one extra pushed predicate per transition;
    * fully oracled (the CTE chain gains one BETWEEN bound per step). */
  private def qW10funnelWindowed(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.funnel(events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        maxGaps = Seq(Some("24 hours"), Some("48 hours")))
      .orderBy("step")
  private val oW10 =
    """WITH s0 AS (SELECT user_id u, min(ts) t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t
      |    AND e.ts <= s0.t + INTERVAL 24 HOUR
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |s2 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
      |    AND e.ts <= s1.t + INTERVAL 48 HOUR
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT 0 AS step, 'view' AS event_type,
      |    (SELECT count(*) FROM s0) AS users
      |  UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
      |  UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2))
      |SELECT CAST(step AS BIGINT) AS step, event_type,
      |  CAST(users AS BIGINT) AS users,
      |  CASE WHEN lag(users) OVER (ORDER BY step) IS NULL
      |    THEN CAST(1.0 AS DOUBLE)
      |    WHEN lag(users) OVER (ORDER BY step) > 0
      |    THEN round(CAST(users AS DOUBLE)
      |      / CAST(lag(users) OVER (ORDER BY step) AS DOUBLE), 6)
      |    END AS conv_prev,
      |  CASE WHEN first_value(users) OVER (ORDER BY step) > 0
      |    THEN round(CAST(users AS DOUBLE)
      |      / CAST(first_value(users) OVER (ORDER BY step) AS DOUBLE), 6)
      |    END AS conv_first
      |FROM n ORDER BY step""".stripMargin

  /** Funnel transition latency — per-step time-to-convert stats over
    * the view→click→purchase funnel: users, lower-median and p90 of the
    * SECOND-gridded gap (X57's histogram order-statistic discipline —
    * pure integer arithmetic, replayed exactly), and the exact-µs mean.
    * Fully oracled: the step chain, the histogram, the cumulative
    * positions, and the one-division mean all replay as CTEs. */
  private def qW11funnelLatency(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.transitionStats(events(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("step")
  private val oW11 =
    """WITH s0 AS (SELECT user_id u, min(ts) t FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |s2 AS (SELECT e.user_id u, min(e.ts) t FROM events e
      |  JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1),
      |steps AS (SELECT u, 0 AS step, 'view' AS event_type, t FROM s0
      |  UNION ALL SELECT u, 1, 'click', t FROM s1
      |  UNION ALL SELECT u, 2, 'purchase', t FROM s2),
      |d AS (SELECT k.step, k.event_type, k.u,
      |    epoch_us(k.t) - epoch_us(p.t) AS dt_us
      |  FROM steps k JOIN steps p ON p.u = k.u AND p.step = k.step - 1),
      |h AS (SELECT step, event_type, dt_us // 1000000 AS s,
      |    count(*) AS c, sum(dt_us) AS sumus
      |  FROM d GROUP BY 1, 2, 3),
      |tot AS (SELECT step, event_type, CAST(sum(c) AS BIGINT) AS n,
      |    sum(sumus) AS sum_us FROM h GROUP BY 1, 2),
      |cum AS (SELECT step, s,
      |    sum(c) OVER (PARTITION BY step ORDER BY s) AS cum FROM h),
      |med AS (SELECT cum.step, min(s) AS median_gap_s
      |  FROM cum JOIN tot USING (step)
      |  WHERE cum >= (n + 1) // 2 GROUP BY 1),
      |p90 AS (SELECT cum.step, min(s) AS p90_gap_s
      |  FROM cum JOIN tot USING (step)
      |  WHERE cum >= (9 * n + 9) // 10 GROUP BY 1)
      |SELECT CAST(t.step AS BIGINT) AS step, t.event_type,
      |  t.n AS users, CAST(med.median_gap_s AS BIGINT) AS median_gap_s,
      |  CAST(p90.p90_gap_s AS BIGINT) AS p90_gap_s,
      |  round(CAST(t.sum_us AS DOUBLE) / CAST(t.n AS DOUBLE)
      |    / 1000000.0, 6) AS mean_gap_s
      |FROM tot t JOIN med ON med.step = t.step
      |  JOIN p90 ON p90.step = t.step
      |ORDER BY step""".stripMargin

  /** Cohort retention: first-active-day cohorts × day offset, exact
    * distinct actives per cell, retention vs cohort size. Fully
    * oracled (cohort assignment, offsets, cell counts, ratios). */
  private def qW8cohort(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.cohortRetention(events(s, d), "user_id", "ts")
      .orderBy("cohort", "day_offset")
  private val oW8 =
    """WITH f AS (SELECT user_id u,
      |    min(CAST(date_trunc('day', ts) AS DATE)) AS cohort
      |  FROM events GROUP BY 1),
      |a AS (SELECT DISTINCT user_id u,
      |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      |c AS (SELECT cohort, datediff('day', cohort, d) AS day_offset,
      |    CAST(count(*) AS BIGINT) AS active_users
      |  FROM a JOIN f USING (u) WHERE datediff('day', cohort, d) <= 30
      |  GROUP BY 1, 2),
      |s AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      |  FROM f GROUP BY 1)
      |SELECT c.cohort, CAST(c.day_offset AS BIGINT) AS day_offset, s.cohort_size,
      |  c.active_users,
      |  round(CAST(c.active_users AS DOUBLE)
      |    / CAST(s.cohort_size AS DOUBLE), 6) AS retention
      |FROM c JOIN s USING (cohort) ORDER BY cohort, day_offset""".stripMargin

  /** Robust (median/MAD) modified z-score per event_type — the
    * fat-tail-immune outlier gate. Fully oracled via the proven
    * percentile↔quantile_cont pair (median and MAD each rounded onto
    * the 1e-6 grid before reuse) and one fixed-order float formula;
    * the 0.6745 constant crosses as a string-CAST double. */
  private def qW9robust(s: SparkSession, d: String): DataFrame =
    Anomaly.robustZScore(events(s, d), "event_id", "event_type", "value")
      .orderBy("event_id")
  private val oW9 =
    """WITH m AS (SELECT event_type,
      |    round(quantile_cont(value, 0.5), 6) AS med FROM events GROUP BY 1),
      |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
      |    abs(e.value - m.med) AS dev
      |  FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
      |  FROM d GROUP BY 1),
      |j AS (SELECT d.event_id, d.event_type, d.value, d.med, md.mad
      |  FROM d JOIN md USING (event_type))
      |SELECT event_id, event_type, value, med, mad,
      |  CASE WHEN mad > 0 THEN round(CAST('0.6745' AS DOUBLE)
      |    * (value - med) / mad, 6) END AS z,
      |  CASE WHEN mad > 0 THEN CAST(abs(CAST('0.6745' AS DOUBLE)
      |    * (value - med) / mad) > 3.5 AS BIGINT) END AS is_outlier
      |FROM j ORDER BY event_id""".stripMargin

  /** Temperature-scaled (α = 0.5, √-smoothed) mixture weights per
    * source — the multilingual up/down-sampling planner. Fully oracled:
    * shares divide exact integer token sums, √ is IEEE-exact on both
    * engines, and the Σ√share normalizer folds in ascending-source
    * order on both sides (Spark sorted-struct fold, DuckDB ordered
    * list_sum), so every weight and boost crosses the hash gate. */
  private def qX11temperature(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureWeights(docs(s, d), "source",
        TextStats.wordCount(col("text")), alpha = 0.5)
      .orderBy("source")
  private val oX11 =
    """WITH c AS (SELECT source,
      |    CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS w
      |  FROM documents),
      |g AS (SELECT source, CAST(sum(w) AS BIGINT) AS tokens FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total FROM g),
      |l AS (SELECT list(round(CAST(tokens AS DOUBLE) / (SELECT total FROM t), 6)
      |    ORDER BY source) AS shares FROM g),
      |n AS (SELECT list_sum(list_transform(shares, x -> sqrt(x))) AS nrm FROM l),
      |s1 AS (SELECT source, tokens,
      |    round(CAST(tokens AS DOUBLE) / (SELECT total FROM t), 6) AS share
      |  FROM g),
      |s2 AS (SELECT source, tokens, share,
      |    round(sqrt(share) / (SELECT nrm FROM n), 6) AS weight FROM s1)
      |SELECT source, tokens, share, weight,
      |  round(weight / share, 6) AS boost
      |FROM s2 ORDER BY source""".stripMargin

  /** Token-budget curation cut (`Sampling.tokenBudgetSelect`) — fully
    * oracled: the quality score replays term-by-term (oT18's formula),
    * token mass is the Unicode word count, the budget (37% of the
    * corpus's own token mass, integer-floored) replays as a scalar
    * subquery, and the (score → token mass) histogram, strictly-better
    * prefix, boundary-bin pick, and the (hash, id)-ordered greedy fill
    * inside the boundary bin replay as the same CTEs. The 1-row budget
    * collect is the only driver-side step (bounded, corpus-independent
    * state). */
  private def qX17budget(s: SparkSession, d: String): DataFrame = {
    // the regex-heavy scorer evaluates ONCE into a slim materialized
    // (id, score, tokens) frame (the q_t25 feature-frame discipline) —
    // the op's budget/whole/boundary branches then re-read three cheap
    // columns instead of re-running five regex passes over the corpus
    val slim = docs(s, d).select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("_s"),
        TextStats.wordCount(col("text")).as("_t"))
      .localCheckpoint()
    // sum over zero rows is null — an empty documents table means a zero
    // budget, not an NPE (EmptyInputsSpec discipline)
    val budget = slim.agg(coalesce(sum(col("_t")), lit(0L)))
      .head().getLong(0) * 37L / 100L
    Sampling.tokenBudgetSelect(slim, "doc_id", col("_s"), col("_t"),
        budget = budget)
      .select(col("doc_id"), col("score"), col("tokens"))
      .orderBy("doc_id")
  }
  private val oX17 =
    """WITH t AS (SELECT doc_id,
      |  CAST(length(text) AS DOUBLE) AS n,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM documents),
      |q AS (SELECT doc_id, round(
      |  (CAST(alpha AS DOUBLE) / greatest(n, 1.0)) * 0.5
      |  + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |          BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |  + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |  6) AS score, words AS tokens FROM t),
      |b AS (SELECT CAST(sum(tokens) AS BIGINT) * 37 // 100 AS budget FROM q),
      |hist AS (SELECT score, CAST(sum(tokens) AS BIGINT) AS bt FROM q GROUP BY 1),
      |cum AS (SELECT score, bt,
      |    CAST(sum(bt) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - bt AS pfx
      |  FROM hist),
      |bb AS (SELECT max(CASE WHEN pfx <= budget AND pfx + bt > budget
      |      THEN score END) AS bscore,
      |    max(CASE WHEN pfx <= budget AND pfx + bt > budget
      |      THEN pfx END) AS bpfx
      |  FROM cum, b),
      |whole AS (SELECT q.doc_id, q.score, q.tokens FROM q, bb
      |  WHERE bb.bscore IS NULL OR q.score > bb.bscore),
      |part AS (SELECT q.doc_id, q.score, q.tokens,
      |    bb.bpfx + CAST(sum(q.tokens) OVER (ORDER BY
      |      CAST(concat('0x', substr(md5(concat(CAST(q.doc_id AS VARCHAR),
      |        '|budget')), 1, 6)) AS BIGINT), q.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM q, bb WHERE q.score = bb.bscore)
      |SELECT doc_id, score, tokens FROM whole
      |UNION ALL
      |SELECT doc_id, score, tokens FROM part, b WHERE cum <= budget
      |ORDER BY doc_id""".stripMargin

  /** Best-fit sequence packing (`Sampling.packBestFit`) — fully oracled:
    * the (lang, word-count) histogram, the histogram best-fit-decreasing
    * SOLVE (lengths desc; the smallest fitting capacity class absorbs
    * ⌊rem/L⌋ docs per bulk step; FIFO bin ties), the per-(lang, length)
    * (hash, id) rank and the prefix-range assignment all replay in
    * DuckDB — the solve as a RECURSIVE single-row-per-group list-state
    * CTE mirroring `Sampling.bestFitManifest` step for step. A drifted
    * bin id anywhere in the manifest is a hash mismatch. */
  private def qX18bestFitPack(s: SparkSession, d: String): DataFrame =
    Sampling.packBestFit(
        docs(s, d).select(col("doc_id"), col("lang"),
          TextStats.wordCount(col("text")).as("_wc")),
        "lang", "doc_id", col("_wc"), maxLen = 256L)
      .select(col("doc_id"), col("lang"), col("len"), col("bin"))
      .orderBy("doc_id")
  private val oX18 = {
    val maxLen = 256L
    s"""WITH RECURSIVE wl AS MATERIALIZED (SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS l
       |  FROM documents),
       |hist AS MATERIALIZED (SELECT lang, l, CAST(count(*) AS BIGINT) AS c
       |  FROM wl WHERE l > 0 GROUP BY 1, 2),
       |pend0 AS MATERIALIZED (SELECT lang,
       |    list(struct_pack(l := l, c := c, off := CAST(0 AS BIGINT))
       |      ORDER BY l DESC) AS pending
       |  FROM hist GROUP BY 1),
       |solve AS (
       |  SELECT lang, pending,
       |    CAST([] AS STRUCT(rem BIGINT, ids BIGINT[])[]) AS classes,
       |    CAST([] AS STRUCT(l BIGINT, off BIGINT, cnt BIGINT,
       |      bin BIGINT)[]) AS manifest,
       |    CAST(0 AS BIGINT) AS next_bin
       |  FROM pend0
       |  UNION ALL
       |  SELECT lang,
       |    CASE WHEN C - k = 0 THEN pending[2:]
       |      ELSE list_concat([struct_pack(l := L, c := C - k,
       |        off := off + k)], pending[2:]) END,
       |    CASE WHEN len(list_filter(cls1, x -> x.rem = rem2)) > 0
       |      THEN list_transform(cls1, x -> CASE WHEN x.rem = rem2
       |        THEN struct_pack(rem := x.rem,
       |          ids := list_concat(x.ids, [bin])) ELSE x END)
       |      ELSE list_sort(list_concat(cls1,
       |        [struct_pack(rem := rem2, ids := [bin])])) END,
       |    manifest || [struct_pack(l := L, off := off, cnt := k,
       |      bin := bin)],
       |    CASE WHEN opened THEN next_bin + 1 ELSE next_bin END
       |  FROM (
       |    SELECT *, rem - k * L AS rem2,
       |      CASE WHEN opened THEN classes
       |        ELSE list_filter(list_transform(classes,
       |          x -> CASE WHEN x.rem = rem
       |            THEN struct_pack(rem := x.rem, ids := x.ids[2:])
       |            ELSE x END), x -> len(x.ids) > 0) END AS cls1
       |    FROM (
       |      SELECT *, least(C, rem // L) AS k
       |      FROM (
       |        SELECT *, (len(fits) = 0) AS opened,
       |          CASE WHEN len(fits) = 0 THEN next_bin
       |            ELSE fits[1].ids[1] END AS bin,
       |          CASE WHEN len(fits) = 0 THEN CAST($maxLen AS BIGINT)
       |            ELSE fits[1].rem END AS rem
       |        FROM (
       |          SELECT lang, pending, classes, manifest, next_bin,
       |            pending[1].l AS L, pending[1].c AS C,
       |            pending[1].off AS off,
       |            list_filter(classes, x -> x.rem >= pending[1].l) AS fits
       |          FROM solve WHERE len(pending) > 0)))) ),
       |mani AS MATERIALIZED (SELECT lang, u.l AS l, u.off AS off,
       |    u.cnt AS cnt, u.bin AS bin
       |  FROM (SELECT lang, unnest(manifest) AS u FROM solve
       |    WHERE len(pending) = 0)),
       |rk AS MATERIALIZED (SELECT doc_id, lang, l,
       |    row_number() OVER (PARTITION BY lang, l ORDER BY
       |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
       |        '|graft')), 1, 6)) AS BIGINT), doc_id) - 1 AS rk
       |  FROM wl WHERE l > 0)
       |SELECT rk.doc_id, rk.lang, rk.l AS len, mani.bin
       |FROM rk JOIN mani ON mani.lang = rk.lang AND mani.l = rk.l
       |  AND rk.rk >= mani.off AND rk.rk < mani.off + mani.cnt
       |ORDER BY rk.doc_id""".stripMargin
  }

  /** DoReMi-lite domain reweighting (`Sampling.doremiWeights`) — fully
    * oracled: the quality-deficit excess signal (oX17's score formula),
    * the round-salted minibatch hash gates, each round's per-domain
    * micro-grid λ, the exponentiated-gradient update with its
    * domain-ascending normalizer fold, the uniform smoothing and the
    * per-round weight re-grid all replay as chained CTE blocks (the
    * q_t25 trajectory discipline) — all four rounds of (λ, weight) per
    * domain cross the hash gate. */
  private def qX19doremi(s: SparkSession, d: String): DataFrame =
    Sampling.doremiWeights(
        docs(s, d).select(col("doc_id"), col("lang"),
          (lit(1.0) - TextStats.qualityScore(col("text"))).as("_x")),
        "lang", "doc_id", col("_x"), rounds = 4)
      .orderBy("round", "domain")
  private val oX19 = {
    val rounds = 4; val eta = 1.0; val c = 0.01
    val thresh = math.floor(0.3 * (1 << 24)).toLong
    def h24(saltT: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$saltT')), 1, 6)) AS BIGINT)"
    val roundCtes = (1 to rounds).map { t =>
      s"""s$t AS (SELECT lang, CAST(sum(exc) AS BIGINT) AS sm,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM q WHERE ${h24(s"doremi$t")} < $thresh GROUP BY 1),
         |l$t AS (SELECT d.lang,
         |    CASE WHEN coalesce(s$t.n, 0) > 0
         |      THEN CAST(floor(CAST(s$t.sm AS DOUBLE)
         |        / CAST(s$t.n AS DOUBLE) + 0.5) AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS lm
         |  FROM doms d LEFT JOIN s$t USING (lang)),
         |r$t AS (SELECT l.lang, l.lm,
         |    (CAST(a.wm AS DOUBLE) / 1e6)
         |      * exp($eta * CAST(l.lm AS DOUBLE) / 1e6) AS raw
         |  FROM l$t l JOIN a${t - 1} a USING (lang)),
         |n$t AS (SELECT list_sum(list(raw ORDER BY lang)) AS nrm FROM r$t),
         |a$t AS (SELECT lang, lm,
         |    CAST(floor(((1 - $c) * raw / (SELECT nrm FROM n$t)
         |      + $c / (SELECT k FROM kk)) * 1e6 + 0.5) AS BIGINT) AS wm
         |  FROM r$t)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map(t =>
      s"SELECT CAST($t AS BIGINT) AS round, lang AS domain, " +
        s"lm AS lambda_micro, wm AS weight_micro FROM a$t")
      .mkString("\nUNION ALL ")
    s"""WITH t0 AS (SELECT doc_id, lang,
       |  CAST(length(text) AS DOUBLE) AS n,
       |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}]')) AS BIGINT) AS alpha,
       |  CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS words,
       |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
       |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
       |FROM documents),
       |q AS (SELECT doc_id, lang,
       |  CAST(floor(greatest(1 - round(
       |    (CAST(alpha AS DOUBLE) / greatest(n, 1.0)) * 0.5
       |    + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
       |            BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
       |    + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
       |    6), 0) * 1000000.0 + 0.5) AS BIGINT) AS exc
       |  FROM t0),
       |doms AS (SELECT DISTINCT lang FROM q),
       |kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM doms),
       |a0 AS (SELECT lang, CAST(floor(1e6 / (SELECT k FROM kk) + 0.5)
       |    AS BIGINT) AS wm FROM doms),
       |$roundCtes
       |SELECT * FROM ($out)
       |ORDER BY round, domain""".stripMargin
  }

  // ---- maps --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_w5_sessionize" -> qW5sessionize _,
    "q_w6_anomaly_zscore" -> qW6anomaly _,
    "q_w7_funnel" -> qW7funnel _,
    "q_w8_cohort" -> qW8cohort _,
    "q_w9_robust_z" -> qW9robust _,
    "q_w10_funnel_windowed" -> qW10funnelWindowed _,
    "q_w11_funnel_latency" -> qW11funnelLatency _,
    "q_x6_mixture" -> qX6mixture _,
    "q_x10_mixture_solve" -> qX10solve _,
    "q_x11_temperature_mix" -> qX11temperature _,
    "q_x17_token_budget" -> qX17budget _,
    "q_x18_bestfit_pack" -> qX18bestFitPack _,
    "q_x19_doremi_mix" -> qX19doremi _,
    "q_as1_asof_join" -> qAs1asof _,
    "q_as2_asof_bucketed" -> qAs2asofBucketed _,
    "q_r1_range_join" -> qR1range _,
    "q_t7_contamination" -> qT7contam _,
    "q_t8_repetition" -> qT8repetition _,
    "q_x4_pack_shards" -> qX4pack _,
    "q_x8_pack_sequences" -> qX8seqpack _,
    "q_x5_stratified_sample" -> qX5stratified _,
    "q_d7_incremental_dedup" -> qD7incremental _,
    "q_d10_dedup_index" -> qD10dedupIndex _,
    "q_d11_substring_dedup" -> qD11substring _,
    "q_d12_index_delete" -> qD12indexDelete _,
    "q_t9_corpus_profile" -> qT9profile _,
    "q_t10_chunks" -> qT10chunks _,
    "q_e2e_curate" -> qE2Ecurate _,
    "q_e2e_pack" -> qE2Epack _,
    "q_e2e_strict" -> qE2Estrict _,
    "q_e4_incremental_curate" -> qE4incremental _,
    "q_e7_stream_ingest" -> qE7streamIngest _,
  )

  def oracleSql: Map[String, String] = Map(
    "q_w5_sessionize" -> oW5,
    "q_w6_anomaly_zscore" -> oW6,
    "q_w7_funnel" -> oW7,
    "q_w8_cohort" -> oW8,
    "q_w9_robust_z" -> oW9,
    "q_w10_funnel_windowed" -> oW10,
    "q_w11_funnel_latency" -> oW11,
    "q_x6_mixture" -> oX6,
    "q_x10_mixture_solve" -> oX10,
    "q_x11_temperature_mix" -> oX11,
    "q_x17_token_budget" -> oX17,
    "q_x18_bestfit_pack" -> oX18,
    "q_x19_doremi_mix" -> oX19,
    "q_as1_asof_join" -> oAs1,
    "q_as2_asof_bucketed" -> oAs1,
    "q_r1_range_join" -> oR1,
    "q_t7_contamination" -> oT7,
    "q_t8_repetition" -> oT8,
    "q_x4_pack_shards" -> oX4,
    "q_x8_pack_sequences" -> oX8,
    "q_x5_stratified_sample" -> oX5,
    "q_d7_incremental_dedup" -> oD7,
    "q_d10_dedup_index" -> oD7,
    "q_d11_substring_dedup" -> oD11,
    "q_d12_index_delete" -> oD12,
    "q_t9_corpus_profile" -> oT9,
    "q_t10_chunks" -> oT10,
    "q_e2e_curate" -> oE2E,
    "q_e2e_pack" -> oE2Epack,
    "q_e2e_strict" -> oE2Estrict,
    "q_e4_incremental_curate" -> oE4,
    "q_e7_stream_ingest" -> oE7,
  )
}
