package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.GeoJson
import graft.operators.{Dedup, Multimodal, Ranking, Sampling, Similarity, TextStats,
  Widen}
import graft.sources.Tables
import graft.streaming.DailyRollup

/** Training-data-pipeline query pack: text analysis, dedup family,
  * similarity search, multimodal plumbing, streaming-semantics roll-up.
  * Same oracle conventions as SparkEntry (see its scaladoc). Every
  * query here is DuckDB-oracled — including q_m1, whose synthetic
  * payloads (UTF-8 text bytes) make the byte-histogram feature path
  * pure byte arithmetic replayable from `hex(encode(text))`; real-codec
  * decode coverage lives in the committed golden fixtures
  * (MultimodalSpec). MinHash/SimHash hashes are md5-derived (portable),
  * and the GeoJSON sink is verified by parse-back extraction.
  */
object TextSimQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  // ---- text analysis -----------------------------------------------------

  private def qT1tokenStats(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
        col("doc_id"),
        TextStats.wordCount(col("text")).as("n_words"),
        TextStats.tokenCount(col("text")).as("n_tokens"),
        TextStats.alphaChars(col("text")).as("n_alpha"),
        TextStats.digitChars(col("text")).as("n_digit"),
        TextStats.punctChars(col("text")).as("n_punct"),
        length(col("text")).cast("long").as("len"))
      .orderBy("doc_id")
  private val oT1 =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS n_words,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+|[^\p{L}\p{M}\p{N}\s]')) AS BIGINT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS n_alpha,
      |  CAST(len(regexp_extract_all(text, '\p{N}')) AS BIGINT) AS n_digit,
      |  CAST(len(regexp_extract_all(text, '[^\p{L}\p{M}\p{N}\s]')) AS BIGINT) AS n_punct,
      |  CAST(length(text) AS BIGINT) AS len
      |FROM documents ORDER BY doc_id""".stripMargin

  private def qT2quality(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        TextStats.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  // Mirrors TextStats.qualityScore term-by-term (same op order, so doubles
  // are bit-identical before the final round).
  private val oT2 =
    """WITH t AS (SELECT doc_id, text,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM documents)
      |SELECT doc_id, round(
      |  (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |  + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |          BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |  + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |  6) AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  private def qT3lang(s: SparkSession, d: String): DataFrame =
    // two-stage projection: scores once, guess from the score COLUMNS —
    // CollapseProject keeps the stages apart (the regexp subtrees are
    // non-cheap and multiply referenced), so each score is evaluated once
    docs(s, d).select(col("doc_id"), col("lang"), col("text"),
        TextStats.langScore(col("text"), "en").as("s_en"),
        TextStats.langScore(col("text"), "de").as("s_de"),
        TextStats.langScore(col("text"), "es").as("s_es"),
        TextStats.langScore(col("text"), "fr").as("s_fr"))
      .select(col("doc_id"), col("lang"), col("s_en"), col("s_de"),
        col("s_es"), col("s_fr"),
        TextStats.langGuessFromScores(col("text"),
          Seq(col("s_en"), col("s_de"), col("s_es"), col("s_fr"))).as("guess"))
      .orderBy("doc_id")
  private val oT3 = {
    def occ(w: String): String = {
      val n = w.length + 1
      s"CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' $w ', ' ', 'g'))) / $n AS BIGINT)"
    }
    def score(ws: Seq[String]): String = ws.map(occ).mkString(" + ")
    val scores = TextStats.LangMarkers.map { case (l, ws) => l -> score(ws) }.toMap
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  ${scores("en")} AS s_en, ${scores("de")} AS s_de,
       |  ${scores("es")} AS s_es, ${scores("fr")} AS s_fr
       |FROM documents),
       |b AS (SELECT *, greatest(s_en, s_de, s_es, s_fr) AS best FROM t)
       |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
       |  CASE WHEN regexp_matches(text, '[぀-ヿㇰ-ㇿ]') THEN 'ja'
       |       WHEN regexp_matches(text, '[가-힣]') THEN 'ko'
       |       WHEN regexp_matches(text, '[一-鿿㐀-䶿]') THEN 'zh'
       |       WHEN s_en = best AND best > 0 THEN 'en'
       |       WHEN s_de = best AND best > 0 THEN 'de'
       |       WHEN s_es = best AND best > 0 THEN 'es'
       |       WHEN s_fr = best AND best > 0 THEN 'fr'
       |       ELSE 'und' END AS guess
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix — the eval face of q_t3: labeled lang
    * × heuristic guess with per-label recall shares. Fully oracled (the
    * guess replays via oT3's score CTEs, the matrix is counting). */
  private def qT24langConfusion(s: SparkSession, d: String): DataFrame = {
    val guessed = docs(s, d).select(col("lang"),
      TextStats.langGuess(col("text")).as("guess"))
    val cells = guessed.groupBy("lang", "guess").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum(col("n")).as("_t"))
    cells.join(totals, Seq("lang"))
      .select(col("lang"), col("guess"), col("n"),
        round(col("n").cast("double") / col("_t").cast("double"), 6)
          .as("share"))
      .orderBy("lang", "guess")
  }
  private val oT24 = {
    def occ(w: String): String = {
      val n = w.length + 1
      s"CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' $w ', ' ', 'g'))) / $n AS BIGINT)"
    }
    val scores = TextStats.LangMarkers
      .map { case (l, ws) => l -> ws.map(occ).mkString(" + ") }.toMap
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  ${scores("en")} AS s_en, ${scores("de")} AS s_de,
       |  ${scores("es")} AS s_es, ${scores("fr")} AS s_fr
       |FROM documents),
       |b AS (SELECT *, greatest(s_en, s_de, s_es, s_fr) AS best FROM t),
       |g AS (SELECT lang,
       |  CASE WHEN regexp_matches(text, '[぀-ヿㇰ-ㇿ]') THEN 'ja'
       |       WHEN regexp_matches(text, '[가-힣]') THEN 'ko'
       |       WHEN regexp_matches(text, '[一-鿿㐀-䶿]') THEN 'zh'
       |       WHEN s_en = best AND best > 0 THEN 'en'
       |       WHEN s_de = best AND best > 0 THEN 'de'
       |       WHEN s_es = best AND best > 0 THEN 'es'
       |       WHEN s_fr = best AND best > 0 THEN 'fr'
       |       ELSE 'und' END AS guess
       |FROM b),
       |c AS (SELECT lang, guess, CAST(count(*) AS BIGINT) AS n
       |  FROM g GROUP BY 1, 2),
       |tt AS (SELECT lang, sum(n) AS t FROM c GROUP BY 1)
       |SELECT c.lang, c.guess, c.n,
       |  round(CAST(c.n AS DOUBLE) / CAST(tt.t AS DOUBLE), 6) AS share
       |FROM c JOIN tt ON tt.lang = c.lang
       |ORDER BY c.lang, c.guess""".stripMargin
  }

  /** Quality-ranked per-group cap — "top 10 docs per source by quality"
    * via the k-bounded BoundedTopK aggregate (no window). Fully
    * oracled: score replay + the (score desc, id) tie rule as
    * row_number. */
  private def qX12qualityCap(s: SparkSession, d: String): DataFrame =
    Sampling.capPerGroupByScore(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        "source", "doc_id", TextStats.qualityScore(col("text")), n = 10)
      .orderBy("source", "doc_id")
  private val oX12 =
    s"""WITH $keyScoreCtes,
      |r AS (SELECT source, doc_id, score, row_number() OVER (
      |    PARTITION BY source ORDER BY score DESC, doc_id) AS rn
      |  FROM kq)
      |SELECT source, doc_id, score FROM r WHERE rn <= 10
      |ORDER BY source, doc_id""".stripMargin

  private def qT4fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  private val oT4 =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** C4-style repeated-line removal. The synthetic corpus has no
    * newlines, so the query first derives a lined form (8-word segments
    * joined by \n) — duplicate documents then share every segment, and
    * near-duplicates share most, which is exactly the boilerplate the
    * operator strips. The derivation is mirrored in the oracle. */
  private def qT11lineDedup(s: SparkSession, d: String): DataFrame = {
    val lined = Dedup.withWords(docs(s, d), "text", "ws")
      .withColumn("lined", array_join(
        transform(
          sequence(lit(0),
            greatest(ceil(size(col("ws")) / lit(8.0d)).cast("int"), lit(1)) - 1),
          i => array_join(slice(col("ws"), i * 8 + 1, lit(8)), " ")),
        "\n"))
    TextStats.dropRepeatedLines(lined, "doc_id", "lined", minDocFreq = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  private val oT11 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |seg AS (SELECT doc_id, array_to_string(list_transform(
      |    range(0, greatest(CAST(ceil(len(ws)/8.0) AS BIGINT), 1)),
      |    i -> array_to_string(list_slice(ws, i*8+1, i*8+8), ' ')), chr(10)) AS lined
      |  FROM w),
      |l AS (SELECT doc_id,
      |    unnest(string_split(lined, chr(10))) AS line,
      |    unnest(range(1, len(string_split(lined, chr(10))) + 1)) AS pos
      |  FROM seg),
      |h AS (SELECT md5(line) AS lh FROM l WHERE trim(line) <> ''
      |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      |k AS (SELECT l.doc_id, l.pos, l.line FROM l
      |  LEFT JOIN h ON md5(l.line) = h.lh WHERE h.lh IS NULL),
      |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_kept FROM k GROUP BY 1),
      |tot AS (SELECT doc_id, CAST(len(string_split(lined, chr(10))) AS BIGINT) AS n_lines
      |  FROM seg)
      |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
      |  coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
      |  t.n_lines - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_dropped
      |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Hashing-trick linear classifier inference (64 buckets). w_sum is the
    * exact integer milli-weight sum — order-independent, so the score's
    * only float ops are one division and the sigmoid. */
  private def qT12classifier(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        TextStats.hashedClassifierWeightSum(col("text"), dim = 64).as("w_sum"),
        TextStats.hashedClassifierScore(col("text"), dim = 64).as("score"))
      .orderBy("doc_id")
  private val oT12 =
    """WITH t AS (SELECT doc_id,
      |  regexp_extract_all(regexp_replace(lower(text), '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+') AS toks FROM documents),
      |s AS (SELECT doc_id, len(toks) AS n,
      |  coalesce(list_sum(list_transform(toks, tk ->
      |    CAST(concat('0x', substr(md5(concat('w',
      |      CAST(CAST(concat('0x', substr(md5(concat(tk, '|graft')), 1, 6)) AS BIGINT) % 64
      |        AS VARCHAR), '|graft')), 1, 6)) AS BIGINT) % 2001 - 1000)), 0) AS wsum
      |FROM t)
      |SELECT doc_id, CAST(wsum AS BIGINT) AS w_sum,
      |  round(1.0 / (1.0 + exp(-(CAST(wsum AS DOUBLE) / (greatest(n, 1) * 1000.0)))), 6) AS score
      |FROM s ORDER BY doc_id""".stripMargin

  /** Corpus-scale AUC — the fixed-weight classifier's score (q_t12)
    * graded against the lang=='en' label with the histogram rank-sum
    * AUC: ONE (score, n_pos, n_neg) aggregate, the cumulative window
    * over HISTOGRAM rows only (grid-rounded scores bound the distinct
    * count), ties at half credit, exact-BIGINT numerator until the one
    * final division. */
  private def qT31auc(s: SparkSession, d: String): DataFrame =
    graft.operators.Metrics.auc(
      docs(s, d).select(
        TextStats.hashedClassifierScore(col("text"), dim = 64).as("score"),
        (col("lang") === "en").cast("long").as("y")),
      col("score"), col("y"))
  private val oT31 =
    """WITH t AS (SELECT doc_id,
      |  regexp_extract_all(regexp_replace(lower(text), '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+') AS toks FROM documents),
      |s AS (SELECT doc_id, len(toks) AS n,
      |  coalesce(list_sum(list_transform(toks, tk ->
      |    CAST(concat('0x', substr(md5(concat('w',
      |      CAST(CAST(concat('0x', substr(md5(concat(tk, '|graft')), 1, 6)) AS BIGINT) % 64
      |        AS VARCHAR), '|graft')), 1, 6)) AS BIGINT) % 2001 - 1000)), 0) AS wsum
      |FROM t),
      |sc AS (SELECT
      |    round(1.0 / (1.0 + exp(-(CAST(s.wsum AS DOUBLE)
      |      / (greatest(s.n, 1) * 1000.0)))), 6) AS score,
      |    CAST(d.lang = 'en' AS BIGINT) AS y
      |  FROM s JOIN documents d USING (doc_id)),
      |h AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
      |    CAST(sum(1 - y) AS BIGINT) AS nn FROM sc GROUP BY 1),
      |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      |  FROM h),
      |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |    CAST(sum(nn) AS BIGINT) AS n_neg,
      |    sum(CAST(np AS DECIMAL(38,0)) * (2 * cumneg + nn)) AS s2 FROM c)
      |SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |    THEN round(CAST(s2 AS DOUBLE)
      |      / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
      |  END AS auc
      |FROM a""".stripMargin

  /** PR-curve threshold sweep — the fixed-weight classifier's score
    * (q_t12) swept against the lang=='en' label: one row per distinct
    * score with exact-BIGINT TP/FP/FN, precision, recall, and the
    * integer-form F1 (2TP/(2TP+FP+FN) — never composes two rounded
    * doubles). Cumulative windows run over HISTOGRAM rows only. */
  private def qT33prCurve(s: SparkSession, d: String): DataFrame =
    graft.operators.Metrics.prCurve(
      docs(s, d).select(
        TextStats.hashedClassifierScore(col("text"), dim = 64).as("score"),
        (col("lang") === "en").cast("long").as("y")),
      col("score"), col("y")).orderBy("threshold")
  private val oT33 =
    """WITH t AS (SELECT doc_id,
      |  regexp_extract_all(regexp_replace(lower(text), '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+') AS toks FROM documents),
      |s AS (SELECT doc_id, len(toks) AS n,
      |  coalesce(list_sum(list_transform(toks, tk ->
      |    CAST(concat('0x', substr(md5(concat('w',
      |      CAST(CAST(concat('0x', substr(md5(concat(tk, '|graft')), 1, 6)) AS BIGINT) % 64
      |        AS VARCHAR), '|graft')), 1, 6)) AS BIGINT) % 2001 - 1000)), 0) AS wsum
      |FROM t),
      |sc AS (SELECT
      |    round(1.0 / (1.0 + exp(-(CAST(s.wsum AS DOUBLE)
      |      / (greatest(s.n, 1) * 1000.0)))), 6) AS score,
      |    CAST(d.lang = 'en' AS BIGINT) AS y
      |  FROM s JOIN documents d USING (doc_id)),
      |h AS (SELECT score AS threshold, CAST(sum(y) AS BIGINT) AS np,
      |    CAST(sum(1 - y) AS BIGINT) AS nn FROM sc GROUP BY 1),
      |c AS (SELECT threshold, np, nn,
      |    sum(np) OVER (ORDER BY threshold DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    sum(nn) OVER (ORDER BY threshold DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
      |    sum(np) OVER () AS p,
      |    sum(nn) OVER () AS nneg FROM h)
      |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(p - tp AS BIGINT) AS fn,
      |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
      |    AS "precision",
      |  CASE WHEN p > 0
      |    THEN round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
      |  END AS recall,
      |  CASE WHEN nneg > 0
      |    THEN round(CAST(fp AS DOUBLE) / CAST(nneg AS DOUBLE), 6)
      |  END AS fpr,
      |  CASE WHEN p > 0
      |    THEN round(CAST(2 * tp AS DOUBLE)
      |      / CAST(2 * tp + fp + (p - tp) AS DOUBLE), 6)
      |  END AS f1
      |FROM c ORDER BY threshold""".stripMargin

  /** Calibration bins (the reliability diagram) over a synthetic
    * WELL-CALIBRATED model: score = uniform md5 hash in [0, 1), label
    * drawn positive with probability ≈ score from an independent hash —
    * so all 10 bins populate, pos_rate tracks mean_score, and the gap
    * column measures the (small) sampling deviation. Mean scores via
    * exact 1e-6-regridded BIGINT sums — no partition-order float
    * accumulation. (The q_x2 injection discipline: the corpus has no
    * scored model output spanning [0,1), so the query builds one whose
    * calibration is true by construction and lets the hash gate pin
    * every bin.) */
  private def qT32calibration(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val score = round(Sampling.hash24(col("doc_id"), "cal")
      .cast("double") / lit(16777216.0), 6)
    val y = (Sampling.hash24(col("doc_id"), "draw") % 1000000 <
      floor(score * lit(1e6)).cast("long")).cast("long")
    graft.operators.Metrics.calibrationBins(
      docs(s, d).select(score.as("score"), y.as("y")),
      col("score"), col("y"), bins = 10).orderBy("bin")
  }
  private val oT32 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH sc AS (SELECT
      |    round(CAST(${h24("cal")} AS DOUBLE) / 16777216.0, 6) AS score0,
      |    ${h24("draw")} % 1000000 AS draw
      |  FROM documents),
      |sc2 AS (SELECT score0 AS score,
      |    CAST(draw < CAST(floor(score0 * 1000000.0) AS BIGINT) AS BIGINT)
      |      AS y
      |  FROM sc),""".stripMargin
  } + "\n" + """g AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM sc2 GROUP BY 1)
      |SELECT bin, n, n_pos,
      |  round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
      |    AS mean_score,
      |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
      |  round(round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    - round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6), 6)
      |    AS gap
      |FROM g ORDER BY bin""".stripMargin

  /** Expected / max calibration error over the q_t32 synthetic
    * well-calibrated model — the one-row grade of the reliability
    * diagram. The per-bin gaps re-grid to exact 1e-6 BIGINTs so the
    * weighted sum is exact until one final division; hash-gated against
    * the oracle's full CTE replay. */
  private def qT34ece(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val score = round(Sampling.hash24(col("doc_id"), "cal")
      .cast("double") / lit(16777216.0), 6)
    val y = (Sampling.hash24(col("doc_id"), "draw") % 1000000 <
      floor(score * lit(1e6)).cast("long")).cast("long")
    graft.operators.Metrics.ece(
      docs(s, d).select(score.as("score"), y.as("y")),
      col("score"), col("y"), bins = 10)
  }
  private val oT34 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH sc AS (SELECT
      |    round(CAST(${h24("cal")} AS DOUBLE) / 16777216.0, 6) AS score0,
      |    ${h24("draw")} % 1000000 AS draw
      |  FROM documents),
      |sc2 AS (SELECT score0 AS score,
      |    CAST(draw < CAST(floor(score0 * 1000000.0) AS BIGINT) AS BIGINT)
      |      AS y
      |  FROM sc),""".stripMargin
  } + "\n" + """g AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM sc2 GROUP BY 1),
      |g2 AS (SELECT n, CAST(floor(abs(
      |    round(round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      - round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6),
      |      6)) * 1000000.0 + 0.5) AS BIGINT) AS g6
      |  FROM g)
      |SELECT CAST(sum(n) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(n AS DECIMAL(38,0)) * g6) AS DOUBLE)
      |    / CAST(sum(n) AS DOUBLE)
      |    / 1000000.0, 6) AS ece,
      |  round(CAST(max(g6) AS DOUBLE) / 1000000.0, 6) AS mce
      |FROM g2""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis
    * exponential keys) — 20 docs per language with probability ∝ text
    * length: key = −ln(u)/w from a deterministic (doc_id, salt) hash,
    * k smallest keys win via the k-bounded BoundedTopK aggregate. The
    * whole draw — hash, uniform transform, exponential key, per-group
    * rank — replays in the oracle. */
  private def qX14weighted(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.weightedSample(docs(s, d), "lang", "doc_id",
        length(col("text")).cast("double"), k = 20, salt = "samp")
      .orderBy("lang", "key", "doc_id")
  private val oX14 =
    """WITH w AS (SELECT lang, doc_id, CAST(length(text) AS DOUBLE) AS wt,
      |    (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |      '|samp')), 1, 6)) AS BIGINT) + 1) / 16777216.0 AS u
      |  FROM documents WHERE length(text) > 0),
      |k AS (SELECT lang, doc_id, wt, -ln(u) / wt AS key,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY -ln(u) / wt, doc_id) AS rn
      |  FROM w)
      |SELECT lang, doc_id, round(wt, 6) AS weight, round(key, 6) AS key
      |FROM k WHERE rn <= 20 ORDER BY lang, key, doc_id""".stripMargin

  /** Log-likelihood keyness (Dunning's G²): the 50 words most
    * distinctive of lang=='en' vs the rest of the corpus — signed by
    * rate so target-overrepresented ranks first; counts exact BIGINTs,
    * one fixed double op order per term, all replayed in the oracle. */
  private def qT35keyness(s: SparkSession, d: String): DataFrame =
    TextStats.keyness(docs(s, d), "lang", "text", target = "en",
      minCount = 5L, k = 50)
  private val oT35 =
    """WITH tok AS (SELECT (lang = 'en') AS t,
      |    unnest(string_split_regex(trim(lower(regexp_replace(text,
      |      '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +')) AS w
      |  FROM documents),
      |tw AS (SELECT t, w, CAST(count(*) AS BIGINT) AS c FROM tok
      |  WHERE w <> '' GROUP BY 1, 2),
      |j AS (SELECT coalesce(a.w, b.w) AS word,
      |    coalesce(a.c, CAST(0 AS BIGINT)) AS ca,
      |    coalesce(b.c, CAST(0 AS BIGINT)) AS cb
      |  FROM (SELECT w, c FROM tw WHERE t) a
      |  FULL JOIN (SELECT w, c FROM tw WHERE NOT t) b ON a.w = b.w),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(cb) AS BIGINT) AS nb FROM j),
      |g AS (SELECT word, ca, cb,
      |    (CASE WHEN ca > 0 THEN CAST(ca AS DOUBLE)
      |        * ln(CAST(ca AS DOUBLE) / (CAST(na AS DOUBLE)
      |          * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
      |      ELSE 0.0 END)
      |    + (CASE WHEN cb > 0 THEN CAST(cb AS DOUBLE)
      |        * ln(CAST(cb AS DOUBLE) / (CAST(nb AS DOUBLE)
      |          * CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
      |      ELSE 0.0 END) AS ll,
      |    CASE WHEN (CASE WHEN na > 0
      |        THEN CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) ELSE 0.0 END)
      |      >= (CASE WHEN nb > 0
      |        THEN CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) ELSE 0.0 END)
      |      THEN 1.0 ELSE -1.0 END AS sg
      |  FROM j CROSS JOIN tot WHERE ca + cb >= 5)
      |SELECT word, ca AS cnt_target, cb AS cnt_rest,
      |  round(sg * 2.0 * ll, 6) AS g2
      |FROM g ORDER BY g2 DESC, word LIMIT 50""".stripMargin

  /** Brier score of the q_t32 synthetic calibrated model — for a
    * well-calibrated uniform score the expectation is E[p(1−p)] = 1/6,
    * and the exact integer-grid arithmetic replays in the oracle. */
  private def qT37brier(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val score = round(Sampling.hash24(col("doc_id"), "cal")
      .cast("double") / lit(16777216.0), 6)
    val y = (Sampling.hash24(col("doc_id"), "draw") % 1000000 <
      floor(score * lit(1e6)).cast("long")).cast("long")
    graft.operators.Metrics.brier(
      docs(s, d).select(score.as("score"), y.as("y")),
      col("score"), col("y"))
  }
  private val oT37 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH sc AS (SELECT
      |    round(CAST(${h24("cal")} AS DOUBLE) / 16777216.0, 6) AS score0,
      |    ${h24("draw")} % 1000000 AS draw
      |  FROM documents),
      |sc2 AS (SELECT
      |    CAST(floor(score0 * 1000000.0 + 0.5) AS BIGINT) AS p6,
      |    CAST(draw < CAST(floor(score0 * 1000000.0) AS BIGINT) AS BIGINT)
      |      * 1000000 AS y6
      |  FROM sc)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST((p6 - y6) * (p6 - y6) AS DECIMAL(38,0)))
      |      AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) / 1000000000000.0, 6) AS brier
      |FROM sc2""".stripMargin
  }

  /** Multilingual tokenization gate — the q_x2 injection discipline over
    * NON-LATIN scripts (the corpus itself is ASCII): deterministic
    * zh/ru/ar/hi/ja/ko texts (6 script templates × 5 digit suffixes =
    * 30 exact-dup groups) run the REAL tokenize → shingle → fingerprint →
    * exact-dedup chain under the hash gate, proving end-to-end that the
    * Unicode tokenizer (1) emits per-codepoint CJK tokens, (2) keeps
    * Devanagari/Arabic combining marks inside their words, (3) builds
    * non-empty 3-gram shingles from non-Latin text, and (4) fingerprints
    * dedup every doc against its own copies WITHOUT collapsing distinct
    * scripts (the old ASCII tokenizer mapped all non-Latin docs to
    * md5('') — one giant false dup group), and (5) the ja/ko/zh script
    * short-circuits of langGuess label each group (kana beats Han on
    * the mixed ja text; unmarked ru/ar/hi abstain to 'und'). Output:
    * one row per dup group with the keeper's token stats. */
  private def qT38multilingual(s: SparkSession, d: String): DataFrame = {
    val base = when(col("doc_id") % 6 === 0,
        lit("深度学习模型的训练数据质量很重要"))
      .when(col("doc_id") % 6 === 1,
        lit("Качество обучающих данных важно для модели"))
      .when(col("doc_id") % 6 === 2,
        lit("جودة بيانات التدريب مهمة للنموذج"))
      .when(col("doc_id") % 6 === 3,
        lit("प्रशिक्षण डेटा की गुणवत्ता महत्वपूर्ण है"))
      .when(col("doc_id") % 6 === 4,
        lit("深層学習のデータ品質はとても重要です"))
      .otherwise(lit("학습 데이터 품질이 중요하다"))
    val injected = docs(s, d).select(col("doc_id"),
      concat(base, lit(" "), (col("doc_id") % 5).cast("string")).as("text"))
    val toks = filter(Dedup.words(col("text")), w => w =!= lit(""))
    val stats = injected.select(col("doc_id").as("kid"),
      size(toks).cast("long").as("n_tokens"),
      size(Dedup.shingleStrings(col("text"), 3)).cast("long").as("n_shingles"),
      element_at(toks, 1).as("tok_first"),
      element_at(toks, -1).as("tok_last"),
      graft.operators.TextStats.langGuess(col("text")).as("guess"))
    Dedup.exactGroups(injected, "doc_id",
        graft.operators.TextStats.fingerprint(col("text")))
      .select(col("dup_key"), col("keeper"), col("group_size"))
      .join(stats, col("keeper") === col("kid"))
      .select(col("dup_key"), col("keeper"), col("group_size"),
        col("n_tokens"), col("n_shingles"), col("tok_first"), col("tok_last"),
        col("guess"))
      .orderBy("dup_key")
  }
  private val oT38 =
    """WITH inj AS (SELECT doc_id,
      |    CASE doc_id % 6
      |      WHEN 0 THEN '深度学习模型的训练数据质量很重要'
      |      WHEN 1 THEN 'Качество обучающих данных важно для модели'
      |      WHEN 2 THEN 'جودة بيانات التدريب مهمة للنموذج'
      |      WHEN 3 THEN 'प्रशिक्षण डेटा की गुणवत्ता महत्वपूर्ण है'
      |      WHEN 4 THEN '深層学習のデータ品質はとても重要です'
      |      ELSE '학습 데이터 품질이 중요하다'
      |    END || ' ' || CAST(doc_id % 5 AS VARCHAR) AS text
      |  FROM documents),
      |fp AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g')))
      |      AS dup_key,
      |    list_filter(string_split_regex(trim(lower(regexp_replace(text,
      |      '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |      w -> w <> '') AS ws
      |  FROM inj),
      |g AS (SELECT dup_key, CAST(min(doc_id) AS BIGINT) AS keeper,
      |    CAST(count(*) AS BIGINT) AS group_size
      |  FROM fp GROUP BY 1),
      |st AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(list_transform(
      |      range(1, greatest(len(ws) - 2, 0) + 1),
      |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])))
      |      AS BIGINT) AS n_shingles,
      |    ws[1] AS tok_first, ws[len(ws)] AS tok_last,
      |    CASE
      |      WHEN regexp_matches(text, '[\x{3040}-\x{30ff}\x{31f0}-\x{31ff}]')
      |        THEN 'ja'
      |      WHEN regexp_matches(text, '[\x{ac00}-\x{d7a3}]') THEN 'ko'
      |      WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}\x{3400}-\x{4dbf}]')
      |        THEN 'zh'
      |      ELSE 'und'
      |    END AS guess
      |  FROM fp JOIN inj USING (doc_id))
      |SELECT g.dup_key, g.keeper, g.group_size,
      |  st.n_tokens, st.n_shingles, st.tok_first, st.tok_last, st.guess
      |FROM g JOIN st ON g.keeper = st.doc_id
      |ORDER BY g.dup_key""".stripMargin

  /** PSI score-distribution drift — the q_t32 synthetic uniform score
    * as the frozen REFERENCE vs its square as the drifted CURRENT
    * population (mass pushed toward 0 by construction, so the index is
    * decisively positive): equal-width bins, Laplace-smoothed shares,
    * each term one fixed op order on the 1e-6 grid — all replayed. */
  private def qT36psi(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val s0 = round(Sampling.hash24(col("doc_id"), "cal")
      .cast("double") / lit(16777216.0), 6)
    graft.operators.Metrics.psi(
      docs(s, d).select(s0.as("s")),
      docs(s, d).select(round(s0 * s0, 6).as("s")),
      col("s"), col("s"), bins = 10)
  }
  private val oT36 =
    """WITH sc AS (SELECT
      |    round(CAST(CAST(concat('0x', substr(md5(concat(
      |      CAST(doc_id AS VARCHAR), '|cal')), 1, 6)) AS BIGINT) AS DOUBLE)
      |      / 16777216.0, 6) AS s
      |  FROM documents),
      |r AS (SELECT CAST(least(floor(s * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS cr FROM sc GROUP BY 1),
      |c AS (SELECT CAST(least(floor(round(s * s, 6) * 10), 9) AS BIGINT)
      |      AS bin,
      |    CAST(count(*) AS BIGINT) AS cc FROM sc GROUP BY 1),
      |j AS (SELECT coalesce(r.bin, c.bin) AS bin,
      |    coalesce(cr, CAST(0 AS BIGINT)) AS cr,
      |    coalesce(cc, CAST(0 AS BIGINT)) AS cc
      |  FROM r FULL JOIN c ON r.bin = c.bin),
      |t AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
      |    CAST(sum(cc) AS BIGINT) AS nc FROM j),
      |terms AS (SELECT CAST(round(
      |    ((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
      |      - (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE)))
      |    * ln((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
      |      / (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))), 6)
      |    AS DECIMAL(28,6)) AS t
      |  FROM j CROSS JOIN t)
      |SELECT (SELECT nr FROM t) AS n_ref, (SELECT nc FROM t) AS n_cur,
      |  round(CAST(sum(t) AS DOUBLE), 6) AS psi
      |FROM terms""".stripMargin

  /** The STREAMING metrics store lifecycle under the FULL hash gate
    * (the q_d10 in-query-artifact discipline): two epochs of the q_t32
    * synthetic scored model (even docs then odd docs) accumulate into a
    * persisted histogram store, epoch 1 is REPLAYED (the applied_epochs
    * guard must no-op it), the store is COMPACTED (staging-swap to one
    * merged shard), and the output is the cumulative grade (AUC +
    * ECE/MCE) plus the PSI drift of the full store against a frozen
    * baseline store holding epoch 0 only. The oracle replays everything
    * from the example sets — a double-counted replay, a compaction that
    * loses a row, or a drifted stored count is a hash mismatch. */
  private def qSt3metricsStore(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    import graft.streaming.StreamMetrics
    val score = round(Sampling.hash24(col("doc_id"), "cal")
      .cast("double") / lit(16777216.0), 6)
    val y = (Sampling.hash24(col("doc_id"), "draw") % 1000000 <
      floor(score * lit(1e6)).cast("long")).cast("long")
    val scored = docs(s, d).select(col("doc_id"),
      score.as("score"), y.as("y"))
    val e0 = scored.where(col("doc_id") % 2 === 0)
    val e1 = scored.where(col("doc_id") % 2 === 1)
    val dir = indexDir("metstore", d)
    val base = indexDir("metbase", d)
    StreamMetrics.processEpoch(e0, 0L, col("score"), col("y"), dir)
    StreamMetrics.processEpoch(e1, 1L, col("score"), col("y"), dir)
    // replayed epoch: the high-water guard must make this a no-op
    StreamMetrics.processEpoch(e1, 1L, col("score"), col("y"), dir)
    StreamMetrics.compact(s, dir)
    StreamMetrics.processEpoch(e0, 0L, col("score"), col("y"), base)
    StreamMetrics.grade(s, dir)
      .crossJoin(broadcast(StreamMetrics.driftVsBaseline(s, base, dir)))
  }
  private val oSt3 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH sc0 AS (SELECT doc_id,
      |    round(CAST(${h24("cal")} AS DOUBLE) / 16777216.0, 6) AS score0,
      |    ${h24("draw")} % 1000000 AS draw
      |  FROM documents),
      |sc AS (SELECT doc_id, score0 AS score,
      |    CAST(draw < CAST(floor(score0 * 1000000.0) AS BIGINT) AS BIGINT)
      |      AS y
      |  FROM sc0),""".stripMargin
  } + "\n" + """h AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
      |    CAST(sum(1 - y) AS BIGINT) AS nn FROM sc GROUP BY 1),
      |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      |  FROM h),
      |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |    CAST(sum(nn) AS BIGINT) AS n_neg,
      |    sum(CAST(np AS DECIMAL(38,0)) * (2 * cumneg + nn)) AS s2 FROM c),
      |auc AS (SELECT n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0
      |    THEN round(CAST(s2 AS DOUBLE)
      |      / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
      |  END AS auc FROM a),
      |g AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM sc GROUP BY 1),
      |g2 AS (SELECT n, CAST(floor(abs(
      |    round(round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      - round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6),
      |      6)) * 1000000.0 + 0.5) AS BIGINT) AS g6
      |  FROM g),
      |ec AS (SELECT CAST(sum(n) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(n AS DECIMAL(38,0)) * g6) AS DOUBLE)
      |    / CAST(sum(n) AS DOUBLE)
      |    / 1000000.0, 6) AS ece,
      |  round(CAST(max(g6) AS DOUBLE) / 1000000.0, 6) AS mce
      |FROM g2),
      |r AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS cr FROM sc WHERE doc_id % 2 = 0
      |  GROUP BY 1),
      |cc AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS cc FROM sc GROUP BY 1),
      |j AS (SELECT coalesce(r.bin, cc.bin) AS bin,
      |    coalesce(cr, CAST(0 AS BIGINT)) AS cr,
      |    coalesce(cc.cc, CAST(0 AS BIGINT)) AS cc
      |  FROM r FULL JOIN cc ON r.bin = cc.bin),
      |t AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
      |    CAST(sum(cc) AS BIGINT) AS nc FROM j),
      |terms AS (SELECT CAST(round(
      |    ((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
      |      - (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE)))
      |    * ln((CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE))
      |      / (CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))), 6)
      |    AS DECIMAL(28,6)) AS t
      |  FROM j CROSS JOIN t)
      |SELECT auc.n_pos, auc.n_neg, auc.auc, ec.n, ec.ece, ec.mce,
      |  (SELECT nr FROM t) AS n_ref, (SELECT nc FROM t) AS n_cur,
      |  (SELECT round(CAST(sum(t) AS DOUBLE), 6) FROM terms) AS psi
      |FROM auc CROSS JOIN ec""".stripMargin

  /** FIM (fill-in-the-middle) transform under the FULL hash gate: half
    * the corpus rewrites to PSM order at two hash-derived codepoint
    * cuts, the rest passes through verbatim — the oracle replays the
    * rate gate, both cut hashes, the least/greatest ordering, and all
    * three substrings byte-for-byte, plus summary columns proving the
    * transform is lossless (sentinels aside) and the gate share is the
    * hash-threshold one. */
  private def qT39fim(s: SparkSession, d: String): DataFrame =
    TextStats.fimTransform(docs(s, d), "doc_id", "text", fimRate = 0.5)
      .select(col("doc_id"), col("fim_applied"),
        length(col("text_out")).cast("long").as("n_out"),
        md5(col("text_out")).as("out_md5"))
      .orderBy("doc_id")
  private val oT39 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH c AS (SELECT doc_id, text, length(text) AS n,
      |    ${h24("fim.a")} % (length(text) + 1) AS a,
      |    ${h24("fim.b")} % (length(text) + 1) AS b,
      |    ${h24("fim")} < 8388608 AS g
      |  FROM documents),
      |t AS (SELECT doc_id, g,
      |    CASE WHEN g THEN '<PRE>' || substr(text, 1, CAST(least(a, b) AS INT))
      |      || '<SUF>' || substr(text, CAST(greatest(a, b) + 1 AS INT),
      |           CAST(n - greatest(a, b) AS INT))
      |      || '<MID>' || substr(text, CAST(least(a, b) + 1 AS INT),
      |           CAST(greatest(a, b) - least(a, b) AS INT))
      |    ELSE text END AS text_out
      |  FROM c)
      |SELECT doc_id, CAST(CASE WHEN g THEN 1 ELSE 0 END AS BIGINT)
      |    AS fim_applied,
      |  CAST(length(text_out) AS BIGINT) AS n_out,
      |  md5(text_out) AS out_md5
      |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Vocabulary heavy hitters: top-10 words per language, ranked by
    * count desc then word asc. Window-free: one (lang, word) count
    * shuffle with map-side combine, then the k-bounded `BoundedTopK`
    * aggregate per language — per-group state is k rows, never the
    * vocabulary (the row_number window the oracle uses would sort every
    * word of every language at scale). */
  private def qT13topWords(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("lang"), explode(Dedup.words(col("text"))).as("word"))
      .where(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(graft.functions.BoundedTopK.smallestK(
        struct((-col("n")).as("negn"), col("word")), 10).as("tk"))
      .select(col("lang"), posexplode(col("tk")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("col.word").as("word"), (-col("col.negn")).cast("long").as("n"))
      .orderBy("lang", "rank")
  private val oT13 =
    """WITH wc AS (SELECT lang, t AS word, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT lang, unnest(string_split_regex(trim(lower(
      |      regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +')) AS t
      |    FROM documents)
      |  WHERE t <> '' GROUP BY 1, 2),
      |r AS (SELECT lang, word, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rank
      |  FROM wc)
      |SELECT lang, CAST(rank AS BIGINT) AS rank, word, n
      |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  /** Bigram LM perplexity scoring (CCNet-style quality filter), oracled
    * end-to-end: DuckDB re-trains the same add-0.5-smoothed bigram model
    * (identical tokenization, bigram construction via list_transform,
    * counts, vocabulary) and replays the nll formula with the same `ln`
    * the proven BM25 oracle uses; per-bigram round-6 DECIMAL sums make
    * the per-doc total exact in any partition order on both engines. */
  private def qT15lm(s: SparkSession, d: String): DataFrame =
    TextStats.bigramLm(docs(s, d), "doc_id", "text").orderBy("doc_id")
  /** `TextStats.meanOnGrid6` over the oracles' `agg` CTE: the same
    * exact half-up integer formula, so avg_nll is the same double in
    * both engines. */
  private val meanOnGrid6 =
    "CAST((2 * CAST(agg.snll * 1000000 AS BIGINT) + agg.n) // (2 * agg.n)" +
      " AS DOUBLE) / 1000000"
  /** oT15's model CTEs, shared verbatim with oT20 (the bucket oracle
    * replays the SAME lm score before cutting it into thirds). */
  private val lmCtes =
    """base AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(lower(
      |      regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |      x -> x <> '') AS ws
      |  FROM documents),
      |big AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b FROM base)),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM big GROUP BY 1, 2),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(ws) AS w FROM base)),
      |model AS (SELECT w1, w2,
      |    CAST(round(ln(CAST(c1.c1 AS DOUBLE) + 0.5 * CAST((SELECT v FROM v) AS DOUBLE))
      |      - ln(CAST(c12.c12 AS DOUBLE) + 0.5), 6) AS DECIMAL(28,6)) AS nll
      |  FROM c12 JOIN c1 USING (w1)),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
      |    sum(nll) AS snll
      |  FROM big JOIN model USING (w1, w2) GROUP BY 1)""".stripMargin
  private val oT15 =
    s"""WITH $lmCtes
      |SELECT d.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_bigrams,
      |  $meanOnGrid6 AS avg_nll
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY 1""".stripMargin

  /** CCNet-style perplexity thirds: the per-language head/middle/tail
    * split over the bigram-LM score (lowest avg-nll = head = bucket 0).
    * Fully oracled: the lm score replays via oT15's CTEs verbatim, and
    * the two rank-defined cuts replay as oT18's histogram + cumulative
    * CTEs with the SAME float fraction literals Spark multiplies by
    * (interpolated from the identical Scala doubles). Docs too short to
    * score (null avg_nll) keep their row with a null bucket. */
  private def qT20pplBuckets(s: SparkSession, d: String): DataFrame = {
    val lm = TextStats.bigramLm(docs(s, d), "doc_id", "text")
    val scored = lm.join(docs(s, d).select(col("doc_id"), col("lang")),
      Seq("doc_id"))
    TextStats.rankBuckets(scored, "lang", col("avg_nll"),
        fractions = Seq(1.0 / 3, 2.0 / 3), ascending = true)
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
      .orderBy("doc_id")
  }
  private val oT20 =
    s"""WITH $lmCtes,
      |sc AS (SELECT d.doc_id, d.lang,
      |    $meanOnGrid6 AS score
      |  FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
      |hist AS (SELECT lang, score, count(*) AS c FROM sc
      |  WHERE score IS NOT NULL GROUP BY 1, 2),
      |n AS (SELECT lang, sum(c) AS n FROM hist GROUP BY 1),
      |cum AS (SELECT lang, score,
      |    sum(c) OVER (PARTITION BY lang ORDER BY score ASC) AS cum
      |  FROM hist),
      |t0 AS (SELECT cum.lang, min(score) AS thr FROM cum JOIN n USING (lang)
      |  WHERE cum >= ceil(${1.0 / 3} * n) GROUP BY 1),
      |t1 AS (SELECT cum.lang, min(score) AS thr FROM cum JOIN n USING (lang)
      |  WHERE cum >= ceil(${2.0 / 3} * n) GROUP BY 1)
      |SELECT sc.doc_id, sc.lang, sc.score,
      |  CASE WHEN sc.score IS NULL THEN NULL ELSE
      |    CAST((CASE WHEN sc.score > t0.thr THEN 1 ELSE 0 END)
      |       + (CASE WHEN sc.score > t1.thr THEN 1 ELSE 0 END) AS BIGINT)
      |  END AS bucket
      |FROM sc LEFT JOIN t0 ON t0.lang = sc.lang
      |  LEFT JOIN t1 ON t1.lang = sc.lang
      |ORDER BY sc.doc_id""".stripMargin

  /** Per-doc TF-IDF keyword extraction, oracled: DuckDB recomputes
    * tf/df/N with identical tokenization and replays tf·ln(N/df) with
    * the same operation order and row_number tie rule; the engine side
    * is window-free (BoundedTopK). */
  /** Gopher quality rules; metrics + keep cross the gate, so every
    * rule's arithmetic (including the replace-length stopword-presence
    * trick and both line-fraction filters) is hash-checked, not just the
    * final verdict. One knob moves off the published default:
    * minStopwordHits = 1 (the synthetic corpus averages 0.76 hits of the
    * 8-word list, so the published 2 fails ALL 500 docs and the keep
    * flag would gate nothing; at 1 the suite splits 251 keep / 249
    * drop — every rule still exercises both branches across the
    * corpus). */
  private def qT17gopher(s: SparkSession, d: String): DataFrame =
    TextStats.gopherQualityFlags(docs(s, d), "doc_id", "text",
        TextStats.GopherParams(minStopwordHits = 1))
      .withColumn("keep", col("keep").cast("long"))
      .orderBy("id")
  // Mirrors gopherQualityFlags metric-by-metric: same tokenizations,
  // same greatest()-guards, same rounding, thresholds applied to the
  // ROUNDED values (as the Spark side does via its output columns).
  private val oT17 = {
    val stop = TextStats.GopherStopwords.map { w =>
      s"""CASE WHEN (length(' '||lower(text)||' ') -
         |  length(regexp_replace(' '||lower(text)||' ', ' $w ', ' ', 'g')))
         |  / ${w.length + 1} > 0 THEN 1 ELSE 0 END""".stripMargin
    }.mkString("(", " + ", ")")
    s"""WITH m AS (SELECT doc_id,
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
      |FROM documents),
      |r AS (SELECT doc_id AS id, n_words,
      |  round(alnum / nw, 6) AS mean_word_len,
      |  round(alpha_words / nw, 6) AS alpha_word_frac,
      |  round(symbols / nw, 6) AS symbol_ratio,
      |  round(bullets / nl, 6) AS bullet_line_frac,
      |  round(ellipses / nl, 6) AS ellipsis_line_frac,
      |  stop_hits
      |FROM m)
      |SELECT id, n_words, mean_word_len, alpha_word_frac, symbol_ratio,
      |  bullet_line_frac, ellipsis_line_frac, stop_hits,
      |  CAST(n_words BETWEEN 50 AND 100000
      |    AND mean_word_len BETWEEN 3.0 AND 10.0
      |    AND alpha_word_frac >= 0.8
      |    AND symbol_ratio < 0.1
      |    AND bullet_line_frac < 0.9
      |    AND ellipsis_line_frac < 0.3
      |    AND stop_hits >= 1 AS BIGINT) AS keep
      |FROM r ORDER BY id""".stripMargin
  }

  /** Per-domain quality percentile gate — fully oracled: the quality
    * score replays term-by-term (oT2's formula), and the rank-defined
    * threshold (largest score with ≥ ceil(f·n) rows at or above it)
    * replays as the same histogram + cumulative-count CTEs. `kept`
    * crosses as 0/1 BIGINT. */
  private def qT18gate(s: SparkSession, d: String): DataFrame =
    TextStats.percentileGate(
        docs(s, d).select(col("doc_id"), col("source"), col("text")),
        "source", TextStats.qualityScore(col("text")), keepFraction = 0.4)
      .select(col("doc_id"), col("source"), col("score"), col("threshold"),
        col("kept").cast("bigint").as("kept"))
      .orderBy("doc_id")
  private val oT18 =
    """WITH t AS (SELECT doc_id, source, text,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM documents),
      |q AS (SELECT doc_id, source, round(
      |  (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |  + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |          BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |  + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |  6) AS score FROM t),
      |hist AS (SELECT source, score, count(*) AS c FROM q GROUP BY 1, 2),
      |n AS (SELECT source, sum(c) AS n FROM hist GROUP BY 1),
      |cum AS (SELECT source, score,
      |    sum(c) OVER (PARTITION BY source ORDER BY score DESC) AS cum
      |  FROM hist),
      |thr AS (SELECT cum.source, max(score) AS threshold
      |  FROM cum JOIN n USING (source) WHERE cum >= ceil(0.4 * n) GROUP BY 1)
      |SELECT q.doc_id, q.source, q.score, thr.threshold,
      |  CAST(q.score >= thr.threshold AS BIGINT) AS kept
      |FROM q JOIN thr USING (source) ORDER BY doc_id""".stripMargin

  /** Codepoint-entropy quality signal — fully oracled: the per-doc char
    * histogram, the ascending-codepoint summation order (TreeMap vs
    * `list(k ORDER BY c)` under binary collation), and the
    * log2-factorized formula replay in DuckDB, term for term. */
  private def qT19entropy(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
        round(TextStats.charEntropy(col("text")), 6).as("entropy"))
      .orderBy("doc_id")
  private val oT19 =
    """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '.', 0, 's')) AS c
      |  FROM documents),
      |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
      |l AS (SELECT doc_id, list(CAST(k AS DOUBLE) ORDER BY c) AS ks
      |  FROM cnt GROUP BY 1),
      |e AS (SELECT doc_id, list_sum(ks) AS n,
      |    list_sum(list_transform(ks, k -> k * (ln(k) / ln(2)))) AS s
      |  FROM l)
      |SELECT d.doc_id, round(ln(e.n) / ln(2) - e.s / e.n, 6) AS entropy
      |FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Frozen-model LM scoring — the CCNet serving shape: the bigram
    * count model trains on the EVEN docs only, then scores the whole
    * corpus with faithful add-k mass for model-unseen bigrams
    * (nll = ln(c1 + kV) − ln(c12 + k), missing counts at 0; n_unk
    * counts the misses — the domain-shift gauge). Fully oracled: the
    * training-slice counts, the per-occurrence two-ln formula with
    * coalesce-0, and the DECIMAL-grid sums all replay. */
  private def qT23lmFrozen(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val model = TextStats.bigramLmTrain(
      all.where(col("doc_id") % 2 === 0), "doc_id", "text")
    TextStats.bigramLmScore(all, "doc_id", "text", model).orderBy("doc_id")
  }
  private val oT23 =
    ("""WITH ab AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(
      |    regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |    x -> x <> '') AS ws
      |  FROM documents),
      |abig AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b FROM ab)),
      |tbig AS (SELECT * FROM abig WHERE doc_id % 2 = 0),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tbig GROUP BY 1),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM tbig GROUP BY 1, 2),
      |v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT unnest(ws) AS w FROM ab WHERE doc_id % 2 = 0)),
      |sc AS (SELECT abig.doc_id,
      |    CAST(round(ln(CAST(coalesce(c1.c1, 0) AS DOUBLE)
      |        + 0.5 * CAST((SELECT v FROM v) AS DOUBLE))
      |      - ln(CAST(coalesce(c12.c12, 0) AS DOUBLE) + 0.5), 6)
      |      AS DECIMAL(28,6)) AS nll,
      |    CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS miss
      |  FROM abig LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
      |    sum(nll) AS snll, CAST(sum(miss) AS BIGINT) AS nu
      |  FROM sc GROUP BY 1)
      |SELECT d.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(agg.nu, 0) AS BIGINT) AS n_unk,
      |  """ + meanOnGrid6 + """ AS avg_nll
      |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      |ORDER BY 1""").stripMargin

  /** PMI collocations: the 50 strongest adjacent-word associations with
    * support ≥ 5 — counts exact BIGINT, the PMI double computed in ONE
    * fixed op order ((c_ab·N)/(c_a·c_b), one ln, one round) so the
    * oracle replays it bit-for-bit; ties at the cut break on the bigram
    * itself, so the LIMIT boundary is deterministic on both engines. */
  private def qT26collocations(s: SparkSession, d: String): DataFrame =
    TextStats.collocations(docs(s, d), "doc_id", "text",
      minCount = 5L, k = 50)
  private val oT26 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |b AS (SELECT unnest(list_transform(
      |    range(1, greatest(len(ws) - 1, 0) + 1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS bgr FROM w),
      |sp AS (SELECT string_split(bgr, ' ')[1] AS w1,
      |    string_split(bgr, ' ')[2] AS w2 FROM b),
      |cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM sp GROUP BY 1, 2),
      |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cab),
      |ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1),
      |cb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1)
      |SELECT cab.w1, cab.w2, cab.c_ab, ca.c_a, cb.c_b,
      |  round(ln((CAST(cab.c_ab AS DOUBLE) * CAST(n.n AS DOUBLE))
      |    / (CAST(ca.c_a AS DOUBLE) * CAST(cb.c_b AS DOUBLE))), 6) AS pmi
      |FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
      |WHERE c_ab >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  /** Build-once memo per (session, dir) for driver-side values (trained
    * vocabularies, counts): a real pipeline trains or counts once, so the
    * bench session does too. Entries of stopped sessions are purged on
    * access. */
  private type DirMemo[V] =
    scala.collection.concurrent.TrieMap[(SparkSession, String), V]
  private def dirMemo[V]: DirMemo[V] = scala.collection.concurrent.TrieMap.empty
  private def memoPerDir[V](memo: DirMemo[V], s: SparkSession, d: String)
                           (build: => V): V = {
    memo.keySet.foreach { case k @ (sess, _) =>
      if (sess.sparkContext.isStopped) memo.remove(k)
    }
    memo.getOrElseUpdate((s, d), build)
  }

  /** In-engine BPE vocabulary training under the FULL hash gate: 10
    * merge steps learned from the corpus word histogram (argmax
    * adjacent pair, count-desc / pair-asc tie break, greedy leftmost
    * non-overlapping re-tokenization via the separator-wrapped literal
    * replace). The oracle replays the ENTIRE trajectory — histogram,
    * per-step pair counts, argmax, and every re-tokenization — as 10
    * chained CTE blocks (the q_t25/q_d16 discipline). */
  // q_t27 learns the merges, q_t28 applies them
  private val bpeCache = dirMemo[Seq[graft.operators.Bpe.Merge]]
  private def sharedBpeMerges(s: SparkSession,
                              d: String): Seq[graft.operators.Bpe.Merge] =
    memoPerDir(bpeCache, s, d)(
      graft.operators.Bpe.train(docs(s, d), "text", k = 10))
  private def qT27bpe(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.mergesFrame(s, sharedBpeMerges(s, d))
      .orderBy("step")
  /** The BPE training replay CTE chain (h → t0 → (p_i, m_i, t_i)×k),
    * shared by the training and encoding oracles. `w` rides through the
    * t-chain so the final state maps each distinct word to its
    * tokenization. */
  private def bpeCtes(iters: Int): String = {
    val S = graft.operators.Bpe.Sep
    val stages = (1 to iters).map { i =>
      s"""p$i AS (SELECT string_split(pr, '$S$S')[1] AS l,
         |    string_split(pr, '$S$S')[2] AS r, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, unnest(list_transform(
         |      range(1, greatest(len(sp) - 1, 0) + 1),
         |      j -> sp[j] || '$S$S' || sp[j+1])) AS pr
         |    FROM (SELECT cnt, string_split(trim(seq, '$S'), '$S$S') AS sp
         |      FROM t${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         |t$i AS (SELECT w, cnt, replace(seq,
         |    '$S' || m$i.l || '$S$S' || m$i.r || '$S',
         |    '$S' || m$i.l || m$i.r || '$S') AS seq
         |  FROM t${i - 1}, m$i)""".stripMargin
    }.mkString(",\n")
    s"""h AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split_regex(trim(lower(
       |      regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |t0 AS (SELECT w, cnt, regexp_replace(w, '(.)', '$S\\1$S', 'g') AS seq
       |  FROM h),
       |$stages""".stripMargin
  }
  private val oT27 = {
    val rows = (1 to 10).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, l AS l_tok, r AS r_tok, " +
        s"l || r AS merged, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(10)}
       |SELECT * FROM ($rows)
       |ORDER BY step""".stripMargin
  }

  /** The learned vocabulary APPLIED at corpus scale: every doc's words
    * encoded with the 10-merge BPE from q_t27, per-doc token/char
    * totals and the chars-per-token compression. The Spark side encodes
    * per word occurrence with the chained-replace expression; the
    * oracle reads each word's final tokenization off the t10 training
    * state — two different routes to the same numbers, both under the
    * hash gate. */
  private def qT28encode(s: SparkSession, d: String): DataFrame = {
    val merges = sharedBpeMerges(s, d)
    docs(s, d)
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        size(graft.operators.Bpe.encodeWord(col("w"), merges))
          .cast("long").as("nt"),
        length(col("w")).cast("long").as("nc"))
      .groupBy("doc_id")
      .agg(sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"),
        count(lit(1)).as("n_words"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_words"),
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }
  private val oT28 = {
    val S = graft.operators.Bpe.Sep
    s"""WITH ${bpeCtes(10)},
       |enc AS (SELECT w,
       |    CAST(len(string_split(trim(seq, '$S'), '$S$S')) AS BIGINT) AS nt,
       |    CAST(length(w) AS BIGINT) AS nc
       |  FROM t10),
       |dw AS MATERIALIZED (SELECT doc_id, unnest(string_split_regex(trim(lower(
       |      regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS w
       |  FROM documents),
       |agg AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens,
       |    CAST(sum(nc) AS BIGINT) AS n_chars,
       |    CAST(count(*) AS BIGINT) AS n_words
       |  FROM dw JOIN enc USING (w) WHERE w <> '' GROUP BY 1)
       |SELECT doc_id, n_tokens, n_chars, n_words,
       |  round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** q_t28's aggregate computed through the RANK-LOOP BpeEncode
    * expression instead of encodeWord's chained replaces — the
    * whole-vocab serve path under the SAME DuckDB oracle (the two
    * encoders are equivalent on trained vocabularies; this query makes
    * that equivalence a hash-gated fact rather than a spec claim, since
    * the oracle replays the chained-replace semantics). */
  private def qT28bEncodeExpr(s: SparkSession, d: String): DataFrame = {
    val merges = sharedBpeMerges(s, d)
    docs(s, d)
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        size(graft.functions.BpeEncode(col("w"), merges))
          .cast("long").as("nt"),
        length(col("w")).cast("long").as("nc"))
      .groupBy("doc_id")
      .agg(sum(col("nt")).as("n_tokens"), sum(col("nc")).as("n_chars"),
        count(lit(1)).as("n_words"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_words"),
        round(col("n_chars").cast("double") / col("n_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** BYTE-LEVEL BPE round trip (GPT-2 byte fallback): q_t27's word
    * vocabulary transfers to rep space ([[graft.operators.Bpe
    * .repMerges]] — the byte map is a concatenation homomorphism) and
    * encodes a fixture that word tokenizers cannot even represent —
    * raw document text sliced mid-stream plus a planted tail of
    * accents, CJK, an emoji (4-byte UTF-8) and a CONTROL byte — with
    * zero unknowns. The oracled facts are merge-list INVARIANT (they
    * hold for any byte-level vocabulary, so no rank-loop replay is
    * needed): decode ∘ encode is the IDENTITY, and the summed rep
    * length of the tokens equals octet_length(input) — one rep char
    * per UTF-8 byte, so total tokenization loses nothing and covers
    * every byte. */
  private def qT43byteRoundtrip(s: SparkSession, d: String): DataFrame = {
    val merges = graft.operators.Bpe.repMerges(sharedBpeMerges(s, d))
    val fixture = concat(substring(col("text"), 1, 200),
      lit(" café 五行 🦀 \u0007~"))
    docs(s, d)
      .select(col("doc_id"),
        graft.operators.Bpe.encodeBytes(fixture, merges).as("_tk"))
      .select(col("doc_id"),
        graft.operators.Bpe.decodeBytes(col("_tk")).as("decoded"),
        length(concat_ws("", col("_tk"))).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }
  private val oT43 =
    """WITH fx AS (SELECT doc_id,
      |    substr(text, 1, 200) || ' café 五行 🦀 ' || chr(7) || '~' AS f
      |  FROM documents)
      |SELECT doc_id, f AS decoded, strlen(f) AS n_bytes
      |FROM fx ORDER BY doc_id""".stripMargin

  // ---- unigram-LM tokenizer (q_t40 trains, q_t41 serves) -----------------

  private val unigramCache = dirMemo[Seq[graft.operators.Unigram.Piece]]
  private val UniP = 4     // max piece length
  private val UniR = 2     // EM rounds
  private val UniV = 45    // final vocabulary size
  private val UniSeed = 2L // multi-piece seed support floor
  private val UniW = 12    // oracle DP unroll (corpus max word len is 8)
  private def sharedUnigramVocab(s: SparkSession,
      d: String): Seq[graft.operators.Unigram.Piece] =
    memoPerDir(unigramCache, s, d)(
      graft.operators.Unigram.train(docs(s, d), "text", vocabSize = UniV,
        maxPieceLen = UniP, emRounds = UniR, minSeedCount = UniSeed))

  /** The micro-nat cost CTE (the exact `Unigram.costMicro` expression —
    * floor(-ln(c/total)·1e6 + 0.5) on IEEE doubles, identical ops both
    * engines). */
  private def uniCostCte(name: String, src: String, tot: String): String =
    s"""$name AS MATERIALIZED (SELECT piece, length(piece) AS pl, c,
       |    CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
       |      * 1000000 + 0.5) AS BIGINT) AS cost
       |  FROM $src, $tot)""".stripMargin

  /** One Viterbi pass (suffix DP unrolled to `UniW` positions + forward
    * walk) of the `words` frame under vocabulary CTE `v`, emitting piece
    * CTEs `st${tag}_0..${UniW-1}` (w, cnt, pos, piece, pl). The DP and
    * the walk mirror graft.functions.UnigramEncode exactly: BIGINT
    * costs, argmin on (cost + suffix-optimal), ties to the SHORTER
    * piece. */
  private def uniViterbiCtes(tag: String, v: String): String = {
    val dp = (UniW - 1) to 0 by -1 map { i =>
      s"""bf${tag}_$i AS MATERIALIZED (
         |  SELECT * FROM bf${tag}_${i + 1}
         |  UNION ALL
         |  SELECT ww.w, CAST($i AS BIGINT) AS pos, min(v.cost + b.s) AS s
         |  FROM words ww
         |  JOIN $v v ON $i + v.pl <= ww.wl
         |    AND v.piece = substr(ww.w, $i + 1, v.pl)
         |  JOIN bf${tag}_${i + 1} b ON b.w = ww.w AND b.pos = $i + v.pl
         |  WHERE ww.wl > $i
         |  GROUP BY 1, 2)""".stripMargin
    }
    val walk = (0 until UniW).map { s =>
      s"""st${tag}_$s AS MATERIALIZED (SELECT w, cnt, pos, piece, pl FROM (
         |    SELECT k.w, k.cnt, k.pos, v.piece, v.pl,
         |      row_number() OVER (PARTITION BY k.w
         |        ORDER BY v.cost + b.s, v.pl) AS rn
         |    FROM wk${tag}_$s k
         |    JOIN words ww ON ww.w = k.w
         |    JOIN $v v ON k.pos + v.pl <= ww.wl
         |      AND v.piece = substr(k.w, k.pos + 1, v.pl)
         |    JOIN bf${tag}_0 b ON b.w = k.w AND b.pos = k.pos + v.pl
         |    WHERE k.pos < ww.wl) WHERE rn = 1),
         |wk${tag}_${s + 1} AS MATERIALIZED (SELECT w, cnt, pos + pl AS pos
         |  FROM st${tag}_$s)""".stripMargin
    }
    (Seq(s"""bf${tag}_$UniW AS MATERIALIZED (SELECT w, wl AS pos, CAST(0 AS BIGINT) AS s
            |  FROM words)""".stripMargin) ++ dp ++
      Seq(s"wk${tag}_0 AS MATERIALIZED (SELECT w, cnt, CAST(0 AS BIGINT) AS pos FROM words)") ++
      walk).mkString(",\n")
  }

  private def uniPieces(tag: String): String =
    (0 until UniW).map(s => s"SELECT w, cnt, piece FROM st${tag}_$s")
      .mkString("\n  UNION ALL ")

  /** Word histogram + substring seed + seed-support floor — the CTEs
    * every unigram oracle starts from (hard q_t40/q_t41 and soft
    * q_t42). */
  private def uniSeedCtes: String =
    s"""h AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split_regex(trim(lower(
       |      regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS w
       |    FROM documents)
       |  WHERE w <> '' GROUP BY 1),
       |words AS MATERIALIZED (SELECT w, cnt, length(w) AS wl FROM h),
       |seedc AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM (
       |    SELECT cnt, substr(w, CAST(ii.i AS INTEGER), CAST(ll.l AS INTEGER)) AS piece
       |    FROM words CROSS JOIN range(1, ${UniW + 1}) ii(i)
       |    CROSS JOIN range(1, ${UniP + 1}) ll(l)
       |    WHERE ii.i + ll.l - 1 <= wl) GROUP BY 1),
       |v0c AS MATERIALIZED (SELECT piece, c FROM seedc WHERE length(piece) = 1
       |  UNION ALL SELECT piece, c FROM seedc
       |  WHERE length(piece) > 1 AND c >= $UniSeed),
       |t0 AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total FROM v0c)""".stripMargin

  /** Everything up to the post-EM vocabulary v$UniR plus the pruned
    * final `kept`/`tf` CTEs — shared by the training (q_t40) and
    * serving (q_t41) oracles. */
  private def unigramCtes: String = {
    val rounds = (1 to UniR).map { r =>
      s"""${uniViterbiCtes(s"r$r", s"v${r - 1}")},
         |ec$r AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |  ${uniPieces(s"r$r")}) GROUP BY 1),
         |v${r}c AS MATERIALIZED (
         |  SELECT v.piece, coalesce(ec.c, CAST(0 AS BIGINT)) + 1 AS c
         |  FROM v${r - 1} v LEFT JOIN ec$r ec USING (piece) WHERE v.pl = 1
         |  UNION ALL
         |  SELECT v.piece, ec.c FROM v${r - 1} v JOIN ec$r ec USING (piece)
         |  WHERE v.pl > 1 AND ec.c > 0),
         |t$r AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total FROM v${r}c),
         |${uniCostCte(s"v$r", s"v${r}c", s"t$r")}""".stripMargin
    }.mkString(",\n")
    s"""$uniSeedCtes,
       |${uniCostCte("v0", "v0c", "t0")},
       |$rounds,
       |nch AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM v$UniR WHERE pl = 1),
       |keepm AS MATERIALIZED (SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
       |    FROM v$UniR WHERE pl > 1), nch
       |  WHERE rn <= $UniV - nch.n),
       |kept AS MATERIALIZED (SELECT piece, c FROM v$UniR WHERE pl = 1
       |  UNION ALL SELECT piece, c FROM keepm),
       |tf AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total FROM kept)""".stripMargin
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINED in-engine under
    * the FULL hash gate: substring seed, `UniR` Viterbi-EM rounds on the
    * word histogram (hard-EM — the deterministic scalable variant;
    * integer micro-nat costs so both engines run the same argmin DP),
    * frequency prune to `UniV` pieces with the alphabet always kept. The
    * oracle replays the ENTIRE trajectory — seed counts, every round's
    * suffix DP, Viterbi walk, expected counts, add-one char smoothing,
    * dead-piece drops, the prune rank and the final re-normalized
    * costs — as chained CTE blocks (the q_t27 discipline). */
  private def qT40unigram(s: SparkSession, d: String): DataFrame =
    graft.operators.Unigram.vocabFrame(s, sharedUnigramVocab(s, d))
      .select(col("piece"), col("count").as("cnt"), col("cost_micro"))
      .orderBy("piece")
  private val oT40 =
    s"""WITH $unigramCtes
       |SELECT piece, c AS cnt,
       |  CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
       |    * 1000000 + 0.5) AS BIGINT) AS cost_micro
       |FROM kept, tf ORDER BY piece""".stripMargin

  /** The trained vocabulary SERVED at corpus scale: every doc's words
    * Viterbi-segmented with q_t40's final pieces (the reference-object
    * UnigramEncode expression), per-doc piece/char totals and
    * compression — the q_t28 shape. The oracle runs one more DP + walk
    * under the FINAL re-normalized costs (renormalization shifts all
    * costs equally, which can re-rank segmentations of different piece
    * counts — so the serve pass must use final costs, not round-R ones)
    * and reads each distinct word's piece count off the walk. */
  private def qT41unigramEncode(s: SparkSession, d: String): DataFrame = {
    val vocab = sharedUnigramVocab(s, d)
    docs(s, d)
      .select(col("doc_id"), explode(Dedup.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        size(graft.operators.Unigram.encodeWord(col("w"), vocab, UniP))
          .cast("long").as("np"),
        length(col("w")).cast("long").as("nc"))
      .groupBy("doc_id")
      .agg(sum(col("np")).as("n_pieces"), sum(col("nc")).as("n_chars"),
        count(lit(1)).as("n_words"))
      .select(col("doc_id"), col("n_pieces"), col("n_chars"), col("n_words"),
        round(col("n_chars").cast("double") / col("n_pieces").cast("double"), 6)
          .as("chars_per_piece"))
      .orderBy("doc_id")
  }
  private val oT41 =
    s"""WITH $unigramCtes,
       |${uniCostCte("vf", "kept", "tf")},
       |${uniViterbiCtes("f", "vf")},
       |enc AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS np FROM (
       |  ${uniPieces("f")}) GROUP BY 1),
       |dw AS MATERIALIZED (SELECT doc_id, unnest(string_split_regex(trim(lower(
       |      regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS w
       |  FROM documents),
       |agg AS (SELECT doc_id, CAST(sum(np) AS BIGINT) AS n_pieces,
       |    CAST(sum(length(dw.w)) AS BIGINT) AS n_chars,
       |    CAST(count(*) AS BIGINT) AS n_words
       |  FROM dw JOIN enc ON enc.w = dw.w WHERE dw.w <> '' GROUP BY 1)
       |SELECT doc_id, n_pieces, n_chars, n_words,
       |  round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 6)
       |    AS chars_per_piece
       |FROM agg ORDER BY doc_id""".stripMargin

  // ---- soft-EM unigram (q_t42): forward-backward expected counts ---------

  private val softUnigramCache = dirMemo[Seq[graft.operators.Unigram.Piece]]
  private def sharedSoftVocab(s: SparkSession,
      d: String): Seq[graft.operators.Unigram.Piece] =
    memoPerDir(softUnigramCache, s, d)(
      graft.operators.Unigram.trainSoft(docs(s, d), "text", vocabSize = UniV,
        maxPieceLen = UniP, emRounds = 1, minSeedCount = UniSeed))

  /** One soft-EM round's forward/backward lattice as chained CTEs — the
    * exact SQL replay of [[graft.functions.UnigramExpectedCounts]]:
    * edge weights are the seed rationals c/total (one IEEE division —
    * no exp anywhere), every α/β position value is an EXPLICIT
    * l-ascending coalesce chain starting from 0.0 (so both engines
    * associate the at-most-`UniP` terms identically; an engine-ordered
    * SUM never touches the lattice), and each edge posterior grids to
    * micro BIGINT before the cnt-weighted corpus sum. Forward tables
    * fa$pos index by absolute position; backward tables bb$d index by
    * DISTANCE FROM THE WORD END (β(pos) = bb(wl − pos)), which keeps
    * the per-word termination point out of the unroll. */
  private def unigramSoftCtes: String = {
    val fwd = (1 to UniW).map { pos =>
      val ls = 1 to math.min(UniP, pos)
      val joins = ls.map { l =>
        s"""  LEFT JOIN (SELECT e.w, f.a * e.p AS v FROM e0 e
           |    JOIN fa${pos - l} f ON f.w = e.w
           |    WHERE e.pos = ${pos - l} AND e.pl = $l) t$l ON t$l.w = ww.w""".stripMargin
      }.mkString("\n")
      val chain = ls.foldLeft("CAST(0.0 AS DOUBLE)")((acc, l) =>
        s"($acc + coalesce(t$l.v, 0.0))")
      s"""fa$pos AS MATERIALIZED (SELECT ww.w, $chain AS a
         |  FROM words ww
         |$joins
         |  WHERE ww.wl >= $pos)""".stripMargin
    }.mkString(",\n")
    val bwd = (1 to UniW).map { d =>
      val ls = 1 to math.min(UniP, d)
      val joins = ls.map { l =>
        s"""  LEFT JOIN (SELECT e.w, e.p * g.b AS v FROM e0 e
           |    JOIN words w2 ON w2.w = e.w
           |    JOIN bb${d - l} g ON g.w = e.w
           |    WHERE e.pl = $l AND e.pos = w2.wl - $d) t$l ON t$l.w = ww.w""".stripMargin
      }.mkString("\n")
      val chain = ls.foldLeft("CAST(0.0 AS DOUBLE)")((acc, l) =>
        s"($acc + coalesce(t$l.v, 0.0))")
      s"""bb$d AS MATERIALIZED (SELECT ww.w, $chain AS b
         |  FROM words ww
         |$joins
         |  WHERE ww.wl >= $d)""".stripMargin
    }.mkString(",\n")
    val faall = (0 to UniW)
      .map(p => s"SELECT w, CAST($p AS BIGINT) AS pos, a FROM fa$p")
      .mkString("\n  UNION ALL ")
    val bball = (0 to UniW)
      .map(d => s"SELECT w, CAST($d AS BIGINT) AS d, b FROM bb$d")
      .mkString("\n  UNION ALL ")
    s"""$uniSeedCtes,
       |p0 AS MATERIALIZED (SELECT piece, length(piece) AS pl,
       |    CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS p FROM v0c, t0),
       |e0 AS MATERIALIZED (SELECT ww.w, CAST(ii.i - 1 AS BIGINT) AS pos,
       |    v.pl, v.piece, v.p
       |  FROM words ww CROSS JOIN range(1, ${UniW + 1}) ii(i)
       |  JOIN p0 v ON (ii.i - 1) + v.pl <= ww.wl
       |    AND v.piece = substr(ww.w, CAST(ii.i AS INTEGER), CAST(v.pl AS INTEGER))),
       |fa0 AS MATERIALIZED (SELECT w, CAST(1.0 AS DOUBLE) AS a FROM words),
       |$fwd,
       |bb0 AS MATERIALIZED (SELECT w, CAST(1.0 AS DOUBLE) AS b FROM words),
       |$bwd,
       |faall AS MATERIALIZED ($faall),
       |bball AS MATERIALIZED ($bball),
       |an AS MATERIALIZED (SELECT ww.w, f.a FROM words ww
       |  JOIN faall f ON f.w = ww.w AND f.pos = ww.wl),
       |ece AS MATERIALIZED (SELECT e.w, e.piece, ww.cnt,
       |    CAST(floor((((f.a * e.p) * g.b) / an.a) * 1000000 + 0.5)
       |      AS BIGINT) AS ecm
       |  FROM e0 e JOIN words ww ON ww.w = e.w
       |  JOIN faall f ON f.w = e.w AND f.pos = e.pos
       |  JOIN bball g ON g.w = e.w AND g.d = ww.wl - e.pos - e.pl
       |  JOIN an ON an.w = e.w),
       |ec1 AS MATERIALIZED (SELECT piece,
       |    CAST(sum(cnt * ecm) AS BIGINT) AS c FROM ece GROUP BY 1),
       |v1s AS MATERIALIZED (
       |  SELECT v.piece, coalesce(ec.c, CAST(0 AS BIGINT)) + 1000000 AS c
       |  FROM v0c v LEFT JOIN ec1 ec ON ec.piece = v.piece
       |  WHERE length(v.piece) = 1
       |  UNION ALL
       |  SELECT v.piece, ec.c FROM v0c v JOIN ec1 ec ON ec.piece = v.piece
       |  WHERE length(v.piece) > 1 AND ec.c > 0),
       |nchs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v1s
       |  WHERE length(piece) = 1),
       |keeps AS (SELECT piece, c FROM (
       |    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rn
       |    FROM v1s WHERE length(piece) > 1), nchs
       |  WHERE rn <= $UniV - nchs.n),
       |kepts AS (SELECT piece, c FROM v1s WHERE length(piece) = 1
       |  UNION ALL SELECT piece, c FROM keeps),
       |tfs AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM kepts)""".stripMargin
  }

  /** The likelihood-loss PRUNE lattices on top of [[unigramSoftCtes]] —
    * the q_t44 replay of [[graft.functions.UnigramPruneLoss]]: under
    * the post-soft-round vocabulary v1s, a plain forward pass (ka
    * tables) gives each word's ln α, and a REMOVAL forward pass keyed
    * (word, removed-piece) — one lattice per distinct multi piece in
    * the word, edges with that piece excluded — gives ln α^{−x}; the
    * loss grids to micro-nats per (word, piece) before the cnt-weighted
    * exact corpus sum, and the prune ranks multis (loss desc, piece). */
  private def unigramKudoCtes: String = {
    val fwd = (1 to UniW).map { pos =>
      val ls = 1 to math.min(UniP, pos)
      val joins = ls.map { l =>
        s"""  LEFT JOIN (SELECT e.w, f.a * e.p AS v FROM e1 e
           |    JOIN ka${pos - l} f ON f.w = e.w
           |    WHERE e.pos = ${pos - l} AND e.pl = $l) t$l ON t$l.w = ww.w""".stripMargin
      }.mkString("\n")
      val chain = ls.foldLeft("CAST(0.0 AS DOUBLE)")((acc, l) =>
        s"($acc + coalesce(t$l.v, 0.0))")
      s"""ka$pos AS MATERIALIZED (SELECT ww.w, $chain AS a
         |  FROM words ww
         |$joins
         |  WHERE ww.wl >= $pos)""".stripMargin
    }.mkString(",\n")
    val rfwd = (1 to UniW).map { pos =>
      val ls = 1 to math.min(UniP, pos)
      val joins = ls.map { l =>
        s"""  LEFT JOIN (SELECT f.w, f.rm, f.a * e.p AS v FROM e1 e
           |    JOIN ra${pos - l} f ON f.w = e.w AND e.piece <> f.rm
           |    WHERE e.pos = ${pos - l} AND e.pl = $l) t$l
           |    ON t$l.w = r.w AND t$l.rm = r.rm""".stripMargin
      }.mkString("\n")
      val chain = ls.foldLeft("CAST(0.0 AS DOUBLE)")((acc, l) =>
        s"($acc + coalesce(t$l.v, 0.0))")
      s"""ra$pos AS MATERIALIZED (SELECT r.w, r.rm, $chain AS a
         |  FROM rmu r JOIN words ww ON ww.w = r.w
         |$joins
         |  WHERE ww.wl >= $pos)""".stripMargin
    }.mkString(",\n")
    val kall = (0 to UniW)
      .map(p => s"SELECT w, CAST($p AS BIGINT) AS pos, a FROM ka$p")
      .mkString("\n  UNION ALL ")
    val rall = (0 to UniW)
      .map(p => s"SELECT w, rm, CAST($p AS BIGINT) AS pos, a FROM ra$p")
      .mkString("\n  UNION ALL ")
    s"""$unigramSoftCtes,
       |t1a AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS total FROM v1s),
       |p1 AS MATERIALIZED (SELECT piece, length(piece) AS pl,
       |    CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS p FROM v1s, t1a),
       |e1 AS MATERIALIZED (SELECT ww.w, CAST(ii.i - 1 AS BIGINT) AS pos,
       |    v.pl, v.piece, v.p
       |  FROM words ww CROSS JOIN range(1, ${UniW + 1}) ii(i)
       |  JOIN p1 v ON (ii.i - 1) + v.pl <= ww.wl
       |    AND v.piece = substr(ww.w, CAST(ii.i AS INTEGER), CAST(v.pl AS INTEGER))),
       |ka0 AS MATERIALIZED (SELECT w, CAST(1.0 AS DOUBLE) AS a FROM words),
       |$fwd,
       |rmu AS MATERIALIZED (SELECT DISTINCT w, piece AS rm FROM e1
       |  WHERE pl > 1),
       |ra0 AS MATERIALIZED (SELECT w, rm, CAST(1.0 AS DOUBLE) AS a FROM rmu),
       |$rfwd,
       |kall AS MATERIALIZED ($kall),
       |rall AS MATERIALIZED ($rall),
       |kan AS MATERIALIZED (SELECT ww.w, f.a FROM words ww
       |  JOIN kall f ON f.w = ww.w AND f.pos = ww.wl),
       |ranx AS MATERIALIZED (SELECT r.w, r.rm, f.a FROM rmu r
       |  JOIN words ww ON ww.w = r.w
       |  JOIN rall f ON f.w = r.w AND f.rm = r.rm AND f.pos = ww.wl),
       |lossw AS MATERIALIZED (SELECT x.w, x.rm AS piece,
       |    CAST(floor((ln(kan.a) - ln(x.a)) * 1000000 + 0.5) AS BIGINT)
       |      AS lm
       |  FROM ranx x JOIN kan ON kan.w = x.w),
       |lossc AS MATERIALIZED (SELECT piece,
       |    CAST(sum(ww.cnt * lm) AS BIGINT) AS ls
       |  FROM lossw JOIN words ww ON ww.w = lossw.w GROUP BY 1),
       |nchk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v1s
       |  WHERE length(piece) = 1),
       |keepk AS (SELECT v.piece, v.c FROM (
       |    SELECT v1s.piece, v1s.c,
       |      row_number() OVER (ORDER BY coalesce(lossc.ls, 0) DESC,
       |        v1s.piece) AS rn
       |    FROM v1s LEFT JOIN lossc ON lossc.piece = v1s.piece
       |    WHERE length(v1s.piece) > 1) v, nchk
       |  WHERE v.rn <= $UniV - nchk.n),
       |keptk AS (SELECT piece, c FROM v1s WHERE length(piece) = 1
       |  UNION ALL SELECT piece, c FROM keepk),
       |tfk AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM keptk)""".stripMargin
  }

  /** Kudo's FULL published algorithm under the complete hash gate: the
    * soft-EM round of q_t42 followed by the LIKELIHOOD-LOSS prune — the
    * oracle replays, on top of the soft round, a plain forward pass and
    * one removal-forward lattice per (word, distinct multi piece), the
    * micro-gridded per-word losses, the exact corpus loss sums, the
    * (loss desc, piece) prune rank and the re-normalized final costs. */
  private def qT44unigramKudo(s: SparkSession, d: String): DataFrame =
    graft.operators.Unigram.vocabFrame(s,
        sharedKudoVocab(s, d))
      .select(col("piece"), col("count").as("ec_micro"), col("cost_micro"))
      .orderBy("piece")
  private val kudoCache = dirMemo[Seq[graft.operators.Unigram.Piece]]
  private def sharedKudoVocab(s: SparkSession,
      d: String): Seq[graft.operators.Unigram.Piece] =
    memoPerDir(kudoCache, s, d)(
      graft.operators.Unigram.trainKudo(docs(s, d), "text",
        vocabSize = UniV, maxPieceLen = UniP, emRounds = 1,
        minSeedCount = UniSeed))
  private val oT44 =
    s"""WITH $unigramKudoCtes
       |SELECT piece, c AS ec_micro,
       |  CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
       |    * 1000000 + 0.5) AS BIGINT) AS cost_micro
       |FROM keptk, tfk ORDER BY piece""".stripMargin

  /** Unigram-LM trained with the FULL soft E-step (Kudo's
    * forward-backward expected counts over ALL segmentations) for one
    * round, under the complete hash gate: the oracle replays the seed,
    * the whole per-word lattice (α/β tables, per-edge posteriors on the
    * micro grid), the cnt-weighted corpus sums, add-one char smoothing
    * on the micro grid, dead-multi drops, the frequency prune and the
    * final re-normalized costs. Counts are MICRO expected occurrences
    * (1e6 = one occurrence — the [[graft.operators.Unigram.trainSoft]]
    * count space). */
  private def qT42unigramSoft(s: SparkSession, d: String): DataFrame =
    graft.operators.Unigram.vocabFrame(s, sharedSoftVocab(s, d))
      .select(col("piece"), col("count").as("ec_micro"), col("cost_micro"))
      .orderBy("piece")
  private val oT42 =
    s"""WITH $unigramSoftCtes
       |SELECT piece, c AS ec_micro,
       |  CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
       |    * 1000000 + 0.5) AS BIGINT) AS cost_micro
       |FROM kepts, tfs ORDER BY piece""".stripMargin

  /** TRAINED hashed-feature classifier under the FULL hash gate: 3
    * full-batch logistic-regression steps (micro-integer weights, the
    * PageRank grid discipline) learn English-vs-rest from the hashed
    * bag of words, then every doc is scored with the learned model.
    * The oracle replays the ENTIRE training trajectory — features,
    * per-doc logits, sigmoid residuals, per-bucket gradients, and all
    * thirty weight updates — as chained CTEs, then the final sweep. */
  private def qT25trainedClassifier(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
      .withColumn("y", (col("lang") === "en").cast("long"))
    val w = graft.operators.Classifier.train(dd, "doc_id", "text", "y",
      dim = 256, iters = 30, lr = 4.0)
    graft.operators.Classifier.score(dd, "doc_id", "text", w, dim = 256)
      .withColumnRenamed("id", "doc_id")
      .join(dd.select(col("doc_id"), col("y")), Seq("doc_id"))
      .withColumn("predicted", (col("p") >= 0.5).cast("long"))
      .orderBy("doc_id")
  }
  /** The oT25 training-trajectory CTE prefix (features → per-iteration
    * logit/residual/gradient/weight-update chain → final logits zf),
    * parameterized by iteration count so q_t25 (30 iters, per-doc
    * output) and q_e5 (10 iters, corpus-grade output) replay the SAME
    * arithmetic. */
  private def trainedCtePrefix(iters: Int): String = {
    val stages = (1 to iters).map { i =>
      s"""z$i AS (SELECT fx.id, sum(fx.x * w${i - 1}.w) AS z
         |  FROM fx JOIN w${i - 1} ON w${i - 1}.b = fx.b GROUP BY 1),
         |r$i AS (SELECT d2.id, CAST(floor((1.0 / (1.0 + exp(
         |      -(CAST(z$i.z AS DOUBLE) / (CAST(d2.n AS DOUBLE) * 1000000.0))))
         |    - CAST(d2.y AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS r
         |  FROM d2 JOIN z$i ON z$i.id = d2.id),
         |g$i AS (SELECT fx.b, sum(r$i.r * fx.x) AS g
         |  FROM fx JOIN r$i ON r$i.id = fx.id GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT w${i - 1}.b, w${i - 1}.w - CAST(floor(
         |    4.0 * CAST(coalesce(g$i.g, 0) AS DOUBLE)
         |      / (SELECT nd FROM nn) + 0.5) AS BIGINT) AS w
         |  FROM w${i - 1} LEFT JOIN g$i ON g$i.b = w${i - 1}.b)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH fx AS MATERIALIZED (SELECT doc_id AS id,
       |    CAST(concat('0x', substr(md5(concat(tk, '|graft')), 1, 6))
       |      AS BIGINT) % 256 AS b,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(regexp_replace(lower(text),
       |      '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS tk FROM documents)
       |  GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, 256, 1 FROM documents),
       |d2 AS MATERIALIZED (SELECT doc_id AS id,
       |    greatest(CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+'))
       |      AS BIGINT), 1) AS n,
       |    CAST(lang = 'en' AS BIGINT) AS y
       |  FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
       |w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM fx),
       |$stages,
       |zf AS (SELECT fx.id, sum(fx.x * w$iters.w) AS z
       |  FROM fx JOIN w$iters ON w$iters.b = fx.b GROUP BY 1)""".stripMargin
  }
  private val oT25 =
    trainedCtePrefix(30) + "\n" +
    s"""SELECT d2.id AS doc_id,
       |  CAST(floor(CAST(coalesce(zf.z, 0) AS DOUBLE)
       |    / (CAST(d2.n AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5)
       |    AS DOUBLE) / 1000000.0 AS z,
       |  CAST(floor(1.0 / (1.0 + exp(-(CAST(coalesce(zf.z, 0) AS DOUBLE)
       |    / (CAST(d2.n AS DOUBLE) * 1000000.0)))) * 1000000.0 + 0.5)
       |    AS DOUBLE) / 1000000.0 AS p,
       |  d2.y AS y,
       |  CAST(CAST(floor(1.0 / (1.0 + exp(-(CAST(coalesce(zf.z, 0) AS DOUBLE)
       |    / (CAST(d2.n AS DOUBLE) * 1000000.0)))) * 1000000.0 + 0.5)
       |    AS DOUBLE) / 1000000.0 >= 0.5 AS BIGINT) AS predicted
       |FROM d2 LEFT JOIN zf ON zf.id = d2.id
       |ORDER BY doc_id""".stripMargin

  /** Train → score → GRADE, end to end under ONE hash gate: 10
    * full-batch GD iterations learn English-vs-rest (the q_t25
    * machinery), every doc is scored with the learned model, and the
    * scores are graded IN THE SAME QUERY with the histogram AUC and the
    * exact-grid ECE/MCE — the complete model-development loop (fit,
    * predict, evaluate) as one replayable pipeline. The oracle replays
    * the whole trajectory (shared [[trainedCtePrefix]]) plus both
    * grading folds. Scored frame is localCheckpoint'd once so the two
    * one-row grades don't re-score. */
  private def qE5gradeTrained(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d).withColumn("y", (col("lang") === "en").cast("long"))
    val w = graft.operators.Classifier.train(dd, "doc_id", "text", "y",
      dim = 256, iters = 10, lr = 4.0)
    val scored = graft.operators.Classifier
      .score(dd, "doc_id", "text", w, dim = 256)
      .withColumnRenamed("id", "doc_id")
      .join(dd.select(col("doc_id"), col("y")), Seq("doc_id"))
      .select(col("p"), col("y"))
      .localCheckpoint()
    graft.operators.Metrics.auc(scored, col("p"), col("y"))
      .crossJoin(broadcast(graft.operators.Metrics.ece(
        scored, col("p"), col("y"), bins = 10)))
  }
  private val oE5 =
    trainedCtePrefix(10) + ",\n" +
    """sc AS (SELECT
      |    CAST(floor(1.0 / (1.0 + exp(-(CAST(coalesce(zf.z, 0) AS DOUBLE)
      |      / (CAST(d2.n AS DOUBLE) * 1000000.0)))) * 1000000.0 + 0.5)
      |      AS DOUBLE) / 1000000.0 AS score, d2.y AS y
      |  FROM d2 LEFT JOIN zf ON zf.id = d2.id),
      |h AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
      |    CAST(sum(1 - y) AS BIGINT) AS nneg FROM sc GROUP BY 1),
      |c AS (SELECT np, nneg, coalesce(sum(nneg) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      |  FROM h),
      |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
      |    CAST(sum(nneg) AS BIGINT) AS n_neg,
      |    CAST(sum(np * (2 * cumneg + nneg)) AS BIGINT) AS s2 FROM c),
      |cb AS (SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
      |    CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS ss
      |  FROM sc GROUP BY 1),
      |cg AS (SELECT n, CAST(floor(abs(
      |    round(round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      - round(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6),
      |      6)) * 1000000.0 + 0.5) AS BIGINT) AS g6
      |  FROM cb),
      |e AS (SELECT CAST(sum(n) AS BIGINT) AS n,
      |    round(CAST(sum(n * g6) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
      |      / 1000000.0, 6) AS ece,
      |    round(CAST(max(g6) AS DOUBLE) / 1000000.0, 6) AS mce
      |  FROM cg)
      |SELECT a.n_pos, a.n_neg,
      |  CASE WHEN a.n_pos > 0 AND a.n_neg > 0
      |    THEN round(CAST(a.s2 AS DOUBLE)
      |      / (2.0 * CAST(a.n_pos AS DOUBLE) * CAST(a.n_neg AS DOUBLE)), 6)
      |  END AS auc,
      |  e.n, e.ece, e.mce
      |FROM a CROSS JOIN e""".stripMargin

  /** Curriculum packing — quality tiers feed the trainer in order: per
    * language, docs split into head/middle/tail quality buckets (the
    * CCNet rank-bucket discipline, bucket 0 = best) and each
    * (lang, bucket) tier packs independently into exact 512-char
    * training sequences — so a curriculum scheduler can stream tier 0's
    * sequences first while docs WITHIN a tier arrive hash-shuffled.
    * Real operators composed (rankBuckets ∘ packSequences), not
    * re-implementations; the oracle replays the quality formula, the
    * per-language rank thresholds, and the span arithmetic end to end. */
  private def qE6curriculum(s: SparkSession, d: String): DataFrame = {
    // the session's shared per-doc quality score (round-15 compute-on-
    // raw-once; same rows — the score is a pure function of the text)
    val scored = docs(s, d).select(col("doc_id"), col("lang"),
      col("n_chars")).join(sharedDocQuality(s, d), Seq("doc_id"))
    val bucketed = TextStats.rankBuckets(scored, "lang", col("q"),
      fractions = Seq(1.0 / 3, 2.0 / 3), ascending = false)
    graft.operators.Sampling.packSequences(
        bucketed.withColumn("grp",
          concat_ws("#", col("lang"), col("bucket"))),
        "grp", "doc_id", "n_chars", seqLen = 512L)
      .select(col("lang"), col("bucket"), col("doc_id"), col("seq_no"),
        col("tok_start"), col("tok_end"), col("seq_offset"))
      .orderBy("lang", "bucket", "seq_no", "seq_offset", "doc_id")
  }
  private val oE6 =
    s"""WITH t AS (SELECT doc_id, text,
      |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM documents),
      |qs AS (SELECT doc_id, round(
      |  (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |  + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |          BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |  + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |  6) AS q
      |FROM t),
      |dd AS (SELECT d.doc_id, d.lang, d.n_chars, qs.q
      |  FROM documents d JOIN qs USING (doc_id)),
      |hist AS (SELECT lang, q, count(*) AS c FROM dd GROUP BY 1, 2),
      |n AS (SELECT lang, sum(c) AS n FROM hist GROUP BY 1),
      |cum AS (SELECT lang, q,
      |    sum(c) OVER (PARTITION BY lang ORDER BY q DESC) AS cum
      |  FROM hist),
      |t0 AS (SELECT cum.lang, max(q) AS thr FROM cum JOIN n USING (lang)
      |  WHERE cum >= ceil(${1.0 / 3} * n) GROUP BY 1),
      |t1 AS (SELECT cum.lang, max(q) AS thr FROM cum JOIN n USING (lang)
      |  WHERE cum >= ceil(${2.0 / 3} * n) GROUP BY 1),
      |b AS (SELECT dd.doc_id, dd.lang, dd.n_chars,
      |    CAST((CASE WHEN dd.q < t0.thr THEN 1 ELSE 0 END)
      |       + (CASE WHEN dd.q < t1.thr THEN 1 ELSE 0 END) AS BIGINT)
      |      AS bucket
      |  FROM dd JOIN t0 USING (lang) JOIN t1 USING (lang)),
      |h AS (SELECT lang, bucket, doc_id, n_chars,
      |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |      '|graft')), 1, 6)) AS BIGINT) AS hh FROM b),
      |c2 AS (SELECT lang, bucket, doc_id, n_chars,
      |    CAST(sum(n_chars) OVER (PARTITION BY lang, bucket
      |      ORDER BY hh, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM h),
      |s2 AS (SELECT lang, bucket, doc_id, cum, cum - n_chars AS st
      |  FROM c2 WHERE n_chars > 0),
      |sp AS (SELECT lang, bucket, doc_id, cum, st,
      |    unnest(range(st // 512, (cum - 1) // 512 + 1)) AS seq_no
      |  FROM s2)
      |SELECT lang, bucket, doc_id, CAST(seq_no AS BIGINT) AS seq_no,
      |  CAST(greatest(st, seq_no * 512) - st AS BIGINT) AS tok_start,
      |  CAST(least(cum, (seq_no + 1) * 512) - st AS BIGINT) AS tok_end,
      |  CAST(greatest(st, seq_no * 512) - seq_no * 512 AS BIGINT)
      |    AS seq_offset
      |FROM sp ORDER BY lang, bucket, seq_no, seq_offset, doc_id""".stripMargin

  /** Per-source curation dashboard — the operator-composition showcase:
    * ONE row per source with volume (docs, words), quality (exact
    * DECIMAL mean of the 6-dp quality grid), the Gopher keep rate, the
    * PII (email) incidence, and the q_d1-key duplicate rate. Every
    * column replays in DuckDB from already-proven fragments; the Spark
    * side is one scan feeding five map-side expressions into one hash
    * aggregate (no joins, no windows — a report this wide is still ONE
    * shuffle). */
  private def qE3corpusReport(s: SparkSession, d: String): DataFrame = {
    val gp = TextStats.GopherParams(minStopwordHits = 1)
    docs(s, d).select(col("source"),
        TextStats.wordCount(col("text")).as("_w"),
        TextStats.qualityScore(col("text")).cast("decimal(18,6)").as("_q"),
        TextStats.gopherKeep(col("text"), gp).cast("long").as("_keep"),
        (TextStats.emailCount(col("text")) > 0).cast("long").as("_pii"),
        md5(array_join(slice(Dedup.words(col("text")), 1, 2), " ")).as("_k"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("n_words"),
        round(sum(col("_q")).cast("double") / count(lit(1)), 6)
          .as("mean_quality"),
        round(sum(col("_keep")).cast("double") / count(lit(1)), 6)
          .as("keep_rate"),
        round(sum(col("_pii")).cast("double") / count(lit(1)), 6)
          .as("pii_rate"),
        round((count(lit(1)) - countDistinct(col("_k"))).cast("double")
          / count(lit(1)), 6).as("dup_rate"))
      .orderBy("source")
  }
  private val oE3 = {
    // the oT17 gopher metric fragments at minStopwordHits = 1
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => s"CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' $w ', ' ', 'g'))) / ${w.length + 1} AS BIGINT)")
      .mkString(" + ")
    s"""WITH m AS (SELECT doc_id, text,
       |  CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS n_words,
       |  CAST(greatest(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')), 1) AS DOUBLE) AS nw,
       |  CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE) AS nl,
       |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}]')) AS DOUBLE) AS alnum,
       |  CAST(len(list_filter(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+'),
       |    w -> regexp_matches(w, '\\p{L}'))) AS DOUBLE) AS alpha_words,
       |  CAST(len(regexp_extract_all(text, '#')) AS DOUBLE)
       |    + CAST(len(regexp_extract_all(text, '\\.\\.\\.|…')) AS DOUBLE) AS symbols,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |    l -> regexp_matches(l, '^\\s*([-*•])'))) AS DOUBLE) AS bullets,
       |  CAST(len(list_filter(string_split(text, chr(10)),
       |    l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*${"$"}'))) AS DOUBLE) AS ellipses,
       |  CAST($stop AS BIGINT) AS stop_hits
       |FROM documents),
       |r AS (SELECT doc_id, CAST(n_words BETWEEN 50 AND 100000
       |    AND round(alnum / nw, 6) BETWEEN 3.0 AND 10.0
       |    AND round(alpha_words / nw, 6) >= 0.8
       |    AND round(symbols / nw, 6) < 0.1
       |    AND round(bullets / nl, 6) < 0.9
       |    AND round(ellipses / nl, 6) < 0.3
       |    AND stop_hits >= 1 AS BIGINT) AS keep
       |FROM m),
       |t AS (SELECT doc_id, text,
       |  CAST(len(regexp_extract_all(text, '[\\p{L}\\p{M}]')) AS BIGINT) AS alpha,
       |  CAST(len(regexp_extract_all(regexp_replace(text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS words,
       |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
       |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
       |FROM documents),
       |q AS (SELECT doc_id, CAST(round(
       |    (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
       |    + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
       |            BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
       |    + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
       |    6) AS DECIMAL(18,6)) AS qv
       |FROM t),
       |base AS (SELECT d.source,
       |    CAST(len(regexp_extract_all(regexp_replace(d.text, '([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'), '[\\p{L}\\p{M}\\p{N}]+')) AS BIGINT) AS w,
       |    r.keep AS keep, q.qv AS qv,
       |    CAST(regexp_matches(d.text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') AS BIGINT) AS pii,
       |    md5(array_to_string(list_slice(
       |      string_split_regex(trim(lower(regexp_replace(d.text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +'),
       |      1, 2), ' ')) AS k
       |  FROM documents d
       |  JOIN r ON r.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w) AS BIGINT) AS n_words,
       |  round(CAST(sum(qv) AS DOUBLE) / count(*), 6) AS mean_quality,
       |  round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_rate,
       |  round(CAST(sum(pii) AS DOUBLE) / count(*), 6) AS pii_rate,
       |  round(CAST(count(*) - count(DISTINCT k) AS DOUBLE) / count(*), 6)
       |    AS dup_rate
       |FROM base GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-source KL divergence vs the corpus word blend — the
    * domain-distinctiveness diagnostic feeding mixture planning. Fully
    * oracled: counts, probabilities, every per-word p·ln(p/q) term
    * (round-6 DECIMAL sums, partition-order exact), identical `ln`. */
  private def qT22kl(s: SparkSession, d: String): DataFrame =
    TextStats.sourceDivergence(docs(s, d), "source", "text")
      .orderBy("source")
  private val oT22 =
    """WITH w AS (SELECT source AS g, unnest(list_filter(
      |    string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |    x -> x <> '')) AS w
      |  FROM documents),
      |gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY 1, 2),
      |gn AS (SELECT g, sum(c) AS n FROM gw GROUP BY 1),
      |cw AS (SELECT w, sum(c) AS cc FROM gw GROUP BY 1),
      |tc AS (SELECT CAST(sum(cc) AS DOUBLE) AS tc FROM cw),
      |t AS (SELECT g, n, CAST(round(
      |    (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |    * ln((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(cc AS DOUBLE) / (SELECT tc FROM tc))), 6)
      |    AS DECIMAL(28,6)) AS term
      |  FROM gw JOIN gn USING (g) JOIN cw USING (w))
      |SELECT g AS source, CAST(max(n) AS BIGINT) AS n_words,
      |  round(CAST(sum(term) AS DOUBLE), 6) AS kl
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** HyperLogLog distinct-shingle estimate under the FULL hash gate —
    * the bounded-state cardinality sketch next to Bloom (membership)
    * and Count-Min (frequency): every register (md5-hash60 bucket, the
    * integer-exact `length(bin(rem))` rank-of-first-one), the
    * ascending-bucket harmonic fold, and the small-range branch replay
    * in DuckDB; n_exact rides along so the sketch's error is graded,
    * not claimed. Consumes the SAME cached shingle-hash rows q_d2/q_d3
    * tokenize. */
  private def qT21hll(s: SparkSession, d: String): DataFrame =
    graft.functions.Hll.distinctEstimate(sharedShingles(s, d), col("h"),
      p = 12)
  private val oT21 = {
    val p = 12; val m = 1 << p; val w = 60 - p
    val twoW = 1L << w
    s"""WITH wd AS (SELECT doc_id,
       |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
       |FROM documents),
       |sh AS (SELECT DISTINCT sg FROM (
       |  SELECT unnest(list_transform(
       |    range(1, greatest(len(ws) - 2, 0) + 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg FROM wd)),
       |h AS (SELECT CAST(concat('0x', substr(md5(sg), 1, 15)) AS BIGINT) AS h
       |  FROM sh),
       |r AS (SELECT h // $twoW AS bucket, h % $twoW AS rem FROM h),
       |rho AS (SELECT bucket, CASE WHEN rem = 0 THEN ${w + 1}
       |    ELSE $w - (length(bin(rem)) - 1) END AS rho FROM r),
       |regs AS (SELECT bucket, max(rho) AS maxrho FROM rho GROUP BY 1),
       |l AS (SELECT list(CAST(maxrho AS DOUBLE) ORDER BY bucket) AS rs,
       |    count(*) AS mp FROM regs),
       |z AS (SELECT list_sum(list_transform(rs, x -> power(2.0, -x)))
       |    + ($m - mp) AS z, CAST($m - mp AS BIGINT) AS v FROM l),
       |x AS (SELECT z, v,
       |    CAST(${graft.functions.Hll.alpha(m) * m.toDouble * m.toDouble}
       |      AS DOUBLE) / z AS eraw FROM z)
       |SELECT CAST($m AS BIGINT) AS m,
       |  (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM h) AS n_exact,
       |  v AS v_zero, round(eraw, 6) AS est_raw,
       |  round(CASE WHEN eraw <= CAST(${2.5 * m} AS DOUBLE) AND v > 0
       |    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / v) ELSE eraw END,
       |    6) AS estimate
       |FROM x""".stripMargin
  }

  private def qT16tfidf(s: SparkSession, d: String): DataFrame =
    TextStats.tfidfTopTerms(docs(s, d), "doc_id", "text", topK = 5)
      .orderBy("doc_id", "rank")
  private val oT16 =
    """WITH tok AS (SELECT doc_id, t FROM (SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(
      |      regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +')) AS t
      |  FROM documents) WHERE t <> ''),
      |tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS n
      |  FROM tok GROUP BY 1, 2),
      |df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tf),
      |s AS (SELECT doc_id, t,
      |    round(n * ln(CAST((SELECT nd FROM nn) AS DOUBLE)
      |      / CAST(df AS DOUBLE)), 6) + 0.0 AS score
      |  FROM tf JOIN df USING (t)),
      |r AS (SELECT doc_id, t, score, CAST(row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, t) AS BIGINT) AS rank
      |  FROM s)
      |SELECT doc_id, rank, t AS word, score
      |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  /** PCA sufficient statistics, oracled: upper-triangle Gram +
    * covariance of the embedding corpus from ONE map-side-combinable
    * moments aggregate (the only distributed pass of `Pca`; the eigen
    * step is a driver-side d×d artifact, spec-gated in PcaSpec). Same
    * double-sum + round-6 discipline as the cosine oracles. */
  private def qE1gram(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca.gramLongForm(emb(s, d), "embedding", 64)
      .orderBy("i", "j")
  private val oE1 =
    """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    unnest(range(0, len(embedding))) AS i
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |n0 AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
      |g AS (SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS gg
      |  FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
      |m AS (SELECT i, sum(v) AS s FROM u GROUP BY 1)
      |SELECT g.i, g.j, round(g.gg, 6) + 0.0 AS gram,
      |  round(g.gg / (SELECT n FROM n0)
      |    - (ma.s / (SELECT n FROM n0)) * (mb.s / (SELECT n FROM n0)), 6)
      |    + 0.0 AS cov
      |FROM g JOIN m ma ON g.i = ma.i JOIN m mb ON g.j = mb.i
      |ORDER BY 1, 2""".stripMargin

  /** Bloom pre-filter for incremental dedup, oracled end-to-end: build
    * the filter over the corpus fingerprints (one element-wise-OR
    * aggregate pass), then test a mixed batch (true duplicates + novel
    * texts) with the codegen'd bit probe. `might` must cover every
    * `is_dup` row (no false negatives — the property that lets the
    * pre-filter drop batch rows before the dedup join); the oracle
    * replays the double-hash buckets and verifies membership against
    * the corpus bucket SET (bit-packing is an engine-side layout
    * detail, not semantics). 4 096 bits / 500 keys keeps a handful of
    * false positives in the output so the fpp path is exercised. */
  private def qD9bloom(s: SparkSession, d: String): DataFrame = {
    val fp = TextStats.fingerprint(col("text"))
    val corpusF = docs(s, d).select(fp.as("f")).distinct()
    val bloom = graft.functions.Bloom.build(corpusF, "f",
      numBits = 4096, numHashes = 5)
    val batch = docs(s, d).where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"))
      .union(docs(s, d).where(col("doc_id") % 7 === 1)
        .select(col("doc_id") + lit(1000000L), concat(col("text"), lit(" zz"))))
    batch.withColumn("f", fp)
      .join(corpusF.withColumn("hit", lit(true)), Seq("f"), "left")
      .select(col("doc_id"),
        graft.functions.Bloom.mightContain(col("f"), bloom).as("might"),
        coalesce(col("hit"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }
  private val oD9 =
    """WITH fpc AS (SELECT DISTINCT
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS f
      |  FROM documents),
      |dd AS (SELECT unnest(range(0, 5)) AS d),
      |cb AS (SELECT DISTINCT (h1 + d * h2) % 4096 AS bucket FROM (
      |    SELECT CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT) AS h1,
      |           CAST(concat('0x', substr(md5(f || '|b2'), 1, 14)) AS BIGINT) AS h2
      |    FROM fpc), dd),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 7 = 1),
      |bh AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS f
      |  FROM batch),
      |bb AS (SELECT doc_id, f,
      |    (CAST(concat('0x', substr(md5(f), 1, 15)) AS BIGINT)
      |     + dd.d * CAST(concat('0x', substr(md5(f || '|b2'), 1, 14)) AS BIGINT))
      |    % 4096 AS bucket
      |  FROM bh, dd),
      |chk AS (SELECT doc_id, f, bool_and(cb.bucket IS NOT NULL) AS might
      |  FROM bb LEFT JOIN cb ON bb.bucket = cb.bucket GROUP BY 1, 2)
      |SELECT c.doc_id, c.might, (fpc.f IS NOT NULL) AS is_dup
      |FROM chk c LEFT JOIN fpc ON c.f = fpc.f ORDER BY c.doc_id""".stripMargin

  /** Markup stripping over a deterministically HTML-ified corpus (the
    * synthetic docs carry no markup, so the query wraps each in tags +
    * entities first — the derivation is mirrored in the oracle, and the
    * strip regexes/entity replaces are what the cross-engine equality
    * actually exercises). */
  private def qT14markupStrip(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("page", concat(
        lit("<doc id=\""), col("doc_id").cast("string"),
        lit("\">\n  <p class=\"body\">"), col("text"),
        lit(" &amp; more &lt;tags&gt;</p>\n  <br/>\n</doc>")))
      .select(col("doc_id"),
        TextStats.stripMarkup(col("page")).as("clean_text"),
        length(col("page")).cast("long").as("raw_len"))
      .orderBy("doc_id")
  private val oT14 =
    """WITH p AS (SELECT doc_id,
      |  '<doc id="' || CAST(doc_id AS VARCHAR) || '">' || chr(10) ||
      |  '  <p class="body">' || text || ' &amp; more &lt;tags&gt;</p>' ||
      |  chr(10) || '  <br/>' || chr(10) || '</doc>' AS page
      |FROM documents),
      |s AS (SELECT doc_id, page,
      |  regexp_replace(regexp_replace(page, '<[^>]*>', ' ', 'g'),
      |    '&#([0-9]+);', ' ', 'g') AS t1 FROM p),
      |e AS (SELECT doc_id, page,
      |  replace(replace(replace(replace(replace(t1,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&apos;', ''''), '&amp;', '&') AS t2 FROM s)
      |SELECT doc_id,
      |  trim(regexp_replace(t2, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean_text,
      |  CAST(length(page) AS BIGINT) AS raw_len
      |FROM e ORDER BY doc_id""".stripMargin

  // ---- dedup -------------------------------------------------------------

  private def qD1exact(s: SparkSession, d: String): DataFrame = {
    val key = md5(array_join(slice(Dedup.words(col("text")), 1, 2), " "))
    Dedup.exactGroups(docs(s, d), "doc_id", key)
      .withColumn("members_csv",
        expr("array_join(transform(members, x -> cast(x AS string)), ',')"))
      .drop("members")
      .orderBy("dup_key")
  }
  private val oD1 =
    """WITH k AS (SELECT doc_id,
      |  md5(array_to_string(list_slice(
      |    string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |    1, 2), ' ')) AS dup_key
      |FROM documents)
      |SELECT dup_key, min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS group_size,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members_csv
      |FROM k GROUP BY 1 ORDER BY dup_key""".stripMargin

  /** The q_d1/q_d14/q_d15 dup key (md5 of the first two words) and the
    * oT2 quality score, as shared oracle CTEs: `kq` = (doc_id, source,
    * dup_key, score). */
  private def keyScoreCtes: String =
    """t AS (SELECT doc_id, source, text,
      |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}]')) AS BIGINT) AS alpha,
      |  CAST(len(regexp_extract_all(regexp_replace(text, '([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'), '[\p{L}\p{M}\p{N}]+')) AS BIGINT) AS words,
      |  CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' the ', ' ', 'g'))) / 4 AS BIGINT)
      |  + CAST((length(' '||text||' ') - length(regexp_replace(' '||text||' ', ' a ', ' ', 'g'))) / 2 AS BIGINT) AS stops
      |FROM documents),
      |kq AS (SELECT doc_id, source,
      |  md5(array_to_string(list_slice(
      |    string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |    1, 2), ' ')) AS dup_key,
      |  round(
      |    (CAST(alpha AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.5
      |    + (CASE WHEN CAST(alpha AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)
      |            BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END)
      |    + least((CAST(stops AS DOUBLE) / greatest(CAST(words AS DOUBLE), 1.0)) * 2.0, 1.0) * 0.2,
      |    6) AS score
      |FROM t)""".stripMargin

  /** Keep-BEST exact dedup: q_d1's groups re-deduped by quality — the
    * keeper is the argmax-(score, min-id) copy, not the min id. Fully
    * oracled: the key, the oT2 score replay, the group count, and the
    * tie rule (score DESC, doc_id ASC) all cross the hash gate. */
  private def qD14keepBest(s: SparkSession, d: String): DataFrame = {
    val key = md5(array_join(slice(Dedup.words(col("text")), 1, 2), " "))
    Dedup.exactDedupKeepBest(docs(s, d), "doc_id", key,
        TextStats.qualityScore(col("text")))
      .orderBy("dup_key")
  }
  private val oD14 =
    s"""WITH $keyScoreCtes,
      |r AS (SELECT dup_key, doc_id, score,
      |    CAST(count(*) OVER (PARTITION BY dup_key) AS BIGINT) AS n,
      |    row_number() OVER (PARTITION BY dup_key
      |      ORDER BY score DESC, doc_id) AS rn
      |  FROM kq)
      |SELECT dup_key, doc_id AS keeper_id, score AS keeper_score,
      |  n AS n_copies
      |FROM r WHERE rn = 1 ORDER BY dup_key""".stripMargin

  /** Scope-aware dedup accounting (the FineWeb finding: dedup WITHIN
    * each snapshot/source keeps more diverse data than one global
    * pass): per source, total docs, keepers under per-source dedup, and
    * keepers this source retains under GLOBAL dedup (cross-source dups
    * collapse to one source's keeper). Both sides replay the same key +
    * score + tie rule; scoped-vs-global keeper gaps are the query's
    * point and are fully hash-gated. */
  private def qD15scoped(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val key = md5(array_join(slice(Dedup.words(col("text")), 1, 2), " "))
    val score = TextStats.qualityScore(col("text"))
    val scoped = Dedup.exactDedupKeepBest(dd, "doc_id", key, score,
        scopeCols = Seq("source"))
      .groupBy("source")
      .agg(sum(col("n_copies")).as("n_docs"),
        count(lit(1)).as("keepers_scoped"))
    val globalKeepers = Dedup.exactDedupKeepBest(dd, "doc_id", key, score)
      .join(dd.select(col("doc_id").as("keeper_id"), col("source")),
        Seq("keeper_id"))
      .groupBy("source").agg(count(lit(1)).as("keepers_global"))
    scoped.join(globalKeepers, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("keepers_scoped"),
        coalesce(col("keepers_global"), lit(0L)).as("keepers_global"))
      .orderBy("source")
  }
  private val oD15 =
    s"""WITH $keyScoreCtes,
      |sc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT dup_key) AS BIGINT) AS keepers_scoped
      |  FROM kq GROUP BY 1),
      |gk AS (SELECT source, CAST(count(*) AS BIGINT) AS keepers_global
      |  FROM (SELECT dup_key, source, row_number() OVER (
      |      PARTITION BY dup_key ORDER BY score DESC, doc_id) AS rn
      |    FROM kq) WHERE rn = 1 GROUP BY 1)
      |SELECT sc.source, sc.n_docs, sc.keepers_scoped,
      |  CAST(coalesce(gk.keepers_global, 0) AS BIGINT) AS keepers_global
      |FROM sc LEFT JOIN gk ON gk.source = sc.source
      |ORDER BY sc.source""".stripMargin

  /** Tokenize-once cache: q_d2 (Jaccard) and q_d3 (MinHash) consume the
    * SAME distinct 3-shingle HASH rows — a real pipeline tokenizes once
    * and persists, so the bench session does too (the cache is per
    * (session, dir); correctness is unaffected, the rows are identical).
    * Hashed (id, int64) rows cache cheaply; persisting the string form
    * measurably costs more than recomputing it. */
  // stopped sessions are purged on access (weak keys would not work here:
  // the cached DataFrames strongly reference their session, so a
  // WeakHashMap entry's value would pin its own key forever)
  private val shingleCache = scala.collection.concurrent.TrieMap
    .empty[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]

  /** Count-once memo for the ANN scale-rule preamble: every q_s* index
    * query derives (nCentroids, nProbe) from the SAME nonzero-norm
    * embedding count — one count job per (session, dir) instead of one
    * per query (a real pipeline reads |corpus| from table stats once).
    * A memoized Long, not cached data; purged with stopped sessions. */
  private val nzCountCache = dirMemo[Long]
  private[graft] def nzEmbCount(s: SparkSession, d: String): Long =
    memoPerDir(nzCountCache, s, d)(
      Tables.embeddings(s, d)
        .where(Similarity.norm(col("embedding").cast("array<double>")) > 0)
        .count())
  private def cachedPerDir(s: SparkSession, key: String,
                           persist: Boolean = true)
                          (build: => DataFrame): DataFrame = {
    shingleCache.keySet.foreach { k =>
      if (k.sparkContext.isStopped) shingleCache.remove(k)
    }
    shingleCache
      .getOrElseUpdate(s,
        scala.collection.concurrent.TrieMap.empty[String, DataFrame])
      .getOrElseUpdate(key,
        // persist=false for frames that are ALREADY materialized (e.g. a
        // localCheckpointed labels frame) — the registry entry alone
        // prevents rebuilding; unpersist on eviction is a no-op for them
        // LAZY on purpose — re-litigated and re-rejected in round 15:
        // the first consumer's plan races ~5 concurrent AQE stage-job
        // copies of the build subtree against the empty cache, and
        // round 14 measured that those duplicates (on otherwise-idle
        // cores) beat an eager serializing count(). With the build
        // widened (parallel) the trade looked flippable and a noisy
        // interleaved A/B even said ×0.97 — but the decisive quiet
        // 5-fork full-suite run said otherwise (q_d16 6.3 → 8.4 s,
        // q_d6/q_d12/q_d3 +0.4–0.8 s each, untouched-query tide ×1.01):
        // lazy lets the consumer's own DAG overlap the cache build with
        // the rest of its stages, eager serializes two counts ahead of
        // it. At 100 TB (saturated cores) eager wins — production
        // callers should materialize explicitly; the bench keeps the
        // measured-faster form.
        if (persist)
          build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else build)
  }
  /** Drop (and unpersist) everything cached for `s`. Kept for long-lived
    * sessions that want to reclaim the cache; the bench no longer needs
    * it — repeat runs are isolated in fresh JVMs (round 5 showed repeat
    * runs in ONE session accumulate enough persist/cleaner/GC state to
    * inflate heavy queries 3–9×, even with this cleared between runs). */
  private[graft] def clearSessionCache(s: SparkSession): Unit =
    shingleCache.remove(s).foreach(_.values.foreach(_.unpersist()))
  private[graft] def sharedShingles(s: SparkSession, d: String): DataFrame =
    cachedPerDir(s, s"shingles|$d") {
      Dedup.shingleHashRows(docs(s, d), "doc_id", "text", n = 3)
    }
  /** Compute-on-raw-once battery shares (round-15, VERDICT r14 #2): the
    * per-doc quality score and the seven Gopher metrics are pure
    * functions of the text, so the session computes each battery ONCE
    * per (session, dir) — widened, because the regexes evaluate
    * scan-side and the test corpus arrives as one row group — and every
    * composition gates against the shared frame through the documented
    * `precomputedQuality` / `precomputedGopherMetrics` hooks. One corpus
    * regex pass instead of one per composition; slim (id, numeric) rows
    * persist cheaply (the shingle-cache lesson); every consumer stays
    * oracle-gated. */
  private[graft] def sharedDocQuality(s: SparkSession, d: String): DataFrame =
    cachedPerDir(s, s"docquality|$d") {
      Widen.widen(docs(s, d))
        .select(col("doc_id"), TextStats.qualityScore(col("text")).as("q"))
    }
  private[graft] def sharedGopherMetrics(s: SparkSession, d: String): DataFrame =
    cachedPerDir(s, s"gophermetrics|$d") {
      TextStats.gopherMetrics(Widen.widen(docs(s, d)), "doc_id", "text")
    }
  /** q_d2 emits the pairs, q_d6 clusters THE SAME pairs — one pipeline,
    * so the bench session computes the inverted-index join once (the
    * pair set is tiny: ∝ near-dups, not corpus). The skew guard runs at
    * its PRODUCTION default — the oracle mirrors the bucket prune with a
    * grouped-count CTE, so the measured/oracled path is the scale path. */
  private[graft] val JaccardMaxBucket = 1000
  private def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    cachedPerDir(s, s"jacpairs|$d") {
      Dedup.jaccardPairsFromHashes(sharedShingles(s, d),
        minJaccard = 0.05, maxBucketSize = JaccardMaxBucket)
    }
  /** DuckDB mirror of the `maxBucketSize` prune: keep only shingles
    * whose doc-bucket is within bound; docs' n_sh stay the FULL distinct
    * shingle counts (the prune restricts candidate generation and the
    * intersection count, not the denominator — exactly what
    * `jaccardPairsFromHashes` computes). */
  private def prunedShingleCtes: String =
    s"""ok AS (SELECT sg FROM e GROUP BY sg HAVING count(*) <= $JaccardMaxBucket),
       |e2 AS (SELECT e.* FROM e JOIN ok USING (sg))""".stripMargin

  private def qD2jaccard(s: SparkSession, d: String): DataFrame =
    sharedJaccardPairs(s, d)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  private val oD2 =
    s"""WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
      |$prunedShingleCtes,
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n_sh AS na, b.n_sh AS nb,
      |        count(*) AS inter
      |      FROM e2 a JOIN e2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3, 4)
      |SELECT ia AS id_a, ib AS id_b,
      |  round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
      |FROM p
      |WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.05
      |ORDER BY 1, 2""".stripMargin

  /** PageRank over the q_d2 near-dup pair graph — centrality picks the
    * CANONICAL doc of each duplicate neighborhood (the hub), the
    * refinement past q_d6's "which cluster" answer. Fully oracled: the
    * pair CTEs are oD2's verbatim, and all 10 power iterations replay
    * as chained CTEs in INTEGER nano-rank arithmetic — explicit
    * floor(x + 0.5) regridding, never an engine `round` (rank/deg
    * quotients land exactly on .5 ties at power-of-two degrees, where
    * HALF_UP and half-even engines split — a measured 1-ulp sf0.1
    * divergence under the round() formulation). Damping constants cross
    * as string-CAST doubles (decimal literal parsing must not intercept
    * them). The `rounds` column pins the convergence EARLY-EXIT under
    * the hash gate: the engine stops at the first checkEvery-block
    * boundary whose iterate equals its immediate predecessor (an exact
    * grid fixed point — the remaining rounds provably return the same
    * vector, so the rank columns replay from the UNCONDITIONAL p10),
    * and the oracle recomputes the same boundary schedule from its
    * unrolled iterates. */
  private def qD16pagerank(s: SparkSession, d: String): DataFrame = {
    val run = graft.operators.Graph.pageRankRun(
      sharedJaccardPairs(s, d).select(col("id_a"), col("id_b")),
      iters = 10)
    run.ranks.withColumn("rounds", lit(run.rounds.toLong)).orderBy("id")
  }
  private val oD16 = {
    val dmp = 0.85; val iters = 10; val checkEvery = 4
    val stages = (1 to iters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT dst AS id, CAST(floor(CAST('${(1 - dmp) * 1e9}' AS DOUBLE)
         |    + CAST('$dmp' AS DOUBLE) * CAST(sum(c) AS DOUBLE) + 0.5)
         |    AS BIGINT) AS prn
         |  FROM (SELECT e2g.dst,
         |      CAST(floor(CAST(p${i - 1}.prn AS DOUBLE) / e2g.deg + 0.5)
         |        AS BIGINT) AS c
         |    FROM e2g JOIN p${i - 1} ON p${i - 1}.id = e2g.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    // the engine's boundary schedule: first check round with
    // p_t == p_{t-1} on every node, else all `iters` rounds executed
    val boundaries = (checkEvery until iters by checkEvery)
    val eqCases = boundaries.map { b =>
      s"""WHEN NOT EXISTS (SELECT 1 FROM p$b JOIN p${b - 1} USING (id)
         |    WHERE p$b.prn <> p${b - 1}.prn) THEN CAST($b AS BIGINT)""".stripMargin
    }.mkString("\n  ")
    val roundsCte =
      s"""rnds AS (SELECT CASE
         |  $eqCases
         |  ELSE CAST($iters AS BIGINT) END AS rounds)""".stripMargin
    s"""WITH w AS (SELECT doc_id,
       |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
       |FROM documents),
       |s AS (SELECT doc_id, list_distinct(list_transform(
       |  range(1, greatest(len(ws) - 2, 0) + 1),
       |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
       |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
       |$prunedShingleCtes,
       |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n_sh AS na, b.n_sh AS nb,
       |        count(*) AS inter
       |      FROM e2 a JOIN e2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2, 3, 4),
       |prs AS (SELECT ia AS id_a, ib AS id_b FROM p
       |  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.05),
       |ed AS (SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION SELECT id_b, id_a FROM prs),
       |dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
       |e2g AS (SELECT ed.src, ed.dst, dg.deg FROM ed JOIN dg USING (src)),
       |p0 AS (SELECT src AS id, CAST(1000000000 AS BIGINT) AS prn FROM dg),
       |$stages,
       |$roundsCte
       |SELECT p$iters.id, dg.deg,
       |  CAST(p$iters.prn AS DOUBLE) / CAST(1000000000 AS DOUBLE) AS pr,
       |  rnds.rounds
       |FROM p$iters JOIN dg ON dg.src = p$iters.id, rnds
       |ORDER BY 1""".stripMargin
  }

  /** Corpus snapshot diff: v1 drops doc_id % 13 == 0, v2 drops
    * doc_id % 10 == 0 and revises the text of doc_id % 7 == 0 — so all
    * four statuses (added / removed / changed / unchanged) appear and
    * every classification crosses the hash gate. One full-outer
    * equi-join over (id, fingerprint) projections; no text on the
    * shuffle. */
  private def qD17snapshot(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val oldV = base.where(col("doc_id") % 13 =!= 0)
    val newV = base.where(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" revised"))).otherwise(col("text")))
    Dedup.snapshotDiff(oldV, newV, "doc_id",
        TextStats.fingerprint(col("text")))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  private val oD17 =
    """WITH o AS (SELECT doc_id,
      |    md5(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 13 <> 0),
      |n AS (SELECT doc_id,
      |    md5(lower(regexp_replace(
      |      CASE WHEN doc_id % 7 = 0 THEN text || ' revised' ELSE text END,
      |      '[^\p{L}\p{M}\p{N}]+', '', 'g'))) AS fp
      |  FROM documents WHERE doc_id % 10 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  o.fp AS old_fp, n.fp AS new_fp,
      |  CASE WHEN o.fp IS NULL THEN 'added'
      |    WHEN n.fp IS NULL THEN 'removed'
      |    WHEN o.fp = n.fp THEN 'unchanged'
      |    ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Blocked edit-distance join over 6-word title prefixes: blocks are
    * the q_d1 two-token key (exact precision within a block, LSH-style
    * blocking recall across), the q_d2 oversize guard at 100, distance
    * gate 15 (the corpus' in-block pairs split 25 at dist 0 vs 157 at
    * 10–26; the gate keeps 0–15, so BOTH the kernel's nonzero values
    * and the exclusion cross the hash gate). The |Δlen| pre-filter is a
    * true lower bound, so the oracle omits it — same row set either
    * way. */
  private def qD18fuzzy(s: SparkSession, d: String): DataFrame = {
    // tokenize ONCE: _ws materializes behind withWords' Generate
    // boundary, so the title and block-key projections share one
    // tokenizer run instead of inlining it twice per row
    val withWs = Dedup.withWords(docs(s, d), "text")
    graft.operators.Fuzzy.blockedEditJoin(withWs, "doc_id",
        array_join(slice(col("_ws"), 1, 6), " "),
        md5(array_join(slice(col("_ws"), 1, 2), " ")),
        maxDist = 15, maxBlock = 100)
      .orderBy("id_a", "id_b")
  }
  private val oD18 =
    """WITH t AS (SELECT doc_id,
      |    array_to_string(list_slice(
      |      string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |      1, 6), ' ') AS s,
      |    md5(array_to_string(list_slice(
      |      string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +'),
      |      1, 2), ' ')) AS b
      |  FROM documents),
      |ok AS (SELECT b FROM t GROUP BY 1 HAVING count(*) <= 100),
      |tt AS (SELECT t.doc_id, t.s, t.b FROM t JOIN ok USING (b))
      |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
      |  CAST(levenshtein(a.s, b2.s) AS BIGINT) AS dist
      |FROM tt a JOIN tt b2 ON a.b = b2.b AND a.doc_id < b2.doc_id
      |WHERE levenshtein(a.s, b2.s) <= 15
      |ORDER BY id_a, id_b""".stripMargin

  /** Length-band fuzzy join under the full hash gate — the DERIVED-key
    * form of q_d18 (no semantic block key needed): injected strings
    * with controlled length spread (8-char md5 prefix + 0..59 'a'
    * repeats → 60 distinct base lengths 8..67 in width-1 bands, since
    * maxDist = 1) where every odd doc is its even predecessor's string
    * plus one char — a planted dist-1 pair whose lengths straddle band
    * boundaries at every shape. The oracle replays the banding (own
    * band + next, both-band dups collapsed by DISTINCT), the oversize
    * guard, the |Δlen| prune, and the levenshtein gate. */
  private def qD19lengthBand(s: SparkSession, d: String): DataFrame = {
    // 20% injection sample (2 of every 10 doc_ids) spread over 60 base
    // lengths: thin width-1 bands keep the in-band quadratic honest (the
    // operator's contract is banding + guard, not magic — a fixture
    // whose lengths all collide would just be the all-pairs join, and
    // now trips the band-collapse guard)
    val base = col("doc_id") - col("doc_id") % 10
    val k = ((base / 10) % 60).cast("int")
    val str = concat(
      substring(md5(base.cast("string")), 1, 8),
      lit("a" * 60).substr(lit(1), k),
      when(col("doc_id") % 10 === 1, lit("z")).otherwise(lit("")))
    graft.operators.Fuzzy.lengthBandEditJoin(
        docs(s, d).where(col("doc_id") % 10 < 2)
          .select(col("doc_id"), str.as("s")),
        "doc_id", col("s"), maxDist = 1)
      .orderBy("id_a", "id_b")
  }
  private val oD19 =
    """WITH inj AS (SELECT doc_id,
      |    substr(md5(CAST(doc_id - doc_id % 10 AS VARCHAR)), 1, 8)
      |    || substr(repeat('a', 60), 1,
      |         CAST(((doc_id - doc_id % 10) // 10) % 60 AS INT))
      |    || CASE WHEN doc_id % 10 = 1 THEN 'z' ELSE '' END AS s
      |  FROM documents WHERE doc_id % 10 < 2),
      |b AS (SELECT doc_id, s,
      |    unnest([length(s), length(s) + 1]) AS bk
      |  FROM inj),
      |ok AS (SELECT bk FROM b GROUP BY 1 HAVING count(*) <= 1000),
      |bb AS (SELECT b.doc_id, b.s, b.bk FROM b JOIN ok USING (bk))
      |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
      |  CAST(levenshtein(a.s, b2.s) AS BIGINT) AS dist
      |FROM bb a JOIN bb b2 ON a.bk = b2.bk AND a.doc_id < b2.doc_id
      |WHERE abs(length(a.s) - length(b2.s)) <= 1
      |  AND levenshtein(a.s, b2.s) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  /** End-to-end dedup: Jaccard pairs → transitive closure → clusters with
    * keeper/members. Oracle replays the closure with a recursive CTE. */
  /** One closure per (session, dir): q_d6 rolls the labels up into
    * clusters and q_x7 splits on them — a real pipeline labels once, so
    * the bench session does too. No persist: componentLabels returns an
    * eagerly localCheckpointed frame (re-scanning it never re-runs the
    * passes); the registry entry is what stops a second build. */
  private def sharedLabels(s: SparkSession, d: String): DataFrame =
    cachedPerDir(s, s"labels|$d", persist = false) {
      Dedup.componentLabels(sharedJaccardPairs(s, d).select("id_a", "id_b"))
    }

  private def qD6clusters(s: SparkSession, d: String): DataFrame =
    Dedup.clustersFromLabels(sharedLabels(s, d))
      .withColumn("members_csv",
        expr("array_join(transform(members, x -> cast(x AS string)), ',')"))
      .drop("members")
      .orderBy("keeper")
  /** Shared closure CTE chain (shingles → pruned inverted index →
    * Jaccard pairs → recursive min-label reach → `lab(id, label)`) —
    * the oracle face of `componentLabels` over `sharedJaccardPairs`,
    * reused by q_d6 (cluster rollup) and q_x7 (leakage-free split). */
  private def closureCtes: String =
    s"""w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sg FROM s),
      |$prunedShingleCtes,
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.n_sh AS na, b.n_sh AS nb,
      |        count(*) AS inter
      |      FROM e2 a JOIN e2 b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3, 4),
      |pairs AS (SELECT ia AS id_a, ib AS id_b FROM p
      |  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.05),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, label) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.src, r.label FROM edges e2 JOIN reach r ON r.id = e2.dst),
      |lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id)""".stripMargin

  private val oD6 =
    s"""WITH RECURSIVE $closureCtes
      |SELECT label AS keeper, CAST(count(*) AS BIGINT) AS cluster_size,
      |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members_csv
      |FROM lab GROUP BY 1 ORDER BY keeper""".stripMargin

  /** DuckDB face of `Sampling.withSplit(_, key, 0.2)`: the 20% md5
    * hash-threshold test/train case (3355443 = ⌊0.2·2^24⌋). One line on
    * purpose — '|graft' contains a margin char, so a multi-line form
    * would be corrupted by the enclosing stripMargin. */
  private def splitCaseSql(key: String): String =
    s"CASE WHEN CAST(concat('0x', substr(md5(concat(CAST($key AS VARCHAR), " +
      "'|graft')), 1, 6)) AS BIGINT) < 3355443 THEN 'test' ELSE 'train' END"

  /** Inter-annotator agreement (Cohen's κ) over two deterministic
    * synthetic raters (the q_x2 injection discipline — no human labels
    * in the corpus): rater A = hash24(id|raterA) % 3; rater B copies A
    * 70% of the time (hash24(id|agree) % 10 < 7), else shifts by
    * 1 + hash24(id|raterB) % 2 — so κ lands strictly between 0 and 1
    * and every branch of the contingency/marginal/chance arithmetic
    * crosses the hash gate. */
  private def qX13kappa(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Metrics, Sampling}
    val a = Sampling.hash24(col("doc_id"), "raterA") % 3
    val b = when(Sampling.hash24(col("doc_id"), "agree") % 10 < 7, a)
      .otherwise((a + lit(1L) + Sampling.hash24(col("doc_id"), "raterB") % 2)
        % 3)
    Metrics.cohenKappa(docs(s, d).select(a.as("a"), b.as("b")),
      col("a"), col("b"))
  }
  private val oX13 = {
    def h24(salt: String) =
      s"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
        s"'|$salt')), 1, 6)) AS BIGINT)"
    s"""WITH r AS (SELECT doc_id, ${h24("raterA")} % 3 AS a FROM documents),
       |rb AS (SELECT r.doc_id, CAST(r.a AS VARCHAR) AS a,
       |    CAST(CASE WHEN ${h24("agree")} % 10 < 7 THEN r.a
       |      ELSE (r.a + 1 + ${h24("raterB")} % 2) % 3 END AS VARCHAR) AS b
       |  FROM r JOIN documents USING (doc_id)),
       |ct AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
       |  FROM rb GROUP BY 1, 2),
       |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM ct GROUP BY 1),
       |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM ct GROUP BY 1),
       |x AS (SELECT coalesce(sum(CAST(ca AS DECIMAL(38,0)) * cb),
       |      CAST(0 AS DECIMAL(38,0))) AS x
       |  FROM ma JOIN mb ON ma.a = mb.b),
       |ag AS (SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS g
       |  FROM ct),
       |pp AS (SELECT n,
       |    round(CAST(g AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       |    round(CAST(x.x AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe
       |  FROM ag, x)
       |SELECT n, po, pe,
       |  CASE WHEN pe < 1.0
       |    THEN round((po - pe) / (1.0 - pe), 6) END AS kappa
       |FROM pp""".stripMargin
  }

  /** Leakage-free train/test split: label every document with its
    * near-dup CLUSTER (the q_d6 closure; singletons keep their own id)
    * and hash-split on the CLUSTER label, so near-duplicates can never
    * straddle the train/test boundary — the eval-hygiene rule a plain
    * doc_id split breaks (paraphrases of a test doc leak into train).
    * Composes componentLabels with the q_x1 hash-threshold split; at
    * scale this is the closure (bounded passes) plus one map-side hash
    * filter — no new shuffle beyond q_d6's. */
  private def qX7leakFreeSplit(s: SparkSession, d: String): DataFrame = {
    val labels = sharedLabels(s, d)
    val clustered = docs(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster"))
    Sampling.withSplit(clustered, "cluster", testFraction = 0.2)
      .orderBy("doc_id")
  }
  private val oX7 =
    s"""WITH RECURSIVE $closureCtes,
      |cl AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
      |SELECT doc_id, cluster, ${splitCaseSql("cluster")} AS split
      |FROM cl ORDER BY doc_id""".stripMargin

  /** MinHash+LSH — fully oracled since the portable (md5-derived)
    * permutation hashes replay in DuckDB: signature mins, band slices,
    * candidate join, and the agreement estimate are all engine-neutral
    * (only the band-bucket join KEY uses xxhash64 internally; the oracle
    * joins on band-slice equality, identical up to ~2^-60 collisions). */
  private def qD3minhash(s: SparkSession, d: String): DataFrame = {
    // persisted: lshCandidatePairs consumes sig in THREE subtrees (band
    // exchange + two signature joins) — without a cache the post-shuffle
    // final min-aggregates re-run per consumer (see its scaladoc)
    val sig = cachedPerDir(s, s"minhashsig|$d") {
      Dedup.minhashFromHashes(sharedShingles(s, d), k = 64)
    }
    Dedup.lshCandidatePairs(sig, bands = 16, rowsPerBand = 4)
      .where(col("est_jaccard") >= 0.2)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("id_a", "id_b")
  }
  private val oD3 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, unnest(sh) AS sg FROM s),
      |hh AS (SELECT DISTINCT doc_id,
      |  CAST(concat('0x', substr(md5(sg), 1, 15)) AS BIGINT) AS h FROM e),
      |hp AS (SELECT doc_id,
      |    CAST(concat('0x', substr(md5(concat(CAST(h AS VARCHAR), '|p1')), 1, 15)) AS BIGINT) AS h1,
      |    CAST(concat('0x', substr(md5(concat(CAST(h AS VARCHAR), '|p2')), 1, 14)) AS BIGINT) AS h2
      |  FROM hh),
      |pm AS (SELECT doc_id, r.i,
      |    min((h1 + r.i * h2) % 144115188075855872) AS mh
      |  FROM hp CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM pm GROUP BY 1),
      |bnd AS (SELECT doc_id, sig, r.b,
      |    list_slice(sig, r.b * 4 + 1, r.b * 4 + 4) AS bs
      |  FROM sig CROSS JOIN range(0, 16) r(b)),
      |cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.sig AS sa, b.sig AS sb
      |  FROM bnd a JOIN bnd b ON a.b = b.b AND a.bs = b.bs AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |est AS (SELECT ia, ib,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CASE WHEN sa[j] = sb[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 64.0 AS ej
      |  FROM cand)
      |SELECT ia AS id_a, ib AS id_b, round(ej, 6) AS est_jaccard
      |FROM est WHERE ej >= 0.2 ORDER BY 1, 2""".stripMargin

  /** SimHash — fully oracled: portable bit sources (md5-derived hash60
    * pair), integer-only fingerprint assembly, chunk bucketing, and
    * bit_count(xor) distance all replay in DuckDB. */
  private def qD4simhash(s: SparkSession, d: String): DataFrame = {
    val sh = Dedup.simhash(docs(s, d), "doc_id", "text")
    Dedup.simhashPairs(sh, maxHamming = 16)
      .orderBy("id_a", "id_b")
  }
  private val oD4 =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(
      |    regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +')) AS t
      |  FROM documents),
      |hsh AS (SELECT doc_id,
      |    CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h1,
      |    CAST(concat('0x', substr(md5(t || '|b'), 1, 15)) AS BIGINT) AS h2
      |  FROM tok),
      |bs AS (SELECT doc_id, r.i,
      |    sum(CASE WHEN (CASE WHEN r.i < 60 THEN (h1 >> r.i)
      |      ELSE (h2 >> (r.i - 60)) END) & 1 = 1 THEN 1 ELSE -1 END) AS sb
      |  FROM hsh CROSS JOIN range(0, 64) r(i) GROUP BY 1, 2),
      |fp AS (SELECT doc_id, bit_or(CASE WHEN sb > 0 THEN
      |      (CASE WHEN r2.i = 63 THEN (-9223372036854775807 - 1)
      |       ELSE (1::BIGINT << CAST(r2.i AS INTEGER)) END)
      |    ELSE 0 END) AS simhash
      |  FROM (SELECT doc_id, i, sb FROM bs) AS r2 GROUP BY 1),
      |ch AS (SELECT doc_id, simhash, r.c, (simhash >> (r.c * 16)) & 65535 AS cval
      |  FROM fp CROSS JOIN range(0, 4) r(c)),
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
      |    min(bit_count(xor(a.simhash, b.simhash))) AS hamming
      |  FROM ch a JOIN ch b ON a.c = b.c AND a.cval = b.cval AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b, CAST(hamming AS BIGINT) AS hamming
      |FROM p WHERE hamming <= 16 ORDER BY 1, 2""".stripMargin

  /** Bucketed (banded hyperplane LSH) near-dup — the DEFAULT scale path.
    * Fully oracled: the DuckDB SQL replicates the banding with the SAME
    * deterministic hyperplanes embedded as literals, so both engines
    * compute the identical candidate set (sign margins on this data are
    * ≥ 5e-5 — far above double-summation noise), then the identical exact
    * cosine verify. Recall vs the all-pairs primitive is measured in
    * DedupSimilaritySpec. */
  private def qD5embedNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDups(emb(s, d), "vec_id", "embedding", minCosine = 0.4,
        planes = 64, bands = 16, dim = 64)
      // the guard runs at its production default (maxBucketSize = 100000);
      // the oracle mirrors the bucket prune with a grouped-count CTE
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  private val oD5 = {
    val planes = 64; val bands = 16; val r = planes / bands; val dim = 64
    val hp = graft.operators.Similarity.hyperplanes(planes, dim)
    val planeRows = hp.zipWithIndex
      .map { case (w, p) => s"($p, [${w.mkString(", ")}])" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |pl AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(p, w)),
       |sig AS (SELECT e.id, pl.p,
       |    CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
       |    THEN 1 ELSE 0 END AS bit
       |  FROM e CROSS JOIN pl),
       |bnd AS (SELECT id, p // $r AS band, sum(bit * (1 << (p % $r))) AS bval
       |  FROM sig GROUP BY 1, 2),
       |okb AS (SELECT band, bval FROM bnd GROUP BY band, bval
       |  HAVING count(*) <= 100000),
       |bnd2 AS (SELECT bnd.* FROM bnd JOIN okb USING (band, bval)),
       |cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib
       |  FROM bnd2 a JOIN bnd2 b ON a.band = b.band AND a.bval = b.bval AND a.id < b.id),
       |pr AS (SELECT ia, ib, ea.embedding AS ea, eb.embedding AS eb
       |  FROM cand JOIN e ea ON ea.id = cand.ia JOIN e eb ON eb.id = cand.ib),
       |u AS (SELECT ia, ib, CAST(unnest(ea) AS DOUBLE) AS xa,
       |    CAST(unnest(eb) AS DOUBLE) AS xb FROM pr),
       |g AS (SELECT ia, ib, sum(xa * xb) AS dt, sum(xa * xa) AS na,
       |    sum(xb * xb) AS nb FROM u GROUP BY 1, 2)
       |SELECT ia AS id_a, ib AS id_b,
       |  round(dt / (sqrt(na) * sqrt(nb)), 6) AS cosine
       |FROM g WHERE dt / (sqrt(na) * sqrt(nb)) >= 0.4
       |ORDER BY 1, 2""".stripMargin
  }

  /** Exact all-pairs primitive (re-rank/verification path) — oracled
    * against the plain O(n²) SQL. */
  private def qD5ballPairs(s: SparkSession, d: String): DataFrame =
    Dedup.allPairsNearDups(emb(s, d), "vec_id", "embedding", minCosine = 0.4)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  private val oD5b =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    a.embedding AS ea, b.embedding AS eb
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |u AS (SELECT ia, ib, CAST(unnest(ea) AS DOUBLE) AS xa,
      |    CAST(unnest(eb) AS DOUBLE) AS xb FROM p),
      |g AS (SELECT ia, ib, sum(xa * xb) AS dt, sum(xa * xa) AS na,
      |    sum(xb * xb) AS nb FROM u GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b,
      |  round(dt / (sqrt(na) * sqrt(nb)), 6) AS cosine
      |FROM g WHERE dt / (sqrt(na) * sqrt(nb)) >= 0.4
      |ORDER BY 1, 2""".stripMargin

  /** SemDeDup-style semantic dedup — paraphrase-level curation the
    * shingle-based family cannot see. Fully oracled: hash-seeded
    * centroids, min-struct assignment, within-cluster pairwise cosine,
    * and the keep-min-id drop rule all replay in DuckDB (the assignment
    * CTEs are oS3's; the guard prune mirrors as a grouped-count CTE at
    * the production default). `dropped` crosses as 0/1 BIGINT; the drop
    * decision compares the UNROUNDED max on both engines. */
  private def qD8semantic(s: SparkSession, d: String): DataFrame =
    Dedup.semanticDedup(emb(s, d), "vec_id", "embedding", minCosine = 0.4,
        nClusters = 16)
      .select(col("id"), col("cluster_id"),
        round(col("best_lower_cosine"), 6).as("best_lower_cosine"),
        col("dropped").cast("bigint").as("dropped"))
      .orderBy("id")
  private val oD8 = {
    val nCent = 16
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM h
       |  ORDER BY hh, id LIMIT $nCent),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
       |okc AS (SELECT cid FROM assign GROUP BY cid HAVING count(*) <= 100000),
       |a2 AS (SELECT assign.* FROM assign JOIN okc USING (cid)),
       |pr AS (SELECT a.vid AS aid, b.vid AS id, ea.embedding AS ea,
       |    eb.embedding AS eb
       |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vid < b.vid
       |  JOIN e ea ON ea.id = a.vid JOIN e eb ON eb.id = b.vid),
       |u2 AS (SELECT aid, id, CAST(unnest(ea) AS DOUBLE) AS xa,
       |    CAST(unnest(eb) AS DOUBLE) AS xb FROM pr),
       |g2 AS (SELECT aid, id, sum(xa * xb) AS dt, sum(xa * xa) AS na,
       |    sum(xb * xb) AS nb FROM u2 GROUP BY 1, 2),
       |best AS (SELECT id, max(dt / (sqrt(na) * sqrt(nb))) AS best
       |  FROM g2 GROUP BY 1)
       |SELECT assign.vid AS id, assign.cid AS cluster_id,
       |  round(best.best, 6) AS best_lower_cosine,
       |  CAST(CASE WHEN best.best >= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS dropped
       |FROM assign LEFT JOIN best ON best.id = assign.vid
       |ORDER BY 1""".stripMargin
  }

  /** D4-style prototypicality pruning — fully oracled: the hash-seeded
    * centroids, min-struct assignment, per-cluster prototypicality rank
    * (rounded cosine desc, id asc) and the ceil(f·n) drop rule all replay
    * in DuckDB (assignment CTEs are oD8's, with the winning similarity
    * carried through). `dropped` crosses as 0/1 BIGINT like q_d8. */
  private def qD13proto(s: SparkSession, d: String): DataFrame =
    Dedup.prototypicalityPrune(emb(s, d), "vec_id", "embedding",
        nClusters = 16, pruneFraction = 0.25)
      .select(col("id"), col("cluster_id"), col("cent_cosine"),
        col("proto_rank"), col("dropped").cast("bigint").as("dropped"))
      .orderBy("id")
  private val oD13 = {
    val nCent = 16
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM h
       |  ORDER BY hh, id LIMIT $nCent),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid, s FROM (SELECT vid, cid, s, row_number()
       |    OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim)
       |  WHERE rn = 1),
       |okc AS (SELECT cid FROM assign GROUP BY cid HAVING count(*) <= 100000),
       |a2 AS (SELECT assign.* FROM assign JOIN okc USING (cid)),
       |rk AS (SELECT vid, row_number() OVER (PARTITION BY cid
       |      ORDER BY round(s, 6) DESC, vid) AS r,
       |    count(*) OVER (PARTITION BY cid) AS n FROM a2)
       |SELECT assign.vid AS id, assign.cid AS cluster_id,
       |  round(assign.s, 6) AS cent_cosine,
       |  CAST(rk.r AS BIGINT) AS proto_rank,
       |  CAST(CASE WHEN rk.r <= ceil(0.25 * rk.n) THEN 1 ELSE 0 END
       |    AS BIGINT) AS dropped
       |FROM assign LEFT JOIN rk ON rk.vid = assign.vid
       |ORDER BY id""".stripMargin
  }

  // ---- similarity search -------------------------------------------------

  /** Semantic decontamination — fully oracled: eval = the vec_id % 97
    * slice (a stand-in benchmark whose vectors ARE in the corpus, so
    * every eval row contaminates at least itself at cosine 1.0); each
    * corpus×eval cosine, the 6-dp rounding, the ≥ 0.95 hit set, and the
    * keep anti-join replay in DuckDB (oS1's sum-of-products CTEs).
    * Zero-norm rows (none in the fixture, guarded anyway) are kept. */
  private def qS21decontam(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.semanticDecontaminate(e,
        e.where(col("vec_id") % 97 === 0), "vec_id", "embedding",
        minCosine = 0.95)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }
  private val oS21 =
    """WITH nz AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |ev AS (SELECT vec_id AS eid, embedding AS ee FROM nz
      |  WHERE vec_id % 97 = 0),
      |p AS (SELECT nz.vec_id, ev.eid, nz.embedding AS ce, ev.ee
      |  FROM nz, ev),
      |u AS (SELECT vec_id, eid, CAST(unnest(ce) AS DOUBLE) AS xc,
      |    CAST(unnest(ee) AS DOUBLE) AS xe FROM p),
      |g AS (SELECT vec_id, eid, sum(xc * xe) AS dt, sum(xc * xc) AS nc,
      |    sum(xe * xe) AS ne FROM u GROUP BY 1, 2),
      |hits AS (SELECT DISTINCT vec_id FROM g
      |  WHERE round(dt / (sqrt(nc) * sqrt(ne)), 6) >= CAST(0.95 AS DOUBLE))
      |SELECT e2.vec_id, e2.label FROM embeddings e2
      |LEFT JOIN hits ON e2.vec_id = hits.vec_id
      |WHERE hits.vec_id IS NULL ORDER BY e2.vec_id""".stripMargin

  /** LSH-pre-pruned semantic decontamination — the past-broadcast-size
    * eval path, fully oracled: the eval side is a PLANTED near-duplicate
    * slice (vec_id % 23 rows with their first coordinate scaled ×1.2 —
    * cosine ≥ 0.995 to their source, but byte-distinct, the semantic
    * analogue of a paraphrase an n-gram gate misses); the (planes,
    * bands) = (270, 15) banding comes from the S-curve rule at the 0.95
    * threshold, and the DuckDB SQL replays the banding on BOTH sides
    * with the SAME hyperplane literals, the corpus-bucket prune, the
    * distinct candidate pairs, the exact 6-dp cosine gate, and the keep
    * anti-join — a candidate set that drifted between engines is a hash
    * mismatch. Recall vs the exact op is gated in
    * StreamContaminationSpec. */
  private def qS22decontamLsh(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val (planes, bands) = Dedup.suggestedHyperplaneConfig(0.95)
    val eval = e.where(col("vec_id") % 23 === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i === 0, x * lit(1.2)).otherwise(x))
          .as("embedding"))
    Similarity.semanticDecontaminateLsh(e, eval, "vec_id", "embedding",
        minCosine = 0.95, planes = planes, bands = bands, dim = 64)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }
  private val oS22 = {
    val (planes, bands) = graft.operators.Dedup.suggestedHyperplaneConfig(0.95)
    val r = planes / bands; val dim = 64
    val hp = graft.operators.Similarity.hyperplanes(planes, dim)
    val planeRows = hp.zipWithIndex
      .map { case (w, p) => s"($p, [${w.mkString(", ")}])" }
      .mkString(",\n    ")
    s"""WITH nz AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |ev0 AS (SELECT vec_id AS eid,
       |    list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |      (x, i) -> CASE WHEN i = 1 THEN x * 1.2 ELSE x END) AS ev
       |  FROM embeddings WHERE vec_id % 23 = 0),
       |ev AS (SELECT eid, ev FROM ev0
       |  WHERE list_sum(list_transform(ev, x -> x * x)) > 0),
       |pl AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(p, w)),
       |csig AS (SELECT nz.vec_id AS id, pl.p,
       |    CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> nz.v[i] * pl.w[i])) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM nz CROSS JOIN pl),
       |cbnd AS (SELECT id, p // $r AS band, sum(bit * (1::BIGINT << (p % $r))) AS bval
       |  FROM csig GROUP BY 1, 2),
       |esig AS (SELECT ev.eid, pl.p,
       |    CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> ev.ev[i] * pl.w[i])) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM ev CROSS JOIN pl),
       |ebnd AS (SELECT eid, p // $r AS band, sum(bit * (1::BIGINT << (p % $r))) AS bval
       |  FROM esig GROUP BY 1, 2),
       |okb AS (SELECT band, bval FROM cbnd GROUP BY band, bval
       |  HAVING count(*) <= 100000),
       |cbnd2 AS (SELECT cbnd.* FROM cbnd JOIN okb USING (band, bval)),
       |cand AS (SELECT DISTINCT c.id, e.eid
       |  FROM cbnd2 c JOIN ebnd e ON c.band = e.band AND c.bval = e.bval),
       |pr AS (SELECT cand.id, cand.eid, nz.v AS cv, ev.ev AS evv
       |  FROM cand JOIN nz ON nz.vec_id = cand.id JOIN ev ON ev.eid = cand.eid),
       |u AS (SELECT id, eid, unnest(cv) AS xc, unnest(evv) AS xe FROM pr),
       |g AS (SELECT id, eid, sum(xc * xe) AS dt, sum(xc * xc) AS nc,
       |    sum(xe * xe) AS ne FROM u GROUP BY 1, 2),
       |hits AS (SELECT DISTINCT id FROM g
       |  WHERE round(dt / (sqrt(nc) * sqrt(ne)), 6) >= CAST(0.95 AS DOUBLE))
       |SELECT e2.vec_id, e2.label FROM embeddings e2
       |LEFT JOIN hits ON e2.vec_id = hits.id
       |WHERE hits.id IS NULL ORDER BY e2.vec_id""".stripMargin
  }

  private def qS1topk(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 10)
      .orderBy("query_id", "rank")
  }
  private val oS1 =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |q AS (SELECT vec_id, embedding FROM e WHERE vec_id < 5),
      |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe,
      |    c.embedding AS ce
      |  FROM q, e c WHERE q.vec_id <> c.vec_id),
      |u AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS xq,
      |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
      |g AS (SELECT qid, cid, sum(xq * xc) AS dt, sum(xq * xq) AS nq,
      |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
      |r AS (SELECT qid, cid, round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM g),
      |k AS (SELECT qid, cid, cosine, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank FROM r)
      |SELECT qid AS query_id, cid AS neighbor_id, cosine, rank
      |FROM k WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** k-NN label prediction — fully oracled: oS1's exact top-k (k=10,
    * 50 queries), label votes, and the (votes desc, label asc) argmax
    * all replay in DuckDB. `correct` crosses as 0/1 BIGINT. */
  private def qS18knn(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.knnPredict(e, e.where(col("vec_id") < 50), "vec_id",
        "embedding", "label", k = 10)
      .withColumn("correct", col("correct").cast("bigint"))
      .orderBy("query_id")
  }
  private val oS18 =
    """WITH e AS (SELECT vec_id, embedding, label FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |q AS (SELECT vec_id, embedding, label FROM e WHERE vec_id < 50),
      |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe,
      |    c.embedding AS ce
      |  FROM q, e c WHERE q.vec_id <> c.vec_id AND c.label IS NOT NULL),
      |u AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS xq,
      |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
      |g AS (SELECT qid, cid, sum(xq * xc) AS dt, sum(xq * xq) AS nq,
      |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
      |r AS (SELECT qid, cid, round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine
      |  FROM g),
      |k AS (SELECT qid, cid, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank FROM r),
      |v AS (SELECT k.qid, c.label AS nlab, count(*) AS votes
      |  FROM k JOIN e c ON c.vec_id = k.cid
      |  WHERE k.rank <= 10 GROUP BY 1, 2),
      |b AS (SELECT qid, nlab, votes, row_number() OVER (
      |    PARTITION BY qid ORDER BY votes DESC, nlab) AS rn FROM v)
      |SELECT b.qid AS query_id, q.label AS true_label,
      |  b.nlab AS predicted_label, CAST(b.votes AS BIGINT) AS votes,
      |  CAST(q.label = b.nlab AS BIGINT) AS correct
      |FROM b JOIN q ON q.vec_id = b.qid WHERE b.rn = 1
      |ORDER BY query_id""".stripMargin

  /** Hard-negative mining — fully oracled: oS1's exact-cosine scoring
    * restricted to label-mismatched pairs inside the semi-hard band,
    * rank over the ROUNDED cosine; all of it replays in DuckDB. */
  private def qS17hardNeg(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.hardNegatives(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", "label", k = 10, minCosine = 0.1, maxCosine = 0.95)
      .orderBy("query_id", "rank")
  }
  private val oS17 =
    """WITH e AS (SELECT vec_id, embedding, label FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |q AS (SELECT vec_id, embedding, label FROM e WHERE vec_id < 5),
      |p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, q.embedding AS qe,
      |    c.embedding AS ce
      |  FROM q, e c WHERE q.vec_id <> c.vec_id
      |    AND q.label IS NOT NULL AND c.label IS NOT NULL
      |    AND q.label <> c.label),
      |u AS (SELECT qid, cid, CAST(unnest(qe) AS DOUBLE) AS xq,
      |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
      |g AS (SELECT qid, cid, sum(xq * xc) AS dt, sum(xq * xq) AS nq,
      |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
      |r AS (SELECT qid, cid, round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine
      |  FROM g),
      |b AS (SELECT qid, cid, cosine FROM r
      |  WHERE cosine >= 0.1 AND cosine <= 0.95),
      |k AS (SELECT qid, cid, cosine, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank FROM b)
      |SELECT qid AS query_id, cid AS neighbor_id, cosine, rank
      |FROM k WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Hyperplane-LSH ANN — fully oracled: the signature is sign bits of
    * plane dots (no engine-specific hash), so DuckDB replays the exact
    * bucketing, multi-probe, and re-rank with the same plane literals. */
  private def qS2annLsh(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.lshTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, planes = 8, dim = 64)
      .orderBy("query_id", "rank")
  }
  private val oS2 = {
    val planes = 8; val dim = 64; val k = 5
    val hp = graft.operators.Similarity.hyperplanes(planes, dim)
    val planeRows = hp.zipWithIndex
      .map { case (w, p) => s"($p, [${w.mkString(", ")}])" }
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |pl AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(p, w)),
       |sig AS (SELECT e.id,
       |    CAST(sum(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.w[i])) >= 0
       |      THEN (1 << pl.p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN pl GROUP BY e.id),
       |q AS (SELECT id AS query_id, bucket FROM sig WHERE id < 5),
       |probes AS (SELECT query_id,
       |    CASE WHEN f.i = 0 THEN q.bucket ELSE xor(q.bucket, 1 << (f.i - 1)) END AS bucket
       |  FROM q CROSS JOIN range(0, ${planes + 1}) AS f(i)),
       |cand AS (SELECT p.query_id, c.id AS neighbor_id
       |  FROM probes p JOIN sig c ON c.bucket = p.bucket
       |  WHERE p.query_id <> c.id),
       |pr AS (SELECT query_id, neighbor_id, eq.embedding AS qe, ec.embedding AS ce
       |  FROM cand JOIN e eq ON eq.id = cand.query_id
       |  JOIN e ec ON ec.id = cand.neighbor_id),
       |u AS (SELECT query_id, neighbor_id, CAST(unnest(qe) AS DOUBLE) AS xq,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM pr),
       |g AS (SELECT query_id, neighbor_id, sum(xq * xc) AS dt,
       |    sum(xq * xq) AS nq, sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id,
       |    round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM g),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private def qS3annIvf(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // kmeansIters stays 0 HERE: the refined centroids' mean aggregates sum
    // doubles in shuffle order, so the driver-facing query keeps the fully
    // deterministic seed path; the k-means pass is gated in
    // DedupSimilaritySpec (monotone objective), which needs no bit parity
    Similarity.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4)
      .orderBy("query_id", "rank")
  }
  /** Full IVF oracle: md5-seeded centroid sample, argmax-cosine
    * assignment, nProbe probe lists, exact re-rank — every stage replayed
    * in DuckDB (assignment margins dwarf double noise, same summation
    * shapes as the proven oD5/oS2 oracles). */
  private val oS3 = {
    val nCent = 16; val nProbe = 4; val k = 5
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM h
       |  ORDER BY hh, id LIMIT $nCent),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, cid FROM (SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
       |  FROM sim WHERE vid < 5) WHERE rn <= $nProbe),
       |cand AS (SELECT p.query_id, a.vid AS neighbor_id
       |  FROM probes p JOIN assign a ON a.cid = p.cid
       |  WHERE a.vid <> p.query_id),
       |pr2 AS (SELECT query_id, neighbor_id, eq.embedding AS qe,
       |    ec.embedding AS ce
       |  FROM cand JOIN e eq ON eq.id = cand.query_id
       |  JOIN e ec ON ec.id = cand.neighbor_id),
       |u2 AS (SELECT query_id, neighbor_id, CAST(unnest(qe) AS DOUBLE) AS xq,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM pr2),
       |g2 AS (SELECT query_id, neighbor_id, sum(xq * xc) AS dt,
       |    sum(xq * xq) AS nq, sum(xc * xc) AS nc FROM u2 GROUP BY 1, 2),
       |r2 AS (SELECT query_id, neighbor_id,
       |    round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM g2),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r2)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Two-level (hierarchical) IVF assignment under the FULL hash gate:
    * `ivfTopK(hierarchicalAssign = true)` — corpus vectors probe their
    * 2 nearest of the √nlist super-centroids and argmax only those
    * supers' centroids. Every stage is deterministic (supers are the
    * smallest-md5 sample of the centroids under salt "ivf2"; both
    * argmax stages are the min-struct convention), so the oracle
    * extends oS3 with the super-selection, centroid→super, vector→
    * top-2-supers, and restricted-argmax CTEs — the approximate
    * assignment is replayed EXACTLY, not bounded. */
  private def qS12annHier(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, hierarchicalAssign = true)
      .orderBy("query_id", "rank")
  }
  private val oS12 = {
    val nCent = 16; val nProbe = 4; val k = 5
    val nSup = 4; val probeSupers = 2 // ceil(sqrt(16)); operator default
    s"""WITH e AS (SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM h
       |  ORDER BY hh, id LIMIT $nCent),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |sh2 AS (SELECT cid, ce,
       |    CAST(concat('0x', substr(md5(concat(CAST(cid AS VARCHAR),
       |      '|ivf2')), 1, 6)) AS BIGINT) AS shh FROM cents),
       |supers AS (SELECT cid AS sid, ce AS se FROM sh2
       |  ORDER BY shh, cid LIMIT $nSup),
       |pcs AS (SELECT c.cid, s.sid, c.ce, s.se
       |  FROM cents c CROSS JOIN supers s),
       |ucs AS (SELECT cid, sid, CAST(unnest(ce) AS DOUBLE) AS xa,
       |    CAST(unnest(se) AS DOUBLE) AS xb FROM pcs),
       |gcs AS (SELECT cid, sid, sum(xa * xb) AS dt, sum(xa * xa) AS na,
       |    sum(xb * xb) AS nb FROM ucs GROUP BY 1, 2),
       |scs AS (SELECT cid, sid, dt / (sqrt(na) * sqrt(nb)) AS s FROM gcs),
       |centsup AS (SELECT cid, sid FROM (SELECT cid, sid, row_number()
       |    OVER (PARTITION BY cid ORDER BY s DESC, sid) AS rn FROM scs)
       |  WHERE rn = 1),
       |pvs AS (SELECT h.id AS vid, s.sid, h.embedding AS ve, s.se
       |  FROM h CROSS JOIN supers s),
       |uvs AS (SELECT vid, sid, CAST(unnest(ve) AS DOUBLE) AS xa,
       |    CAST(unnest(se) AS DOUBLE) AS xb FROM pvs),
       |gvs AS (SELECT vid, sid, sum(xa * xb) AS dt, sum(xa * xa) AS na,
       |    sum(xb * xb) AS nb FROM uvs GROUP BY 1, 2),
       |svs AS (SELECT vid, sid, dt / (sqrt(na) * sqrt(nb)) AS s FROM gvs),
       |vsup AS (SELECT vid, sid FROM (SELECT vid, sid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, sid) AS rn FROM svs)
       |  WHERE rn <= $probeSupers),
       |hassign AS (SELECT vid, cid FROM (SELECT si.vid, si.cid,
       |    row_number() OVER (PARTITION BY si.vid
       |      ORDER BY si.s DESC, si.cid) AS rn
       |  FROM sim si JOIN vsup ON vsup.vid = si.vid
       |  JOIN centsup ON centsup.cid = si.cid AND centsup.sid = vsup.sid)
       |  WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, cid FROM (SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
       |  FROM sim WHERE vid < 5) WHERE rn <= $nProbe),
       |cand AS (SELECT p.query_id, a.vid AS neighbor_id
       |  FROM probes p JOIN hassign a ON a.cid = p.cid
       |  WHERE a.vid <> p.query_id),
       |pr2 AS (SELECT query_id, neighbor_id, eq.embedding AS qe,
       |    ec.embedding AS ce
       |  FROM cand JOIN e eq ON eq.id = cand.query_id
       |  JOIN e ec ON ec.id = cand.neighbor_id),
       |u2 AS (SELECT query_id, neighbor_id, CAST(unnest(qe) AS DOUBLE) AS xq,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM pr2),
       |g2 AS (SELECT query_id, neighbor_id, sum(xq * xc) AS dt,
       |    sum(xq * xq) AS nq, sum(xc * xc) AS nc FROM u2 GROUP BY 1, 2),
       |r2 AS (SELECT query_id, neighbor_id,
       |    round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM g2),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r2)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF with ONE spherical-Lloyd refinement pass — oracled end-to-end.
    * The per-(cluster, dim) means use the id-ordered fold
    * (`orderedMeans = true`), so the refined centroid values are
    * bit-identical across engines (`list_sum(list(x ORDER BY id))` is
    * the same left fold); the unrounded assignment/probe sims against
    * them then carry only the dot-sum order noise the proven oS3
    * margins argument already covers, and the final cosines re-rank
    * exactly from raw embeddings at 6 dp. */
  private def qS3bannIvfKmeans(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4, kmeansIters = 1,
        orderedMeans = true)
      .orderBy("query_id", "rank")
  }
  private val oS3b = {
    val nCent = 16; val nProbe = 4; val k = 5
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM h
       |  ORDER BY hh, id LIMIT $nCent),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
       |unit AS (SELECT a.cid, a.vid, r.i,
       |    CAST(e2.embedding[r.i] AS DOUBLE) / e2.nrm AS x
       |  FROM assign a JOIN e e2 ON e2.id = a.vid
       |  CROSS JOIN range(1, 65) r(i)),
       |nm AS (SELECT cid, i, list_sum(list(x ORDER BY vid)) / count(*) AS m
       |  FROM unit GROUP BY 1, 2),
       |c2 AS (SELECT cid, list(m ORDER BY i) AS ce2 FROM nm GROUP BY 1),
       |c2n AS (SELECT cid, ce2,
       |    sqrt(list_sum(list_transform(ce2, x -> x * x))) AS n2
       |  FROM c2 WHERE list_sum(list_transform(ce2, x -> x * x)) > 0),
       |p2 AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce2
       |  FROM h CROSS JOIN c2n c),
       |uu AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    unnest(ce2) AS xc FROM p2),
       |gg AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv
       |  FROM uu GROUP BY 1, 2),
       |sim2 AS (SELECT gg.vid, gg.cid, gg.dt / (sqrt(gg.nv) * c.n2) AS s
       |  FROM gg JOIN c2n c ON c.cid = gg.cid),
       |assign2 AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim2) WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, cid FROM (SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
       |  FROM sim2 WHERE vid < 5) WHERE rn <= $nProbe),
       |cand AS (SELECT p.query_id, a.vid AS neighbor_id
       |  FROM probes p JOIN assign2 a ON a.cid = p.cid
       |  WHERE a.vid <> p.query_id),
       |pr2 AS (SELECT query_id, neighbor_id, eq.embedding AS qe,
       |    ec.embedding AS ce
       |  FROM cand JOIN e eq ON eq.id = cand.query_id
       |  JOIN e ec ON ec.id = cand.neighbor_id),
       |u2 AS (SELECT query_id, neighbor_id, CAST(unnest(qe) AS DOUBLE) AS xq,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM pr2),
       |g2 AS (SELECT query_id, neighbor_id, sum(xq * xc) AS dt,
       |    sum(xq * xq) AS nq, sum(xc * xc) AS nc FROM u2 GROUP BY 1, 2),
       |r2 AS (SELECT query_id, neighbor_id,
       |    round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine FROM g2),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM r2)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Cluster-balanced curation sample (SemDeDup/DCLM-style) under the
    * FULL hash gate: every embedding assigns to its nearest hash-seeded
    * centroid (the q_s3b seed + argmax-cosine machinery, no refinement)
    * and a deterministic (hash, id) reservoir keeps 20 docs per cluster
    * — diversity-preserving curation as one assignment aggregate + one
    * k-bounded cap. The oracle replays seeding, every cosine, the
    * argmax tie-break, and the reservoir rank. */
  private def qX15clusterBalanced(s: SparkSession, d: String): DataFrame =
    Similarity.clusterBalancedSample(emb(s, d), "vec_id", "embedding",
        nCentroids = 16, perCluster = 20)
      .orderBy("cluster", "vec_id")
  private val oX15 =
    """WITH e AS (SELECT vec_id AS id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |h AS (SELECT id, embedding,
      |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
      |      1, 6)) AS BIGINT) AS hh FROM e),
      |cents AS (SELECT id AS cid, embedding AS ce FROM h
      |  ORDER BY hh, id LIMIT 16),
      |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
      |  FROM h CROSS JOIN cents c),
      |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
      |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
      |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
      |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
      |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
      |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
      |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
      |bh AS (SELECT cid, vid,
      |    CAST(concat('0x', substr(md5(concat(CAST(vid AS VARCHAR), '|bal')),
      |      1, 6)) AS BIGINT) AS b FROM assign),
      |rk AS (SELECT cid, vid,
      |    row_number() OVER (PARTITION BY cid ORDER BY b, vid) AS rn
      |  FROM bh)
      |SELECT cid AS cluster, vid AS vec_id FROM rk WHERE rn <= 20
      |ORDER BY cluster, vec_id""".stripMargin

  /** Per-cluster cohesion diagnostics under the FULL hash gate — the
    * q_x15 assignment measured: population, mean winning cosine (1e-6
    * regrid, order-free DECIMAL sum, one division), min winning cosine.
    * The oracle replays every cosine, the argmax, and the exact-grid
    * fold. */
  private def qX16clusterStats(s: SparkSession, d: String): DataFrame =
    Similarity.clusterStats(emb(s, d), "vec_id", "embedding",
        nCentroids = 16)
      .orderBy("cluster")
  private val oX16 =
    """WITH e AS (SELECT vec_id AS id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |  WHERE list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
      |h AS (SELECT id, embedding,
      |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
      |      1, 6)) AS BIGINT) AS hh FROM e),
      |cents AS (SELECT id AS cid, embedding AS ce FROM h
      |  ORDER BY hh, id LIMIT 16),
      |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
      |  FROM h CROSS JOIN cents c),
      |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
      |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
      |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
      |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
      |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
      |assign AS (SELECT vid, cid, s FROM (SELECT vid, cid, s,
      |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
      |  FROM sim) WHERE rn = 1),
      |c6 AS (SELECT cid,
      |    CAST(floor(s * 1000000.0 + 0.5) AS BIGINT) AS c6 FROM assign)
      |SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(c6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |    / 1000000.0, 6) AS mean_cosine,
      |  round(CAST(min(c6) AS DOUBLE) / 1000000.0, 6) AS min_cosine
      |FROM c6 GROUP BY 1 ORDER BY cluster""".stripMargin

  /** PQ (product-quantization) ANN — codes scanned with ADC lookup
    * tables, exact re-rank of the bounded candidate set. Fully oracled:
    * every stage (md5-seeded codebook, normalization, argmin encoding,
    * fixed-order LUT sums, re-rank) replays in DuckDB with identical
    * ascending-index float math. */
  private def qS4annPq(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Pq.pqTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, m = 16, dim = 64, codebookSize = 16,
        rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  private val oS4 = {
    val m = 16; val dsub = 4; val cbk = 16; val k = 5; val rerank = 50
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |nvs AS (SELECT id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / nrm) AS nv FROM e),
       |sd AS (SELECT code, nv FROM (SELECT id, nv, row_number() OVER (
       |    ORDER BY CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR),
       |      '|pq')), 1, 6)) AS BIGINT), id) - 1 AS code
       |  FROM nvs) WHERE code < $cbk),
       |cw AS (SELECT sd.code, r.j,
       |    list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub) AS w,
       |    list_sum(list_transform(
       |      list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub),
       |      x -> x * x)) / 2 AS half
       |  FROM sd CROSS JOIN range(0, $m) r(j)),
       |sc AS (SELECT n.id, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(n.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) - c.half AS s
       |  FROM nvs n CROSS JOIN cw c),
       |enc AS (SELECT id, list(code ORDER BY j) AS codes FROM (
       |    SELECT id, j, code, row_number() OVER (PARTITION BY id, j
       |      ORDER BY s DESC, code) AS rn FROM sc)
       |  WHERE rn = 1 GROUP BY id),
       |q AS (SELECT id AS query_id, nv FROM nvs WHERE id < 5),
       |lutp AS (SELECT q.query_id, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(q.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) AS p
       |  FROM q CROSS JOIN cw c),
       |lut AS (SELECT query_id, list(pl ORDER BY j) AS lut FROM (
       |    SELECT query_id, j, list(p ORDER BY code) AS pl
       |    FROM lutp GROUP BY 1, 2) GROUP BY 1),
       |adc AS (SELECT l.query_id, enc.id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${m + 1}),
       |      j -> l.lut[j][enc.codes[j] + 1])), 6) AS s
       |  FROM lut l CROSS JOIN enc WHERE enc.id <> l.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** OPQ (Ge et al., CVPR 2013) under the FULL hash gate: the PCA
    * eigen-allocation rotation learned from the corpus
    * ([[graft.operators.Opq.rotationFromPca]]), applied to a 16-dim
    * embedding prefix (q_s19's slice convention keeps the rotation
    * literal block compact), then the UNCHANGED q_s4 PQ pipeline over
    * the rotated column at m=4. The rotation cannot be re-derived in SQL
    * (Jacobi eigen-decomposition), so the query registers the R it used
    * per dir and the oracle embeds those EXACT doubles as literals —
    * from the literals on, every stage (bit-exact rotated coordinates
    * via ascending list_sum dots, norms, md5-seeded codebook, argmin
    * encode, LUT sums, exact re-rank) replays in DuckDB with identical
    * float math. The recall CLAIM (OPQ beats plain PQ at equal code
    * bytes) is gated separately in DedupSimilaritySpec on the rank-8
    * low-rank table. */
  private val opqRotCache = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Double]]]
  private val opqLastDir =
    new java.util.concurrent.atomic.AtomicReference[String]("")
  private def qS20annOpq(s: SparkSession, d: String): DataFrame = {
    val e16 = emb(s, d).select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("e16"))
    val r = opqRotCache.getOrElseUpdate(d,
      graft.operators.Opq.rotationFromPca(e16, "e16", dim = 16, m = 4))
    opqLastDir.set(d)
    val rc = graft.operators.Opq.rotate(e16, "e16", r, "rot")
    graft.operators.Pq.pqTopK(rc, rc.where(col("vec_id") < 5), "vec_id",
        "rot", k = 5, m = 4, dim = 16, codebookSize = 16, rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  private def oS20: String = {
    val m = 4; val dsub = 4; val cbk = 16; val k = 5; val rerank = 50
    val dim = 16
    opqRotCache.get(opqLastDir.get) match {
      case None =>
        // the literals exist only after the query ran in this JVM —
        // Verify always runs queries before dumping oracle_sql.json, so
        // a consumer can only see this placeholder by reading the map
        // without running q_s20 (e.g. the keys-only contract spec)
        "-- q_s20 oracle is emitted after qS20annOpq runs (R literals)"
      case Some(r) =>
        val rows = r.zipWithIndex.map { case (row, i) =>
          s"($i, ${row.mkString("[", ", ", "]")})"
        }.mkString(",\n    ")
        s"""WITH rotm AS (SELECT * FROM (VALUES
           |    $rows) t(ri, rvec)),
           |e0 AS (SELECT vec_id AS id,
           |    list_slice(embedding, 1, $dim) AS e16 FROM embeddings),
           |rote AS (SELECT e0.id, r.ri,
           |    list_sum(list_transform(range(1, ${dim + 1}),
           |      i -> r.rvec[i] * CAST(e0.e16[i] AS DOUBLE))) AS x
           |  FROM e0 CROSS JOIN rotm r),
           |rv AS (SELECT id, list(x ORDER BY ri) AS v FROM rote GROUP BY 1),
           |e AS (SELECT id, v,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           |  FROM rv WHERE list_sum(list_transform(v, x -> x * x)) > 0),
           |nvs AS (SELECT id, list_transform(v, x -> x / nrm) AS nv FROM e),
           |sd AS (SELECT code, nv FROM (SELECT id, nv, row_number() OVER (
           |    ORDER BY CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR),
           |      '|pq')), 1, 6)) AS BIGINT), id) - 1 AS code
           |  FROM nvs) WHERE code < $cbk),
           |cw AS (SELECT sd.code, r.j,
           |    list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub) AS w,
           |    list_sum(list_transform(
           |      list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub),
           |      x -> x * x)) / 2 AS half
           |  FROM sd CROSS JOIN range(0, $m) r(j)),
           |sc AS (SELECT n.id, c.j, c.code,
           |    list_sum(list_transform(range(1, ${dsub + 1}),
           |      i -> list_slice(n.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
           |        * c.w[i])) - c.half AS s
           |  FROM nvs n CROSS JOIN cw c),
           |enc AS (SELECT id, list(code ORDER BY j) AS codes FROM (
           |    SELECT id, j, code, row_number() OVER (PARTITION BY id, j
           |      ORDER BY s DESC, code) AS rn FROM sc)
           |  WHERE rn = 1 GROUP BY id),
           |q AS (SELECT id AS query_id, nv FROM nvs WHERE id < 5),
           |lutp AS (SELECT q.query_id, c.j, c.code,
           |    list_sum(list_transform(range(1, ${dsub + 1}),
           |      i -> list_slice(q.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
           |        * c.w[i])) AS p
           |  FROM q CROSS JOIN cw c),
           |lut AS (SELECT query_id, list(pl ORDER BY j) AS lut FROM (
           |    SELECT query_id, j, list(p ORDER BY code) AS pl
           |    FROM lutp GROUP BY 1, 2) GROUP BY 1),
           |adc AS (SELECT l.query_id, enc.id AS neighbor_id,
           |    round(list_sum(list_transform(range(1, ${m + 1}),
           |      j -> l.lut[j][enc.codes[j] + 1])), 6) AS s
           |  FROM lut l CROSS JOIN enc WHERE enc.id <> l.query_id),
           |cand AS (SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
           |    FROM adc) WHERE rn <= $rerank),
           |ex AS (SELECT c.query_id, c.neighbor_id,
           |    round(list_sum(list_transform(range(1, ${dim + 1}),
           |      i -> eq.v[i] * ec.v[i])) / (eq.nrm * ec.nrm), 6) AS cosine
           |  FROM cand c JOIN e eq ON eq.id = c.query_id
           |  JOIN e ec ON ec.id = c.neighbor_id),
           |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
           |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
           |    AS rank FROM ex)
           |SELECT query_id, neighbor_id, cosine, rank
           |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
    }
  }

  /** SQ8 scalar-quantization ANN under the FULL hash gate: per-dim
    * [min,max] bounds over the normalized corpus, floor(·255+0.5)
    * levels, asymmetric dequantized-dot scan, exact re-rank. The oracle
    * re-learns the bounds and replays every quantize/dequantize/score
    * double in the proven ascending-index float order — one drifted
    * level anywhere is a hash mismatch. */
  private def qS15annSq8(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Pq.sq8TopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, dim = 64, rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  private val oS15 = {
    val k = 5; val rerank = 50
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |nvs AS (SELECT id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / nrm) AS nv FROM e),
       |bounds AS (SELECT r.i AS i, min(nv[r.i]) AS mn, max(nv[r.i]) AS mx
       |  FROM nvs CROSS JOIN range(1, 65) r(i) GROUP BY 1),
       |cd AS (SELECT id, r.i AS i, CASE WHEN b.mx > b.mn THEN
       |      CAST(floor((nv[r.i] - b.mn) / (b.mx - b.mn) * 255.0 + 0.5)
       |        AS INT) ELSE 0 END AS code
       |  FROM nvs CROSS JOIN range(1, 65) r(i) JOIN bounds b ON b.i = r.i),
       |dqv AS (SELECT cd.id,
       |    list(b.mn + code * ((b.mx - b.mn) / 255.0) ORDER BY cd.i) AS dq
       |  FROM cd JOIN bounds b ON b.i = cd.i GROUP BY 1),
       |q AS (SELECT id AS query_id, nv FROM nvs WHERE id < 5),
       |adc AS (SELECT q.query_id, d.id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> q.nv[i] * d.dq[i])), 6) AS s
       |  FROM q CROSS JOIN dqv d WHERE d.id <> q.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Binary sign-sketch ANN under the FULL hash gate: 64 sign bits per
    * vector, Hamming candidate scan (smallest distance, id tiebreak),
    * exact cosine re-rank. The oracle recomputes every per-dimension
    * sign disagreement count — the integer Hamming distances, the
    * candidate cut, and the re-rank all replay exactly (sign of the
    * raw float is scale-invariant, so no normalization crosses the
    * gate). */
  private def qS16hamming(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    graft.operators.Pq.binarySignTopK(e, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, dim = 64, rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  private val oS16 = {
    val k = 5; val rerank = 50
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |q AS (SELECT id AS query_id, embedding AS qe, nrm AS qn FROM e
       |  WHERE id < 5),
       |ham AS (SELECT q.query_id, c.id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> CASE WHEN (CAST(q.qe[i] AS DOUBLE) >= 0)
       |                  <> (CAST(c.embedding[i] AS DOUBLE) >= 0)
       |           THEN 1 ELSE 0 END)) AS BIGINT) AS h
       |  FROM q CROSS JOIN e c WHERE c.id <> q.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY h, neighbor_id) AS rn
       |    FROM ham) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Matryoshka-truncation ANN under the FULL hash gate: 16-of-64
    * prefix candidate scan, renormalized prefix cosines, exact
    * full-width re-rank. The oracle re-slices every prefix, re-derives
    * both norms, and replays the candidate cut and re-rank — one
    * drifted prefix coordinate anywhere is a hash mismatch. */
  private def qS19matryoshka(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    Similarity.matryoshkaTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, prefixDim = 16, rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  private val oS19 = {
    val k = 5; val rerank = 50; val pd = 16
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |pc AS (SELECT id, list_transform(list_slice(embedding, 1, $pd),
       |      x -> CAST(x AS DOUBLE)) AS cp,
       |    sqrt(list_sum(list_transform(list_slice(embedding, 1, $pd),
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cpn
       |  FROM e),
       |pcz AS (SELECT * FROM pc WHERE cpn > 0),
       |q AS (SELECT id AS query_id, cp AS qp, cpn AS qpn FROM pcz
       |  WHERE id < 5),
       |sc AS (SELECT q.query_id, c.id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${pd + 1}),
       |      i -> q.qp[i] * c.cp[i])) / (q.qpn * c.cpn), 6) AS s
       |  FROM q CROSS JOIN pcz c WHERE c.id <> q.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
       |    FROM sc) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-PQ — the composed 100 TB ANN: coarse-quantizer probes restrict
    * the ADC scan to nProbe inverted lists, exact re-rank bounds the
    * final stage. Fully oracled by composing the proven oS3 CTEs
    * (centroid sample, assignment, probes) with the oS4 CTEs (codebook,
    * encode, LUT, ADC) — the only new SQL is the adc join going through
    * probes∘assign instead of the full code table. */
  private def qS5annIvfPq(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // index parameters from the SCALE RULE, not a pinned constant: nlist
    // grows ~√n (suggestedCentroids — list size ≈ list count), and nProbe
    // keeps a constant ~¼ probe fraction so recall doesn't decay as the
    // corpus grows. The one count job is index-build planning (a real
    // build reads |corpus| from table stats); the oracle derives the SAME
    // values with scalar-subquery arithmetic, so the graded config IS the
    // rule's config at every sf (sf0.01 → 23 lists/6 probes, sf0.1 → 71/18).
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    graft.operators.Pq.ivfPqTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, nCentroids = nCent, nProbe = nProbe, m = 16,
        dim = 64, codebookSize = 16, rerankDepth = 50)
      .orderBy("query_id", "rank")
  }
  /** oS5's CTE chain with an optional DELETED-rows predicate injected
    * into the ADC candidate scan (`a.vid` is the stored corpus id
    * there) — so oS13 (the delete-lifecycle oracle) is oS5 with the
    * tombstoned rows carved out of the code table and NOTHING else
    * changed: seeds, centroids, codebooks, and probe routing all replay
    * over the FULL corpus, exactly as the frozen on-disk quantizer
    * behaves after a delete. */
  private def oS5sql(deadPred: String): String = {
    val m = 16; val dsub = 4; val cbk = 16; val k = 5; val rerank = 50
    val dead = if (deadPred.isEmpty) "" else s" AND NOT ($deadPred)"
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |nvs AS (SELECT id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / nrm) AS nv FROM e),
       |ncl AS (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n
       |  FROM e),
       |npl AS (SELECT greatest(4, CAST(ceil(n / 4.0) AS BIGINT)) AS n FROM ncl),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM (
       |    SELECT id, embedding, row_number() OVER (ORDER BY hh, id) AS rn
       |    FROM h)
       |  WHERE rn <= (SELECT n FROM ncl)),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, cid FROM (SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
       |  FROM sim WHERE vid < 5) WHERE rn <= (SELECT n FROM npl)),
       |sd AS (SELECT code, nv FROM (SELECT id, nv, row_number() OVER (
       |    ORDER BY CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR),
       |      '|pq')), 1, 6)) AS BIGINT), id) - 1 AS code
       |  FROM nvs) WHERE code < $cbk),
       |cw AS (SELECT sd.code, r.j,
       |    list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub) AS w,
       |    list_sum(list_transform(
       |      list_slice(sd.nv, r.j * $dsub + 1, r.j * $dsub + $dsub),
       |      x -> x * x)) / 2 AS half
       |  FROM sd CROSS JOIN range(0, $m) r(j)),
       |sc AS (SELECT n.id, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(n.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) - c.half AS s
       |  FROM nvs n CROSS JOIN cw c),
       |enc AS (SELECT id, list(code ORDER BY j) AS codes FROM (
       |    SELECT id, j, code, row_number() OVER (PARTITION BY id, j
       |      ORDER BY s DESC, code) AS rn FROM sc)
       |  WHERE rn = 1 GROUP BY id),
       |q AS (SELECT id AS query_id, nv FROM nvs WHERE id < 5),
       |lutp AS (SELECT q.query_id, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(q.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) AS p
       |  FROM q CROSS JOIN cw c),
       |lut AS (SELECT query_id, list(pl ORDER BY j) AS lut FROM (
       |    SELECT query_id, j, list(p ORDER BY code) AS pl
       |    FROM lutp GROUP BY 1, 2) GROUP BY 1),
       |adc AS (SELECT l.query_id, a.vid AS neighbor_id,
       |    round(list_sum(list_transform(range(1, ${m + 1}),
       |      j -> l.lut[j][enc.codes[j] + 1])), 6) AS s
       |  FROM lut l JOIN probes pb ON pb.query_id = l.query_id
       |  JOIN assign a ON a.cid = pb.cid
       |  JOIN enc ON enc.id = a.vid
       |  WHERE a.vid <> l.query_id$dead),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }
  private val oS5 = oS5sql("")
  /** q_s13's oracle: oS5 minus the tombstoned rows (vec_id % 7 = 3,
    * sparing the query ids) in the candidate scan only. */
  private val oS13 = oS5sql("a.vid % 7 = 3 AND a.vid >= 5")

  /** Exact boilerplate shingles (document frequency ≥ 5). The Count-Min
    * sketch (graft.functions.CountMin) estimates the same statistic with
    * bounded state; its accuracy is gated in SinksStreamSpec. */
  private def qT5heavy(s: SparkSession, d: String): DataFrame =
    TextStats.heavyShingles(docs(s, d), "doc_id", "text", n = 3, minDocs = 5L)
      .orderBy("shingle")
  private val oT5 =
    """WITH w AS (SELECT doc_id,
      |  string_split_regex(trim(lower(regexp_replace(text, '[^\p{L}\p{M}\p{N}]+|([\x{3005}\x{3040}-\x{30ff}\x{31f0}-\x{31ff}\x{3400}-\x{4dbf}\x{4e00}-\x{9fff}\x{ac00}-\x{d7a3}])', ' \1 ', 'g'))), ' +') AS ws
      |FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |  range(1, greatest(len(ws) - 2, 0) + 1),
      |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
      |e AS (SELECT doc_id, unnest(sh) AS sg FROM s)
      |SELECT sg AS shingle, CAST(count(*) AS BIGINT) AS doc_freq
      |FROM e GROUP BY 1 HAVING count(*) >= 5 ORDER BY shingle""".stripMargin

  /** BM25 keyword ranking. The oracle mirrors the fixed-term-order score
    * assembly with Scala-computed double constants embedded as literals
    * (no row-order-dependent double sums; tf/df/len are exact integers). */
  private val Bm25Terms = Seq("spark", "join", "window")
  private def qT6bm25(s: SparkSession, d: String): DataFrame =
    Ranking.bm25(docs(s, d), "doc_id", "text", Bm25Terms)
  private val oT6 = {
    val k1 = 1.2; val b = 0.75
    val idx = Bm25Terms.indices
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(count(*) FILTER (t = '$t') AS BIGINT) AS tf$i"
    }.mkString(",\n    ")
    val dfCols = idx.map(i =>
      s"CAST(count(*) FILTER (tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
    val avgdl = "(CAST(sumlen AS DOUBLE) / n)"
    val contribs = idx.map { i =>
      s"(ln(CAST(1.0 AS DOUBLE) + (n - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))" +
        s" * (tf$i * CAST(${k1 + 1.0} AS DOUBLE)))" +
        s" / (tf$i + CAST($k1 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)" +
        s" + CAST($b AS DOUBLE) * len / $avgdl))"
    }.mkString(" + ")
    val anyTf = idx.map(i => s"tf$i").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS t
       |FROM documents),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len,
       |    $tfCols
       |  FROM tok GROUP BY 1),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(len) AS BIGINT) AS sumlen, $dfCols FROM d)
       |SELECT doc_id, round($contribs, 6) AS score
       |FROM d CROSS JOIN g WHERE ($anyTf) > 0
       |ORDER BY score DESC, doc_id""".stripMargin
  }

  /** One per-process root for the gate queries' on-disk indexes,
    * deleted by a shutdown hook. Inside it, paths are deterministic per
    * (variant, dataset dir) and overwritten in place, so repeated gate
    * runs in one session reuse one dir; the per-process root (a) keeps
    * two concurrent JVMs against the same SF from racing
    * build-overwrite vs search on one directory and (b) guarantees the
    * bytes don't outlive the process — a PID-suffixed name alone would
    * leak one tree per forked bench JVM forever. Keyed by md5 of the
    * FULL dataset path (hashCode could collide across dirs → silently
    * searching a stale index). */
  private lazy val indexTmpRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  private[graft] def indexDir(variant: String, d: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    new java.io.File(indexTmpRoot.toFile, s"${variant}_$key").getAbsolutePath
  }

  /** The PERSISTED IVF-PQ index under the same hash gate as q_s5: build
    * the index to disk (codes parquet partitioned by inverted list,
    * centroid + codebook sidecars), then answer the query batch from the
    * index files alone (+ the corpus table for exact re-rank). Same
    * scale-rule parameters as q_s5, so the oracle is oS5 VERBATIM — the
    * round trip through the persisted layout must be invisible to the
    * results (the partition-pruned scan is asserted in
    * DedupSimilaritySpec). */
  private def qS7indexSearch(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    val dir = indexDir("q", d)
    graft.operators.IvfPqIndex.build(e, "vec_id", "embedding", dir,
      nCentroids = nCent, m = 16, dim = 64, codebookSize = 16)
    graft.operators.IvfPqIndex.search(s, dir, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nProbe = nProbe, rerankDepth = 50,
        rerank = Some(e))
      .orderBy("query_id", "rank")
  }

  /** The index DELETE lifecycle under the hash gate: build exactly as
    * q_s7, tombstone every 7th stored vector (sparing the 5 query ids),
    * then serve the q_s5 query set from the TOMBSTONE-MASKED index — the
    * live serving path, where the quantizer sidecars still reflect the
    * full corpus and the deleted rows must drop between the pruned codes
    * scan and ADC scoring (so freed top-k slots REFILL with the
    * next-best live rows, never go short). Oracle: oS5 with the deleted
    * ids carved out of the candidate scan only — a tombstoned row
    * surfacing anywhere (ADC candidates, re-rank, final top-k) is a
    * hash mismatch. The compact-equivalence half (physical drop serves
    * byte-identically) is spec-gated in DedupSimilaritySpec. */
  private def qS13indexDelete(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    val dir = indexDir("del", d)
    graft.operators.IvfPqIndex.build(e, "vec_id", "embedding", dir,
      nCentroids = nCent, m = 16, dim = 64, codebookSize = 16)
    graft.operators.IvfPqIndex.delete(
      e.where(col("vec_id") % 7 === 3 && col("vec_id") >= 5), "vec_id", dir)
    graft.operators.IvfPqIndex.search(s, dir, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nProbe = nProbe, rerankDepth = 50,
        rerank = Some(e))
      .orderBy("query_id", "rank")
  }

  /** The index's INCREMENTAL path under the same hash gate: build over
    * the corpus minus an engineered batch, `append` the batch, then
    * serve the q_s5 query set from the stitched index. The batch is the
    * 8 largest vec_ids outside BOTH deterministic seed selections (IVF
    * centroids, PQ codebook = the smallest-md5 ids under their salts),
    * so removing and re-appending it cannot change the trained
    * quantizer — build+append is row-identical to the full build, and
    * the oracle is oS5 VERBATIM: a single drifted code row in the
    * appended partition files is a hash mismatch. Driver-side work is
    * three bounded collects (16 + 16 seed ids, 64 candidate ids). */
  private def qS9indexAppend(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    val ivfSeeds = Similarity.sampleCentroids(e, "vec_id", "embedding", nCent)
      .select("centroid_id").collect().map(_.getLong(0)).toSet
    val pqSeeds = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v"))).where(col("nrm") > 0)
      .orderBy(graft.operators.Sampling.hash24(col("vec_id"), "pq").asc,
        col("vec_id").asc)
      .limit(16).select("vec_id").collect().map(_.getLong(0)).toSet
    val batchIds = e.select("vec_id").orderBy(desc("vec_id")).limit(64)
      .collect().map(_.getLong(0)).filterNot(ivfSeeds ++ pqSeeds)
      .take(8).toSeq
    val dir = indexDir("a", d)
    graft.operators.IvfPqIndex.build(
      e.where(!col("vec_id").isin(batchIds: _*)), "vec_id", "embedding",
      dir, nCentroids = nCent, m = 16, dim = 64, codebookSize = 16)
    graft.operators.IvfPqIndex.append(
      e.where(col("vec_id").isin(batchIds: _*)), "vec_id", "embedding", dir)
    graft.operators.IvfPqIndex.search(s, dir, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nProbe = nProbe, rerankDepth = 50,
        rerank = Some(e))
      .orderBy("query_id", "rank")
  }

  /** Residual IVF-PQ under the FULL hash gate: same scale-rule
    * parameters as q_s5 but with `residual = true` — per-list residual
    * codebooks, ADC = exact per-list coarse term + per-(query, list)
    * LUT. The oracle extends oS5's proven CTE structure with the
    * residual stages: unit centroids, per-vector residuals, per-LIST
    * seed selection (row_number over (hash, id) within each list,
    * cyclically padded via `srn = code % list_seed_count`), per-list
    * codeword slices/halves, argmin encode against the OWN list's
    * codewords only, and the qdotc + LUT-sum score — every float fold
    * ascending, the package's parity conventions throughout. */
  private def qS10annResidual(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    graft.operators.Pq.ivfPqTopK(e, e.where(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, nCentroids = nCent, nProbe = nProbe, m = 16,
        dim = 64, codebookSize = 16, rerankDepth = 50, residual = true)
      .orderBy("query_id", "rank")
  }
  private val oS10 = {
    val m = 16; val dsub = 4; val cbk = 16; val k = 5; val rerank = 50
    s"""WITH e AS (SELECT vec_id AS id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |nvs AS (SELECT id, list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) / nrm) AS nv FROM e),
       |ncl AS (SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n
       |  FROM e),
       |npl AS (SELECT greatest(4, CAST(ceil(n / 4.0) AS BIGINT)) AS n FROM ncl),
       |h AS (SELECT id, embedding,
       |    CAST(concat('0x', substr(md5(concat(CAST(id AS VARCHAR), '|ivf')),
       |      1, 6)) AS BIGINT) AS hh FROM e),
       |cents AS (SELECT id AS cid, embedding AS ce FROM (
       |    SELECT id, embedding, row_number() OVER (ORDER BY hh, id) AS rn
       |    FROM h)
       |  WHERE rn <= (SELECT n FROM ncl)),
       |cn AS (SELECT cid, ce, sqrt(list_sum(list_transform(ce,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm FROM cents),
       |cu AS (SELECT cid, list_transform(ce,
       |    x -> CAST(x AS DOUBLE) / cnrm) AS cu FROM cn),
       |p AS (SELECT h.id AS vid, c.cid, h.embedding AS ve, c.ce
       |  FROM h CROSS JOIN cents c),
       |u AS (SELECT vid, cid, CAST(unnest(ve) AS DOUBLE) AS xv,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g AS (SELECT vid, cid, sum(xv * xc) AS dt, sum(xv * xv) AS nv,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1, 2),
       |sim AS (SELECT vid, cid, dt / (sqrt(nv) * sqrt(nc)) AS s FROM g),
       |assign AS (SELECT vid, cid FROM (SELECT vid, cid, row_number() OVER (
       |    PARTITION BY vid ORDER BY s DESC, cid) AS rn FROM sim) WHERE rn = 1),
       |probes AS (SELECT vid AS query_id, cid FROM (SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, cid) AS rn
       |  FROM sim WHERE vid < 5) WHERE rn <= (SELECT n FROM npl)),
       |rsd AS (SELECT a.vid, a.cid,
       |    list_transform(range(1, 65), i -> n.nv[i] - cu.cu[i]) AS rv
       |  FROM assign a JOIN nvs n ON n.id = a.vid JOIN cu ON cu.cid = a.cid),
       |sh AS (SELECT vid, cid, rv,
       |    CAST(concat('0x', substr(md5(concat(CAST(vid AS VARCHAR), '|pqr')),
       |      1, 6)) AS BIGINT) AS hh FROM rsd),
       |seedk AS (SELECT cid, rv, srn FROM (SELECT cid, rv,
       |    row_number() OVER (PARTITION BY cid ORDER BY hh, vid) - 1 AS srn
       |  FROM sh) WHERE srn < $cbk),
       |scnt AS (SELECT cid, count(*) AS sc FROM seedk GROUP BY 1),
       |cb AS (SELECT s2.cid, r.c AS code, sk.rv
       |  FROM scnt s2 CROSS JOIN range(0, $cbk) r(c)
       |  JOIN seedk sk ON sk.cid = s2.cid AND sk.srn = r.c % s2.sc),
       |cw AS (SELECT cb.cid, cb.code, r.j,
       |    list_slice(cb.rv, r.j * $dsub + 1, r.j * $dsub + $dsub) AS w,
       |    list_sum(list_transform(
       |      list_slice(cb.rv, r.j * $dsub + 1, r.j * $dsub + $dsub),
       |      x -> x * x)) / 2 AS half
       |  FROM cb CROSS JOIN range(0, $m) r(j)),
       |sc2 AS (SELECT rs.vid, rs.cid, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(rs.rv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) - c.half AS s
       |  FROM rsd rs JOIN cw c ON c.cid = rs.cid),
       |enc AS (SELECT vid, cid, list(code ORDER BY j) AS codes FROM (
       |    SELECT vid, cid, j, code, row_number() OVER (PARTITION BY vid, j
       |      ORDER BY s DESC, code) AS rn FROM sc2)
       |  WHERE rn = 1 GROUP BY vid, cid),
       |q2 AS (SELECT id AS query_id, nv FROM nvs WHERE id < 5),
       |qc AS (SELECT pb.query_id, pb.cid,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(cn.ce[i] AS DOUBLE)))
       |      / (eq.nrm * cn.cnrm) AS qdotc
       |  FROM probes pb JOIN e eq ON eq.id = pb.query_id
       |  JOIN cn ON cn.cid = pb.cid),
       |lutr AS (SELECT pb.query_id, c.cid, c.j, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> list_slice(q2.nv, c.j * $dsub + 1, c.j * $dsub + $dsub)[i]
       |        * c.w[i])) AS p
       |  FROM probes pb JOIN q2 ON q2.query_id = pb.query_id
       |  JOIN cw c ON c.cid = pb.cid),
       |lut2 AS (SELECT query_id, cid, list(pl ORDER BY j) AS lut FROM (
       |    SELECT query_id, cid, j, list(p ORDER BY code) AS pl
       |    FROM lutr GROUP BY 1, 2, 3) GROUP BY 1, 2),
       |adc AS (SELECT l.query_id, enc.vid AS neighbor_id,
       |    round(qc.qdotc + list_sum(list_transform(range(1, ${m + 1}),
       |      j -> l.lut[j][enc.codes[j] + 1])), 6) AS s
       |  FROM lut2 l JOIN qc ON qc.query_id = l.query_id AND qc.cid = l.cid
       |  JOIN enc ON enc.cid = l.cid
       |  WHERE enc.vid <> l.query_id),
       |cand AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= $rerank),
       |ex AS (SELECT c.query_id, c.neighbor_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> CAST(eq.embedding[i] AS DOUBLE)
       |        * CAST(ec.embedding[i] AS DOUBLE))) / (eq.nrm * ec.nrm), 6)
       |      AS cosine
       |  FROM cand c JOIN e eq ON eq.id = c.query_id
       |  JOIN e ec ON ec.id = c.neighbor_id),
       |rk AS (SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT)
       |    AS rank FROM ex)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM rk WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The persisted RESIDUAL index under the hash gate: q_s10's residual
    * pipeline through the build-once/query-many layout (stacked per-list
    * codebook in the sidecar, same partitioned codes). Oracle is oS10
    * VERBATIM — the persisted round trip must be invisible to results,
    * exactly the q_s7-vs-q_s5 contract for the residual mode. */
  private def qS11residualIndex(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val n = nzEmbCount(s, d)
    val nCent = Similarity.suggestedCentroids(n)
    val nProbe = math.max(4, math.ceil(nCent / 4.0).toInt)
    val dir = indexDir("r", d)
    graft.operators.IvfPqIndex.build(e, "vec_id", "embedding", dir,
      nCentroids = nCent, m = 16, dim = 64, codebookSize = 16,
      residual = true)
    graft.operators.IvfPqIndex.search(s, dir, e.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nProbe = nProbe, rerankDepth = 50,
        rerank = Some(e))
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval (the RAG-serving shape): BM25 keyword retrieve
    * (top-50, deterministic (score desc, id) cut) → exact embedding-
    * cosine rerank of just those candidates against one query vector —
    * lexical recall, semantic precision. Scale shape: the BM25 stage is
    * the proven one-aggregate + broadcast-stats plan with a
    * TakeOrderedAndProject cut; the rerank touches ONLY the candidate
    * set (candidates ⋈ embeddings equi-join, broadcast 1-row query
    * vector, codegen VectorDot) — never a corpus-wide scan per query.
    * Oracle: oT6's scoring CTEs composed with oS1's unnest cosine
    * replay, same round-6 grid. */
  private def qS6hybrid(s: SparkSession, d: String): DataFrame = {
    val cands = Ranking.bm25(docs(s, d), "doc_id", "text", Bm25Terms,
      topK = 50)
    val e = emb(s, d)
    val qv = e.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qe"))
      .withColumn("qn", Similarity.norm(col("qe")))
      .where(col("qn") > 0)
    cands
      .join(e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("ce")),
        col("doc_id") === col("vec_id"))
      .withColumn("cn", Similarity.norm(col("ce")))
      .where(col("cn") > 0)
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), col("score"),
        round(Similarity.dot(col("qe"), col("ce")) /
          (col("qn") * col("cn")), 6).as("cosine"))
      .orderBy(desc("cosine"), col("doc_id"))
  }
  private val oS6 = {
    val k1 = 1.2; val b = 0.75
    val idx = Bm25Terms.indices
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(count(*) FILTER (t = '$t') AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfCols = idx.map(i =>
      s"CAST(count(*) FILTER (tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
    val avgdl = "(CAST(sumlen AS DOUBLE) / n)"
    val contribs = idx.map { i =>
      s"(ln(CAST(1.0 AS DOUBLE) + (n - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))" +
        s" * (tf$i * CAST(${k1 + 1.0} AS DOUBLE)))" +
        s" / (tf$i + CAST($k1 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)" +
        s" + CAST($b AS DOUBLE) * len / $avgdl))"
    }.mkString(" + ")
    val anyTf = idx.map(i => s"tf$i").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS t
       |FROM documents),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len, $tfCols
       |  FROM tok GROUP BY 1),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(len) AS BIGINT) AS sumlen, $dfCols FROM d),
       |cands AS (SELECT doc_id, round($contribs, 6) AS score
       |  FROM d CROSS JOIN g WHERE ($anyTf) > 0
       |  ORDER BY score DESC, doc_id LIMIT 50),
       |e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |p AS (SELECT c.doc_id, c.score, ce.embedding AS ce, q.qv
       |  FROM cands c JOIN e ce ON c.doc_id = ce.vec_id
       |  CROSS JOIN (SELECT embedding AS qv FROM e WHERE vec_id = 0) q),
       |u AS (SELECT doc_id, score, CAST(unnest(ce) AS DOUBLE) AS xc,
       |    CAST(unnest(qv) AS DOUBLE) AS xq FROM p),
       |g2 AS (SELECT doc_id, score, sum(xq * xc) AS dt, sum(xc * xc) AS nc,
       |    sum(xq * xq) AS nq FROM u GROUP BY 1, 2)
       |SELECT doc_id, score, round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine
       |FROM g2 ORDER BY cosine DESC, doc_id""".stripMargin
  }

  /** Reciprocal-rank fusion of the lexical and semantic candidate lists
    * — q_s6's two retrieval stages recast as PEERS (the other standard
    * hybrid): BM25 top-50 fused with brute-cosine top-50 for the same
    * query via `Ranking.rrfFuse`. Both rank columns AND the fused score
    * cross the gate, so the oracle pins per-list rank assignment, the
    * outer-join union (docs in one list only keep a null rank), and the
    * fixed-order 1/(60+r) sum. Ranks are assigned on k-bounded frames
    * (the window runs over the 50-row BM25 cut, not the corpus). */
  private def qS14rrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = Ranking.bm25(docs(s, d), "doc_id", "text", Bm25Terms, topK = 50)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(desc("score"), col("doc_id"))).as("rank"))
    val e = emb(s, d)
    val sem = Similarity.bruteForceTopK(e, e.where(col("vec_id") === 0),
        "vec_id", "embedding", k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Ranking.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", "rank")
  }
  private val oS14 = {
    val k1 = 1.2; val b = 0.75
    val idx = Bm25Terms.indices
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(count(*) FILTER (t = '$t') AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfCols = idx.map(i =>
      s"CAST(count(*) FILTER (tf$i > 0) AS BIGINT) AS df$i").mkString(", ")
    val avgdl = "(CAST(sumlen AS DOUBLE) / n)"
    val contribs = idx.map { i =>
      s"(ln(CAST(1.0 AS DOUBLE) + (n - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)))" +
        s" * (tf$i * CAST(${k1 + 1.0} AS DOUBLE)))" +
        s" / (tf$i + CAST($k1 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE)" +
        s" + CAST($b AS DOUBLE) * len / $avgdl))"
    }.mkString(" + ")
    val anyTf = idx.map(i => s"tf$i").mkString(" + ")
    s"""WITH tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(lower(regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +')) AS t
       |FROM documents),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len, $tfCols
       |  FROM tok GROUP BY 1),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(len) AS BIGINT) AS sumlen, $dfCols FROM d),
       |cut AS (SELECT doc_id, round($contribs, 6) AS score
       |  FROM d CROSS JOIN g WHERE ($anyTf) > 0
       |  ORDER BY score DESC, doc_id LIMIT 50),
       |lex AS (SELECT doc_id, CAST(row_number() OVER (
       |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank_lex FROM cut),
       |e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0),
       |p AS (SELECT c.vec_id AS cid, q.embedding AS qe, c.embedding AS ce
       |  FROM e c, (SELECT embedding FROM e WHERE vec_id = 0) q
       |  WHERE c.vec_id <> 0),
       |u AS (SELECT cid, CAST(unnest(qe) AS DOUBLE) AS xq,
       |    CAST(unnest(ce) AS DOUBLE) AS xc FROM p),
       |g2 AS (SELECT cid, sum(xq * xc) AS dt, sum(xq * xq) AS nq,
       |    sum(xc * xc) AS nc FROM u GROUP BY 1),
       |r2 AS (SELECT cid, round(dt / (sqrt(nq) * sqrt(nc)), 6) AS cosine
       |  FROM g2),
       |sem AS (SELECT cid AS doc_id, rank_sem FROM (SELECT cid,
       |    CAST(row_number() OVER (ORDER BY cosine DESC, cid) AS BIGINT)
       |      AS rank_sem FROM r2) WHERE rank_sem <= 50),
       |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    lex.rank_lex, sem.rank_sem
       |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, rank_lex, rank_sem,
       |  round(coalesce(1.0 / (CAST(60.0 AS DOUBLE) + rank_lex), 0)
       |    + coalesce(1.0 / (CAST(60.0 AS DOUBLE) + rank_sem), 0), 6) AS rrf
       |FROM f ORDER BY rrf DESC, doc_id""".stripMargin
  }

  // ---- sampling / splitting / PII -----------------------------------------

  /** Deterministic train/test split: membership is md5(id)-derived, so the
    * DuckDB oracle reproduces the EXACT assignment (floor(0.2·2^24) =
    * 3355443). */
  private def qX1split(s: SparkSession, d: String): DataFrame =
    Sampling.withSplit(docs(s, d), "doc_id", testFraction = 0.2)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .orderBy("split", "lang")
  private val oX1 =
    s"""WITH h AS (SELECT doc_id, lang,
      |  ${splitCaseSql("doc_id")} AS split FROM documents)
      |SELECT split, lang, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
      |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** PII scrub over deterministically injected emails/phones (the corpus
    * itself has none — the injection exercises the regexes on both
    * engines identically). */
  private def qX2pii(s: SparkSession, d: String): DataFrame = {
    val injected = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or +1 (555) 010-"),
      col("doc_id").cast("string"))
    docs(s, d).select(col("doc_id"),
        TextStats.scrubPii(injected).as("clean"),
        TextStats.emailCount(injected).as("n_email"),
        TextStats.phoneCount(injected).as("n_phone"))
      .orderBy("doc_id")
  }
  private val oX2 = {
    val inj = "concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
      "'@example.com or +1 (555) 010-', CAST(doc_id AS VARCHAR))"
    val email = TextStats.EmailRe
    val phone = TextStats.PhoneRe
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace($inj, '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g') AS clean,
       |  CAST(len(regexp_extract_all($inj, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace($inj, '$email', '<EMAIL>', 'g'), '$phone')) AS BIGINT)
       |    AS n_phone
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** HTML boilerplate strip over deterministically injected markup (the
    * corpus is plain text — the injection wraps every doc in a real
    * html/head/style/script/entity/comment skeleton so every branch of
    * the stripper exercises on both engines identically): script/style
    * blocks die WITH their contents, tags drop, the five standard
    * entities decode (&amp; last), whitespace collapses. */
  private def qT29htmlStrip(s: SparkSession, d: String): DataFrame = {
    val injected = concat(
      lit("<html><head><style type=\"text/css\">p{c:1}</style></head>" +
        "<body><h1>Doc "), col("doc_id").cast("string"),
      lit("</h1>\n<p>"), col("text"),
      lit(" Tom &amp; Jerry &lt;3 &quot;ok&quot; &#39;y&#39;</p>" +
        "<script>var x = 1 && 2;</script><!-- note --></body></html>"))
    docs(s, d).select(col("doc_id"),
        TextStats.stripHtml(injected).as("clean"),
        TextStats.htmlTagCount(injected).as("n_tags"))
      .orderBy("doc_id")
  }
  private val oT29 = {
    val inj = "'<html><head><style type=\"text/css\">p{c:1}</style></head>" +
      "<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || " +
      "'<p>' || text || ' Tom &amp; Jerry &lt;3 &quot;ok&quot; " +
      "&#39;y&#39;</p><script>var x = 1 && 2;</script>" +
      "<!-- note --></body></html>'"
    val script = TextStats.ScriptRe
    val tag = TextStats.TagRe
    s"""WITH inj AS (SELECT doc_id, $inj AS h FROM documents),
       |st AS (SELECT doc_id,
       |    regexp_replace(regexp_replace(h, '$script', ' ', 'g'),
       |      '$tag', ' ', 'g') AS t0,
       |    CAST(len(regexp_extract_all(h, '$tag')) AS BIGINT) AS n_tags
       |  FROM inj),
       |de AS (SELECT doc_id, n_tags,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      regexp_replace(t0, '&lt;', '<', 'g'), '&gt;', '>', 'g'),
       |      '&quot;', '"', 'g'), '&#39;', '''', 'g'),
       |      '&amp;', '&', 'g') AS t1
       |  FROM st)
       |SELECT doc_id,
       |  trim(regexp_replace(t1, '\\s+', ' ', 'g')) AS clean, n_tags
       |FROM de ORDER BY doc_id""".stripMargin
  }

  /** URL parsing/canonicalization over five injected URL shapes (mixed
    * case, userinfo, default ports, queries, fragments, trailing
    * slashes — the corpus has no URLs, so the injection exercises every
    * branch on both engines): scheme/host/registered-domain extraction
    * plus the dedup canonical form. */
  private def qT30urlParse(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Urls
    val k = (col("doc_id") % 7).cast("string")
    val j = (col("doc_id") % 37).cast("string")
    val id = col("doc_id").cast("string")
    val url = when(col("doc_id") % 5 === 0,
        concat(lit("HTTPS://user:pw@WWW.Sub"), j, lit(".Example"), k,
          lit(".COM:443/Path/"), id, lit("/?q=1#frag")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("http://example"), k, lit(".com:80/a/"), id))
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://sub.example"), k, lit(".com/b/"), id, lit("?x=2")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("ftp://files.example"), k, lit(".com:2121/data/"), id,
          lit("#sec")))
      .otherwise(concat(lit("https://example"), k, lit(".com/")))
    docs(s, d).select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        Urls.scheme(col("url")).as("scheme"),
        Urls.host(col("url")).as("host"),
        Urls.registeredDomain(col("url")).as("domain"),
        Urls.canonicalize(col("url")).as("canonical"))
      .orderBy("doc_id")
  }
  private val oT30 =
    """WITH u AS (SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'HTTPS://user:pw@WWW.Sub' || CAST(doc_id % 37 AS VARCHAR)
      |      || '.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/Path/'
      |      || CAST(doc_id AS VARCHAR) || '/?q=1#frag'
      |    WHEN 1 THEN 'http://example' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.com:80/a/' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN 'https://sub.example' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.com/b/' || CAST(doc_id AS VARCHAR) || '?x=2'
      |    WHEN 3 THEN 'ftp://files.example' || CAST(doc_id % 7 AS VARCHAR)
      |      || '.com:2121/data/' || CAST(doc_id AS VARCHAR) || '#sec'
      |    ELSE 'https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/'
      |  END AS url FROM documents),
      |p AS (SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(url,
      |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
      |      '^[^@]*@', ''), ':(80|443)$', '') AS hostport,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
      |  FROM u),
      |p2 AS (SELECT doc_id, url, scheme, hostport, path,
      |    regexp_replace(hostport, ':[0-9]+$', '') AS host
      |  FROM p)
      |SELECT doc_id, url, scheme, host,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
      |  scheme || '://' || hostport || regexp_replace(path, '/+$', '')
      |    AS canonical
      |FROM p2 ORDER BY doc_id""".stripMargin

  /** Per-language cap (deterministic reservoir): smallest-(hash, id) 20
    * docs per lang survive; two-phase partial cap, no hot-group funnel. */
  private def qX3cap(s: SparkSession, d: String): DataFrame =
    Sampling.capPerGroup(docs(s, d), "lang", "doc_id", n = 20)
      .orderBy("lang", "doc_id")
  private val oX3 =
    """WITH h AS (SELECT lang, doc_id,
      |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |    '|graft')), 1, 6)) AS BIGINT) AS hh FROM documents),
      |r AS (SELECT lang, doc_id,
      |  row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn FROM h)
      |SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin

  /** DSIR importance weights under the FULL hash gate: target = every
    * 5th doc (the "domain exemplar" slice), raw = the rest. The oracle
    * re-fits BOTH hashed bag-of-ngrams models (uni+bigram occurrences,
    * md5-bucketed into 4096, add-0.5 smoothing) and replays every
    * per-bucket log-ratio and per-doc DECIMAL sum — one drifted bucket
    * assignment, count, or smoothing term anywhere is a hash
    * mismatch. */
  private def qX9dsir(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Sampling.dsirWeights(all.where(col("doc_id") % 5 =!= 0),
        all.where(col("doc_id") % 5 === 0), "doc_id", "text")
      .orderBy("doc_id")
  }
  private val oX9 = {
    val nb = 4096; val kb = 0.5 * nb
    s"""WITH base AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(
       |    regexp_replace(text, '[^\\p{L}\\p{M}\\p{N}]+|([\\x{3005}\\x{3040}-\\x{30ff}\\x{31f0}-\\x{31ff}\\x{3400}-\\x{4dbf}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7a3}])', ' \\1 ', 'g'))), ' +'),
       |    x -> x <> '') AS ws FROM documents),
       |feat AS (SELECT doc_id, unnest(list_concat(ws,
       |    list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i+1]))) AS f FROM base),
       |b AS (SELECT doc_id, CAST(concat('0x', substr(md5(concat(f,
       |    '|dsir')), 1, 6)) AS BIGINT) % $nb AS bk FROM feat),
       |tc AS (SELECT bk, CAST(count(*) AS BIGINT) AS c FROM b
       |  WHERE doc_id % 5 = 0 GROUP BY 1),
       |rc AS (SELECT bk, CAST(count(*) AS BIGINT) AS c FROM b
       |  WHERE doc_id % 5 <> 0 GROUP BY 1),
       |tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc),
       |rt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS r FROM rc),
       |model AS (SELECT coalesce(tc.bk, rc.bk) AS bk,
       |    CAST(round(ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 0.5)
       |        / (tt.t + $kb))
       |      - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 0.5)
       |        / (rt.r + $kb)), 6) AS DECIMAL(28,6)) AS lr
       |  FROM tc FULL JOIN rc ON tc.bk = rc.bk CROSS JOIN tt CROSS JOIN rt),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, sum(lr) AS slw
       |  FROM b JOIN model USING (bk) WHERE doc_id % 5 <> 0 GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(agg.n, 0) AS BIGINT) AS n_features,
       |  CAST(agg.slw AS DOUBLE) AS logw
       |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |WHERE d.doc_id % 5 <> 0 ORDER BY d.doc_id""".stripMargin
  }

  // ---- multimodal + geo + streaming-semantics ----------------------------

  /** Multimodal plumbing, FULLY oracled: the synthetic payloads are the
    * UTF-8 bytes of `text`, so the byte-histogram fallback the UDF takes
    * for them is pure byte arithmetic the oracle replays from
    * `hex(encode(text))` — bucket 0 of the dim-16 histogram is the count
    * of low-nibble-zero bytes, i.e. of '0' hex chars at even positions.
    * The oracle mirrors the kernel's Float division with REAL casts
    * before widening to DOUBLE (float-rounded quotients differ from
    * double quotients at the 1e-7 digit — under the shared round-6 grid
    * only bit-exact float replication is hash-safe). Frame counting:
    * stride = frameBytes·everyN = 128 over the BYTE length, every frame
    * in the sequence is non-empty for L ≥ 1, so n_frames =
    * ⌊(L−1)/128⌋+1 (null when L = 0 — left join, no frames row).
    * Real-codec decode coverage (PNG/JPEG/GIF/BMP, PCM WAV) is pinned by
    * the committed golden fixtures in MultimodalSpec, not this query. */
  private def qM1multimodal(s: SparkSession, d: String): DataFrame = {
    val media = Multimodal.syntheticMedia(docs(s, d), "doc_id", "text")
    val feats = Multimodal.extractFeatures(media, dim = 16)
    val frames = Multimodal.frameSample(media, frameBytes = 64, everyN = 2)
      .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
    feats.join(frames, Seq("media_id"), "left")
      .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.width").as("width"), size(col("features")).as("feat_dim"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        col("n_frames"))
      .orderBy("media_id")
  }
  /** The mp3 HEADER PARSER under the hash gate: every document's text
    * becomes the payload of a deterministically-framed CBR mp3 (empty
    * ID3v2 tag + MPEG1 Layer III frame header, 128 kbps / 44100 Hz),
    * and `sniffContainerMeta` must recover container/codec/rates and
    * the CBR duration from the BYTES alone. The oracle replays the
    * construction's arithmetic — (frame header + payload octets)·8 /
    * bitrate — so an off-by-one anywhere in the parser (ID3 syncsafe
    * size, bitrate/sample-rate table index, payload offset) is a hash
    * mismatch on every row. */
  private def qM2sniff(s: SparkSession, d: String): DataFrame = {
    val mp3Prefix: Array[Byte] = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0,
      0, 0, 0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00)
    val df = docs(s, d).select(col("doc_id"),
      concat(lit(mp3Prefix), encode(col("text"), "UTF-8")).as("media"))
    Multimodal.sniffContainerMeta(df)
      .select(col("doc_id"),
        col("container_meta.container").as("container"),
        col("container_meta.codec").as("codec"),
        round(col("container_meta.duration_s"), 6).as("duration_s"),
        col("container_meta.sample_rate").cast("long").as("sample_rate"),
        col("container_meta.bitrate_kbps").cast("long").as("bitrate_kbps"))
      .orderBy("doc_id")
  }
  private val oM2 =
    """SELECT doc_id, 'audio/mpeg' AS container, 'mpeg1-layer3' AS codec,
      |  round((4 + octet_length(encode(text))) * 8.0 / 128000.0, 6)
      |    AS duration_s,
      |  CAST(44100 AS BIGINT) AS sample_rate,
      |  CAST(128 AS BIGINT) AS bitrate_kbps
      |FROM documents ORDER BY doc_id""".stripMargin

  private val oM1 =
    """WITH b AS (
      |  SELECT CAST(doc_id AS BIGINT) AS media_id, text,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    octet_length(encode(text)) AS nb,
      |    hex(encode(text)) AS h
      |  FROM documents)
      |SELECT media_id,
      |  n_chars AS n_bytes,
      |  CAST(n_chars % 640 AS INT) AS width,
      |  CAST(16 AS INT) AS feat_dim,
      |  round(CAST(CAST(len(list_filter(range(1, CAST(nb AS BIGINT) + 1),
      |      i -> substr(h, CAST(2*i AS INT), 1) = '0')) AS REAL)
      |    / CAST(greatest(nb, 1) AS REAL) AS DOUBLE), 6) AS f0,
      |  CASE WHEN nb >= 1 THEN CAST((nb - 1) // 128 + 1 AS BIGINT) END AS n_frames
      |FROM b ORDER BY media_id""".stripMargin

  /** GeoJSON sink — fully oracled via parse-back: the REAL operator
    * renders each track's FeatureCollection JSON, then the query parses
    * its own output and emits every feature's coordinates (milli-degree
    * longs — the 3-dp grid ×1000, exact integers on every engine),
    * timestamps, order, bbox, and track-LineString coordinates. The
    * DuckDB oracle computes the same values from the raw table with the
    * proven HALF_DOWN/HALF_UP integer mirrors (q_f6's formula), so a
    * wrong rounding, ordering, bbox, or dropped feature in the JSON
    * construction hash-mismatches. (Exact string formatting is covered
    * by the parse-back spec in SourcesGeoStreamSpec.) */
  private def qG1geojson(s: SparkSession, d: String): DataFrame = {
    val fc = GeoJson.trackFeatureCollections(
      Tables.events(s, d).withColumn("lon", col("user_id").cast("double") / 100d),
      "event_type", "ts", "value", "lon")
    val schema = "type STRING, bbox ARRAY<DOUBLE>, " +
      "track STRUCT<type: STRING, geometry: STRUCT<type: STRING, " +
      "coordinates: ARRAY<ARRAY<DOUBLE>>>>, " +
      "features ARRAY<STRUCT<type: STRING, geometry: STRUCT<type: STRING, " +
      "coordinates: ARRAY<DOUBLE>>, properties: STRUCT<ts: STRING>>>"
    def milli(c: Column): Column = round(c * 1000).cast("long")
    fc.select(col("event_type"),
        from_json(col("geojson"), schema, Map.empty[String, String]).as("g"))
      .select(col("event_type"), col("g"),
        posexplode(col("g.features")).as(Seq("pos", "f")))
      .select(col("event_type"),
        (col("pos") + 1).cast("long").as("pt"),
        milli(element_at(col("f.geometry.coordinates"), 1)).as("lon_milli"),
        milli(element_at(col("f.geometry.coordinates"), 2)).as("lat_milli"),
        milli(element_at(element_at(col("g.track.geometry.coordinates"),
          col("pos") + 1), 1)).as("tlon_milli"),
        milli(element_at(element_at(col("g.track.geometry.coordinates"),
          col("pos") + 1), 2)).as("tlat_milli"),
        col("f.properties.ts").as("ts_iso"),
        size(col("g.features")).cast("long").as("n_features"),
        milli(element_at(col("g.bbox"), 1)).as("bb_lon_min"),
        milli(element_at(col("g.bbox"), 2)).as("bb_lat_min"),
        milli(element_at(col("g.bbox"), 3)).as("bb_lon_max"),
        milli(element_at(col("g.bbox"), 4)).as("bb_lat_max"))
      .orderBy("event_type", "pt")
  }
  private val oG1 = {
    def hd(x: String): String =
      s"CASE WHEN $x >= 0 THEN CAST(ceil($x * 1000 - 0.5) AS BIGINT) " +
        s"ELSE CAST(floor($x * 1000 + 0.5) AS BIGINT) END"
    def hu(x: String): String =
      s"CASE WHEN $x >= 0 THEN CAST(floor($x * 1000 + 0.5) AS BIGINT) " +
        s"ELSE CAST(ceil($x * 1000 - 0.5) AS BIGINT) END"
    s"""WITH e AS (SELECT event_type, ts, CAST(value AS DOUBLE) AS lat,
       |    CAST(user_id AS DOUBLE) / 100 AS lon FROM events),
       |r AS (SELECT event_type, ts, ${hd("lon")} AS lon_milli,
       |    ${hd("lat")} AS lat_milli FROM e),
       |o AS (SELECT event_type, ts, lon_milli, lat_milli,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY epoch_ns(ts) // 1000, lon_milli, lat_milli) AS BIGINT) AS pt
       |  FROM r),
       |bb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_features,
       |    ${hd("min(lon)")} AS bb_lon_min, ${hd("min(lat)")} AS bb_lat_min,
       |    ${hu("max(lon)")} AS bb_lon_max, ${hu("max(lat)")} AS bb_lat_max
       |  FROM e GROUP BY 1)
       |SELECT o.event_type, o.pt, o.lon_milli, o.lat_milli,
       |  o.lon_milli AS tlon_milli, o.lat_milli AS tlat_milli,
       |  strftime(o.ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso,
       |  bb.n_features, bb.bb_lon_min, bb.bb_lat_min, bb.bb_lon_max,
       |  bb.bb_lat_max
       |FROM o JOIN bb USING (event_type) ORDER BY 1, 2""".stripMargin
  }

  private def qSt1daily(s: SparkSession, d: String): DataFrame =
    // pre-cast onto the exact 2-dp decimal grid: the sum is then exact
    // and order-independent (see SparkEntry.moneySum)
    DailyRollup.dailyStats(
        Tables.events(s, d)
          .withColumn("value", col("value").cast("decimal(20,2)")),
        "ts", "event_type", "value")
      .withColumn("total", round(col("total").cast("double"), 2))
      .orderBy("event_type", "date")
  private val oSt1 =
    s"""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS date,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(${graft.operators.Parity.moneySumSql("value")}, 2) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-(event_type, day) distinct-user HLL rollup — the batch twin of
    * `DailyRollup.distinctRollup` (spec-gated register-equal), fully
    * oracled at p=6: m=64 keeps both estimator branches live on this
    * corpus (~150 users/group straddles the 2.5·m=160 small-range
    * crossover), and every register, fold, and branch replays in
    * DuckDB. n_exact grades the sketch per group. */
  private def qSt2distinct(s: SparkSession, d: String): DataFrame =
    graft.functions.Hll.groupedDistinctEstimate(
        Tables.events(s, d).select(col("event_type"),
          to_date(col("ts")).as("date"), col("user_id")),
        Seq("event_type", "date"),
        Sampling.hash60(col("user_id").cast("string")), p = 6)
      .orderBy("event_type", "date")
  private val oSt2 = {
    val p = 6; val m = 1 << p; val w = 60 - p
    val twoW = 1L << w
    s"""WITH h AS (SELECT event_type,
       |    CAST(date_trunc('day', ts) AS DATE) AS date,
       |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM events),
       |r AS (SELECT event_type, date, h // $twoW AS bucket,
       |    h % $twoW AS rem FROM h),
       |rho AS (SELECT event_type, date, bucket,
       |    CASE WHEN rem = 0 THEN ${w + 1}
       |    ELSE $w - (length(bin(rem)) - 1) END AS rho FROM r),
       |regs AS (SELECT event_type, date, bucket, max(rho) AS maxrho
       |  FROM rho GROUP BY 1, 2, 3),
       |l AS (SELECT event_type, date,
       |    list(CAST(maxrho AS DOUBLE) ORDER BY bucket) AS rs,
       |    count(*) AS mp FROM regs GROUP BY 1, 2),
       |z AS (SELECT event_type, date,
       |    list_sum(list_transform(rs, x -> power(2.0, -x)))
       |      + ($m - mp) AS z, CAST($m - mp AS BIGINT) AS v FROM l),
       |ex AS (SELECT event_type, date,
       |    CAST(count(DISTINCT h) AS BIGINT) AS n_exact
       |  FROM h GROUP BY 1, 2),
       |x AS (SELECT z.event_type, z.date, ex.n_exact, z.v,
       |    CAST(${graft.functions.Hll.alpha(m) * m.toDouble * m.toDouble}
       |      AS DOUBLE) / z.z AS eraw
       |  FROM z JOIN ex ON ex.event_type = z.event_type
       |    AND ex.date = z.date)
       |SELECT event_type, date, n_exact, v AS v_zero,
       |  round(eraw, 6) AS est_raw,
       |  round(CASE WHEN eraw <= CAST(${2.5 * m} AS DOUBLE) AND v > 0
       |    THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / v)
       |    ELSE eraw END, 6) AS estimate
       |FROM x ORDER BY event_type, date""".stripMargin
  }

  // ---- maps --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_t1_token_stats" -> qT1tokenStats _,
    "q_t2_quality_score" -> qT2quality _,
    "q_t3_lang_guess" -> qT3lang _,
    "q_t4_fingerprint" -> qT4fingerprint _,
    "q_d1_exact_dedup" -> qD1exact _,
    "q_d2_ngram_jaccard" -> qD2jaccard _,
    "q_d3_minhash_lsh" -> qD3minhash _,
    "q_d4_simhash" -> qD4simhash _,
    "q_d5_embedding_neardup" -> qD5embedNearDup _,
    "q_d5b_allpairs_rerank" -> qD5ballPairs _,
    "q_d6_neardup_clusters" -> qD6clusters _,
    "q_d8_semantic_dedup" -> qD8semantic _,
    "q_d13_proto_prune" -> qD13proto _,
    "q_d14_keep_best" -> qD14keepBest _,
    "q_d15_scoped_dedup" -> qD15scoped _,
    "q_d16_pagerank" -> qD16pagerank _,
    "q_d17_snapshot_diff" -> qD17snapshot _,
    "q_d18_fuzzy_join" -> qD18fuzzy _,
    "q_d19_length_band" -> qD19lengthBand _,
    "q_s16_ann_hamming" -> qS16hamming _,
    "q_s19_ann_matryoshka" -> qS19matryoshka _,
    "q_s21_semantic_decontam" -> qS21decontam _,
    "q_s22_decontam_lsh" -> qS22decontamLsh _,
    "q_s20_ann_opq" -> qS20annOpq _,
    "q_st2_distinct_rollup" -> qSt2distinct _,
    "q_t20_ppl_buckets" -> qT20pplBuckets _,
    "q_t21_hll_shingles" -> qT21hll _,
    "q_t22_source_kl" -> qT22kl _,
    "q_t24_lang_confusion" -> qT24langConfusion _,
    "q_x12_quality_cap" -> qX12qualityCap _,
    "q_t23_lm_frozen" -> qT23lmFrozen _,
    "q_e3_corpus_report" -> qE3corpusReport _,
    "q_e5_grade_trained" -> qE5gradeTrained _,
    "q_e6_curriculum_pack" -> qE6curriculum _,
    "q_t25_trained_classifier" -> qT25trainedClassifier _,
    "q_t26_collocations" -> qT26collocations _,
    "q_t27_bpe_train" -> qT27bpe _,
    "q_t40_unigram_train" -> qT40unigram _,
    "q_t41_unigram_encode" -> qT41unigramEncode _,
    "q_t29_html_strip" -> qT29htmlStrip _,
    "q_t30_url_parse" -> qT30urlParse _,
    "q_t31_auc" -> qT31auc _,
    "q_x13_kappa" -> qX13kappa _,
    "q_t32_calibration" -> qT32calibration _,
    "q_t33_pr_curve" -> qT33prCurve _,
    "q_t34_ece" -> qT34ece _,
    "q_t35_keyness" -> qT35keyness _,
    "q_t36_psi" -> qT36psi _,
    "q_t37_brier" -> qT37brier _,
    "q_t38_multilingual" -> qT38multilingual _,
    "q_st3_metrics_store" -> qSt3metricsStore _,
    "q_t39_fim_transform" -> qT39fim _,
    "q_x14_weighted_sample" -> qX14weighted _,
    "q_t28_bpe_encode" -> qT28encode _,
    "q_t28b_bpe_encode_expr" -> qT28bEncodeExpr _,
    "q_t42_unigram_soft" -> qT42unigramSoft _,
    "q_t44_unigram_kudo" -> qT44unigramKudo _,
    "q_t43_byte_roundtrip" -> qT43byteRoundtrip _,
    "q_s1_cosine_topk" -> qS1topk _,
    "q_s17_hard_negatives" -> qS17hardNeg _,
    "q_s18_knn_predict" -> qS18knn _,
    "q_s2_ann_lsh" -> qS2annLsh _,
    "q_s3_ann_ivf" -> qS3annIvf _,
    "q_s3b_ann_ivf_kmeans" -> qS3bannIvfKmeans _,
    "q_x15_cluster_balanced" -> qX15clusterBalanced _,
    "q_x16_cluster_stats" -> qX16clusterStats _,
    "q_s4_ann_pq" -> qS4annPq _,
    "q_s5_ann_ivfpq" -> qS5annIvfPq _,
    "q_s6_hybrid_rerank" -> qS6hybrid _,
    "q_s7_index_search" -> qS7indexSearch _,
    "q_s13_index_delete" -> qS13indexDelete _,
    "q_s14_rrf_fusion" -> qS14rrf _,
    "q_s15_ann_sq8" -> qS15annSq8 _,
    "q_s9_index_append" -> qS9indexAppend _,
    "q_s10_ann_residual" -> qS10annResidual _,
    "q_s11_residual_index" -> qS11residualIndex _,
    "q_s12_ann_hier" -> qS12annHier _,
    "q_t5_heavy_shingles" -> qT5heavy _,
    "q_t6_bm25_rank" -> qT6bm25 _,
    "q_t11_line_dedup" -> qT11lineDedup _,
    "q_t12_quality_classifier" -> qT12classifier _,
    "q_t13_top_words" -> qT13topWords _,
    "q_t14_markup_strip" -> qT14markupStrip _,
    "q_t15_lm_score" -> qT15lm _,
    "q_t16_tfidf_terms" -> qT16tfidf _,
    "q_t17_gopher_quality" -> qT17gopher _,
    "q_t18_percentile_gate" -> qT18gate _,
    "q_t19_char_entropy" -> qT19entropy _,
    "q_e1_gram_cov" -> qE1gram _,
    "q_d9_bloom_prefilter" -> qD9bloom _,
    "q_x7_leakfree_split" -> qX7leakFreeSplit _,
    "q_x1_split_stats" -> qX1split _,
    "q_x2_pii_scrub" -> qX2pii _,
    "q_x3_cap_per_group" -> qX3cap _,
    "q_x9_dsir" -> qX9dsir _,
    "q_m1_multimodal_features" -> qM1multimodal _,
    "q_m2_container_sniff" -> qM2sniff _,
    "q_g1_geojson_tracks" -> qG1geojson _,
    "q_st1_daily_rollup" -> qSt1daily _,
  )

  def oracleSql: Map[String, String] = Map(
    "q_t1_token_stats" -> oT1,
    "q_t2_quality_score" -> oT2,
    "q_t3_lang_guess" -> oT3,
    "q_t4_fingerprint" -> oT4,
    "q_d1_exact_dedup" -> oD1,
    "q_d2_ngram_jaccard" -> oD2,
    "q_d3_minhash_lsh" -> oD3,
    "q_d4_simhash" -> oD4,
    "q_d5_embedding_neardup" -> oD5,
    "q_d5b_allpairs_rerank" -> oD5b,
    "q_d6_neardup_clusters" -> oD6,
    "q_d8_semantic_dedup" -> oD8,
    "q_d13_proto_prune" -> oD13,
    "q_d14_keep_best" -> oD14,
    "q_d15_scoped_dedup" -> oD15,
    "q_d16_pagerank" -> oD16,
    "q_d17_snapshot_diff" -> oD17,
    "q_d18_fuzzy_join" -> oD18,
    "q_d19_length_band" -> oD19,
    "q_s16_ann_hamming" -> oS16,
    "q_s19_ann_matryoshka" -> oS19,
    "q_s21_semantic_decontam" -> oS21,
    "q_s22_decontam_lsh" -> oS22,
    "q_s20_ann_opq" -> oS20,
    "q_st2_distinct_rollup" -> oSt2,
    "q_t20_ppl_buckets" -> oT20,
    "q_t21_hll_shingles" -> oT21,
    "q_t22_source_kl" -> oT22,
    "q_t24_lang_confusion" -> oT24,
    "q_x12_quality_cap" -> oX12,
    "q_t23_lm_frozen" -> oT23,
    "q_e3_corpus_report" -> oE3,
    "q_e5_grade_trained" -> oE5,
    "q_e6_curriculum_pack" -> oE6,
    "q_t25_trained_classifier" -> oT25,
    "q_t26_collocations" -> oT26,
    "q_t27_bpe_train" -> oT27,
    "q_t40_unigram_train" -> oT40,
    "q_t41_unigram_encode" -> oT41,
    "q_t29_html_strip" -> oT29,
    "q_t30_url_parse" -> oT30,
    "q_t31_auc" -> oT31,
    "q_x13_kappa" -> oX13,
    "q_t32_calibration" -> oT32,
    "q_t33_pr_curve" -> oT33,
    "q_t34_ece" -> oT34,
    "q_t35_keyness" -> oT35,
    "q_t36_psi" -> oT36,
    "q_t37_brier" -> oT37,
    "q_t38_multilingual" -> oT38,
    "q_st3_metrics_store" -> oSt3,
    "q_t39_fim_transform" -> oT39,
    "q_x14_weighted_sample" -> oX14,
    "q_t28_bpe_encode" -> oT28,
    "q_t28b_bpe_encode_expr" -> oT28,
    "q_t42_unigram_soft" -> oT42,
    "q_t44_unigram_kudo" -> oT44,
    "q_t43_byte_roundtrip" -> oT43,
    "q_s1_cosine_topk" -> oS1,
    "q_s17_hard_negatives" -> oS17,
    "q_s18_knn_predict" -> oS18,
    "q_s2_ann_lsh" -> oS2,
    "q_s3_ann_ivf" -> oS3,
    "q_s3b_ann_ivf_kmeans" -> oS3b,
    "q_x15_cluster_balanced" -> oX15,
    "q_x16_cluster_stats" -> oX16,
    "q_s4_ann_pq" -> oS4,
    "q_s5_ann_ivfpq" -> oS5,
    "q_s6_hybrid_rerank" -> oS6,
    "q_s7_index_search" -> oS5,
    "q_s13_index_delete" -> oS13,
    "q_s14_rrf_fusion" -> oS14,
    "q_s15_ann_sq8" -> oS15,
    "q_s9_index_append" -> oS5,
    "q_s10_ann_residual" -> oS10,
    "q_s11_residual_index" -> oS10,
    "q_s12_ann_hier" -> oS12,
    "q_t5_heavy_shingles" -> oT5,
    "q_t6_bm25_rank" -> oT6,
    "q_t11_line_dedup" -> oT11,
    "q_t12_quality_classifier" -> oT12,
    "q_t13_top_words" -> oT13,
    "q_t14_markup_strip" -> oT14,
    "q_t15_lm_score" -> oT15,
    "q_t16_tfidf_terms" -> oT16,
    "q_t17_gopher_quality" -> oT17,
    "q_t18_percentile_gate" -> oT18,
    "q_t19_char_entropy" -> oT19,
    "q_e1_gram_cov" -> oE1,
    "q_d9_bloom_prefilter" -> oD9,
    "q_x7_leakfree_split" -> oX7,
    "q_x1_split_stats" -> oX1,
    "q_x2_pii_scrub" -> oX2,
    "q_x3_cap_per_group" -> oX3,
    "q_x9_dsir" -> oX9,
    "q_g1_geojson_tracks" -> oG1,
    "q_st1_daily_rollup" -> oSt1,
    "q_m1_multimodal_features" -> oM1,
    "q_m2_container_sniff" -> oM2,
  )
}
